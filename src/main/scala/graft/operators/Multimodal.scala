package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for a training-data pipeline
  * (SURVEY §7.4): media payloads ride as opaque `binary` columns with a
  * typed metadata struct; decode / feature-extraction / frame-sampling
  * are partition-local operations over those bytes.
  *
  * The actual codec calls (image decode, audio resample, video frame
  * grab) are STUBBED behind [[decodeStub]] — the image/audio libraries
  * are not in this container — with a deterministic byte-derived fake,
  * so schema, partitioning, batch shape, and the Spark-side plumbing
  * are real and tested while the codec is a drop-in replacement point.
  *
  * Scale notes: payloads stay columnar (parquet binary) end to end; the
  * typed-Dataset `mapPartitions` path processes each partition as one
  * batch (the JVM analog of arrow-batched pandas UDFs) so per-record
  * overhead is amortized; `spark.sql.files.maxPartitionBytes` bounds
  * the bytes a task holds. Frame sampling is pure column algebra
  * (substr + transform) — no row explosion until after sampling.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRecord(
      id: Long, kind: String, format: String, content: Array[Byte])

  final case class MediaFeatures(
      id: Long, kind: String, n_bytes: Int, fingerprint: String,
      features: Array[Float])

  /** Deterministic stand-in for a real decoder+embedder: derives an
    * 8-dim unit feature vector from payload bytes. A real deployment
    * replaces ONLY this function (e.g. JNI image decode → CNN embed). */
  def decodeStub(content: Array[Byte]): Array[Float] = {
    val dim = 8
    val out = new Array[Float](dim)
    var h = 1125899906842597L // deterministic FNV-ish fold
    var i = 0
    while (i < content.length) { h = h * 31 + (content(i) & 0xff); i += 1 }
    var j = 0
    var norm = 0.0
    while (j < dim) {
      val v = (((h * (j * 2654435761L + 1)) >>> 33).toInt % 1000) / 1000.0f
      out(j) = v
      norm += v * v
      j += 1
    }
    val inv = if (norm == 0) 0f else (1.0 / math.sqrt(norm)).toFloat
    j = 0
    while (j < dim) { out(j) *= inv; j += 1 }
    out
  }

  /** Partition-batched feature extraction over media records — the
    * JVM analog of `mapInPandas`: one iterator per partition, codec
    * state initialized once per partition, not per record. */
  def extractFeatures(ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // per-partition codec init goes here (stubbed)
      it.map { r =>
        val fp = java.security.MessageDigest.getInstance("MD5")
          .digest(r.content).map("%02x".format(_)).mkString
        MediaFeatures(r.id, r.kind, r.content.length, fp,
          decodeStub(r.content))
      }
    }
  }

  /** Frame sampling as pure column algebra: 64-byte windows at a
    * stride of 128 over the payload, each fingerprinted. Zero rows are
    * produced for payloads shorter than one frame. */
  def frameFingerprints(content: Column): Column = {
    val (frameSize, stride) = (64, 128)
    when(length(content) < frameSize, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), ((length(content) - frameSize) / stride).cast("int")),
        i => md5(content.substr(i * stride + 1, lit(frameSize)))))
  }

  /** Wrap a `documents` frame into the media schema: `doc_id` becomes
    * the id and the UTF-8 `text` bytes the payload. */
  def fromBinary(df: DataFrame): DataFrame =
    df.select(
      col("doc_id").cast("long").as("id"),
      lit("text").as("kind"),
      lit("utf8").as("format"),
      col("text").cast("binary").as("content"))
}
