package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal
import graft.sources.{Sources, Writers}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("fromBinary wraps payloads with typed metadata columns") {
    val df = Seq((1L, "hello world")).toDF("doc_id", "text")
    val media = Multimodal.fromBinary(df)
    assert(media.columns.toSeq === Seq("id", "kind", "format", "content"))
    val r = media.head()
    assert(r.getAs[Array[Byte]]("content").length === 11)
  }

  test("extractFeatures: partition-batched, deterministic stub, unit vectors") {
    val ds = Seq(
      Multimodal.MediaRecord(1L, "image", "png", "payload-a".getBytes),
      Multimodal.MediaRecord(2L, "image", "png", "payload-b".getBytes),
      Multimodal.MediaRecord(3L, "image", "png", "payload-a".getBytes)
    ).toDS().repartition(2)
    val out = Multimodal.extractFeatures(ds).collect()
      .sortBy(_.id)
    assert(out.length === 3)
    // same payload → same fingerprint and same features (determinism)
    assert(out(0).fingerprint === out(2).fingerprint)
    assert(out(0).features.toSeq === out(2).features.toSeq)
    assert(out(0).fingerprint !== out(1).fingerprint)
    // unit-norm feature vectors
    val n = math.sqrt(out(0).features.map(f => f * f).sum)
    assert(math.abs(n - 1.0) < 1e-5)
    assert(out(0).n_bytes === 9)
  }

  test("frameFingerprints: stride windows, short payloads give no frames") {
    val df = Seq(("a" * 300, 1L), ("ab", 2L)).toDF("text", "id")
      .select(col("id"), col("text").cast("binary").as("content"))
      .withColumn("frames",
        Multimodal.frameFingerprints(col("content")))
      .select(col("id"), size(col("frames")).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(df(1L) === 2) // offsets 0 and 128 fit; 256+64 > 300
    assert(df(2L) === 0)
  }

  test("schema evolution: mergeSchema unions versions, null-fills old files") {
    val dir = GraftTestSpark.tmpDir("graftevo")
    // v1 files (2 columns), then the pipeline adds a quality column
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .write.parquet(s"$dir/tbl/v=1")
    Seq((3L, "gamma", 0.9)).toDF("doc_id", "text", "quality")
      .write.parquet(s"$dir/tbl/v=2")
    val merged = Sources.parquetMergeSchema(spark, s"$dir/tbl")
    assert(merged.columns.toSet === Set("doc_id", "text", "quality", "v"))
    val rows = merged.orderBy(col("doc_id")).collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("quality"))) // old file
    assert(rows(2).getDouble(rows(2).fieldIndex("quality")) === 0.9)
  }

  test("CSV quarantine: malformed rows carry their raw line, clean rows flow") {
    val dir = GraftTestSpark.tmpDir("graftquar")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/in.csv"),
      "doc_id,followers\n1,100\nnot_a_number,oops\n3,300\n")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("followers", LongType)))
    val df = Sources.csvQuarantine(spark, s"$dir/in.csv", schema)
      .cache() // PERMISSIVE corrupt capture requires referencing _corrupt
    val clean = df.where(col("_corrupt").isNull)
    val quarantined = df.where(col("_corrupt").isNotNull)
    assert(clean.count() === 2)
    assert(clean.select(sum(col("followers"))).head.getLong(0) === 400L)
    val bad = quarantined.select(col("_corrupt")).head.getString(0)
    assert(bad === "not_a_number,oops")
    df.unpersist()
  }

  test("headerless CSV source with positional rename + null repair") {
    val dir = GraftTestSpark.tmpDir("graftcsv")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/data.csv"),
      "alice,,10\nbob,lima,\n")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("_c0", StringType), StructField("_c1", StringType),
      StructField("_c2", LongType)))
    val df = Sources.csvHeaderless(spark, s"$dir/data.csv", schema,
      Seq("user_name", "user_location", "followers"))
    val repaired = Sources.repairNulls(
      Sources.withConstant(df, "crypto_type", "bitcoin"),
      Map("user_location" -> "Unknown"), Map("followers" -> 0L))
      .orderBy(col("user_name")).collect()
    assert(repaired(0).getString(1) === "Unknown")
    assert(repaired(1).getLong(2) === 0L)
    assert(repaired(0).getString(3) === "bitcoin")
  }

  test("partitioned parquet writer produces prunable layout") {
    val dir = GraftTestSpark.tmpDir("graftpart")
    val df = Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("k", "v")
    Writers.partitionedParquet(df, s"$dir/out", Seq("k"))
    assert(new java.io.File(s"$dir/out/k=a").exists())
    val back = spark.read.parquet(s"$dir/out").where(col("k") === "a")
    assert(back.count() === 2)
  }
}
