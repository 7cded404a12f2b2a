package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side parquet schema resolution with no Spark job.
  *
  * `spark.read.parquet(p)` without a schema infers it in a one-task
  * job that reads a footer. [[of]] reads the same footer on the driver
  * and resolves it the way that job does: the Spark row-metadata JSON
  * when the file carries it (any Spark-written file), else the
  * physical schema through `ParquetToSparkSchemaConverter` under the
  * session's parquet confs (`inferTimestampNTZ`, `binaryAsString`,
  * `int96AsTimestamp`), except that an INT64 nanos timestamp always
  * resolves to long (`nanosAsLong`, set on a driver-local copy of the
  * session conf, never on the session): inference would throw on it,
  * and a reader that requests it as long gets the raw nanos whatever
  * the session sets. Every field comes back
  * nullable, as the inferred relation schema does. Pass the result to
  * `spark.read.schema(...)`: the read then lists files and plans with
  * no job. Nothing is cached — each call reads the footer again, so a
  * rewritten table is never read with a stale schema.
  */
object ParquetSchema {

  private val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Schema of the parquet file or unpartitioned parquet directory at
    * `path`, from the footer of one data file (the first by name;
    * `_`/`.`-prefixed entries are skipped as Spark skips them). */
  def of(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root = fs.getFileStatus(p)
    val file =
      if (root.isFile) root
      else fs.listStatus(p)
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
          && !s.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
        .headOption
        .getOrElse(throw new IllegalArgumentException(
          s"no parquet data file directly under $path"))
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS)
        .build())
    val meta = try reader.getFileMetaData finally reader.close()
    val schema = Option(meta.getKeyValueMetaData.get(SparkRowMetadataKey))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf
        .copy(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> true))
        .convert(meta.getSchema))
    PlanBridge.asNullable(schema)
  }
}
