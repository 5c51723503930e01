package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._

/** `view-parquet-meta` op: parquet footer / row-group / column-chunk stats
  * (reference /root/reference/src/parquet.rs:9-141 — footer version,
  * created_by, row counts, then per row group per column: stats incl. UTF-8
  * decoded byte-array min/max, parquet.rs:83-123).
  *
  * No Spark SQL path exists for footers; this uses parquet-hadoop directly
  * (ships in /opt/spark/jars). Stat values are rendered as strings using
  * DuckDB `parquet_metadata()` conventions so the output is oracle-checkable.
  * [[footer]] is the one reader; the CLI renders its rows directly, the
  * DataFrame wrappers serve `op_parquet_meta` and in-session callers.
  */
object ParquetMeta {

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def renderTimestamp(value: Long, unit: TimeUnit): String = {
    val (sec, nanos) = unit match {
      case TimeUnit.MILLIS => (Math.floorDiv(value, 1000L), Math.floorMod(value, 1000L) * 1000000L)
      case TimeUnit.MICROS => (Math.floorDiv(value, 1000000L), Math.floorMod(value, 1000000L) * 1000L)
      case TimeUnit.NANOS  => (Math.floorDiv(value, 1000000000L), Math.floorMod(value, 1000000000L))
    }
    val ldt = LocalDateTime.ofInstant(Instant.ofEpochSecond(sec, nanos), ZoneOffset.UTC)
    val base = ldt.format(tsFmt)
    if (nanos == 0) base
    else base + "." + f"${nanos}%09d".reverse.dropWhile(_ == '0').reverse
  }

  private def renderStat(pt: PrimitiveType, v: Any): String = {
    if (v == null) return null
    val logical = pt.getLogicalTypeAnnotation
    (pt.getPrimitiveTypeName.name, v, logical) match {
      case (_, l: java.lang.Long, ts: TimestampLogicalTypeAnnotation) =>
        renderTimestamp(l, ts.getUnit)
      case ("BINARY", b: org.apache.parquet.io.api.Binary, lt)
          if lt.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        b.toStringUsingUTF8
      case ("BINARY", b: org.apache.parquet.io.api.Binary, _) =>
        b.getBytes.mkString("[", ", ", "]")
      case (_, other, _) => other.toString
    }
  }

  /** parquet-java's PrimitiveTypeName spells BINARY where the parquet spec
    * (and DuckDB) say BYTE_ARRAY.
    */
  private def specTypeName(name: String): String =
    if (name == "BINARY") "BYTE_ARRAY" else name

  /** One row per (row group, column chunk): the `metadata` schema. */
  val chunkSchema: StructType = StructType(Seq(
    StructField("row_group_id", LongType, nullable = false),
    StructField("row_group_num_rows", LongType, nullable = false),
    StructField("column_id", LongType, nullable = false),
    StructField("path_in_schema", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("num_values", LongType, nullable = false),
    StructField("stats_null_count", LongType, nullable = true),
    StructField("stats_min_value", StringType, nullable = true),
    StructField("stats_max_value", StringType, nullable = true),
    StructField("compression", StringType, nullable = false)))

  /** File-level footer summary (version, created_by, totals) —
    * reference parquet.rs:15-35: the `fileInfo` schema.
    */
  val infoSchema: StructType = StructType(Seq(
    StructField("created_by", StringType, nullable = true),
    StructField("num_rows", LongType, nullable = false),
    StructField("num_row_groups", LongType, nullable = false),
    StructField("num_columns", IntegerType, nullable = false)))

  /** A footer as plain rows: `info` in [[infoSchema]], `chunks` in
    * [[chunkSchema]] ordered by (row group, column).
    */
  final case class Footer(info: Row, chunks: Seq[Row])

  /** The Hadoop conf a SparkContext would start from, without one: the
    * `spark.hadoop.*` system properties with the prefix stripped, and Spark's
    * `spark.buffer.size` as `io.file.buffer.size`.
    */
  def hadoopConf(): Configuration = {
    val sparkConf = new SparkConf()
    val conf = new Configuration()
    sparkConf.getAllWithPrefix("spark.hadoop.").foreach { case (k, v) => conf.set(k, v) }
    conf.set("io.file.buffer.size", sparkConf.get("spark.buffer.size", "65536"))
    conf
  }

  /** Opens the file once and reads only its footer — no data pages touched,
    * so this is O(row-groups), not O(data). Needs no SparkSession.
    */
  def footer(path: String, conf: Configuration): Footer = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try {
      val meta = reader.getFooter
      val msgType = meta.getFileMetaData.getSchema
      val chunks = meta.getBlocks.asScala.zipWithIndex.flatMap { case (block, rgId) =>
        block.getColumns.asScala.zipWithIndex.map { case (cc, colId) =>
          val pt = msgType.getType(cc.getPath.toArray: _*).asPrimitiveType()
          val stats = cc.getStatistics
          val (nulls, minV, maxV) =
            if (stats == null) (null, null, null)
            else (
              if (stats.isNumNullsSet) Long.box(stats.getNumNulls) else null,
              if (stats.hasNonNullValue) renderStat(pt, stats.genericGetMin) else null,
              if (stats.hasNonNullValue) renderStat(pt, stats.genericGetMax) else null)
          Row(rgId.toLong, block.getRowCount, colId.toLong,
            cc.getPath.toDotString, specTypeName(pt.getPrimitiveTypeName.name),
            cc.getValueCount, nulls, minV, maxV, cc.getCodec.name)
        }
      }
      Footer(
        Row(meta.getFileMetaData.getCreatedBy, reader.getRecordCount,
          meta.getBlocks.size.toLong, msgType.getFieldCount),
        chunks.toSeq)
    } finally reader.close()
  }

  private def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  /** [[footer]]'s chunk rows as a DataFrame. */
  def metadata(spark: SparkSession, path: String): DataFrame =
    frame(spark, footer(path, spark.sparkContext.hadoopConfiguration).chunks, chunkSchema)

  /** [[footer]]'s summary row as a DataFrame. */
  def fileInfo(spark: SparkSession, path: String): DataFrame =
    frame(spark, Seq(footer(path, spark.sparkContext.hadoopConfiguration).info), infoSchema)
}
