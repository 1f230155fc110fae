package graft.meta

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.Conf.RuleNames

/** Devlog (per-run metadata) and registry bookkeeping — S11/S13/J4/L1/S12.
  *
  * The reference appends run metadata as JSON (cleaning_utils.py:224-242)
  * and "updates the registry in place" by rewriting the workbook
  * (ETL_pipeline.py:90-103). Here the devlog is an append-only JSON dataset
  * with an explicit `seq` ordering column (file position is not an ordering
  * in a distributed store — SURVEY L1), and the registry is Parquet with
  * read-modify-write.
  */
object Devlog {

  final case class CleaningMetadata(
      final_transparency_score: Double,
      total_rows_cleaned: Long,
      total_duplicates_dropped: Long,
      total_rows_dropped_due_to_rule_violations: Long,
      total_algorithm_format_violations: Long,
      rule_violations_summary: Map[String, Long])

  final case class DevlogEntry(
      campus_id: String, hospital_address: String, version: String,
      last_updated_on: String, transparency_score: Double, seq: Long,
      cleaning_metadata: CleaningMetadata)

  /** Build the cleaning metadata block from a Rules.summarize 1-row frame
    * (rounding matches `round(final_score, 4)`, cleaning_utils.py:231). */
  def metadataFromSummary(summary: DataFrame, duplicatesDropped: Long): CleaningMetadata =
    metadataFromSummary(summary.head(), duplicatesDropped)

  /** Row overload for callers that already collected the summary (avoids
    * re-executing the aggregation). */
  def metadataFromSummary(r: org.apache.spark.sql.Row, duplicatesDropped: Long): CleaningMetadata = {
    CleaningMetadata(
      // HALF_UP like DuckDB round(x, 4) (and Python round() only differs on
      // exact .00005 boundaries, which scores of the form 1 - k/(10n) never
      // produce exactly anyway) — keeps the devlog_roundtrip hash gate off
      // the half-even/half-up boundary entirely.
      final_transparency_score =
        BigDecimal(r.getAs[Double]("final_transparency_score"))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
      total_rows_cleaned = r.getAs[Long]("total_rows_cleaned"),
      total_duplicates_dropped = duplicatesDropped,
      total_rows_dropped_due_to_rule_violations =
        r.getAs[Long]("total_rows_dropped_due_to_rule_violations"),
      total_algorithm_format_violations =
        r.getAs[Long]("total_algorithm_format_violations"),
      rule_violations_summary = RuleNames.map(n => n -> r.getAs[Long](n)).toMap)
  }

  /** One entry as a one-row frame — the local relation [[append]] writes
    * and the `latestDevlog` argument of [[updateRegistry]] for a caller
    * that holds the entry it just appended. */
  def entryFrame(spark: SparkSession, entry: DevlogEntry): DataFrame = {
    import spark.implicits._
    Seq(entry).toDS().toDF()
  }

  /** S11 — append one devlog entry (JSON lines dataset) as one new part
    * file. The line is `to_json` over the entry's local relation, which
    * Spark evaluates on the driver, so no job runs: the same text the JSON
    * writer gives the row. It is written under a name starting with `_`,
    * which readers skip, then renamed into place, so a reader never sees a
    * partial entry. */
  def append(spark: SparkSession, path: String, entry: DevlogEntry): Unit = {
    val line = entryFrame(spark, entry).select(to_json(struct(col("*")))).head().getString(0)
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000.json"
    val tmp = new Path(dir, s"_$name")
    val out = fs.create(tmp, false)
    try out.write((line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"Could not rename $tmp into $dir")
  }

  /** S13 + L1 — latest entry by explicit sequence (devlog.iloc[-1] needs an
    * ordering column in a distributed store). */
  def latest(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path).orderBy(col("seq").desc).limit(1)

  /** S1 — the registry read for its snapshot collect. Its schema comes
    * from one part file's footer, read on the driver (the row schema
    * Spark's parquet writer stores in the footer's key-value metadata), so
    * no job runs to infer it. A registry without that key, or a path with
    * no part file at its top level, is read with Spark's own inference,
    * and a missing path fails with Spark's own error. */
  def readRegistry(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val part = if (!fs.exists(dir)) None else fs.listStatus(dir)
      .filter(st => st.isFile && !"_.".contains(st.getPath.getName.head))
      .map(_.getPath).sortBy(_.getName).headOption
    part.flatMap { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      finally reader.close()
    }.flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }
  }

  /** Registry columns refreshed from the devlog (ETL_pipeline.py:92-103),
    * each with `.get`-style fallback to the existing value (J4). */
  val RefreshedColumns: Seq[String] =
    Seq("last_updated_on", "version", "transparency_score")

  /** S12 + J4 — update-in-place semantics over a Parquet registry: the
    * matched campus row takes devlog values (falling back per column when
    * the devlog lacks one); all other rows pass through untouched. Returns
    * the new registry frame for overwrite-write by the caller. */
  def updateRegistry(registry: DataFrame, latestDevlog: DataFrame,
      campusId: String, processedBy: String, nowString: String): DataFrame = {
    val dev = latestDevlog.head()
    def devVal(c: String): Option[Any] =
      if (latestDevlog.columns.contains(c) && !dev.isNullAt(dev.fieldIndex(c)))
        Some(dev.get(dev.fieldIndex(c)))
      else None
    val matched = col("campus_id") === lit(campusId)
    val refreshed = RefreshedColumns.foldLeft(registry) { (df, c) =>
      devVal(c) match {
        case Some(v) => df.withColumn(c,
          when(matched, lit(v).cast(df.schema(c).dataType)).otherwise(col(c)))
        case None => df
      }
    }
    refreshed
      .withColumn("etl_status", when(matched, lit("cleaned")).otherwise(col("etl_status")))
      .withColumn("processed_by", when(matched, lit(processedBy)).otherwise(col("processed_by")))
      .withColumn("last_processed_on", when(matched, lit(nowString)).otherwise(col("last_processed_on")))
  }

  /** F14 — the reference's timestamp format (ETL_pipeline.py:101), in the
    * session time zone, formatted on the driver (no Spark job). Injected
    * as a parameter everywhere else so plans stay deterministic. */
  def nowString(spark: SparkSession): String = {
    val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
      spark.conf.get("spark.sql.session.timeZone"))
    java.time.ZonedDateTime.now(zone)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
  }
}
