package etlbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.clean.{Cleaning, Rules}
import graft.core.Schemas
import graft.extract.{CodePairs, JsonExtractor, MrfCsv, TallExtractor, WideExtractor}
import graft.meta.Devlog

/** The traced pass: the same public layer functions `EtlPipeline.run` calls,
  * in the same order and with the same paths, but with a Spark action at
  * each layer boundary so every span measures the work of its own layer.
  * The boundary actions (the extra cache + count after dedup) are part of
  * the tracing overhead the benchmark reports. */
object Layers {

  final case class CampusTrace(extracted: Long, preDedup: Long, deduped: Long,
      cleanRows: Long, violationRows: Long, score: Double, cacheMb: Double,
      csvBytes: Long, metaFiles: Long, processCpuNs: Long)

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def campus(spark: SparkSession, t: Tracer, registryPath: String,
      campusId: String, baseDir: String): CampusTrace = {
    val cpu0 = osBean.getProcessCpuTime
    val out = t.span("etl") {
      val registry = spark.read.parquet(registryPath)
      val rec = registry.filter(col("campus_id") === lit(campusId)).limit(1).collect().head
      def field(n: String): String = Option(rec.getAs[Any](n)).map(_.toString).getOrElse("")
      val system = field("healthcare_system").toLowerCase.replace(" ", "_")
      val structure = field("structure").toLowerCase
      val rawPath = s"$baseDir/data/raw data/$system/${field("raw_filename")}"
      val extractedPath = s"$baseDir/data/extracted data/$system/${campusId}_extracted"

      val mrfMeta = t.span("extract") {
        val (canonical, meta) = structure match {
          case "tall csv" =>
            (TallExtractor.extract(MrfCsv.readBody(spark, rawPath),
              field("hospital_name"), field("zip_code")),
              MrfCsv.readMetadata(spark, rawPath))
          case "wide csv" =>
            (WideExtractor.extract(MrfCsv.readBody(spark, rawPath),
              field("hospital_name"), field("zip_code")),
              MrfCsv.readMetadata(spark, rawPath))
          case "json" =>
            val mrf = JsonExtractor.readMrf(spark, rawPath)
            (JsonExtractor.extract(mrf, field("hospital_name"), field("zip_code")),
              JsonExtractor.metadata(mrf))
        }
        canonical.write.mode(SaveMode.Overwrite).option("header", "true").csv(extractedPath)
        meta
      }

      val (extractedRows, preDedup, preDedupRows, deduped, dedupedRows, cacheMb) =
        t.span("clean") {
          val extracted = spark.read.option("header", "true")
            .schema(Schemas.canonicalIngest).csv(extractedPath)
          val rows = extracted.count()
          val pre = Cleaning.cleanAllPreDedup(extracted).cache()
          val preRows = pre.count()
          val deduped = Cleaning.dedup(pre).cache()
          val dedupedRows = deduped.count()
          val cacheMb = spark.sparkContext.getRDDStorageInfo
            .map(i => i.memSize + i.diskSize).sum / 1048576.0
          (rows, pre, preRows, deduped, dedupedRows, cacheMb)
        }

      val cleanedPath = s"$baseDir/data/cleaned data/$system/${campusId}_cleaned"
      val quarantinePath =
        s"$baseDir/data/logs/rules violations/$system/${campusId}_rules_violated"
      val (summary, cleanRows, violationRows) = t.span("rules") {
        val tagged = Rules.tagViolations(deduped).cache()
        val (clean, violations) = Rules.split(tagged)
        clean.write.mode(SaveMode.Overwrite).option("header", "true").csv(cleanedPath)
        violations.write.mode(SaveMode.Overwrite).option("header", "true").csv(quarantinePath)
        val summary = Rules.summarize(tagged)
        val row = summary.head()
        val v = violations.count()
        tagged.unpersist()
        (summary, row.getAs[Long]("total_rows_cleaned"), v)
      }

      val devlogPath = s"$baseDir/data/logs/devlogs/$system/${campusId}_devlog"
      val score = t.span("meta") {
        val meta = Devlog.metadataFromSummary(summary, preDedupRows - (cleanRows + violationRows))
        Devlog.append(spark, devlogPath, Devlog.DevlogEntry(campusId,
          mrfMeta.getOrElse("hospital_address", field("hospital_address")),
          mrfMeta.getOrElse("version", ""), mrfMeta.getOrElse("last_updated_on", ""),
          meta.final_transparency_score, System.nanoTime(), meta))
        val updated = Devlog.updateRegistry(registry, Devlog.latest(spark, devlogPath),
          campusId, "etlbench", Devlog.nowString(spark))
        val frozen = spark.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(updated.collect(): _*)),
          updated.schema)
        frozen.write.mode(SaveMode.Overwrite).parquet(registryPath)
        meta.final_transparency_score
      }
      preDedup.unpersist(); deduped.unpersist()
      CampusTrace(extractedRows, preDedupRows, dedupedRows, cleanRows, violationRows,
        score, cacheMb, dirBytes(cleanedPath) + dirBytes(quarantinePath),
        dataFiles(devlogPath) + dataFiles(registryPath), 0L)
    }
    out.copy(processCpuNs = osBean.getProcessCpuTime - cpu0)
  }

  /** Source-level code pairs whose type the extractor rejects: a count made
    * outside every span, so it is not charged to any layer. */
  def pairsRejected(spark: SparkSession, rawPath: String, structure: String): Long =
    structure match {
      case "json" =>
        JsonExtractor.readMrf(spark, rawPath)
          .select(explode(col("standard_charge_information")).as("sci"))
          .select(explode(col("sci.code_information")).as("ci"))
          .filter(coalesce(col("ci.code"), lit("")) =!= "" &&
            element_at(CodePairs.normalizeMap, upper(coalesce(col("ci.type"), lit("")))).isNull)
          .count()
      case _ =>
        CodePairs.explodePairs(MrfCsv.readBody(spark, rawPath).na.fill(""))
          .filter(col("__code_type").isNull).count()
    }

  /** Registry build through the enricher's public entry points, as timed. */
  def buildRegistry(spark: SparkSession, inputs: String, registryPath: String): Unit = {
    val enriched = graft.enrich.RegistryEnricher.enrich(scraped(spark, inputs), cms(spark, inputs))
    graft.enrich.RegistryEnricher.toRegistryProjection(enriched)
      .write.mode(SaveMode.Overwrite).parquet(registryPath)
  }

  private val scrapedColumns = Seq("hospital_name", "campus_id", "healthcare_system",
    "city", "state", "hospital_address", "zip_code", "raw_filename", "structure",
    "file_format", "last_updated_on", "version", "etl_status")
  private val cmsColumns = Seq("facility_name", "cms_rating", "hospital_type", "county",
    "telephone_num", "cms_zip")
  private def strings(cols: Seq[String]) = org.apache.spark.sql.types.StructType(
    cols.map(c => org.apache.spark.sql.types.StructField(c,
      org.apache.spark.sql.types.StringType)))

  def scraped(spark: SparkSession, inputs: String): DataFrame =
    spark.read.option("header", "true").schema(strings(scrapedColumns))
      .csv(s"$inputs/scraped.csv")

  /** CMS rows keyed as the reference keys them: campus_id derived from the
    * facility name (hospital_enricher.py:142). */
  def cms(spark: SparkSession, inputs: String): DataFrame =
    spark.read.schema(strings(cmsColumns)).json(s"$inputs/cms.jsonl")
      .withColumn("campus_id", graft.enrich.Naming.campusId(col("facility_name")))

  def dirBytes(dir: String): Long =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-")).map(_.length).sum

  def dataFiles(dir: String): Long =
    Option(new File(dir).listFiles()).toSeq.flatten
      .count(f => f.getName.startsWith("part-")).toLong
}
