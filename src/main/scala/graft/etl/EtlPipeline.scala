package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.clean.{Cleaning, Rules}
import graft.core.Schemas
import graft.extract.{JsonExtractor, MrfCsv, TallExtractor, WideExtractor}
import graft.meta.Devlog

/** The flagship end-to-end pipeline — the Spark re-expression of
  * ETL_pipeline.py main() (SURVEY §3.1):
  *
  *   registry lookup (S1/P1) → format dispatch (registry.structure,
  *   ETL_pipeline.py:19-38,61-72) → EXTRACT to the canonical CSV (S8/S9) →
  *   CLEAN (quarantine S10, counters, transparency score) → devlog append
  *   (S11) → registry update (S12/J4).
  *
  * The reference crosses phases through files on disk; preserved here (the
  * extracted/cleaned CSVs are the pipeline's public artifacts), but each
  * phase is one distributed logical plan instead of a chunk loop. Layout
  * mirrors the reference: `data/raw data|extracted data|cleaned data|logs/
  * {system}/...` keyed by the system slug (F15) — which doubles as the
  * partition key a 1000-hospital run would parallelize over.
  *
  * Six Spark jobs per campus, whatever the structure: the registry
  * collect, the extract CSV write, the dedup's map stage, the clean and the
  * quarantine CSV writes, and the registry write. Every number the run
  * returns comes out of one of them. The extracted row count is observed on
  * the extract write; the rule summary, with the pre-dedup, deduped, clean
  * and violation counts over the multiplicity-carrying dedup, is observed
  * on the clean write. Both rule writes read the dedup's one shuffle
  * output, and nothing is cached. What only needs a file's first bytes is
  * read on the driver: the MRF metadata and CSV header lines, the
  * registry's schema from a parquet footer. The devlog entry is rendered on
  * the driver and written as one file, and the registry is rewritten from
  * the collected snapshot plus that entry. No count, read-back or collect
  * job exists only to compute a number.
  */
object EtlPipeline {

  final case class RunResult(
      campusId: String, system: String, structure: String,
      extractedRows: Long, cleanRows: Long, violationRows: Long,
      duplicatesDropped: Long, transparencyScore: Double,
      extractedPath: String, cleanedPath: String, quarantinePath: String,
      outputMb: Double)

  /** Known `structure` values (registry dispatch, ETL_pipeline.py:61-72). */
  val Structures: Set[String] = Set("json", "tall csv", "wide csv")

  def run(spark: SparkSession, registryPath: String, campusId: String,
      baseDir: String, processedBy: String): RunResult = {

    // S1/P1 — registry scan + key lookup; error when absent. Collected once:
    // the lookup reads this snapshot and the S12 refresh rewrites it (the
    // registry is a small dimension, and its own path is overwritten).
    val registry = Devlog.readRegistry(spark, registryPath)
    val registryRows = registry.collect()
    val rec = registryRows.find(r => r.getAs[Any]("campus_id") == campusId).getOrElse(
      throw new IllegalArgumentException(
        s"Campus ID '$campusId' not found in hospital registry."))
    def field(n: String): String =
      Option(rec.getAs[Any](n)).map(_.toString).getOrElse("")
    val system = field("healthcare_system").toLowerCase.replace(" ", "_") // F15
    val structure = field("structure").toLowerCase
    require(Structures.contains(structure), s"Unknown structure '$structure'")
    val hospitalName = field("hospital_name")
    val zipCode = field("zip_code")
    val rawPath = s"$baseDir/data/raw data/$system/${field("raw_filename")}"
    val extractedPath = s"$baseDir/data/extracted data/$system/${campusId}_extracted"
    // A JSON MRF is split here into one line per charge item; removed with
    // the run.
    val splitScratch = s"$baseDir/data/scratch/$system/${campusId}_mrf_split"

    // The split scratch is removed however the run ends: a long-lived
    // fleet driver must not keep a failed campus's scratch on disk.
    try {
      // EXTRACT — dispatch to the structure's extractor; capture the MRF's
      // own metadata (version/last_updated_on/address come from the FILE,
      // not the registry — tall_format_csv_extractor.py:66-71,
      // ETL_pipeline.py:92-99). The row count is observed on the write.
      val (canonical: DataFrame, mrfMeta: Map[String, String]) = structure match {
        case "tall csv" =>
          (TallExtractor.extractFile(spark, rawPath, hospitalName, zipCode),
            MrfCsv.readMetadata(spark, rawPath))
        case "wide csv" =>
          (WideExtractor.extractFile(spark, rawPath, hospitalName, zipCode),
            MrfCsv.readMetadata(spark, rawPath))
        case "json" =>
          JsonExtractor.extractFile(spark, rawPath, hospitalName, zipCode, splitScratch)
      }
      val extractCount = Observation()
      canonical.observe(extractCount, count(lit(1)).as("rows"))
        .write.mode(SaveMode.Overwrite)
        .option("header", "true").csv(extractedPath) // S8/S9 (standard quoting)
      val extractedRows = extractCount.get("rows").asInstanceOf[Long]
      // Fail loud on an empty extract (corrupt MRF, all code types rejected):
      // the reference would crash in its parser; a silent 'cleaned' registry
      // flip on garbage input is worse than an error.
      require(extractedRows > 0,
        s"Extraction produced 0 canonical rows for campus '$campusId' from $rawPath")

      // CLEAN — read back all-string (S3 semantics), full pass + rules. The
      // dedup keeps each row's multiplicity, so the rule summary also yields
      // the pre- and post-dedup row counts; the summary is observed on the
      // clean write, below the split's filter, so it sees every tagged row.
      // The tagged frame is re-wrapped around its executed plan's RDD
      // (planning it runs the dedup's map stage), so the clean and the
      // quarantine write read that one shuffle output instead of a cache.
      val extracted = spark.read.option("header", "true")
        .schema(Schemas.canonicalIngest).csv(extractedPath)
      val tagged = Rules.tagViolations(
        Cleaning.dedupCounted(Cleaning.cleanAllPreDedup(extracted)))
      val t = ColumnBridge.internalCreateDataFrame(spark,
        ColumnBridge.toInternalRdd(tagged), tagged.schema)
      val (observed, summaryRow) = Rules.observeSummary(t, Cleaning.dedupCounts)
      val clean = Rules.split(observed.drop(Cleaning.Multiplicity))._1
      val violations = Rules.split(t.drop(Cleaning.Multiplicity))._2

      val cleanedPath = s"$baseDir/data/cleaned data/$system/${campusId}_cleaned"
      val quarantinePath = s"$baseDir/data/logs/rules violations/$system/${campusId}_rules_violated"
      clean.write.mode(SaveMode.Overwrite).option("header", "true").csv(cleanedPath)
      violations.write.mode(SaveMode.Overwrite)
        .option("header", "true").csv(quarantinePath) // S10

      val summary = summaryRow()
      val cleanRows = summary.getAs[Long]("total_rows_cleaned")
      val dedupedRows = summary.getAs[Long]("deduped_rows")
      // Every deduped row is clean or quarantined; duplicates dropped = rows
      // removed by dedup itself (violation rows are counted as distinct
      // tagged rows, not per-rule, for this delta).
      val violationRows = dedupedRows - cleanRows
      val dupsDropped = summary.getAs[Long]("pre_dedup_rows") - dedupedRows

      // S11 — devlog append (seq = ns timestamp for L1 ordering), rendered
      // and written on the driver. The 4dp devlog rounding
      // (cleaning_utils.py:231) is what flows to the registry and the run
      // result.
      val meta = Devlog.metadataFromSummary(summary, dupsDropped)
      val devlogPath = s"$baseDir/data/logs/devlogs/$system/${campusId}_devlog"
      val entry = Devlog.DevlogEntry(
        campusId,
        mrfMeta.getOrElse("hospital_address", field("hospital_address")),
        mrfMeta.getOrElse("version", ""),
        mrfMeta.getOrElse("last_updated_on", ""),
        meta.final_transparency_score,
        devlogSeq(), meta)
      Devlog.append(spark, devlogPath, entry)

      // S12/J4 — registry refresh from the collected snapshot and the entry
      // just appended (the reference's devlog.iloc[-1], ETL_pipeline.py:90):
      // both are local relations, so only the overwrite-write runs a job.
      Devlog.updateRegistry(
        spark.createDataFrame(java.util.Arrays.asList(registryRows: _*), registry.schema),
        Devlog.entryFrame(spark, entry), campusId, processedBy, Devlog.nowString(spark))
        .write.mode(SaveMode.Overwrite).parquet(registryPath)

      // A11 — output size bookkeeping via Hadoop FS.
      val fs = new Path(cleanedPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val outputMb = fs.getContentSummary(new Path(cleanedPath)).getLength / 1024.0 / 1024.0

      RunResult(campusId, system, structure, extractedRows, cleanRows,
        violationRows, dupsDropped, meta.final_transparency_score, extractedPath,
        cleanedPath, quarantinePath, outputMb)
    } finally {
      val scratch = new Path(splitScratch)
      scratch.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(scratch, true)
    }
  }

  /** Devlog ordering value: nanoseconds since epoch (millis would tie for
    * two runs in the same ms, making Devlog.latest nondeterministic). */
  private def devlogSeq(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  /** Batch run over every registry row of one healthcare system — the
    * 1000-hospital seam: each campus is an independent pipeline over its own
    * files, so a fleet deployment parallelizes by submitting these as
    * separate jobs (or one job per executor-group); within a campus the
    * plans themselves are distributed. Sequential here (local mode). */
  def runSystem(spark: SparkSession, registryPath: String, system: String,
      baseDir: String, processedBy: String): Seq[RunResult] = {
    val ids = systemRegistry(Devlog.readRegistry(spark, registryPath), system)
      .select(col("campus_id")).collect().map(_.getString(0)).toSeq
    ids.map(id => run(spark, registryPath, id, baseDir, processedBy))
  }

  /** P9 — registry rows of one healthcare system (batch_json_explorer.py:30). */
  def systemRegistry(registry: DataFrame, system: String): DataFrame =
    registry.filter(lower(col("healthcare_system")) === system.toLowerCase)
}
