package graft.enrich

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Registry build: scraped hospitals enriched against the CMS provider table
  * (hospital_enricher.py:117-186) — exact campus_id lookup (J1) with a fuzzy
  * SequenceMatcher fallback at cutoff 0.9 (J2), top-1 per scraped row.
  *
  * Scale shape: the deduplicated CMS side (≤ 50k rows by the reference's own
  * fetch cap) is collected once and rides the plan inside one expression,
  * `cms_match(campus_id)` ([[CmsMatch]]), which answers both stages per
  * key: a hash lookup for J1, and for a miss an inverted-index candidate
  * search over per-length-class signatures confirmed with the exact ratio
  * (proofs at [[CmsIndex]]), memoized per distinct miss key. The scraped
  * side is one narrow projection — no join, shuffle or broadcast — so the
  * quadratic |misses|×|CMS| cross product never materializes and a build
  * plans and compiles few operators. difflib's get_close_matches breaks
  * score ties by candidate order; we use the CMS key as the deterministic
  * stand-in (documented divergence only when two candidates tie EXACTLY at
  * the best score).
  */
object RegistryEnricher {

  val DefaultCutoff = 0.9

  /** Columns copied from the CMS side on a match
    * (hospital_enricher.py:160-164). */
  val EnrichedColumns: Seq[String] =
    Seq("cms_rating", "hospital_type", "county", "telephone_num", "cms_zip")

  /** Left: scraped rows with a `campus_id` key column. Right: CMS rows with
    * `campus_id` + EnrichedColumns. Returns left columns + EnrichedColumns
    * (null when unmatched) + `match_kind` (exact | fuzzy | none) +
    * `match_ratio` (1.0 exact, score for fuzzy, null none).
    *
    * Unlike a lazy query builder, this runs one Spark job at call time: the
    * CMS side is collected to the driver once, deduplicated there (one row
    * per key) and carried in the returned plan. Driver memory is bounded
    * by the CMS side's size, ≤ 50k rows under the reference's fetch cap —
    * the table an exact broadcast join would hold anyway. The scraped side
    * stays lazy and is read once per action; nothing is persisted. */
  def enrich(scraped: DataFrame, cms: DataFrame,
      cutoff: Double = DefaultCutoff): DataFrame = {
    val cmsCols = EnrichedColumns.filter(cms.columns.contains)
    // A null key can match nothing, so it is dropped before the collect.
    // Duplicate campus_id keys (real after the lossy key normalization)
    // must not fan scraped rows out: the reference's dict-style index keeps
    // one row; the index keeps the struct-min row (row-order independent).
    val cmsSide = cms.filter(col("campus_id").isNotNull)
      .select((col("campus_id").cast("string") +: cmsCols.map(col)): _*)
    val index = CmsIndex(cmsSide.collect(), cmsSide.schema, cutoff)
    val m = ColumnBridge.column(CmsMatch(
      ColumnBridge.expression(col("campus_id").cast("string")), index))
    val outCols: Seq[Column] = (scraped.columns.map(col) ++
      (cmsCols :+ "match_kind" :+ "match_ratio").map(c => col(s"__m.$c").as(c))).toSeq
    scraped.select((scraped.columns.map(col) :+ m.as("__m")): _*)
      .select(outCols: _*)
  }

  /** The registry's full 30-column projection with ""-fill for anything the
    * enrichment didn't produce (hospital_enricher.py:174-185) — the sink
    * shape of the §3.2 registry-build trace. */
  val RegistryColumns: Seq[String] = Seq(
    "hospital_name", "campus_id", "healthcare_system", "hospital_type",
    "city", "county", "metro_area", "state", "hospital_address", "zip_code",
    "telephone_num", "latitude", "longitude", "cms_rating", "leapfrog_grade",
    "leapfrog_grade_term", "leapfrog_grade_url", "last_updated_on", "version",
    "etl_status", "processed_by", "last_processed_on", "issues_encountered",
    "transparency_score", "raw_filename", "file_format", "structure",
    "download_url", "contact_num", "email_id")

  def toRegistryProjection(enriched: DataFrame): DataFrame = {
    val cols = RegistryColumns.map {
      case "zip_code" if enriched.columns.contains("cms_zip") =>
        coalesce(Seq("zip_code").filter(enriched.columns.contains).map(col) :+
          col("cms_zip") :+ lit(""): _*).as("zip_code")
      case c if enriched.columns.contains(c) => coalesce(col(c), lit("")).as(c)
      case c => lit("").as(c)
    }
    enriched.select(cols: _*)
  }
}
