package graft.clean

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

import graft.core.Conf.RuleNames

/** The 10 CMS conditional validation rules (cleaning_utils.py:21-54) as pure
  * Column predicates (True = violation), plus quarantine split, per-rule
  * counters and the transparency score (cleaning_utils.py:181-216).
  *
  * Presence semantics (the subtle part): a field is "present" iff the pandas
  * Series is `notna()` at rule time. After the cleaning pass
  * (Cleaning.cleanAll), price fields are nullable doubles (null iff
  * unparseable / <=0 / placeholder), the 6 TEXT_FIELDS are non-null strings
  * ("" counts as present), and code / code type are non-null strings. We
  * therefore use `isNotNull` uniformly; rules whose predicates reference
  * always-present columns (rules 1, 2, 3, 5, 9 — via text-field or code
  * normalization) can then never fire, exactly as in the reference. The
  * predicates are still implemented in full — deadness is a property of the
  * pipeline ordering, not of this module.
  */
object Rules {

  private def present(c: String): Column = col(c).isNotNull
  private def absent(c: String): Column = col(c).isNull
  private def anyPresent(cs: String*): Column = cs.map(present).reduce(_ || _)
  private def allPresent(cs: String*): Column = cs.map(present).reduce(_ && _)
  private def allAbsent(cs: String*): Column = cs.map(absent).reduce(_ && _)

  /** Violation predicates in order rule_1..rule_10 (cleaning_utils.py:23-53). */
  def predicates: Seq[(String, Column)] = Seq(
    "rule_1" -> (anyPresent("negotiated price", "negotiated percentage", "gross charge") &&
      !allPresent("insurance payer name", "insurance plan name", "negotiated methodology")),
    "rule_2" -> (anyPresent("negotiated price", "negotiated percentage", "gross charge",
        "discounted cash price", "min price", "max price", "estimated amount") &&
      !allPresent("code", "code type")),
    "rule_3" -> ((present("code") && absent("code type")) ||
      (present("code type") && absent("code"))),
    "rule_4" -> (coalesce(lower(col("negotiated methodology")) === "other", lit(false)) &&
      absent("additional notes")),
    "rule_5" -> (present("description") &&
      allAbsent("gross charge", "discounted cash price", "negotiated price",
        "negotiated percentage", "negotiated algorithm")),
    "rule_6" -> (present("negotiated price") && !allPresent("min price", "max price")),
    "rule_7" -> (absent("negotiated price") &&
      anyPresent("negotiated percentage", "negotiated algorithm") &&
      absent("estimated amount")),
    "rule_8" -> (coalesce(upper(col("code type")) === "NDC", lit(false)) &&
      !allPresent("drug unit", "drug type")),
    "rule_9" -> (present("modifiers") && absent("description") &&
      allAbsent("negotiated price", "negotiated percentage", "negotiated algorithm",
        "additional notes")),
    "rule_10" -> ((present("drug unit") && absent("drug type")) ||
      (present("drug type") && absent("drug unit"))))

  /** U5 — tag each row with the comma-joined list of violated rules, null when
    * none (cleaning_utils.py:183-191). One extra column `rules_violated`. */
  def tagViolations(df: DataFrame): DataFrame = {
    val tags = array(predicates.map { case (name, p) =>
      when(coalesce(p, lit(false)), lit(name))
    }: _*)
    val joined = concat_ws(",", filter(tags, _.isNotNull))
    df.withColumn("rules_violated", when(joined === "", lit(null)).otherwise(joined))
  }

  /** P10 — quarantine split over a tagged frame: clean rows (no tag, tag and
    * bookkeeping columns dropped, matching the written CSV of
    * cleaning_utils.py:201-206) and violating rows (tag kept, matching the
    * rules-violated CSV of cleaning_utils.py:210-212). Both sides re-run
    * `tagged`'s plan; a caller that consumes both reads it from one
    * materialization (EtlPipeline.run reads the dedup's shuffle output). */
  def split(tagged: DataFrame): (DataFrame, DataFrame) = {
    val clean = tagged.filter(col("rules_violated").isNull)
      .drop("rules_violated", "transparency_score", "negotiated_algorithm_invalid")
    val violations = tagged.filter(col("rules_violated").isNotNull)
    (clean, violations)
  }

  /** A7/A9/A10 — one-pass summary over a tagged frame: per-rule violation
    * counts, clean-row count, algorithm-format issue count (counted on clean
    * rows only, cleaning_utils.py:198), and the transparency score
    * `max(0, 1 - Σ_rule violations / (examined × 10))` where
    * `examined = clean_rows + Σ_rule violations` — NOTE the reference counts a
    * row once PER VIOLATED RULE in both terms (cleaning_utils.py:214-216);
    * replicated literally. Returns a 1-row DataFrame.
    */
  def summarize(tagged: DataFrame): DataFrame = summarize(tagged, Nil)

  /** [[summarize]] with caller-supplied extra aggregates computed in the
    * SAME pass (e.g. the devlog's pre-/post-dedup row counts) — one job
    * instead of one per statistic. */
  def summarize(tagged: DataFrame, extraAggs: Seq[Column]): DataFrame = {
    val aggs = summaryAggs(extraAggs)
    withScore(tagged.agg(aggs.head, aggs.tail: _*))
  }

  /** [[summarize]] as an observation on an action the caller runs anyway:
    * returns `tagged` with the summary aggregates attached (an action over
    * it, or over a filter of it, sees every row) and a function that, once
    * that action has run, gives the row [[summarize]] would — without a job
    * of its own. */
  def observeSummary(tagged: DataFrame,
      extraAggs: Seq[Column]): (DataFrame, () => Row) = {
    val aggs = summaryAggs(extraAggs)
    val observation = Observation()
    val schema = tagged.agg(aggs.head, aggs.tail: _*).schema // analysis only
    (tagged.observe(observation, aggs.head, aggs.tail: _*), () => {
      val metrics = observation.get
      val local = tagged.sparkSession.createDataFrame(
        java.util.List.of(Row.fromSeq(schema.fieldNames.toSeq.map(metrics))), schema)
      withScore(local).head() // a local relation: evaluated on the driver
    })
  }

  private def summaryAggs(extraAggs: Seq[Column]): Seq[Column] = {
    val isClean = col("rules_violated").isNull
    // coalesce(…, 0): sum over an EMPTY frame is NULL, which would unbox to
    // garbage zeros downstream while skipping the examined==0 score guard.
    val ruleCounts = predicates.map { case (name, p) =>
      coalesce(sum(when(coalesce(p, lit(false)), 1L).otherwise(0L)), lit(0L)).as(name)
    }
    ruleCounts ++ Seq(
      coalesce(sum(when(isClean, 1L).otherwise(0L)), lit(0L)).as("total_rows_cleaned"),
      coalesce(sum(when(isClean && col("negotiated_algorithm_invalid") === true, 1L)
        .otherwise(0L)), lit(0L)).as("total_algorithm_format_violations")) ++ extraAggs
  }

  private def withScore(g: DataFrame): DataFrame = {
    val dropped = RuleNames.map(col).reduce(_ + _)
    val examined = col("total_rows_cleaned") + col("total_rows_dropped_due_to_rule_violations")
    g.withColumn("total_rows_dropped_due_to_rule_violations", dropped)
      .withColumn("final_transparency_score",
        when(examined === 0, lit(0d)).otherwise(
          greatest(lit(0d),
            lit(1d) - col("total_rows_dropped_due_to_rule_violations")
              .cast("double") / (examined.cast("double") * 10d))))
  }
}
