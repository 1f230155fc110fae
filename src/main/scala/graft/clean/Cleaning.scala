package graft.clean

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

import graft.core.Schemas._

/** Cleaning phase of the engine — column-wise transforms over the canonical
  * all-string charges table. Faithful re-expression of the reference's
  * cleaning pass (cleaning_utils.py:68-138,163-179), each step a pure
  * `DataFrame => DataFrame` built from codegen'd Column expressions (no UDFs).
  *
  * Ordering matters and is preserved exactly (cleaning_utils.py:163-179):
  * header canon → ensure modifiers → price scrub/cast → invalid-token blanking
  * → text normalization → modifier normalization → algorithm-format flag →
  * code-validity filter → dedup. Several downstream rule predicates are
  * sensitive to this order (see Rules.scala).
  */
object Cleaning {

  /** P2 — `columns.str.lower().str.strip()` (cleaning_utils.py:164). */
  def canonHeaders(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase.trim): _*)

  /** P3 — add a null `modifiers` column when absent (cleaning_utils.py:166-167). */
  def ensureModifiers(df: DataFrame): DataFrame =
    if (df.columns.contains("modifiers")) df
    else df.withColumn("modifiers", lit(null).cast(StringType))

  /** F3 — price scrub + numeric cast (cleaning_utils.py:83-97): strip
    * `[$%",]`, trim, cast to double (invalid → null, same as
    * `to_numeric(errors='coerce')`); then null out `<= 0` and the 999999999
    * placeholder on every price field EXCEPT `estimated amount`. */
  def scrubPrice(c: Column, isEstimatedAmount: Boolean): Column = {
    // try_cast = pandas to_numeric(errors='coerce'): malformed → null.
    val scrubbed = trim(regexp_replace(c, "[$%\",]", "")).try_cast(DoubleType)
    if (isEstimatedAmount) scrubbed
    else when(scrubbed <= 0 || scrubbed === PlaceholderPrice, lit(null).cast(DoubleType))
      .otherwise(scrubbed)
  }

  def cleanPriceFields(df: DataFrame): DataFrame = {
    val present = PriceFields.filter(df.columns.contains)
    df.withColumns(present.map(c => c -> scrubPrice(col(c), c == "estimated amount")).toMap)
  }

  /** F4 — blank invalid tokens: any string column whose full value matches
    * `(?i)^(n/?a|not applicable)$` becomes "" (cleaning_utils.py:76-81).
    * Nulls stay null (pandas `na=False` keeps NaN unmatched). */
  def removeInvalidTokens(df: DataFrame): DataFrame = {
    val strCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    df.withColumns(strCols.map { c =>
      c -> when(col(c).rlike("(?i)^(n/?a|not applicable)$"), lit("")).otherwise(col(c))
    }.toMap)
  }

  /** F5 — text normalization (cleaning_utils.py:99-103): `astype(str)` turns
    * null into the string "nan"; strip+lower; then exact value "nan" → "".
    * Net effect: the 6 text fields become NON-NULL lowercase strings. */
  def normalizeText(c: Column): Column = {
    val s = lower(trim(coalesce(c, lit("nan"))))
    when(s === "nan", lit("")).otherwise(s)
  }

  def normalizeTextFields(df: DataFrame): DataFrame = {
    val present = TextFields.filter(df.columns.contains)
    df.withColumns(present.map(c => c -> normalizeText(col(c))).toMap)
  }

  /** F6 — modifiers normalization (cleaning_utils.py:105-112): upper,
    * `|` → `,`, remove spaces; null preserved (pd.NA kept). */
  def normalizeModifiers(df: DataFrame): DataFrame =
    if (!df.columns.contains("modifiers")) df
    else df.withColumn("modifiers",
      regexp_replace(regexp_replace(upper(col("modifiers")), "\\|", ","), " ", ""))

  /** F7 — negotiated-algorithm format flag (cleaning_utils.py:68-74). The
    * reference pattern is the raw string `^[0-9$%\\s]+$`: the char class is
    * digits, `$`, `%`, a LITERAL BACKSLASH and the LETTER `s` — NOT
    * whitespace. Preserved bit-for-bit (it is the spec). Null → false
    * (`fillna(False)`); the flag is only counted, never used to drop rows. */
  def flagAlgorithmFormat(df: DataFrame): DataFrame = {
    val flag =
      if (df.columns.contains("negotiated algorithm"))
        coalesce(col("negotiated algorithm").rlike("^[0-9$%\\\\s]+$"), lit(false))
      else lit(false)
    df.withColumn("negotiated_algorithm_invalid", flag)
  }

  /** P6/F16 — code-format validity filter (cleaning_utils.py:120-138).
    * `astype(str)` semantics: null code → "nan", null type → "NAN" — so the
    * reference's trailing `| df["code"].isna()` escape can never fire and rows
    * without a valid (code, code type) are DROPPED. We replicate the outcome.
    * The stringified/upper-cased columns persist into the output (the pandas
    * `astype` mutation is not undone). */
  def validateCodeFormat(df: DataFrame): DataFrame = {
    if (!(df.columns.contains("code") && df.columns.contains("code type"))) return df
    val coded = df
      .withColumn("code", coalesce(col("code"), lit("nan")))
      .withColumn("code type", upper(coalesce(col("code type"), lit("nan"))))
    // One boolean expression, not an OR-chain: when the optimizer pushes
    // this filter through the cleaning projects it substitutes the aliased
    // code/type chains once per REFERENCE — the chain version re-evaluated
    // the per-column pipeline 14x per row (graft.functions.CodeFormatValid
    // scaladoc has the measurements).
    import org.apache.spark.sql.graft.ColumnBridge
    coded.filter(ColumnBridge.column(graft.functions.CodeFormatValid(
      ColumnBridge.expression(col("code")),
      ColumnBridge.expression(col("code type")))))
  }

  /** A8 — duplicate removal. The reference dedups within each 100k-row chunk
    * only (cleaning_utils.py:114-118,176-179); global `dropDuplicates` is the
    * correct-intent superset (documented divergence — chunking was an
    * out-of-core tactic, not a semantic choice). All-column dedup means any
    * surviving representative is identical, so "keep first" order-dependence
    * disappears. */
  def dedup(df: DataFrame): DataFrame = df.dropDuplicates()

  /** Column [[dedupCounted]] adds: how many input rows each output row stands for. */
  val Multiplicity = "__mult"

  /** [[dedup]] as a group-by over every column that keeps each distinct
    * row's multiplicity in [[Multiplicity]], so one aggregation over its
    * output (see [[dedupCounts]]) yields the pre- and post-dedup row counts
    * next to whatever else it computes — no count job per statistic. */
  def dedupCounted(df: DataFrame): DataFrame =
    df.groupBy(df.columns.map(col): _*).agg(count(lit(1)).as(Multiplicity))

  /** Aggregates over a [[dedupCounted]] frame: `pre_dedup_rows` (rows
    * before dedup) and `deduped_rows` (rows after). */
  def dedupCounts: Seq[Column] = Seq(
    coalesce(sum(col(Multiplicity)), lit(0L)).as("pre_dedup_rows"),
    count(lit(1)).as("deduped_rows"))

  /** Everything before dedup, in reference order — callers that need the
    * duplicates-dropped delta (A11/devlog) dedup it with [[dedupCounted]]. */
  def cleanAllPreDedup(raw: DataFrame): DataFrame = {
    val steps: Seq[DataFrame => DataFrame] = Seq(
      canonHeaders, ensureModifiers, cleanPriceFields, removeInvalidTokens,
      normalizeTextFields, normalizeModifiers, flagAlgorithmFormat,
      validateCodeFormat)
    steps.foldLeft(raw)((d, f) => f(d))
  }

  /** The full pre-rules cleaning pass, in reference order
    * (cleaning_utils.py:163-179). */
  def cleanAll(raw: DataFrame): DataFrame = dedup(cleanAllPreDedup(raw))
}
