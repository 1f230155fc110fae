package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Conf

/** Shared ≤4 (code|i, code|i|type) pair handling (U1 + P7 + P8 + F16).
  *
  * Both CSV extractors walk `code|1..4` / `code|1..4|type`
  * (tall_format_csv_extractor.py:97-113, wide_format_csv_extractor.py:120-131):
  * skip a pair when code or type is empty (P8); uppercase the raw type,
  * normalize through config.yaml's map, and reject (but count) types that
  * don't land in the allowlist (P7/A3). Pure narrow explode — no shuffle.
  */
object CodePairs {

  val normalizeMap: Column = typedLit(Conf.CodeTypeNormalization)

  /** Column for `name` when present, else "" (pandas row.get(col, '')). */
  def colOr(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) coalesce(col(name), lit("")) else lit("")

  /** Explodes the ≤4 pairs into rows carrying `__code`, `__raw_type`,
    * `__code_type` (null when unknown) alongside every input column.
    * Empty pairs are dropped; unknown types kept (callers split/count). */
  def explodePairs(df: DataFrame): DataFrame = {
    val pairs = array((1 to 4).map { i =>
      struct(
        colOr(df, s"code|$i").as("code"),
        colOr(df, s"code|$i|type").as("raw_type"))
    }: _*)
    df.withColumn("__pair", explode(pairs))
      .withColumn("__code", col("__pair.code"))
      .withColumn("__raw_type", col("__pair.raw_type"))
      .drop("__pair")
      .filter(col("__code") =!= "" && col("__raw_type") =!= "")
      .withColumn("__code_type", element_at(normalizeMap, upper(col("__raw_type"))))
  }

  /** Kept side: pairs whose normalized type is in the allowlist. */
  def kept(exploded: DataFrame): DataFrame =
    exploded.filter(col("__code_type").isNotNull)

  /** A row's distinct kept pairs as an array of (code, code_type) structs,
    * with one null in place of the dropped ones — so `470|MS-DRG` and
    * `470|drg` are one pair. The same skip and allowlist as
    * [[explodePairs]] + [[kept]], evaluated in-row. */
  def keptPairSet(df: DataFrame): Column =
    array_distinct(array((1 to 4).map { i =>
      val code = colOr(df, s"code|$i")
      val codeType = element_at(normalizeMap, upper(colOr(df, s"code|$i|type")))
      // length, not =!= "": Column's equality warns that lit("") === ""
      // (a missing column) is trivially true
      when(length(code) > 0 && codeType.isNotNull,
        struct(code.as("code"), codeType.as("code_type")))
    }: _*))

  /** A3 — rejected-type counts per raw type. */
  def unknownTypeCounts(exploded: DataFrame): DataFrame =
    exploded.filter(col("__code_type").isNull)
      .groupBy(col("__raw_type").as("raw_type"))
      .agg(count(lit(1)).as("n"))

  /** A4 — presence counts per normalized allowed type. */
  def codeTypePresence(exploded: DataFrame): DataFrame =
    kept(exploded).groupBy(col("__code_type").as("code_type"))
      .agg(count(lit(1)).as("n"))

  /** A5 — normalization-witness set raw → sorted normalized set. */
  def mappingsUsed(exploded: DataFrame): DataFrame =
    kept(exploded).groupBy(upper(col("__raw_type")).as("raw_type"))
      .agg(sort_array(collect_set(col("__code_type"))).as("normalized"))

  /** A6 — allowed types never seen, as a plan: allowlist EXCEPT present
    * types (a broadcastable anti-join — no driver collect in the path). */
  def missingCodeTypes(exploded: DataFrame): DataFrame = {
    val spark = exploded.sparkSession
    import spark.implicits._
    Conf.AllowedCodeTypes.toDF("code_type")
      .except(kept(exploded).select(col("__code_type").as("code_type")))
  }
}
