package graft.clean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.Schemas

/** Rule predicates over minimal violating / nearest-non-violating rows
  * (FIXTURES.md §2.6) evaluated on hand-built post-cleaning frames. */
class RulesSpec extends SparkSpec {

  /** A post-cleaning row shape: price fields nullable doubles, text fields
    * non-null strings, code/code-type non-null strings. */
  private def frame(over: Map[String, Any]): DataFrame = {
    val base: Map[String, Any] = Map(
      "hospital name" -> "h", "zip code" -> "z",
      "code" -> "12345", "code type" -> "CPT", "description" -> "item",
      "drug unit" -> null, "drug type" -> null,
      "insurance payer name" -> "p", "insurance payer id" -> "",
      "insurance plan name" -> "pl",
      "negotiated price" -> 10.0, "negotiated percentage" -> null,
      "negotiated algorithm" -> "", "negotiated methodology" -> "fee schedule",
      "gross charge" -> 20.0, "discounted cash price" -> 15.0,
      "min price" -> 5.0, "max price" -> 30.0, "estimated amount" -> 12.0,
      "setting" -> "inpatient", "additional notes" -> null, "modifiers" -> null)
    val m = base ++ over
    val cols = Schemas.CanonicalColumns
    val sql = cols.map { c =>
      m(c) match {
        case null => s"CAST(NULL AS STRING) AS `$c`"
        case d: Double => s"CAST($d AS DOUBLE) AS `$c`"
        case s: String => s"'$s' AS `$c`"
      }
    }.mkString("SELECT ", ", ", "")
    spark.sql(sql)
  }

  private def firedRules(over: Map[String, Any]): Set[String] = {
    val t = Rules.tagViolations(frame(over)).head()
    Option(t.getAs[String]("rules_violated")).map(_.split(",").toSet).getOrElse(Set())
  }

  test("clean row fires no rule") { assert(firedRules(Map()) == Set()) }

  test("rule_4: methodology 'other' without notes") {
    assert(firedRules(Map("negotiated methodology" -> "other")).contains("rule_4"))
    assert(!firedRules(Map("negotiated methodology" -> "other",
      "additional notes" -> "n")).contains("rule_4"))
  }

  test("rule_6: negotiated price without min+max") {
    assert(firedRules(Map("min price" -> null)).contains("rule_6"))
    assert(!firedRules(Map()).contains("rule_6"))
  }

  test("rule_7: no price, pct-or-algo present (text algo always present), no estimate") {
    val f = firedRules(Map("negotiated price" -> null, "estimated amount" -> null))
    assert(f.contains("rule_7"))
    assert(!firedRules(Map("negotiated price" -> null)).contains("rule_7"))
  }

  test("rule_8: NDC without drug unit+type") {
    assert(firedRules(Map("code type" -> "NDC", "code" -> "0123456789"))
      .contains("rule_8"))
    assert(!firedRules(Map("code type" -> "NDC", "code" -> "0123456789",
      "drug unit" -> "ml", "drug type" -> "liquid")).contains("rule_8"))
  }

  test("rule_10: drug unit XOR drug type") {
    assert(firedRules(Map("drug unit" -> "ml")).contains("rule_10"))
    assert(!firedRules(Map("drug unit" -> "ml", "drug type" -> "liquid"))
      .contains("rule_10"))
  }

  test("rules 1/2/3/5/9 are dead post-normalization (text/code fields always present)") {
    // Even an all-nulls-where-possible row can't fire them: text fields are ""
    // (present) and code/code type are non-null strings after cleaning.
    val f = firedRules(Map(
      "negotiated price" -> null, "negotiated percentage" -> null,
      "gross charge" -> null, "discounted cash price" -> null,
      "min price" -> null, "max price" -> null, "estimated amount" -> null,
      "modifiers" -> "26"))
    assert(Set("rule_1", "rule_2", "rule_3", "rule_5", "rule_9").intersect(f).isEmpty)
  }

  test("A9 transparency score: per-rule violation denominator, clamped at 0") {
    // 3 rows: 1 clean, 1 violating two rules, 1 violating one rule
    // dropped(sum over rules)=3, cleaned=1, examined=4, score=1-3/40=0.925
    val rows = Seq(
      Map[String, Any](),
      Map[String, Any]("negotiated methodology" -> "other", "min price" -> null),
      Map[String, Any]("drug unit" -> "ml"))
    val tagged = rows.map(o =>
      Rules.tagViolations(Cleaning.flagAlgorithmFormat(frame(o)))).reduce(_ union _)
    val s = Rules.summarize(tagged).head()
    assert(s.getAs[Long]("total_rows_cleaned") == 1L)
    assert(s.getAs[Long]("total_rows_dropped_due_to_rule_violations") == 3L)
    assert(math.abs(s.getAs[Double]("final_transparency_score") - 0.925) < 1e-12)

    // The same row observed on an action over the clean side of the split,
    // with an extra aggregate riding along.
    val extra = Seq(count(lit(1)).as("n"))
    val (observed, observedRow) = Rules.observeSummary(tagged, extra)
    assert(Rules.split(observed)._1.collect().length == 1)
    assert(observedRow() == Rules.summarize(tagged, extra).head())
  }

  test("P10 split: violations carry tag, clean side drops bookkeeping columns") {
    val tagged = Rules.tagViolations(
      Cleaning.flagAlgorithmFormat(frame(Map("drug unit" -> "ml"))))
    val (clean, bad) = Rules.split(tagged)
    assert(clean.isEmpty && bad.count() == 1)
    assert(!clean.columns.contains("rules_violated") &&
      !clean.columns.contains("negotiated_algorithm_invalid"))
    assert(bad.columns.contains("rules_violated"))
  }
}
