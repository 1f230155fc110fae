package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Whole-engine physical-plan lint for the operators that do not
  * survive scale — data-sized cartesian products, data-sized broadcast
  * nested-loop joins, and un-partitioned (global) windows.
  *
  * Detection is STRUCTURAL, not textual (the r14 version grepped the
  * rendered plan, and its global-window regex required a `[]` group
  * that Spark 4's `TreeNode.argString` never prints for an empty
  * partition spec — the check could not fire at all; r15 advisor
  * catch). Benignity is also structural:
  *
  *   - a BroadcastNestedLoopJoin is benign iff its BUILD side is
  *     provably at-most-one-row (a grouping-less aggregate, `limit 1`,
  *     or a ≤1-row literal table behind row-preserving wrappers) — the
  *     scalar-subquery "bound frame" pattern the engine uses
  *     deliberately (67 instances, SCALE.md batch 14);
  *   - a CartesianProduct is never benign structurally; gates whose
  *     data model bounds both sides carry a ONE-NAME allowlist
  *     ([[CartesianAllowlist]] — minhash_nation_orderdates' 25×25
  *     nation-pair comparison).
  *
  * [[lint]] is the reusable classifier; PlanLintSpec asserts zero
  * findings over every SparkEntry query in `sbt test` (and asserts the
  * detectors FIRE on deliberately bad plans, so a dead detector cannot
  * read as a clean sweep again). The `main` keeps the human report for
  * ad-hoc sweeps at other fixtures.
  */
object PlanLint {

  final case class Finding(kind: String, detail: String)

  /** Gates allowed to keep a CartesianProduct: both sides bounded by
    * the data model, reviewed in SCALE.md. One name long by design —
    * additions need the same review. */
  val CartesianAllowlist: Set[String] = Set("minhash_nation_orderdates")

  /** Gates allowed to keep a data-sized BNLJ after review: each one's
    * build side is bounded by the DATA MODEL (calendar, benchmark set,
    * distinct-name audit subset) rather than a program constant the
    * classifier can see. Every entry names its bound; additions need
    * the same one-line justification and a SCALE.md note. */
  val BnljAllowlist: Map[String, String] = Map(
    "agg_theil_sen" ->
      "months x months pair space - calendar-bounded (~10^2/decade)",
    "agg_hodges_lehmann" ->
      "even x odd months pair space - calendar-bounded",
    "events_active_users" ->
      "day-spine trailing-window range join - calendar-bounded spine",
    "decontaminate_semantic" ->
      ("eval benchmark broadcast - fixture models it as a corpus slice; " +
        "SRP-blocked semdedup path is the scale form"),
    "er_blocking_recall" ->
      ("blocking audit over distinct-name groups of the sampled subset - " +
        "duplication-invariant by the exact-name-collapse theorem"))

  /** Every node of the executed plan, descending into AQE wrappers,
    * materialized query stages, reused exchanges and plan-expression
    * subqueries (scalar subqueries host exactly the bound-frame BNLJ
    * builds this lint must see). */
  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val extra = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => Seq.empty
    }
    p +: (p.children ++ extra ++ p.subqueries).flatMap(walk)
  }

  /** Findings are benign when the offending node's input is bounded by
    * a PROGRAM CONSTANT (a literal `limit k`, a literal table, a
    * grouping-less aggregate) rather than by the data. The cap keeps
    * "constant" honest — a `limit(10_000_000)` build would still flag. */
  val ConstBoundCap: Long = 100000L

  /** Structural row-count upper bound for a subtree, when one is
    * provable from program constants alone. `None` = data-sized.
    * Grouping aggregates, windows and joins PROPAGATE bounds (an agg
    * never emits more rows than its input; a join never more than the
    * product); only limits, literal tables and grouping-less aggregates
    * INTRODUCE them — a bound always traces back to a constant the
    * program wrote, never to fixture luck. */
  private def boundedRows(p: SparkPlan): Option[Long] = p match {
    case a: AdaptiveSparkPlanExec => boundedRows(a.executedPlan)
    case q: QueryStageExec => boundedRows(q.plan)
    case r: ReusedExchangeExec => boundedRows(r.child)
    case a: BaseAggregateExec =>
      if (a.groupingExpressions.isEmpty) Some(1L)
      else if (a.groupingExpressions.forall(
          _.dataType == org.apache.spark.sql.types.BooleanType))
        // boolean grouping keys: ≤ 3^k groups (true/false/null), a domain
        // bound — the 2×2 experiment-cell pattern (ab_diff_in_diff)
        Some(boundedRows(a.child).fold(
          math.pow(3, a.groupingExpressions.length).toLong)(b =>
          math.min(b, math.pow(3, a.groupingExpressions.length).toLong)))
      else boundedRows(a.child)
    case l: GlobalLimitExec =>
      Some(boundedRows(l.child).fold(l.limit.toLong)(math.min(_, l.limit.toLong)))
    case l: LocalLimitExec =>
      // per-partition limit: only a bound when the child already has one
      boundedRows(l.child).map(math.min(_, ConstBoundCap + 1))
    case t: TakeOrderedAndProjectExec => Some(t.limit.toLong)
    case c: CollectLimitExec => Some(c.limit.toLong)
    case t: LocalTableScanExec => Some(t.rows.length.toLong)
    case j: BroadcastNestedLoopJoinExec =>
      joinBound(j.joinType.sql, boundedRows(j.left), boundedRows(j.right))
    case j: CartesianProductExec =>
      joinBound("CROSS", boundedRows(j.left), boundedRows(j.right))
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
      joinBound(j.joinType.sql, boundedRows(j.left), boundedRows(j.right))
    case u: UnionExec =>
      val bs = u.children.map(boundedRows)
      if (bs.forall(_.isDefined)) Some(bs.flatten.sum) else None
    case e: ExpandExec =>
      boundedRows(e.child).map(_ * math.max(1, e.projections.length))
    case g: GenerateExec => None // explode: data-sized fan-out
    case _: LeafExecNode => None // file/RDD scans: data-sized
    case other if other.children.length == 1 =>
      // row-preserving / row-reducing single-child operators (project,
      // filter, sort, exchange, window, codegen wrappers, …)
      boundedRows(other.children.head)
    case _ => None
  }

  /** Output-cardinality bound for a join given its children's bounds.
    * Semi/anti/existence never exceed the left side; everything else is
    * bounded by product + outer-padding. */
  private def joinBound(joinTypeSql: String, l: Option[Long],
      r: Option[Long]): Option[Long] = {
    val t = joinTypeSql.toUpperCase
    if (t.contains("SEMI") || t.contains("ANTI") || t.contains("EXISTENCE")) l
    else (l, r) match {
      case (Some(a), Some(b)) => Some(a * b + a + b) // covers all outers
      case _ => None
    }
  }

  private def constBounded(p: SparkPlan): Boolean =
    boundedRows(p).exists(_ <= ConstBoundCap)

  /** Structural scale-anti-pattern findings for one query's executed
    * plan (empty = clean). `allowCartesian` is the per-gate allowlist
    * hook — it suppresses ONLY CartesianProduct findings. */
  def lint(df: DataFrame, allowCartesian: Boolean = false,
      allowBnlj: Boolean = false): Seq[Finding] = {
    val nodes = walk(df.queryExecution.executedPlan)
    val carts =
      if (allowCartesian) Seq.empty
      else nodes.collect { case c: CartesianProductExec =>
        Finding("CartesianProduct", c.simpleString(8))
      }
    val bnlj =
      if (allowBnlj) Seq.empty
      else nodes.collect {
        case j: BroadcastNestedLoopJoinExec
            if !constBounded(j.buildSide match {
              case BuildLeft => j.left
              case BuildRight => j.right
            }) =>
          Finding("DataSizedBNLJ", j.simpleString(8))
      }
    val windows = nodes.collect {
      case w: WindowExec
          if w.partitionSpec.isEmpty && !constBounded(w.child) =>
        Finding("GlobalWindow", w.simpleString(8))
      case w: WindowGroupLimitExec
          if w.partitionSpec.isEmpty && !constBounded(w.child) =>
        Finding("GlobalWindowGroupLimit", w.simpleString(8))
    }
    carts ++ bnlj ++ windows
  }

  /** Lint every SparkEntry query at `sfDir`; returns gate → findings
    * for the non-clean gates (plan-construction failures surface as a
    * PLAN_ERROR finding, never silently). */
  def sweep(spark: SparkSession, sfDir: String): Map[String, Seq[Finding]] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val findings = try {
        lint(fn(spark, sfDir), allowCartesian = CartesianAllowlist(name),
          allowBnlj = BnljAllowlist.contains(name))
      } catch {
        case e: Throwable =>
          Seq(Finding("PLAN_ERROR", e.getClass.getName + ": " + e.getMessage))
      }
      if (findings.isEmpty) None else Some(name -> findings)
    }.toMap

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.Session.local()
    val flagged = sweep(spark, sfDir)
    flagged.toSeq.sortBy(_._1).foreach { case (name, fs) =>
      println(s"$name: " + fs.map(f => f.kind + " | " + f.detail).mkString("; "))
    }
    println(s"""{"plan_lint_flagged":${flagged.size},"total":${SparkEntry.queries.size}}""")
    spark.stop()
  }
}
