package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.JaroWinklerSim

/** Blocking-based entity resolution (record linkage): the Fellegi–Sunter
  * pipeline shape — block, score within block, cluster transitively —
  * with Jaro–Winkler as the comparison kernel (the name-matching measure
  * it was designed for, via the codegen'd [[JaroWinklerSim]] expression)
  * and [[Dedup.connectedComponents]] as the cluster step.
  *
  * Blocking is what makes linkage survive scale: the pair space is
  * quadratic per BLOCK, never per corpus, so a key that caps block size
  * (digit tails, phonetic codes, sorted-neighborhood windows) keeps the
  * candidate join linear-ish; the block join itself is one keyed shuffle.
  * Scores are 6dp-rounded before the threshold compare so an oracle
  * replaying the same pipeline in another engine sits on the same side of
  * the boundary (pick `tau` off the rounded lattice of real score values
  * — see the gate's measured margins).
  */
object Linkage {

  /** Resolve records into entities: records sharing `blockKey` are scored
    * pairwise with Jaro–Winkler on `nameCol`; pairs with
    * `round(jw, 6) >= tau` are link edges; connected components label each
    * record with the minimum member id as `entity_id`; unlinked records
    * are their own entity. Output: (idCol, entity_id), one row per input
    * record. `idCol` must be unique and orderable (long ids take the
    * fast local union-find regime of [[Dedup.connectedComponents]]).
    *
    * EXACT-NAME COLLAPSE (round 11): the quadratic scorer runs over
    * DISTINCT (block, name) representatives, not records. Identical
    * names are jw = 1 ≥ τ cliques by definition, so each (block, name)
    * group contributes one min-id representative to the pairing join
    * plus linear star edges (rep ↔ member) to the component pass — the
    * resulting components are provably identical to all-pairs (every
    * original edge (a,b) factors through rep(a)–rep(b), every new edge
    * is an original edge), while scored pairs drop from Σ block² to
    * Σ distinct-names-per-block². Found by the 100× canary the round
    * the fixture's dimensions started replicating honestly: a
    * duplicate-heavy corpus (the shape real registries have) made
    * all-pairs go super-linear (slope 1.18, 264 s at 100×) while the
    * collapse is replica-invariant. The residual distinct-name
    * quadratic is the semantic contract of blocking ER — callers whose
    * key domain is bounded (digit tails) should size blocks to the
    * corpus or use [[fastssPairs]], which needs no blocking key. */
  def resolveEntities(records: DataFrame, idCol: String, nameCol: String,
      blockKey: Column, tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    Seq("__blk", "__na", "__nb", "__nm", "__rep", "id_a", "id_b").foreach { c =>
      require(!records.columns.contains(c),
        s"resolveEntities uses an internal $c column; rename the existing one")
    }
    val keyed = records.select(blockKey.as("__blk"),
      col(idCol).as("id_a"), col(nameCol).as("__nm"))
    val groups = keyed.groupBy(col("__blk"), col("__nm"))
      .agg(min(col("id_a")).as("__rep"))
    // Length-difference prefilter (lossless): with la ≤ lb, matches
    // m ≤ la bound jaro ≤ (la/la + la/lb + 1)/3 = (2 + la/lb)/3, and the
    // Winkler boost (p=0.1, ≤4 lead chars) is monotone in jaro with cap
    // jw ≤ j + 0.4(1−j) = 0.4 + 0.6j, so jw ≤ 0.8 + 0.2·(la/lb).
    // round(jw,6) ≥ τ therefore REQUIRES la/lb ≥ 5τ − 4 − 2.5e-6 (the
    // 2.5e-6 absorbs the half-ulp the 6dp rounding can add). The cheap
    // integer-length compare short-circuits the O(len·len) scorer for
    // pairs the bound already excludes — the same trick as
    // SequenceMatcherRatio's cutoff short-circuit. For τ ≤ 0.8 the
    // bound is vacuous and every pair is scored, as before. Empty
    // names: jw(ε, x≠ε) = 0 < τ and the bound agrees (ratio 0);
    // jw(ε, ε) = 1 never reaches the scorer — identical names share a
    // representative by the exact-name collapse above.
    val la = length(col("__na")).cast("double")
    val lb = length(col("__nb")).cast("double")
    val lenBound =
      least(la, lb) >= greatest(la, lb) * lit(5.0 * tau - 4.0 - 2.5e-6)
    val repPairs = groups
      .select(col("__blk"), col("__rep").as("id_a"), col("__nm").as("__na"))
      .join(groups.select(col("__blk"), col("__rep").as("id_b"),
        col("__nm").as("__nb")), Seq("__blk"))
      .filter(col("id_a") < col("id_b") && lenBound &&
        round(JaroWinklerSim.jaroWinkler(col("__na"), col("__nb")), 6) >= tau)
      .select(col("id_a"), col("id_b"))
    // Star edges: every non-representative member links to its group's
    // representative (same block, identical name ⇒ jw = 1 ≥ τ under the
    // original semantics). Linear in records.
    val starEdges = keyed
      .join(groups, Seq("__blk", "__nm"))
      .filter(col("id_a") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("id_a").as("id_b"))
    val comps = Dedup.connectedComponents(
      repPairs.unionAll(starEdges), "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    records.select(col(idCol))
      .join(comps, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("entity_id"))
  }

  /** Edit-distance ≤ 1 similarity self-join WITHOUT a blocking key, via
    * FastSS deletion neighborhoods (Bocek et al. 2007): every string
    * emits its 1-deletion neighborhood — itself plus each single-
    * character deletion — and two strings at Levenshtein distance ≤ 1
    * necessarily share a neighborhood member (substitution: both delete
    * the differing position; insert/delete: the shorter string IS a
    * deletion of the longer; equality: the strings themselves). Candidate
    * generation is therefore an equi-join on the variant string — one
    * keyed shuffle of O(len) short rows per record, never a cartesian and
    * never a per-block quadratic scan, so it needs no domain blocking key
    * (the gap [[resolveEntities]] and `er_nearest_name` leave open).
    * Shared variants can also arise at distance 2 (transpositions), so
    * candidates are confirmed with the exact codegen'd `levenshtein`
    * before emission: complete by construction, exact after the filter.
    * Output: (id_a, id_b, edit_dist) with id_a < id_b, distance ≤ 1.
    *
    * At 100 TB the variant table is ~len× the input but each row is two
    * ids + a short string; variant buckets are bounded by the alphabet
    * (a variant matches at most |Σ|·len originals), so no reduce-side
    * hot key; AQE handles the residual size spread.
    *
    * EXACT-STRING COLLAPSE (round 12, the [[resolveEntities]] trick):
    * the neighborhood join runs over DISTINCT strings only. A 10×
    * full-engine screen on the duplicate-heavy honest canary fixture
    * (replicas copy names verbatim) showed the per-record formulation
    * paying candidate generation, the distinct, and the levenshtein
    * confirm quadratically in the duplication factor. Identical strings
    * are distance-0 pairs BY DEFINITION (emitted directly from the group
    * membership), and every cross-string record pair inherits its
    * string pair's distance, so the expansion joins reproduce the exact
    * per-record output contract — all pairs, id_a < id_b, distance ≤ 1 —
    * while the search itself is duplication-invariant. The output on a
    * duplicate-heavy corpus is still Θ(members²) per name: that is the
    * contract's own size, paid as join output rows, not as search work. */
  def fastssPairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val repPairs = fastssRepPairs(df, idCol, strCol)
    val members = fastssMembers(df, idCol, strCol)
    // Cross-string record pairs inherit the string pair's distance;
    // least/greatest restores the id_a < id_b convention (rep order and
    // member-id order need not agree).
    val cross = repPairs
      .join(members.select(col("rep").as("rep_a"), col("id").as("__ia")),
        Seq("rep_a"))
      .join(members.select(col("rep").as("rep_b"), col("id").as("__ib")),
        Seq("rep_b"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("edit_dist"))
    // Same-string record pairs: distance 0 by definition.
    val within = members.select(col("rep"), col("id").as("id_a"))
      .join(members.select(col("rep"), col("id").as("id_b")), Seq("rep"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0L).as("edit_dist"))
    cross.unionAll(within)
  }

  /** The DISTINCT-STRING level of [[fastssPairs]]: one row per unordered
    * pair of distinct strings at edit distance exactly 1 (distinct
    * strings can't be at distance 0), as their min-id representatives —
    * `(rep_a, rep_b, str_a, str_b, edit_dist)`. This is the scale
    * primitive for consumers that filter on STRING properties (lengths,
    * prefixes) or only need connectivity: filtering here, before member
    * expansion, never materializes the Θ(members²) same-string pair set
    * the full contract implies on duplicate-heavy corpora. */
  def fastssRepPairs(df: DataFrame, idCol: String,
      strCol: String): DataFrame = {
    // The caller's own id/str columns are renamed away first, so they
    // may legitimately collide with the internal names.
    Seq("__v", "__s", "__sa", "__sb", "rep", "rep_a", "rep_b", "id",
      "id_a", "id_b", "str_a", "str_b", "edit_dist")
      .filterNot(c => c == idCol || c == strCol).foreach { c =>
        require(!df.columns.contains(c),
          s"fastssRepPairs uses an internal $c column; rename the existing one")
      }
    val named = df.select(col(idCol).as("id"), col(strCol).as("__s"))
    // Explicit repartition (NOT AQE-coalescible) after the group
    // aggregation: the agg's output is tiny in BYTES, so AQE coalesces
    // its exchange to 1-2 reducers — but everything downstream amplifies
    // (len× explode, then the variant join probes with a levenshtein
    // residual), so those 1-2 tasks would carry the whole neighborhood
    // search. Measured at sf0.1: the collapse put one 2-task 10.6 s
    // stage on the trace's critical path (per-stage task stats); pinning
    // the fan-out at defaultParallelism restores the old scan-side
    // parallelism at the cost of one ~180k-row exchange.
    val groups = named.groupBy(col("__s")).agg(min(col("id")).as("rep"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("__s"))
    val s = col("__s")
    val deletions = transform(sequence(lit(1), length(s)),
      i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s) - i)))
    val variants = groups
      .select(col("rep"), s,
        explode(array_distinct(concat(array(s), deletions))).as("__v"))
    val a = variants.select(col("__v"), col("rep").as("rep_a"),
      col("__s").as("__sa"))
    val b = variants.select(col("__v"), col("rep").as("rep_b"),
      col("__s").as("__sb"))
    a.join(b, Seq("__v"))
      .filter(col("rep_a") < col("rep_b"))
      .select(col("rep_a"), col("rep_b"), col("__sa"), col("__sb"))
      .distinct()
      .withColumn("edit_dist",
        levenshtein(col("__sa"), col("__sb")).cast("long"))
      .filter(col("edit_dist") <= 1)
      .select(col("rep_a"), col("rep_b"), col("__sa").as("str_a"),
        col("__sb").as("str_b"), col("edit_dist"))
  }

  /** String-group membership for [[fastssRepPairs]]: `(rep, id)` — one
    * row per input record, rep = the min id among records sharing its
    * string. */
  def fastssMembers(df: DataFrame, idCol: String,
      strCol: String): DataFrame = {
    val named = df.select(col(idCol).as("id"), col(strCol).as("__s"))
    val groups = named.groupBy(col("__s")).agg(min(col("id")).as("rep"))
    named.join(groups, Seq("__s")).select(col("rep"), col("id"))
  }

  /** Survivorship merge (the "golden record"): collapse each resolved
    * cluster to ONE row by picking, per field independently, the value
    * from the highest-priority record that HAS one (lower `prioCol`
    * wins; `idCol` asc breaks priority ties) — the standard MDM rule
    * where a sparse-but-authoritative source beats a complete-but-stale
    * one field by field, so the merged row can mix sources.
    *
    * Each pick is one null-skipping struct-max — lexicographic max over
    * (-priority, -id, value) — so the whole merge is a single map-side-
    * combinable hash aggregate per cluster: no window, no self-join,
    * one shuffle on the cluster key. Output: (clusterCol, n_records,
    * fields...). */
  def goldenRecord(records: DataFrame, clusterCol: String, idCol: String,
      prioCol: String, fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "need at least one field to merge")
    require(!fields.contains("n_records"),
      "goldenRecord emits n_records; rename the conflicting field")
    val picks = fields.map { f =>
      max(when(col(f).isNotNull, struct(
        (-col(prioCol)).as("a"), (-col(idCol)).as("b"), col(f).as("v"))))
        .getField("v").as(f)
    }
    records.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_records"), picks: _*)
  }
}
