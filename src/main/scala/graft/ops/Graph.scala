package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Iterative graph dataflow (extension — the reference has no graph ops;
  * its nearest neighbor is the connected-components pass in [[Dedup]]).
  * PageRank is the canonical "importance over a link graph" signal a
  * training-data pipeline uses to weight crawled sources.
  *
  * Cross-engine determinism: ranks are fixed-point integers (units of
  * 1e-12), every step is 64-bit integer multiply/divide/sum — addition is
  * order-invariant, so the result is bit-identical on any engine and any
  * partitioning, unlike double-summed PageRank where the reduce order
  * drifts the low bits. The scaled arithmetic is overflow-safe by
  * construction: rank mass only shrinks from the initial total of Scale
  * (1e12), so `r*Damp ≤ 8.5e14`, and the per-edge contribution divides by
  * the full out-weight BEFORE multiplying by the edge weight
  * (`((r*850) div (1000*outw)) * w`, w ≤ outw), keeping every
  * intermediate ≤ ~8.5e17 < 2^63. The truncation each edge suffers
  * (< w units of 1e-12) is deterministic and mirrored in the oracle.
  *
  * Scale shape: per iteration — one shuffle join of ranks onto the edge
  * list (edges pre-joined with out-weights once, outside the loop), one
  * hash aggregate of contributions by destination, one left join back to
  * the node set. All keyed by node id; skew follows in-degree, which AQE
  * skew-split handles. The node count rides as a 1-row broadcast (no
  * driver action in the loop).
  */
object Graph {

  /** 1.0 of rank mass in fixed-point units (1e-12 resolution). */
  val Scale = 1000000000000L

  /** Damping 0.85: teleport mass is 0.15 * Scale. */
  val Teleport = 150000000000L

  /** Edge-count ceiling for the driver-local small-graph regime (same
    * two-regime pattern as [[Dedup.connectedComponents]]): a derived
    * graph at or below this many edges is solved exactly on the driver
    * in ONE collect job, instead of paying ~5 scheduled stages per
    * bulk-synchronous round — the scheduling overhead, not the data,
    * dominates iterative loops on graphs this small. Every step is the
    * same 64-bit integer arithmetic as the distributed loop, so the
    * output is bit-identical (asserted in GraphSpec by running both
    * regimes). Above the threshold — the production regime at 100 TB,
    * where the derived graph no longer fits a driver — the distributed
    * loop runs untouched.
    *
    * Sizing: the collect lands GenericRow-wrapped, boxed (Any-typed id)
    * edges before the kernel packs them into primitive arrays — budget
    * ~150-300 bytes per collected edge, not 16 bytes of raw longs. At
    * the 1M default that is ≤ ~300 MB transient driver heap, safe on a
    * stock 1g driver; raise it only alongside `spark.driver.memory`. */
  val LocalEdgeThreshold: Long = 1L << 20

  /** Local fixed-point (P)PR kernel over index-mapped edges — the exact
    * integer recurrence of the distributed loop: contribution
    * `((r*850) div (1000*outw)) * w`, teleport `T div n` (or `T div |S|`
    * on seeds only). All operands non-negative, so Scala `/` and Spark
    * `div` agree. */
  private def localRankLoop(src: Array[Int], dst: Array[Int], w: Array[Long],
      n: Int, seedFlags: Option[Array[Boolean]], nSeeds: Long,
      iters: Int): Array[Long] = {
    val outw = new Array[Long](n)
    var i = 0
    while (i < src.length) { outw(src(i)) += w(i); i += 1 }
    val r = new Array[Long](n)
    seedFlags match {
      case None => java.util.Arrays.fill(r, Scale / n)
      case Some(f) =>
        val init = Scale / nSeeds
        i = 0; while (i < n) { r(i) = if (f(i)) init else 0L; i += 1 }
    }
    var it = 0
    while (it < iters) {
      val m = new Array[Long](n)
      i = 0
      while (i < src.length) {
        m(dst(i)) += ((r(src(i)) * 850L) / (1000L * outw(src(i)))) * w(i)
        i += 1
      }
      seedFlags match {
        case None =>
          val tp = Teleport / n
          i = 0; while (i < n) { r(i) = tp + m(i); i += 1 }
        case Some(f) =>
          val tp = Teleport / nSeeds
          i = 0; while (i < n) { r(i) = (if (f(i)) tp else 0L) + m(i); i += 1 }
      }
      it += 1
    }
    r
  }

  /** Fixed-iteration PageRank over a weighted edge list.
    *
    * @param edges  (srcCol, dstCol, wCol) rows; wCol a positive integral
    *               weight (e.g. transition count). Parallel edges should
    *               be pre-aggregated.
    * @return (node, rank) — rank in fixed-point units; sum over nodes ≤
    *         Scale (dangling-node mass leaks, identically on any engine).
    *         The persisted invariants stay cached after return (the
    *         returned plan references them); they release on session
    *         eviction or an explicit catalog clearCache.
    */
  def pagerankScaled(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, iters: Int, checkpointEvery: Int = 5,
      localEdgeThreshold: Long = LocalEdgeThreshold): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1")
    // The 50-iteration cap is only safe BECAUSE lineage truncates: past
    // ~20 un-truncated rounds the nested-join plan depth overwhelms the
    // planner. Deep runs must therefore actually checkpoint.
    require(iters <= 20 || checkpointEvery <= 10,
      s"iters > 20 requires checkpointEvery <= 10 (got $checkpointEvery)")
    Seq("node", "r", "__n", "__m", "__c", "outw").foreach { c =>
      require(!edges.columns.contains(c),
        s"pagerankScaled uses an internal $c column; rename the existing one")
    }
    // Probe AFTER persisting: the regime-selection count would otherwise
    // replay the caller's whole edge derivation once before either
    // regime consumes it (the exact cost the loop-invariant persists
    // exist to avoid). Callers that already persist (the memoized gate
    // caches) make this a no-op.
    val e0 = edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Small-graph regime: solve on the driver with the identical integer
    // recurrence (see LocalEdgeThreshold). Node ids stay whatever type
    // the caller supplied — index-mapped for the kernel, emitted back
    // with the source column's type (which must equal dstCol's type for
    // the local emit; mixed-type edge lists take the distributed loop,
    // whose union coerces).
    val sameIdType =
      edges.schema(srcCol).dataType == edges.schema(dstCol).dataType
    if (sameIdType && e0.count() <= localEdgeThreshold) {
      val spark = edges.sparkSession
      val rows = e0.select(col(srcCol), col(dstCol),
        col(wCol).cast("long")).collect()
      if (rows.isEmpty) {
        // empty derived graph: the distributed loop's fixpoint is an
        // empty labeling — mirror it instead of dividing Scale by zero
        e0.unpersist()
        return spark.createDataFrame(
          new java.util.ArrayList[Row](), StructType(Seq(
            StructField("node", edges.schema(srcCol).dataType),
            StructField("r", LongType))))
      }
      val idx = new java.util.LinkedHashMap[Any, Integer]()
      def id(v: Any): Int = {
        var i = idx.get(v)
        if (i == null) { i = idx.size(); idx.put(v, i) }
        i
      }
      val (srcs, dsts, ws) = (new Array[Int](rows.length),
        new Array[Int](rows.length), new Array[Long](rows.length))
      var i = 0
      while (i < rows.length) {
        srcs(i) = id(rows(i).get(0)); dsts(i) = id(rows(i).get(1))
        ws(i) = rows(i).getLong(2); i += 1
      }
      val r = localRankLoop(srcs, dsts, ws, idx.size(), None, 0L, iters)
      e0.unpersist()
      import scala.jdk.CollectionConverters._
      val out = idx.entrySet().asScala.toSeq
        .map(e => Row(e.getKey, r(e.getValue)))
      return spark.createDataFrame(out.asJava, StructType(Seq(
        StructField("node", edges.schema(srcCol).dataType),
        StructField("r", LongType))))
    }
    // The adjacency (edges + out-weights) and node set are loop
    // invariants referenced by every iteration — persist them, as any
    // iterative graph engine materializes its adjacency once. Without
    // this, each of the iters+3 references replays the caller's whole
    // edge-derivation lineage (e.g. a window over the raw event log).
    val nodes = e0.select(col(srcCol).as("node"))
      .union(e0.select(col(dstCol).as("node")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n1 = nodes.agg(count(lit(1)).as("__n"))
    val eo = e0
      .join(e0.groupBy(col(srcCol)).agg(sum(col(wCol)).as("outw")),
        srcCol)
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
        col(wCol).cast("long").as("__w"), col("outw").cast("long").as("outw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var ranks = nodes.crossJoin(broadcast(n1))
      .select(col("node"), expr(s"$Scale div __n").as("r"))
    for (i <- 1 to iters) {
      val contribs = eo
        .join(ranks.select(col("node").as("__src"), col("r")), "__src")
        .select(col("__dst").as("node"),
          expr("((r * 850) div (1000 * outw)) * __w").as("__c"))
      val inMass = contribs.groupBy(col("node")).agg(sum(col("__c")).as("__m"))
      ranks = nodes.join(inMass, Seq("node"), "left")
        .crossJoin(broadcast(n1))
        .select(col("node"),
          (expr(s"$Teleport div __n") + coalesce(col("__m"), lit(0L))).as("r"))
      // Deep iterative plans are the classic Spark lineage trap: each
      // round nests 3 more joins, so analysis/codegen cost grows
      // superlinearly and very deep loops overflow the planner. Eagerly
      // localCheckpoint every few rounds to truncate the lineage — the
      // result is bit-identical (integer arithmetic), only the plan
      // resets. Never on the last round (the caller composes the result).
      if (i % checkpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint(true)
    }
    ranks
  }

  /** Local HITS kernel over index-mapped edges — the exact integer
    * recurrence of the distributed loop, BigInt partials mirroring the
    * DECIMAL(38,0) sums (all operands non-negative, so BigInt `/`,
    * Scala floor division, and Spark/DuckDB `div`/`//` agree). */
  private def localHitsLoop(src: Array[Int], dst: Array[Int], w: Array[Long],
      n: Int, iters: Int): (Array[Long], Array[Long]) = {
    val h = new Array[Long](n)
    val a = new Array[Long](n)
    java.util.Arrays.fill(h, Scale / n)
    var it = 0
    while (it < iters) {
      val aRaw = Array.fill(n)(BigInt(0))
      var i = 0
      while (i < src.length) {
        aRaw(dst(i)) += BigInt(h(src(i))) * w(i); i += 1
      }
      val sa = aRaw.sum
      i = 0
      while (i < n) {
        a(i) = if (sa > 0) ((aRaw(i) * Scale) / sa).toLong else 0L
        i += 1
      }
      val hRaw = Array.fill(n)(BigInt(0))
      i = 0
      while (i < src.length) {
        hRaw(src(i)) += BigInt(a(dst(i))) * w(i); i += 1
      }
      val sh = hRaw.sum
      i = 0
      while (i < n) {
        h(i) = if (sh > 0) ((hRaw(i) * Scale) / sh).toLong else 0L
        i += 1
      }
      it += 1
    }
    (h, a)
  }

  /** HITS hubs & authorities (Kleinberg) over a weighted directed edge
    * list, in the same fixed-point integer arithmetic as
    * [[pagerankScaled]]: per round, authority mass is the weighted sum of
    * in-neighbour hub scores and vice versa, each re-normalized to sum to
    * [[Scale]] by exact integer division against the round's DECIMAL(38,0)
    * total — order-invariant sums, bit-identical on any engine or
    * partitioning (ℓ₁ normalization replaces the classical ℓ₂, which no
    * integer arithmetic can reproduce exactly).
    *
    * Two regimes like every iterative op here: a driver BigInt kernel at
    * or below `localEdgeThreshold` edges (one collect job), the
    * distributed loop above it — 2 joins + 2 aggregates + 2 one-row
    * normalization broadcasts per round. Overflow headroom is honest
    * ANSI: raw sums stay ≤ Scale·W (W = total edge weight), and the
    * normalization product ≤ Scale²·W ≤ 10³⁸ for W up to ~10¹⁴.
    *
    * Output: (node, hub, auth) in [[Scale]] units; isolated sides
    * (no out-edges / no in-edges) hold exact 0. */
  def hitsScaled(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, iters: Int,
      localEdgeThreshold: Long = LocalEdgeThreshold): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters out of range: $iters")
    Seq("node", "h", "a", "__ar", "__hr", "__sa", "__sh").foreach { c =>
      require(!edges.columns.contains(c),
        s"hitsScaled uses an internal $c column; rename the existing one")
    }
    val e0 = edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sameIdType =
      edges.schema(srcCol).dataType == edges.schema(dstCol).dataType
    if (sameIdType && e0.count() <= localEdgeThreshold) {
      val spark = edges.sparkSession
      val rows = e0.select(col(srcCol), col(dstCol),
        col(wCol).cast("long")).collect()
      e0.unpersist()
      if (rows.isEmpty)
        return spark.createDataFrame(
          new java.util.ArrayList[Row](), StructType(Seq(
            StructField("node", edges.schema(srcCol).dataType),
            StructField("hub", LongType), StructField("auth", LongType))))
      val idx = new java.util.LinkedHashMap[Any, Integer]()
      def id(v: Any): Int = {
        var i = idx.get(v)
        if (i == null) { i = idx.size(); idx.put(v, i) }
        i
      }
      val (srcs, dsts, ws) = (new Array[Int](rows.length),
        new Array[Int](rows.length), new Array[Long](rows.length))
      var i = 0
      while (i < rows.length) {
        srcs(i) = id(rows(i).get(0)); dsts(i) = id(rows(i).get(1))
        ws(i) = rows(i).getLong(2); i += 1
      }
      val (h, a) = localHitsLoop(srcs, dsts, ws, idx.size(), iters)
      import scala.jdk.CollectionConverters._
      val out = idx.entrySet().asScala.toSeq
        .map(e => Row(e.getKey, h(e.getValue), a(e.getValue)))
      return spark.createDataFrame(out.asJava, StructType(Seq(
        StructField("node", edges.schema(srcCol).dataType),
        StructField("hub", LongType), StructField("auth", LongType))))
    }
    val nodes = e0.select(col(srcCol).as("node"))
      .union(e0.select(col(dstCol).as("node")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n1 = nodes.agg(count(lit(1)).as("__n"))
    val eo = e0.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
        col(wCol).cast("long").as("__w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var hubs = nodes.crossJoin(broadcast(n1))
      .select(col("node"), expr(s"$Scale div __n").as("h"))
    var auths: DataFrame = null
    for (i <- 1 to iters) {
      val aRaw = eo
        .join(hubs.select(col("node").as("__src"), col("h")), "__src")
        .groupBy(col("__dst").as("node"))
        .agg(sum(col("h").cast("decimal(38,0)") * col("__w")).as("__ar"))
      val sa = aRaw.agg(sum(col("__ar")).as("__sa"))
      auths = nodes.join(aRaw, Seq("node"), "left")
        .crossJoin(broadcast(sa))
        .select(col("node"),
          when(col("__sa") > 0,
            expr(s"(coalesce(__ar, CAST(0 AS DECIMAL(38,0))) * $Scale) div __sa"))
            .otherwise(lit(0L)).cast("long").as("a"))
      val hRaw = eo
        .join(auths.select(col("node").as("__dst"), col("a")), "__dst")
        .groupBy(col("__src").as("node"))
        .agg(sum(col("a").cast("decimal(38,0)") * col("__w")).as("__hr"))
      val sh = hRaw.agg(sum(col("__hr")).as("__sh"))
      hubs = nodes.join(hRaw, Seq("node"), "left")
        .crossJoin(broadcast(sh))
        .select(col("node"),
          when(col("__sh") > 0,
            expr(s"(coalesce(__hr, CAST(0 AS DECIMAL(38,0))) * $Scale) div __sh"))
            .otherwise(lit(0L)).cast("long").as("h"))
      if (i % 5 == 0 && i < iters) {
        hubs = hubs.localCheckpoint(true)
        auths = auths.localCheckpoint(true)
      }
    }
    hubs.join(auths, "node")
      .select(col("node"), col("h").as("hub"), col("a").as("auth"))
  }

  /** Personalized (topic-sensitive) PageRank: teleport mass returns ONLY
    * to the seed set, so rank measures proximity-weighted importance
    * relative to the seeds — the trusted-seed quality-propagation signal
    * (score a crawl frontier by closeness to vetted domains) rather than
    * global centrality. Same fixed-point 64-bit integer arithmetic as
    * [[pagerankScaled]] (order-invariant sums, bit-identical on any
    * engine/partitioning); the only change is the teleport term:
    * `Teleport div |S|` on seed nodes, 0 elsewhere, and rank starts as
    * `Scale div |S|` on seeds. Nodes unreachable from the seed set hold
    * rank 0 and are emitted (callers filter). Overflow analysis is the
    * parent's: mass only leaks, every intermediate ≤ ~8.5e17.
    *
    * Scale shape per iteration: identical to [[pagerankScaled]] — one
    * rank-onto-adjacency join, one destination aggregate, one left join
    * to the node set; the seed flag rides the persisted node set.
    *
    * @param seeds one column of seed node ids (distinct; ids not in the
    *              edge list's node set are counted in |S| but get no
    *              edges — standard). */
  def personalizedPagerankScaled(edges: DataFrame, srcCol: String,
      dstCol: String, wCol: String, seeds: DataFrame, iters: Int,
      checkpointEvery: Int = 5,
      localEdgeThreshold: Long = LocalEdgeThreshold): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1")
    require(iters <= 20 || checkpointEvery <= 10,
      s"iters > 20 requires checkpointEvery <= 10 (got $checkpointEvery)")
    Seq("node", "r", "__s", "__ns", "__m", "__c", "outw").foreach { c =>
      require(!edges.columns.contains(c),
        s"personalizedPagerankScaled uses an internal $c column; rename it")
    }
    // distinct: a duplicated seed id would duplicate its node row through
    // the left join below and double-count contributions every iteration.
    val seed = seeds.toDF("node")
      .select(col("node").cast("long").as("node")).distinct()
      .localCheckpoint(true)
    require(seed.count() > 0,
      "personalizedPagerankScaled needs a non-empty seed set " +
        "(|S| = 0 would divide the teleport mass by zero)")
    // Probe AFTER persisting (see pagerankScaled) — never an extra pass
    // over the caller's raw edge derivation.
    val e0 = edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Small-graph regime (see LocalEdgeThreshold): same index-mapped
    // integer kernel, teleport masked to the seed set. Ids are long here
    // (both regimes cast), so the local node space is a LongMap.
    if (e0.count() <= localEdgeThreshold) {
      val spark = edges.sparkSession
      val rows = e0.select(col(srcCol).cast("long"),
        col(dstCol).cast("long"), col(wCol).cast("long")).collect()
      val seedIds = seed.collect().map(_.getLong(0))
      val idx = new java.util.LinkedHashMap[Long, Integer]()
      def id(v: Long): Int = {
        var i = idx.get(v)
        if (i == null) { i = idx.size(); idx.put(v, i) }
        i
      }
      val (srcs, dsts, ws) = (new Array[Int](rows.length),
        new Array[Int](rows.length), new Array[Long](rows.length))
      var i = 0
      while (i < rows.length) {
        srcs(i) = id(rows(i).getLong(0)); dsts(i) = id(rows(i).getLong(1))
        ws(i) = rows(i).getLong(2); i += 1
      }
      seedIds.foreach(id) // seeds outside the edge set still count in |S|
      val flags = new Array[Boolean](idx.size())
      seedIds.foreach(s => flags(idx.get(s)) = true)
      val r = localRankLoop(srcs, dsts, ws, idx.size(), Some(flags),
        seedIds.length.toLong, iters)
      e0.unpersist()
      import scala.jdk.CollectionConverters._
      val out = idx.entrySet().asScala.toSeq
        .map(e => Row(e.getKey.longValue(), r(e.getValue)))
      return spark.createDataFrame(out.asJava, StructType(Seq(
        StructField("node", LongType), StructField("r", LongType))))
    }
    val nodes = e0.select(col(srcCol).cast("long").as("node"))
      .union(e0.select(col(dstCol).cast("long").as("node")))
      .union(seed.select(col("node")))
      .distinct()
      .join(seed.select(col("node"), lit(1L).as("__s")), Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0L)).as("__s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ns1 = seed.agg(count(lit(1)).as("__ns"))
    val eo = e0
      .join(e0.groupBy(col(srcCol)).agg(sum(col(wCol)).as("outw")),
        srcCol)
      .select(col(srcCol).cast("long").as("__src"),
        col(dstCol).cast("long").as("__dst"),
        col(wCol).cast("long").as("__w"), col("outw").cast("long").as("outw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var ranks = nodes.crossJoin(broadcast(ns1))
      .select(col("node"),
        (col("__s") * expr(s"$Scale div __ns")).as("r"))
    for (i <- 1 to iters) {
      val contribs = eo
        .join(ranks.select(col("node").as("__src"), col("r")), "__src")
        .select(col("__dst").as("node"),
          expr("((r * 850) div (1000 * outw)) * __w").as("__c"))
      val inMass = contribs.groupBy(col("node")).agg(sum(col("__c")).as("__m"))
      ranks = nodes.join(inMass, Seq("node"), "left")
        .crossJoin(broadcast(ns1))
        .select(col("node"),
          (col("__s") * expr(s"$Teleport div __ns") +
            coalesce(col("__m"), lit(0L))).as("r"))
      if (i % checkpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint(true)
    }
    ranks
  }

  /** Exact per-node triangle counts of an undirected simple graph, by
    * degree-ordered edge orientation (the node-iterator bound): each edge
    * {u,v} is oriented from its lower-(degree, id) endpoint, wedges are
    * generated only from a node's ORIENTED out-neighbours, and a wedge
    * (v, w) closes iff the oriented edge v→w exists. Every triangle is
    * found exactly once, and the wedge count is Σ C(outdeg, 2) with
    * outdeg ≤ O(√m) — the classic bound that keeps a power-law hub (degree
    * d) from generating d² wedges. At cluster scale this is two shuffles:
    * wedges by source (co-partitioned self-join) and the closing lookup
    * by the (v, w) pair; skew follows oriented out-degree, which the
    * orientation itself bounds.
    *
    * @param edges canonical undirected simple edges: one row per pair,
    *              aCol < bCol, no self-loops, no duplicates.
    * @return (node, triangles) for every node in ≥ 1 triangle, counts
    *         exact (each triangle credited to all three corners).
    */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    val deg = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // Orient each edge from its ≺-smaller endpoint, where ≺ is the total
    // order (degree, id); carry the head's ≺-key so wedge pairs can be
    // ordered without re-joining degrees.
    val oriented = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"),
            struct(col("db").as("d"), col("b").as("id")).as("vk")))
          .otherwise(
            struct(col("b").as("u"), col("a").as("v"),
              struct(col("da").as("d"), col("a").as("id")).as("vk")))
          .as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"), col("o.vk").as("vk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Wedges (u; v ≺ w) from u's out-neighbours; close on oriented v→w
    // (v ≺ w guarantees the closing edge, if present, is oriented v→w).
    val left = oriented.select(col("u"), col("v"), col("vk"))
    val right = oriented.select(col("u"), col("v").as("w"), col("vk").as("wk"))
    val triangles = left.join(right, Seq("u"))
      .filter(col("vk") < col("wk"))
      .join(oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"),
        "left_semi")
    triangles
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("triangles"))
  }

  /** Link prediction over an undirected simple graph: for every
    * NON-adjacent pair sharing ≥ `minCommon` neighbours, the
    * common-neighbour count and the resource-allocation index (Zhou,
    * Lü & Zhang 2009) — Σ over shared neighbours v of 1/deg(v),
    * held in fixed-point units of 1e-12 (`floor(1e12 / deg v)`) so the
    * sum is 64-bit-integer exact and order-invariant: bit-identical on
    * any engine and any partitioning, unlike the float-summed
    * Adamic-Adar variant whose `1/ln deg` terms drift with reduce order.
    *
    * Scale shape: wedges are generated per CENTRE node from its
    * adjacency self-joined on the centre key — Σ C(deg v, 2) pairs,
    * the irreducible cost of open-wedge enumeration (orientation tricks
    * only help CLOSED wedges). The `maxDegree` cap bounds that quadratic
    * term on power-law hubs, and is principled, not just pragmatic: a
    * hub centre contributes weight 1/deg ≈ 0 per pair, so dropping it
    * changes scores by < pairs/maxDegree while removing the dominant
    * wedge mass. Downstream: one hash aggregate by pair, one left-anti
    * join against the edge set.
    *
    * @param edges     canonical undirected simple edges (aCol < bCol,
    *                  no self-loops, no duplicates).
    * @param minCommon emit pairs with at least this many shared
    *                  neighbours (≥ 1).
    * @param maxDegree centres with degree above this are skipped
    *                  (mirrored in any oracle); pass Int.MaxValue to
    *                  disable.
    * @return (node_a, node_b, cn, ra) with node_a < node_b; `ra` in
    *         1e-12 units.
    */
  def linkPrediction(edges: DataFrame, aCol: String, bCol: String,
      minCommon: Int, maxDegree: Int = Int.MaxValue): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    require(maxDegree >= 1, s"maxDegree must be >= 1, got $maxDegree")
    val e = edges.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    val adj = e.select(col("a").as("v"), col("b").as("x"))
      .union(e.select(col("b").as("v"), col("a").as("x")))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // Per-centre fixed-point weight; the cap filter rides the same join.
    val ctr = adj.join(deg, "v")
      .filter(col("deg") <= maxDegree)
      .select(col("v"), col("x"), expr(s"${Scale}L div deg").as("wt"))
    val wedges = ctr.select(col("v"), col("x").as("na"), col("wt"))
      .join(ctr.select(col("v"), col("x").as("nb")), Seq("v"))
      .filter(col("na") < col("nb"))
    wedges.groupBy(col("na"), col("nb"))
      .agg(count(lit(1)).as("cn"), sum(col("wt")).as("ra"))
      .filter(col("cn") >= minCommon)
      .join(e, col("na") === col("a") && col("nb") === col("b"), "left_anti")
      .select(col("na").as("node_a"), col("nb").as("node_b"),
        col("cn"), col("ra"))
  }

  /** The k-core of an undirected simple graph: the (unique) maximal
    * subgraph in which every node has degree ≥ k, found by iterative
    * peeling — drop all nodes of degree < k, recompute degrees, repeat
    * to fixpoint. The fixpoint is deletion-ORDER independent (peeling in
    * any order reaches the same core), which is what makes the result
    * engine- and partitioning-exact and lets an oracle unroll the loop.
    *
    * Scale shape: each round is one degree aggregate plus two semi
    * joins of the edge list against the surviving-node set, all keyed by
    * node id — the standard bulk-synchronous peel (GraphX/GraphFrames
    * shape). The convergence probe is one `count()` per round on the
    * shrinking edge set. Every round the survivor edge set is eagerly
    * `localCheckpoint`ed, NOT merely persisted: each round's plan
    * references the previous round's ~5 times (degrees twice via the
    * union, the edge set itself, the keep set twice), so an un-truncated
    * LOGICAL plan grows ~5× per round and Catalyst analysis — not the
    * data — becomes the bottleneck within a handful of rounds (persist
    * only short-circuits physical re-execution, never re-analysis).
    * Dense cores converge in a handful of rounds; long chains drain one
    * layer per round, hence the maxIters guard throws loudly rather
    * than returning a not-yet-core subgraph.
    *
    * @param edges canonical undirected simple edges (aCol < bCol, no
    *              self-loops, no duplicates).
    * @return (node, deg) for k-core members, deg the WITHIN-core degree
    *         (≥ k by construction). Empty if no k-core exists.
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
      maxIters: Int = 25,
      localEdgeThreshold: Long = LocalEdgeThreshold): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("node")).union(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    var e = edges.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b")).localCheckpoint(true)
    var m = e.count()
    // Small-graph regime (see LocalEdgeThreshold): peel on the driver —
    // the fixpoint is deletion-order independent, so local sequential
    // peeling lands on the same unique core; the maxIters guard counts
    // bulk-synchronous rounds exactly as the distributed loop does.
    if (m <= localEdgeThreshold) {
      val spark = edges.sparkSession
      var es = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      var round = 0
      var converged = es.isEmpty
      while (!converged) {
        round += 1
        if (round > maxIters)
          throw new IllegalStateException(
            s"k-core peel did not converge within $maxIters rounds")
        val deg = scala.collection.mutable.LongMap.empty[Long]
        es.foreach { case (a, b) =>
          deg(a) = deg.getOrElse(a, 0L) + 1; deg(b) = deg.getOrElse(b, 0L) + 1 }
        val es2 = es.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
        converged = es2.length == es.length
        es = es2
      }
      val deg = scala.collection.mutable.LongMap.empty[Long]
      es.foreach { case (a, b) =>
        deg(a) = deg.getOrElse(a, 0L) + 1; deg(b) = deg.getOrElse(b, 0L) + 1 }
      import scala.jdk.CollectionConverters._
      val out = deg.toSeq.sortBy(_._1).map { case (n, d) => Row(n, d) }
      return spark.createDataFrame(out.asJava, StructType(Seq(
        StructField("node", LongType), StructField("deg", LongType))))
    }
    var converged = m == 0L
    var round = 0
    while (!converged) {
      round += 1
      if (round > maxIters)
        throw new IllegalStateException(
          s"k-core peel did not converge within $maxIters rounds")
      val keep = degrees(e).filter(col("deg") >= k).select(col("node"))
      val e2 = e
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(true)
      val m2 = e2.count()
      converged = m2 == m
      e = e2
      m = m2
    }
    degrees(e)
  }

  /** FULL core decomposition: every node's coreness (the largest k for
    * which it survives the k-core peel), not just membership in one k —
    * via the h-index recurrence (Lü et al. 2016): c₀(v) = deg(v),
    * c_{t+1}(v) = H-index of the neighbours' c_t, which converges exactly
    * to the coreness. BOTH regimes run the IDENTICAL integer recurrence —
    * the driver loops over primitive arrays, the distributed loop runs one
    * neighbour-label join + one sorted-collect aggregate per round (the
    * per-node collect is degree-bounded; hub-heavy graphs should cap
    * degrees upstream the way linkPrediction does) — so the fixpoint is
    * bit-identical by construction, with the same `maxRounds` loud guard.
    *
    * @param edges undirected simple edges (one row per edge, any
    *              orientation; self-loops ignored).
    * @return (node, coreness) for every non-isolated node. */
  def coreness(edges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50,
      localEdgeThreshold: Long = LocalEdgeThreshold): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    val e = edges.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spark = edges.sparkSession

    if (e.count() <= localEdgeThreshold) {
      val adj = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      e.collect().foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
      }
      var c = adj.map { case (v, ns) => v -> ns.length.toLong }
      var round = 0
      var changed = true
      while (changed) {
        round += 1
        if (round > maxRounds)
          throw new IllegalStateException(
            s"coreness h-index loop did not converge within $maxRounds rounds")
        val next = adj.map { case (v, ns) =>
          val labels = ns.map(c(_)).toArray
          java.util.Arrays.sort(labels)
          // sorted ASC: h = #labels from the top that are >= their rank
          var h = 0L
          var i = labels.length - 1
          while (i >= 0 && labels(i) >= (labels.length - i)) {
            h = labels.length - i; i -= 1
          }
          v -> h
        }
        changed = next.exists { case (v, h) => h != c(v) }
        c = next
      }
      import scala.jdk.CollectionConverters._
      val out = c.toSeq.sortBy(_._1).map { case (n, k) => Row(n, k) }
      e.unpersist()
      return spark.createDataFrame(out.asJava, StructType(Seq(
        StructField("node", LongType), StructField("coreness", LongType))))
    }

    val sym = e.select(col("a").as("v"), col("b").as("x"))
      .union(e.select(col("b").as("v"), col("a").as("x")))
      .localCheckpoint(true)
    var labels = sym.groupBy(col("v").as("node"))
      .agg(count(lit(1)).as("c")).localCheckpoint(true)
    var round = 0
    var changed = 1L
    while (changed > 0) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"coreness h-index loop did not converge within $maxRounds rounds")
      val next = sym
        .join(labels.select(col("node").as("x"), col("c").as("cx")), "x")
        .groupBy(col("v").as("node"))
        .agg(sort_array(collect_list(col("cx")), asc = false).as("cs"))
        .select(col("node"),
          size(filter(col("cs"), (x, i) => x >= (i + lit(1)).cast("long")))
            .cast("long").as("c"))
        .localCheckpoint(true)
      changed = next
        .join(labels.select(col("node"), col("c").as("cp")), "node")
        .filter(col("c") =!= col("cp")).count()
      labels = next
    }
    e.unpersist()
    labels.select(col("node"), col("c").as("coreness"))
  }

  /** Multi-source breadth-first hop distances over an undirected simple
    * graph: for every node within `maxHops` of ANY source, the minimum
    * hop count. The frontier pattern — each round joins only the
    * CURRENT frontier onto the adjacency and anti-joins the visited set
    * — so per-round work is proportional to the frontier's edge
    * neighbourhood, not the whole graph (unlike the fixed-point
    * full-graph rounds of [[pagerankScaled]]). Exactly the crawl-reach /
    * seed-proximity shape a curation pipeline uses to score documents by
    * link distance from a trusted seed set.
    *
    * Runs a FIXED `maxHops` rounds with no driver-side convergence
    * probe: an exhausted frontier makes the remaining rounds empty
    * joins, and the bounded hop count is the semantic anyway. The
    * adjacency and each round's new layer are eagerly
    * `localCheckpoint`ed — each is referenced by 2-3 downstream plans
    * per round, so an un-truncated LOGICAL plan grows ~3× per hop and
    * Catalyst analysis, not the data, becomes the cost (persist alone
    * never truncates re-analysis). BFS layers are unique minimum
    * distances, so the result is engine- and partitioning-exact.
    *
    * @param edges   canonical undirected simple edges (aCol < bCol).
    * @param sources one column, the seed node ids (must be distinct).
    * @return (node, dist): sources at 0, else min hops, ≤ maxHops.
    */
  def hopDistances(edges: DataFrame, aCol: String, bCol: String,
      sources: DataFrame, maxHops: Int,
      localEdgeThreshold: Long = LocalEdgeThreshold): DataFrame = {
    require(maxHops >= 1 && maxHops <= 12,
      s"maxHops out of range (1..12): $maxHops")
    val e = edges.select(col(aCol).cast("long").as("v"),
      col(bCol).cast("long").as("x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Small-graph regime (see LocalEdgeThreshold): BFS layers are unique
    // minimum distances, so a driver-local queue walk emits the same
    // (node, dist) set as the bulk-synchronous frontier loop. The probe
    // counts the PERSISTED projection, never the raw derivation twice.
    if (e.count() <= localEdgeThreshold) {
      val spark = edges.sparkSession
      val adjM = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      e.collect().foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        adjM.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
        adjM.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
      }
      val dist = scala.collection.mutable.LongMap.empty[Int]
      var frontier = sources.toDF("node")
        .select(col("node").cast("long")).collect().map(_.getLong(0))
      frontier.foreach(s => dist(s) = 0)
      var d = 1
      while (d <= maxHops && frontier.nonEmpty) {
        val next = scala.collection.mutable.LinkedHashSet.empty[Long]
        frontier.foreach { v =>
          adjM.getOrElse(v, Nil).foreach { x =>
            if (!dist.contains(x) && !next.contains(x)) next += x } }
        next.foreach(x => dist(x) = d)
        frontier = next.toArray
        d += 1
      }
      import scala.jdk.CollectionConverters._
      val out = dist.toSeq.sortBy(_._1).map { case (n, dd) => Row(n, dd) }
      e.unpersist()
      return spark.createDataFrame(out.asJava, StructType(Seq(
        StructField("node", LongType), StructField("dist", IntegerType))))
    }
    val adj = e.union(e.select(col("x").as("v"), col("v").as("x")))
      .localCheckpoint(true)
    val seed = sources.toDF("node").select(col("node").cast("long").as("node"))
    var visited = seed.select(col("node"), lit(0).as("dist"))
      .localCheckpoint(true)
    var frontier = visited.select(col("node"))
    for (d <- 1 to maxHops) {
      val next = adj.join(frontier.select(col("node").as("v")), Seq("v"))
        .select(col("x").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .select(col("node"), lit(d).as("dist"))
        .localCheckpoint(true)
      visited = visited.union(next)
      frontier = next.select(col("node"))
    }
    visited
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over an
    * undirected simple graph, made DETERMINISTIC: every node starts
    * labeled with itself; each round, ALL nodes simultaneously adopt the
    * most frequent label among their neighbours, ties broken to the
    * SMALLEST label. Classic async LPA is run-order dependent (its
    * results aren't reproducible); the synchronous min-tie variant is a
    * pure function of the graph, so an oracle can unroll the rounds and
    * two engines agree bit-for-bit. A FIXED `rounds` count is the
    * contract (community detection has no natural fixpoint: synchronous
    * LPA can 2-cycle on bipartite-ish regions, so "run to convergence"
    * is not well-defined — bounded rounds are the standard remedy).
    *
    * Scale shape per round: one join of labels onto the adjacency, one
    * (node, label) count aggregate, one argmax-by-min-struct aggregate —
    * all keyed by node; no ranking window. Small graphs take the
    * driver-local regime (see [[LocalEdgeThreshold]]); both regimes are
    * bit-identical (GraphSpec).
    *
    * @param edges canonical undirected simple edges (aCol < bCol).
    * @return (node, community) for every non-isolated node. */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
      rounds: Int,
      localEdgeThreshold: Long = LocalEdgeThreshold): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"rounds out of range: $rounds")
    val e = edges.select(col(aCol).cast("long").as("v"),
      col(bCol).cast("long").as("x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (e.count() <= localEdgeThreshold) {
      val spark = edges.sparkSession
      val adjM = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      e.collect().foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        adjM.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
        adjM.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
      }
      var lbl = scala.collection.mutable.LongMap.empty[Long]
      adjM.keys.foreach(n => lbl(n) = n)
      for (_ <- 1 to rounds) {
        val next = scala.collection.mutable.LongMap.empty[Long]
        adjM.foreach { case (n, nbrs) =>
          val cnt = scala.collection.mutable.LongMap.empty[Long]
          nbrs.foreach { m => val l = lbl(m); cnt(l) = cnt.getOrElse(l, 0L) + 1 }
          // (count desc, label asc) — the min-tie mode
          next(n) = cnt.minBy { case (l, c) => (-c, l) }._1
        }
        lbl = next
      }
      import scala.jdk.CollectionConverters._
      val out = lbl.toSeq.sortBy(_._1).map { case (n, l) => Row(n, l) }
      e.unpersist()
      return spark.createDataFrame(out.asJava, StructType(Seq(
        StructField("node", LongType), StructField("community", LongType))))
    }
    val adj = e.union(e.select(col("x").as("v"), col("v").as("x")))
      .localCheckpoint(true)
    var labels = adj.select(col("v").as("node"))
      .distinct()
      .select(col("node"), col("node").as("lbl"))
    for (i <- 1 to rounds) {
      val counts = adj
        .join(labels.select(col("node").as("x"), col("lbl")), "x")
        .groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("__c"))
      labels = counts.groupBy(col("v").as("node"))
        .agg(min(struct((-col("__c")).as("nc"), col("lbl"))).as("__m"))
        .select(col("node"), col("__m.lbl").as("lbl"))
      if (i < rounds) labels = labels.localCheckpoint(true)
    }
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** Degree assortativity (Newman 2002) of an undirected simple graph:
    * the Pearson correlation of endpoint degrees over edges — positive
    * when hubs link to hubs (social-network shape), negative when hubs
    * link to leaves (hub-and-spoke). Each undirected edge contributes
    * both orientations, the standard symmetrization. All power sums are
    * exact 64-bit integers (degrees are integers), so only the final
    * Pearson closure runs in double — with the operand order mirrored in
    * the oracle, the result is bit-identical across engines.
    *
    * Two node-keyed joins to attach endpoint degrees + one global
    * aggregate; nothing touches more than the edge list.
    *
    * Overflow: needs 2m·maxdeg² < 2^63 — beyond any real graph (a
    * trillion edges with million-degree hubs).
    *
    * @return one row: (n_edges, assortativity) — null assortativity on
    *         a degree-regular graph (zero variance), mirrored by SQL. */
  def degreeAssortativity(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val e = edges.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    val deg = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val du = deg.select(col("node").as("a"), col("deg").as("du"))
    val dv = deg.select(col("node").as("b"), col("deg").as("dv"))
    val oriented = e.join(du, "a").join(dv, "b")
      .select(col("du").as("x"), col("dv").as("y"))
    val both = oriented.union(oriented.select(col("y").as("x"),
      col("x").as("y")))
    val agg = both.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val (nD, sxD, sxxD, syD, syyD, sxyD) = (col("n").cast("double"),
      col("sx").cast("double"), col("sxx").cast("double"),
      col("sy").cast("double"), col("syy").cast("double"),
      col("sxy").cast("double"))
    // nullif guards the zero-variance (degree-regular) graph: both
    // engines agree on NULL, where bare division would give engine-
    // specific NaN/Inf semantics.
    agg.select(expr("n div 2").as("n_edges"),
      round((nD * sxyD - sxD * syD) /
        nullif(sqrt((nD * sxxD - sxD * sxD) * (nD * syyD - syD * syD)),
          lit(0.0)), 6)
        .as("assortativity"))
  }

  /** Degree profile of a weighted edge list: per node, out/in degree and
    * out/in weight (0 where absent). One aggregate per direction + a full
    * outer merge on the node id. */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String): DataFrame = {
    Seq(srcCol, dstCol, wCol).foreach { c =>
      require(!Set("node", "out_deg", "out_w", "in_deg", "in_w").contains(c),
        s"degrees emits node/out_deg/out_w/in_deg/in_w; rename column $c")
    }
    val out = edges.groupBy(col(srcCol).as("node"))
      .agg(count(lit(1)).as("out_deg"), sum(col(wCol)).cast("long").as("out_w"))
    val in = edges.groupBy(col(dstCol).as("node"))
      .agg(count(lit(1)).as("in_deg"), sum(col(wCol)).cast("long").as("in_w"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("in_w"), lit(0L)).as("in_w"))
  }

  /** Strongly connected components of a DIRECTED simple graph; each node
    * labels with the MINIMUM node id in its component (an engine-neutral
    * labeling — Tarjan's discovery order is traversal-dependent, a min-id
    * label is a pure function of the graph).
    *
    * Distributed regime: min-label forward/backward peeling — per outer
    * round, propagate min ids to a fixpoint along edges (fmin(u) = min id
    * that can reach u, self included) and along reversed edges (bmin(u) =
    * min id u can reach), settle every node with fmin = bmin = m into SCC
    * m (mutual reachability with m is proven by the two labels; minimality
    * because any smaller mutual partner would lower fmin), peel the
    * settled nodes, CUT every edge whose endpoints disagree on the
    * (fmin, bmin) class (the OBF/coloring refinement: nodes of one SCC
    * reach each other, so they share ancestor and descendant sets and
    * hence the class — every SCC lies inside a single class, every
    * cycle's edges are intra-class, and cutting cross-class edges
    * preserves all remaining SCCs), and repeat on the residual subgraph.
    * The cut is what bounds the round count: plain peeling settles ONE
    * node per round on a monotone chain of singleton SCCs (the SCC gate
    * fixture's broken rings blew the 24-round budget the first time the
    * distributed regime ran, at the 100× canary), whereas the chain's
    * classes are pairwise distinct, so one cut round isolates every node
    * and the next settles them all. Each round still settles at least
    * each class's own minimum once the class is edge-closed; every step
    * is a node-keyed join + min aggregate (integer labels — bit-exact on
    * any partitioning), no windows. `maxRounds` stays as a loud-failure
    * guard: a graph needing more rounds should fail, not silently
    * truncate.
    *
    * Small graphs (≤ localEdgeThreshold edges) take a driver-local
    * iterative Tarjan relabeled to min ids — identical output by
    * construction (asserted against the distributed loop in GraphSpec).
    *
    * @param edges directed (srcCol → dstCol) edges; self-loops ignored.
    * @return (node, scc) for every non-isolated node. */
  /** Eagerly re-root `df` as a STATS-FREE LogicalRDD leaf. This is NOT
    * `localCheckpoint(true)`: that also truncates the plan tree, but it
    * PROPAGATES the original plan's estimated statistics into the new
    * leaf (originStats) — and in a convergence loop whose per-round plan
    * joins the previous round's result with itself, the propagated
    * sizeInBytes estimate SQUARES every round. The estimate's DIGIT COUNT
    * then doubles per round, and by round ~20 every Catalyst stats visit
    * multiplies million-digit BigIntegers on the driver (measured: the
    * 100× SCC gate spent 45+ min of driver CPU inside
    * SizeInBytesOnlyStatsPlanVisitor). Re-rooting through the RDD drops
    * the estimate to the constant default. The RDD-level localCheckpoint
    * also truncates lineage once materialized (a plain persist does NOT —
    * task closures still serialize the whole ancestor chain recursively,
    * and ~200 convergence iterations overflow the task-deserializer
    * stack). The persisted predecessor RDD (`release`) is unpersisted
    * once the successor is materialized-and-truncated. Shared by every
    * convergence loop in ops (SCC here, the undirected
    * [[Dedup.connectedComponents]] star-contraction loop). */
  private[ops] def rerootEager(spark: SparkSession, df: DataFrame,
      release: Option[org.apache.spark.rdd.RDD[Row]] = None)
      : (DataFrame, org.apache.spark.rdd.RDD[Row]) = {
    // Checkpoint mode is the FAULT-TOLERANCE dial: localCheckpoint
    // stores the leaf in executor block managers — fastest, but an
    // executor loss mid-loop loses blocks whose lineage was truncated
    // and FAILS the job (Spark's documented localCheckpoint trade).
    // When the session has a checkpoint dir configured
    // (sc.setCheckpointDir — a cluster deployment's reliable store),
    // the loops automatically write RELIABLE checkpoints instead:
    // executor loss then costs a re-read, not the job. Exercised by
    // the round-15 executor-loss screen (executor JVM halted mid-run
    // under local-cluster; SCALE.md) and the reliable-mode parity spec.
    val rdd =
      if (spark.sparkContext.getCheckpointDir.isDefined) {
        val r = df.rdd
        // persist BEFORE checkpoint: doCheckpoint() otherwise recomputes
        // the whole round to write the reliable copy (Spark's documented
        // double-compute trap); the cached blocks also keep serving
        // healthy-path reads at local speed, with the reliable file as
        // the loss fallback.
        r.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        r.checkpoint()
        r.count()
        r
      } else {
        val r = df.rdd.localCheckpoint()
        r.count()
        r
      }
    release.foreach(_.unpersist(blocking = false))
    // Every reroot leaf is owned scratch: the loops' release chains free
    // the intermediates eagerly, but the FINAL round's RDD backs the
    // returned frame and outlives the op — register it so harness-level
    // releaseOwned reclaims it after the gate's action (pre-r15, one
    // materialized RDD per convergence-loop invocation leaked until
    // ContextCleaner GC). Double-unpersist is a no-op.
    graft.core.Memo.ownedRdd(spark, rdd)
    (spark.createDataFrame(rdd, df.schema), rdd)
  }

  def stronglyConnectedComponents(edges: DataFrame, srcCol: String,
      dstCol: String, maxRounds: Int = 24,
      localEdgeThreshold: Long = LocalEdgeThreshold): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    val e = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .filter(col("s") =!= col("d")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spark = edges.sparkSession

    if (e.count() <= localEdgeThreshold) {
      // Iterative Tarjan (explicit stack — no recursion depth limit),
      // components relabeled to their min node id.
      val rows = e.collect()
      val adj = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      val nodesSet = scala.collection.mutable.SortedSet.empty[Long]
      rows.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
        nodesSet += a; nodesSet += b
      }
      // (child visit order is irrelevant: SCC membership and min-id labels
      // are pure graph properties, independent of traversal order)
      val index = scala.collection.mutable.LongMap.empty[Int]
      val low = scala.collection.mutable.LongMap.empty[Int]
      val onStack = scala.collection.mutable.LongMap.empty[Boolean]
      val stack = scala.collection.mutable.ArrayBuffer.empty[Long]
      val sccOf = scala.collection.mutable.LongMap.empty[Long]
      var nextIndex = 0
      val empty = scala.collection.mutable.ArrayBuffer.empty[Long]
      nodesSet.foreach { root =>
        if (!index.contains(root)) {
          // frames: (node, position of next child to visit)
          val call = scala.collection.mutable.ArrayBuffer[(Long, Int)]((root, 0))
          while (call.nonEmpty) {
            val (v, pos) = call.last
            if (pos == 0) {
              index(v) = nextIndex; low(v) = nextIndex; nextIndex += 1
              stack += v; onStack(v) = true
            }
            val kids = adj.getOrElse(v, empty)
            if (pos < kids.length) {
              call(call.length - 1) = (v, pos + 1)
              val w = kids(pos)
              if (!index.contains(w)) call += ((w, 0))
              else if (onStack.getOrElse(w, false))
                low(v) = math.min(low(v), index(w))
            } else {
              if (low(v) == index(v)) { // v roots an SCC: pop it
                val comp = scala.collection.mutable.ArrayBuffer.empty[Long]
                var done = false
                while (!done) {
                  val w = stack.remove(stack.length - 1)
                  onStack(w) = false
                  comp += w
                  done = w == v
                }
                val label = comp.min
                comp.foreach(w => sccOf(w) = label)
              }
              call.remove(call.length - 1)
              if (call.nonEmpty) {
                val (p, _) = call.last
                low(p) = math.min(low(p), low(v))
              }
            }
          }
        }
      }
      import scala.jdk.CollectionConverters._
      val out = sccOf.toSeq.sortBy(_._1).map { case (n, c) => Row(n, c) }
      e.unpersist()
      return spark.createDataFrame(out.asJava, StructType(Seq(
        StructField("node", LongType), StructField("scc", LongType))))
    }

    def rerootEager(df: DataFrame,
        release: Option[org.apache.spark.rdd.RDD[Row]] = None)
        : (DataFrame, org.apache.spark.rdd.RDD[Row]) =
      Graph.rerootEager(spark, df, release)

    // Forward and backward fixpoints FUSED into one loop (one reroot
    // materialization + one convergence count per iteration instead of
    // two), accelerated by WITNESS DOUBLING — the list-ranking device,
    // not label jumping. Plain l(l(v)) jumping only shortcuts when
    // labels form pointer CHAINS, and on a monotone-id ring the
    // backward direction never builds one: every successor's label is
    // LARGER, so the only information is the wrap-point min crawling
    // back one node per iteration — measured at the 100× canary as a
    // ~50-iteration linear tail (changed = one node per block per
    // iteration) behind a 7-iteration log phase. The witness pointer
    // p(v) is instead an EXPLICIT sampled ancestor that doubles every
    // iteration regardless of label values: init p(v) = min 1-hop
    // in-neighbor, update p'(v) = p(p(v)), candidate label l(p(v)).
    // Soundness is the reachability invariant (p(v) reaches v ⇒ p(p(v))
    // reaches v; l(p(v)) is the id of a node reaching p(v), hence
    // reaching v); completeness and termination come from the 1-hop
    // relaxation alone (Bellman–Ford: while any label is above its true
    // min, some edge is tense, so an iteration with zero label changes
    // IS the fixpoint — p-pointer movement need not be tracked). On the
    // gate digraph this converges in 7 iterations where label jumping
    // took 50 (simulated AND measured; same 4 joins per iteration).
    def fixpoints(adjF: DataFrame, adjB: DataFrame,
        nodes: DataFrame): DataFrame = {
      val pf0 = adjF.groupBy(col("to").as("node"))
        .agg(min(col("from")).as("pf0"))
      val pb0 = adjB.groupBy(col("to").as("node"))
        .agg(min(col("from")).as("pb0"))
      var (labels, lRdd) = rerootEager(nodes
        .join(pf0, Seq("node"), "left")
        .join(pb0, Seq("node"), "left")
        .select(col("node"), col("node").as("lf"), col("node").as("lb"),
          coalesce(col("pf0"), col("node")).as("pf"),
          coalesce(col("pb0"), col("node")).as("pb")))
      var changed = 1L
      while (changed > 0) {
        val incF = adjF
          .join(labels.select(col("node").as("from"), col("lf").as("x")),
            "from")
          .groupBy(col("to").as("node")).agg(min(col("x")).as("linF"))
        val incB = adjB
          .join(labels.select(col("node").as("from"), col("lb").as("x")),
            "from")
          .groupBy(col("to").as("node")).agg(min(col("x")).as("linB"))
        val wf = labels.select(col("node").as("pf"), col("lf").as("lpf"),
          col("pf").as("ppf"))
        val wb = labels.select(col("node").as("pb"), col("lb").as("lpb"),
          col("pb").as("ppb"))
        val (next, nRdd) = rerootEager(
          labels.join(wf, Seq("pf"), "left").join(wb, Seq("pb"), "left")
            .join(incF, Seq("node"), "left")
            .join(incB, Seq("node"), "left")
            .select(col("node"),
              least(col("lf"), coalesce(col("linF"), col("lf")),
                coalesce(col("lpf"), col("lf"))).as("lf2"),
              least(col("lb"), coalesce(col("linB"), col("lb")),
                coalesce(col("lpb"), col("lb"))).as("lb2"),
              coalesce(col("ppf"), col("pf")).as("pf2"),
              coalesce(col("ppb"), col("pb")).as("pb2"),
              col("lf").as("lfp"), col("lb").as("lbp"))
            .select(col("node"), col("lf2").as("lf"), col("lb2").as("lb"),
              col("pf2").as("pf"), col("pb2").as("pb"),
              ((col("lf2") =!= col("lfp")) || (col("lb2") =!= col("lbp")))
                .cast("long").as("ch")),
          Some(lRdd))
        changed = next.agg(coalesce(sum(col("ch")), lit(0L)).as("c"))
          .head.getLong(0)
        labels = next.select(col("node"), col("lf"), col("lb"),
          col("pf"), col("pb"))
        lRdd = nRdd
        if (sys.env.contains("SPARK_GRAFT_SCC_DEBUG"))
          System.err.println(s"[scc] fixpoint iter changed=$changed")
      }
      labels.select(col("node"), col("lf"), col("lb"))
    }

    var (remainingE, reRdd) = rerootEager(e)
    var settled = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("node", LongType), StructField("scc", LongType))))
    var rounds = 0
    var nodes = rerootEager(remainingE.select(col("s").as("node"))
      .union(remainingE.select(col("d").as("node"))).distinct())._1
    var nNodes = nodes.count()
    while (nNodes > 0) {
      rounds += 1
      if (sys.env.contains("SPARK_GRAFT_SCC_DEBUG"))
        System.err.println(s"[scc] peel round $rounds nodes=$nNodes")
      require(rounds <= maxRounds,
        s"SCC peeling did not converge in $maxRounds rounds " +
          "(pathological component chain); raise maxRounds")
      val both = fixpoints(
        remainingE.select(col("s").as("from"), col("d").as("to")),
        remainingE.select(col("d").as("from"), col("s").as("to")), nodes)
      val done = rerootEager(both.filter(col("lf") === col("lb"))
        .select(col("node"), col("lf").as("scc")))._1
      settled = settled.union(done)
      // Unsettled nodes keep their (minAncestor, minDescendant) CLASS —
      // the OBF/coloring refinement. Two nodes of one SCC reach each
      // other, so they share ancestor AND descendant sets, hence the
      // class: every SCC lies inside a single class, every cycle's edges
      // are intra-class, and a cross-class edge can never be intra-SCC.
      // Cutting cross-class edges below therefore preserves every
      // remaining SCC while DISCONNECTING the condensation chains that
      // make plain peeling linear-round: a monotone path of k singleton
      // SCCs settles one node per round under plain peeling (the 100×
      // gate fixture's broken rings are exactly this — it blew the
      // maxRounds budget the first time the distributed regime ran at
      // scale), but its classes (head, v) are all distinct, so one cut
      // round isolates every node and the next round settles them all.
      // Termination stays guaranteed: each class's own min settles in
      // the round after the class becomes edge-closed.
      val rest = rerootEager(both.filter(col("lf") =!= col("lb"))
        .select(col("node"), col("lf"), col("lb")))._1
      nodes = rest.select(col("node"))
      nNodes = rest.count()
      if (nNodes > 0) {
        val (re2, rr2) = rerootEager(remainingE
          .join(rest.select(col("node").as("s"), col("lf").as("lfs"),
            col("lb").as("lbs")), Seq("s"))
          .join(rest.select(col("node").as("d"), col("lf").as("lfd"),
            col("lb").as("lbd")), Seq("d"))
          .filter(col("lfs") === col("lfd") && col("lbs") === col("lbd"))
          .select(col("s"), col("d")), Some(reRdd))
        remainingE = re2
        reRdd = rr2
      }
    }
    e.unpersist()
    settled
  }
}
