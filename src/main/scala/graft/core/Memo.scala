package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry for the query families' shared derived caches
  * (recsys baskets / neighbor table, graph edge lists, the n-gram
  * near-dup pair table). One place owns the persist decision instead of
  * N private `ConcurrentHashMap`s, for three reasons:
  *
  *  1. '''The round-10 regression class.''' Under the entry points'
  *     wide-then-coalesce AQE default
  *     (`coalescePartitions.initialPartitionNum=512`), cached-plan
  *     materialization SKIPS partition coalescing unless
  *     `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`
  *     — Spark preserves a cached plan's output partitioning by
  *     disabling AQE reducer coalescing inside the `InMemoryRelation`
  *     build. A memoized `.persist` therefore materialized every one of
  *     its shuffles 512 wide and stored a 512-block cache entry
  *     (recsys_item_item 3.2 → 81.3 s on the round-10 driver bench).
  *     [[Session]] sets that conf for every entry point; routing every
  *     memo through here keeps the fix and its rationale in one file.
  *  2. '''Attribution.''' Whichever gate sorts first in its family pays
  *     the cache build inside its own timing. [[drainBuilt]] lets Bench
  *     stamp a per-query `cache_cold` marker in the diagnostic JSON so
  *     the next cache-shaped regression is attributable at a glance.
  *  3. '''Lifecycle.''' Entries assume IMMUTABLE fixtures: the key is
  *     (cache name, session, data dir) and a rewrite of the parquet
  *     under `dir` within one session would serve stale rows. Harnesses
  *     that regenerate fixtures must call [[clear]]. Entries are dropped
  *     when their session is stopped (checked lazily on each access), so
  *     long-lived JVMs hosting many sessions do not accumulate leaked
  *     plans.
  */
object Memo {

  private val cache =
    new ConcurrentHashMap[(String, SparkSession, String), DataFrame]()

  /** Names of caches built since the last [[drainBuilt]] call. */
  private val built = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Memoize `build` per (name, session, dir) and persist the result
    * MEMORY_AND_DISK. The build stays lazy — materialization happens at
    * the first consuming action, which is also the query the
    * `cache_cold` marker attributes it to.
    *
    * Deliberately get-then-putIfAbsent, NOT `computeIfAbsent`: memo
    * builds may themselves consult the memo (e.g. `recsys.neighbors`
    * builds from `recsys.baskets`), and `ConcurrentHashMap` forbids the
    * mapping function mutating the map — when both keys hash into one
    * bin it throws IllegalStateException("Recursive update"),
    * intermittently across JVM runs. The trade-off is that two threads
    * racing on a cold key may both run `build`; the loser's plan is
    * discarded un-persisted (persist is lazy, so nothing was
    * materialized) and only the winner's entry is recorded in [[built]].
    * The `built` event fires only after `build` returns, so a throwing
    * build leaves no phantom `cache_cold` attribution. */
  def cached(name: String, s: SparkSession, dir: String)(
      build: => DataFrame): DataFrame = {
    evictStopped()
    val key = (name, s, dir)
    val existing = cache.get(key)
    if (existing != null) return existing
    val df = build.persist(StorageLevel.MEMORY_AND_DISK)
    val raced = cache.putIfAbsent(key, df)
    if (raced != null) {
      try df.unpersist() catch { case _: Throwable => () }
      raced
    } else {
      built.add(name + ":" + dir)
      df
    }
  }

  /** Operator-internal persisted frames registered via [[ownedPersist]],
    * keyed by session so [[clear]] can release them. */
  private val owned =
    new java.util.concurrent.ConcurrentLinkedQueue[(SparkSession, DataFrame)]()

  /** Persist an operator-internal intermediate (MEMORY_AND_DISK) and
    * register it with the session's owned set, so the harness-level cache
    * release ([[clear]] — Bench's warmup clear) covers it. For persists
    * that live INSIDE an op taking arbitrary DataFrames — no (name, dir)
    * key exists, so [[cached]] does not apply, but leaving them untracked
    * leaks storage across bench reps (each call persists a fresh frame
    * that nothing ever unpersists). [[clearDir]] intentionally does not
    * touch these: a fresh op call rebuilds fresh frames, so a rewritten
    * fixture cannot be served stale rows through this path. */
  def ownedPersist(df: DataFrame): DataFrame = {
    // Reclaim stopped sessions' entries on THIS registration path too
    // (mirrors cached()): library callers that use ops with internal
    // persists but never touch the harness or the named-cache path
    // would otherwise grow the queue without bound across sessions.
    evictStopped()
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    owned.add((df.sparkSession, p))
    p
  }

  /** Register an ALREADY-persisted frame with the owned set without
    * re-persisting it — for ops that must control persist timing (e.g.
    * a frame that is materialized and partially released inside the op)
    * but still want harness-level reclamation. */
  def ownedTrack(df: DataFrame): DataFrame = {
    evictStopped()
    owned.add((df.sparkSession, df))
    df
  }

  /** Convergence-loop scratch RDDs (the localCheckpoint leaves behind
    * [[graft.ops.Graph]]'s rerootEager), keyed by session. Intermediate
    * rounds are unpersisted eagerly by the loops' release chains; the
    * FINAL round's RDD backs the returned DataFrame and can only be
    * reclaimed after the consumer's action — which is exactly
    * [[releaseOwned]]'s point in the harness loop. Unpersisting an
    * already-released RDD is a no-op, so double registration is safe.
    * NOTE: a localCheckpointed RDD cannot be recomputed once released —
    * the owned contract (scratch dies after the gate's action) is the
    * same one ownedPersist frames already live under. */
  private val ownedRdds = new java.util.concurrent.ConcurrentLinkedQueue[
    (SparkSession, org.apache.spark.rdd.RDD[_])]()

  def ownedRdd(s: SparkSession, rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    evictStopped()
    ownedRdds.add((s, rdd))
  }

  /** Unpersist and forget the session's OWNED frames only — named
    * [[cached]] entries stay. Operator-internal persists are
    * per-invocation scratch (a fresh op call always builds fresh
    * frames), so harness loops should release them after each query's
    * action completes; without this, a 321-gate bench accumulates every
    * gate's dead scratch blocks in storage memory for the whole run,
    * evicting the live named caches later queries rely on. */
  def releaseOwned(s: SparkSession): Unit = {
    val keep = new java.util.ArrayList[(SparkSession, DataFrame)]()
    var e = owned.poll()
    while (e != null) {
      if (e._1 eq s) { try e._2.unpersist() catch { case _: Throwable => () } }
      else keep.add(e)
      e = owned.poll()
    }
    owned.addAll(keep)
    val keepR = new java.util.ArrayList[(SparkSession, org.apache.spark.rdd.RDD[_])]()
    var r = ownedRdds.poll()
    while (r != null) {
      if (r._1 eq s) {
        try r._2.unpersist(blocking = false) catch { case _: Throwable => () }
      } else keepR.add(r)
      r = ownedRdds.poll()
    }
    ownedRdds.addAll(keepR)
    ()
  }

  /** Cache names (`name:dir`) created since the previous drain — the
    * bench's per-query cold-cache attribution. */
  def drainBuilt(): Seq[String] = {
    val out = Seq.newBuilder[String]
    var n = built.poll()
    while (n != null) { out += n; n = built.poll() }
    out.result()
  }

  /** Unpersist and forget every entry of `s` — for harnesses that
    * rewrite fixtures mid-session. */
  def clear(s: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    cache.keySet.asScala.filter(_._2 eq s).foreach { k =>
      Option(cache.remove(k)).foreach(df =>
        try df.unpersist() catch { case _: Throwable => () })
    }
    releaseOwned(s)
  }

  /** Unpersist and forget every entry (any session) keyed under `dir` —
    * the hook for a tool that rewrites the parquet beneath a cached data
    * dir in a [[Session]] it keeps open (e.g. regenerating a scaled
    * fixture in place). Without
    * this, the immutable-fixture assumption above would serve stale
    * rows for the rest of the session. */
  def clearDir(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    cache.keySet.asScala.filter(_._3 == dir).foreach { k =>
      Option(cache.remove(k)).foreach(df =>
        try df.unpersist() catch { case _: Throwable => () })
    }
  }

  private def evictStopped(): Unit = {
    import scala.jdk.CollectionConverters._
    cache.keySet.asScala.filter(_._2.sparkContext.isStopped)
      .foreach(cache.remove)
    owned.removeIf(e => e._1.sparkContext.isStopped)
    ownedRdds.removeIf(e => e._1.sparkContext.isStopped)
    ()
  }
}
