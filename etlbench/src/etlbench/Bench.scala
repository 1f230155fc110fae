package etlbench

import java.io.{File, FileInputStream}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Memo
import graft.etl.EtlPipeline

/** The benchmark's JVM side. Reads the generator's manifest, warms the
  * pipeline up, then runs closed-loop rounds — one registry build followed
  * by every campus of the workload, one after another on one driver thread —
  * for the requested number of seconds. Every operation is timed and its
  * outputs are checked against the manifest's planted counts. With
  * `--trace 1` it then runs traced rounds for per-layer numbers.
  *
  * Writes one JSON document of raw samples; `run.py` turns it into metrics.
  *
  * Usage: Bench --workload W --inputs DIR --seconds S --trace 0|1
  *   --warmup N --cores N --out FILE
  */
object Bench {

  final case class Campus(id: String, system: String, structure: String, planted: JsonNode)

  final case class Args(workload: String, inputs: String, seconds: Double,
      trace: Boolean, warmup: Int, cores: Int, out: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("inputs"), m("seconds").toDouble, m("trace") == "1",
      m("warmup").toInt, m("cores").toInt, m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = new File(a.inputs).getParentFile
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("etlbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = uptimeS()
    // The generator runs beside the session start; its manifest appears
    // last, once every input is complete.
    val manifestFile = new File(a.inputs, "manifest.json")
    while (!manifestFile.exists()) {
      require(uptimeS() < 120, s"no inputs at $manifestFile")
      Thread.sleep(20)
    }
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val manifest = mapper.readTree(manifestFile)
    val campuses = manifest.get("campuses").elements().asScala.map(c => Campus(
      c.get("campus_id").asText, c.get("system").asText,
      c.get("structure").asText, c.get("planted"))).toSeq
    val run = new Runner(spark, a.inputs, campuses, manifest.get("registry"))

    val warm = (1 to a.warmup).map(_ => roundStats(run.round(record = false)))
    val setupS = uptimeS()
    val gc0 = gcMs(); val jit0 = jitMs()

    // Whole rounds until their timed work reaches --seconds, so every
    // sample set covers the same campus mix.
    val t0 = System.nanoTime()
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    var measured = 0.0
    while (rounds.isEmpty || measured < a.seconds) {
      rounds += roundStats(run.round(record = true))
      measured += rounds.last("wall_s").asInstanceOf[Double]
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val gcTimed = gcMs() - gc0; val jitTimed = jitMs() - jit0
    val heap = liveHeapMb()

    val trace = if (a.trace) Some(run.traced(a.seconds)) else None
    val doc = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "cores" -> a.cores,
      "registry_inputs" -> manifest.get("registry"),
      "session_s" -> sessionS, "setup_jvm_s" -> setupS, "warmup_rounds" -> warm,
      "timed_s" -> timedS, "rounds" -> rounds.toSeq,
      "campus_samples" -> run.campusSamples.toSeq,
      "registry_samples" -> run.registrySamples.toSeq,
      "failures" -> run.failures.toSeq,
      "live_heap_mb" -> heap, "gc_ms" -> gcTimed, "jit_ms" -> jitTimed)
    trace.foreach(t => doc("trace") = t)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(a.out), doc)
    spark.stop()
  }

  /** A round's wall time with the JIT compile time, the classes loaded and
    * the generated classes Spark compiled during it. Spark's codegen cache
    * keeps its default size (100 classes), as in every entry point of the
    * program; a round needs more distinct classes than that, so every round
    * compiles 130-160 of them again. */
  private def roundStats(body: => Double): Map[String, Any] = {
    val jit0 = jitMs()
    val cls0 = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
    val gen0 = codegenCompiles()
    val wall = body
    Map("wall_s" -> wall, "jit_ms" -> (jitMs() - jit0),
      "classes_loaded" -> (ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount - cls0),
      "codegen_compiles" -> (codegenCompiles() - gen0))
  }

  /** Heap in use after full collections. The pauses let Spark's context
    * cleaner drop the broadcast and shuffle state the first collection
    * exposed as unreachable, so the figure does not depend on its timing. */
  private def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** One workload's operations, their timing and their checks. */
final class Runner(spark: SparkSession, inputs: String, campuses: Seq[Bench.Campus],
    registrySpec: JsonNode) {
  import Bench.Campus

  private val base = inputs
  private val registryPath = new File(new File(inputs).getParentFile, "registry").getAbsolutePath
  val campusSamples = mutable.ArrayBuffer.empty[Map[String, Any]]
  val registrySamples = mutable.ArrayBuffer.empty[Map[String, Any]]
  val failures = mutable.ArrayBuffer.empty[String]

  private def timed[T](body: => T): (Either[Throwable, T], Double) = {
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Exception => Left(e) }
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One closed-loop round; returns its wall time. Untimed work (checks,
    * releasing the enricher's persisted frame, clearing the iteration's
    * output directories) happens between the timed operations. */
  def round(record: Boolean): Double = {
    val t0 = System.nanoTime()
    var untimed = 0L
    val (reg, regS) = timed(Layers.buildRegistry(spark, inputs, registryPath))
    val u0 = System.nanoTime()
    Memo.releaseOwned(spark)
    val regProblems =
      reg.fold(e => Seq(s"registry build failed: $e"), _ => checkRegistry(registryCounts()))
    if (record) registrySamples += Map("wall_s" -> regS, "ok" -> regProblems.isEmpty)
    note(record, regProblems)
    untimed += System.nanoTime() - u0
    for (c <- campuses) {
      val (r, s) = timed(EtlPipeline.run(spark, registryPath, c.id, base, "etlbench"))
      val u1 = System.nanoTime()
      val problems = r.fold(e => Seq(s"${c.id}: run failed: $e"), res => checkCampus(c, res))
      if (record) campusSamples += Map("campus" -> c.id, "structure" -> c.structure,
        "wall_s" -> s, "rows" -> r.map(_.extractedRows).getOrElse(0L),
        "ok" -> problems.isEmpty)
      note(record, problems)
      untimed += System.nanoTime() - u1
    }
    val u2 = System.nanoTime()
    note(record, checkRegistryRefresh())
    clearOutputs()
    untimed += System.nanoTime() - u2
    (System.nanoTime() - t0 - untimed) / 1e9
  }

  private def note(record: Boolean, problems: Seq[String]): Unit =
    if (record) failures ++= problems
    else if (problems.nonEmpty) sys.error(s"warm-up failed: ${problems.mkString("; ")}")

  private def clearOutputs(): Unit =
    Seq("extracted data", "cleaned data", "logs").foreach(d =>
      deleteTree(new File(s"$base/data/$d")))

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def planted(c: Campus, k: String): Long = c.planted.get(k).asLong

  private def expect(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, planted $want")

  /** The campus run's result and its written artifacts against the
    * generator's planted counts. */
  private def checkCampus(c: Campus, r: EtlPipeline.RunResult): Seq[String] = Seq(
    expect(s"${c.id} canonical rows", r.extractedRows, planted(c, "extracted")),
    expect(s"${c.id} clean rows", r.cleanRows, planted(c, "clean")),
    expect(s"${c.id} violation rows", r.violationRows, planted(c, "violations")),
    expect(s"${c.id} duplicates", r.duplicatesDropped, planted(c, "duplicates")),
    expect(s"${c.id} score", r.transparencyScore, c.planted.get("score").asDouble),
    expect(s"${c.id} clean csv rows", csvRows(r.cleanedPath), planted(c, "clean")),
    expect(s"${c.id} quarantine csv rows", csvRows(r.quarantinePath),
      planted(c, "violations"))).flatten

  /** The written registry's rows and its exact / fuzzy / no-match counts:
    * a matched row carries a CMS rating; an exact one keeps a CMS key. */
  private def registryCounts(): Map[String, Long] = {
    val reg = spark.read.parquet(registryPath)
    val keys = Layers.cms(spark, inputs).select(col("campus_id").as("__k"))
    val matched = col("cms_rating") =!= ""
    val row = reg.join(broadcast(keys), reg("campus_id") === keys("__k"), "left")
      .agg(count(lit(1)),
        sum(when(matched && col("__k").isNotNull, 1L).otherwise(0L)),
        sum(when(matched && col("__k").isNull, 1L).otherwise(0L)),
        sum(when(!matched, 1L).otherwise(0L))).head()
    Map("scraped" -> row.getLong(0), "exact" -> row.getLong(1),
      "fuzzy" -> row.getLong(2), "none" -> row.getLong(3))
  }

  private def checkRegistry(got: Map[String, Long]): Seq[String] = {
    val m = registrySpec.get("matches")
    (expect("registry rows", got("scraped"), registrySpec.get("scraped").asLong) +:
      Seq("exact", "fuzzy", "none").map(k =>
        expect(s"$k matches", got(k), m.get(k).asLong))).flatten
  }

  /** After a round every campus row is marked cleaned with its planted score. */
  private def checkRegistryRefresh(): Seq[String] = {
    val rows = spark.read.parquet(registryPath)
      .filter(col("campus_id").isin(campuses.map(_.id): _*))
      .select("campus_id", "etl_status", "transparency_score").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.get(2))).toMap
    campuses.flatMap { c =>
      rows.get(c.id) match {
        case Some(("cleaned", s)) if s != null &&
            s.toString.toDouble == c.planted.get("score").asDouble => None
        case other => Some(s"${c.id} registry row after run: $other")
      }
    }
  }

  /** Data rows of a CSV directory Spark wrote with a header per part file. */
  private def csvRows(dir: String): Long =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.length > 0)
      .map(f => newlines(f) - 1).sum

  private def newlines(f: File): Long = {
    val in = new FileInputStream(f)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = 0L
      var k = in.read(buf)
      while (k > 0) {
        var i = 0
        while (i < k) { if (buf(i) == '\n') n += 1; i += 1 }
        k = in.read(buf)
      }
      n
    } finally in.close()
  }

  /** Traced rounds for `seconds` (at least one), right after the timed
    * rounds, so they see the JVM warmth those had: the registry build under
    * an `enrich` span, then each campus through [[Layers.campus]]. Returns
    * the per-layer numbers, per campus run (per registry build for
    * `enrich`), and the traced rounds' wall times, which `run.py` compares
    * against the timed rounds' median. */
  def traced(seconds: Double): Map[String, Any] = {
    val t = new Tracer(spark.sparkContext)
    val rounds = mutable.ArrayBuffer.empty[Double]
    val traces = mutable.ArrayBuffer.empty[(Campus, Layers.CampusTrace)]
    var enrichCalls = 0
    val matchCounts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val rejected = mutable.Map.empty[String, Long]
    val t0 = System.nanoTime()
    while (rounds.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val r0 = System.nanoTime()
      t.span("enrich")(Layers.buildRegistry(spark, inputs, registryPath))
      var wall = System.nanoTime() - r0
      Memo.releaseOwned(spark)
      val counts = registryCounts()
      failures ++= checkRegistry(counts)
      enrichCalls += 1
      counts.foreach { case (k, v) => matchCounts(k) += v }
      for (c <- campuses) {
        val c0 = System.nanoTime()
        val tr = Layers.campus(spark, t, registryPath, c.id, base)
        wall += System.nanoTime() - c0
        traces += c -> tr
        failures ++= Seq(
          expect(s"${c.id} traced canonical rows", tr.extracted, planted(c, "extracted")),
          expect(s"${c.id} traced format drops", tr.extracted - tr.preDedup,
            planted(c, "format_dropped")),
          expect(s"${c.id} traced duplicates", tr.preDedup - tr.deduped, planted(c, "duplicates")),
          expect(s"${c.id} traced clean rows", tr.cleanRows, planted(c, "clean")),
          expect(s"${c.id} traced violation rows", tr.violationRows, planted(c, "violations")),
          expect(s"${c.id} traced score", tr.score, c.planted.get("score").asDouble)).flatten
        if (!rejected.contains(c.id)) {
          val raw = s"$base/data/raw data/${c.system}/${c.id}." +
            (if (c.structure == "json") "json" else "csv")
          rejected(c.id) = Layers.pairsRejected(spark, raw, c.structure)
          failures ++= expect(s"${c.id} rejected pairs", rejected(c.id),
            planted(c, "pairs_rejected")).toSeq
        }
      }
      clearOutputs()
      rounds += wall / 1e9
    }
    t.drain()
    val n = traces.size.toDouble
    val mb = 1048576.0
    def per(x: Double) = x / n
    val ex = t.total("extract"); val cl = t.total("clean"); val ru = t.total("rules")
    val me = t.total("meta"); val en = t.total("enrich"); val etl = t.total("etl")
    val sumT = (f: Layers.CampusTrace => Double) => traces.map(x => f(x._2)).sum
    val rows = sumT(_.extracted.toDouble)
    val out = Map[String, Any](
      "rounds_s" -> rounds.toSeq,
      "campus_runs" -> traces.size, "enrich_runs" -> enrichCalls,
      "metrics" -> Map(
        "extract.wall_s" -> per(ex.wallNs / 1e9),
        "extract.exec_cpu_s" -> per(ex.cpuNs / 1e9),
        "extract.input_mb" -> per(ex.inputBytes / mb),
        "extract.rows_out" -> per(rows),
        "extract.shuffle_write_mb" -> per(ex.shuffleWriteBytes / mb),
        "extract.spill_mb" -> per(ex.spillBytes / mb),
        "extract.pairs_rejected" -> rejected.values.sum.toDouble / campuses.size,
        "clean.wall_s" -> per(cl.wallNs / 1e9),
        "clean.exec_cpu_s" -> per(cl.cpuNs / 1e9),
        "clean.rows_in" -> per(rows),
        "clean.rows_out" -> per(sumT(_.deduped.toDouble)),
        "clean.format_dropped" -> per(sumT(x => (x.extracted - x.preDedup).toDouble)),
        "clean.dups_dropped" -> per(sumT(x => (x.preDedup - x.deduped).toDouble)),
        "clean.shuffle_write_mb" -> per(cl.shuffleWriteBytes / mb),
        "clean.cache_mb" -> per(sumT(_.cacheMb)),
        "rules.wall_s" -> per(ru.wallNs / 1e9),
        "rules.exec_cpu_s" -> per(ru.cpuNs / 1e9),
        "rules.clean_rows" -> per(sumT(_.cleanRows.toDouble)),
        "rules.violation_rows" -> per(sumT(_.violationRows.toDouble)),
        "rules.bytes_written_per_row" ->
          sumT(_.csvBytes.toDouble) / sumT(x => (x.cleanRows + x.violationRows).toDouble),
        "meta.wall_s" -> per(me.wallNs / 1e9),
        "meta.jobs" -> per(me.jobs.toDouble),
        "meta.files_written" -> per(sumT(_.metaFiles.toDouble)),
        "enrich.wall_s" -> en.wallNs / 1e9 / enrichCalls,
        "enrich.exec_cpu_s" -> en.cpuNs / 1e9 / enrichCalls,
        "enrich.busy_cores" -> en.cpuNs.toDouble / en.wallNs,
        "enrich.shuffle_write_mb" -> en.shuffleWriteBytes / mb / enrichCalls,
        "enrich.match_exact" -> matchCounts("exact").toDouble / enrichCalls,
        "enrich.match_fuzzy" -> matchCounts("fuzzy").toDouble / enrichCalls,
        "enrich.match_none" -> matchCounts("none").toDouble / enrichCalls,
        "etl.jobs_per_campus" -> per(etl.jobs.toDouble),
        "etl.stages_per_campus" -> per(etl.stages.toDouble),
        "etl.tasks_per_campus" -> per(etl.tasks.toDouble),
        "etl.driver_cpu_s" -> per(sumT(_.processCpuNs / 1e9) - etl.cpuNs / 1e9)))
    t.close()
    out
  }
}
