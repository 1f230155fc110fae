package graft.core

import org.apache.spark.sql.SparkSession

/** The one way the program's entry points (Bench, Verify, Explain,
  * PlanLint, EtlDemo) build their session, so every main runs the plans
  * the others run:
  *
  *  - `local[n]` with `spark.sql.shuffle.partitions=n`, where n is
  *    `SPARK_GRAFT_CPUS` (default 4);
  *  - AQE plans every exchange 512 wide and coalesces DOWN to the data,
  *    so reducer width tracks shuffle volume at any scale (noise-neutral
  *    at sf0.1; at the 100× canary it kept the heavy dedup shuffles out
  *    of sort-spill, 90.7 → 51.6 s — SCALE.md §"100× scale canary");
  *  - cached-plan materialization may change its output partitioning.
  *    Without this, a `.persist` is exempt from AQE reducer coalescing
  *    and materializes its shuffles 512 wide (the round-10
  *    recsys_item_item 3.2 → 81.3 s regression; see [[Memo]]);
  *  - session time zone UTC, UI off, log level WARN.
  */
object Session {

  def local(): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
