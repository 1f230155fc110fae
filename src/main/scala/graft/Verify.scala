package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg (builder-side iteration only; the driver passes 2):
    // comma-separated query names — dump just those.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = graft.core.Session.local()
    // Clear stale per-query dumps (a renamed query's leftover directory
    // would otherwise be picked up as a rows-only result).
    val out = new java.io.File(outDir)
    if (out.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      out.listFiles().foreach(rm)
    }
    out.mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Defensive total order (all columns, nulls first) so the dumped
        // artifact is byte-stable across runs regardless of plan/partition
        // nondeterminism.
        val sorted = df.orderBy(df.columns.map(c =>
          org.apache.spark.sql.functions.col(s"`$c`").asc_nulls_first): _*)
        sorted.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Per-invocation operator scratch (Memo.ownedPersist): released
      // after each dump so a 321-gate sweep does not accumulate dead
      // persisted frames for the whole run.
      graft.core.Memo.releaseOwned(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
