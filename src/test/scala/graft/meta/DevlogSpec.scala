package graft.meta

import java.nio.file.Files
import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}
import graft.SparkSpec
import graft.clean.{Cleaning, Rules}
import graft.enrich.RegistryEnricher
import graft.queries.ChargesFixture

/** Devlog roundtrip (S11/S13/L1) + registry update (S12/J4). */
class DevlogSpec extends SparkSpec {
  import spark.implicits._

  test("devlog append/latest roundtrip keeps the highest-seq entry") {
    val dir = Files.createTempDirectory("graft-devlog").toString
    val summary = Rules.summarize(Rules.tagViolations(
      Cleaning.cleanAll(ChargesFixture.charges(spark, sf("sf0.001")))))
    val meta = Devlog.metadataFromSummary(summary, duplicatesDropped = 7L)
    assert(meta.rule_violations_summary.keySet.size == 10)
    assert(meta.final_transparency_score >= 0 && meta.final_transparency_score <= 1)
    Seq(1L, 2L).foreach { seq =>
      Devlog.append(spark, dir, Devlog.DevlogEntry(
        "campus1", "1 Main St", s"v$seq", "2024-07-01",
        meta.final_transparency_score, seq, meta))
    }
    val last = Devlog.latest(spark, dir)
    assert(last.count() == 1)
    assert(last.head().getAs[String]("version") == "v2")
  }

  /** `body`'s result and the Spark jobs started while it runs. */
  private def withJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bus.drain(sc)
    sc.addSparkListener(listener)
    val result = try { val r = body; Bus.drain(sc); r } finally sc.removeSparkListener(listener)
    (result, jobs.get)
  }

  test("append writes the JSON writer's entry on the driver, through a rename") {
    val entry = Devlog.DevlogEntry("campus1", "1 Main St, Atlanta", "v1", "2024-07-01",
      0.9375, 1L, Devlog.CleaningMetadata(0.9375, 10L, 2L, 1L, 0L,
        Map("rule_1" -> 1L, "rule_2" -> 0L)))
    val viaAppend = Files.createTempDirectory("graft-devlog-append").toString
    val viaWriter = Files.createTempDirectory("graft-devlog-writer").toString + "/log"
    Devlog.entryFrame(spark, entry).write.json(viaWriter)
    assert(withJobs(Devlog.append(spark, viaAppend, entry))._2 == 0)
    val (appended, written) = (spark.read.json(viaAppend), spark.read.json(viaWriter))
    assert(appended.schema == written.schema)
    assert(appended.collect().toSeq == written.collect().toSeq)

    Devlog.append(spark, viaAppend, entry.copy(version = "v2", seq = 2L))
    val last = Devlog.latest(spark, viaAppend).head()
    assert(last.getAs[Long]("seq") == 2L && last.getAs[String]("version") == "v2")
    // Only renamed part files are left (plus the file system's hidden
    // checksums): no temporary entry is there for a reader to see.
    val names = new java.io.File(viaAppend).list().filterNot(_.startsWith("."))
    assert(names.length == 2 &&
      names.forall(n => n.startsWith("part-") && n.endsWith(".json")))
    assert(spark.read.json(viaAppend).count() == 2)
  }

  test("registry read: the footer schema is Spark's inferred schema, without a job") {
    val dir = Files.createTempDirectory("graft-registry-schema")
    val projected = dir.resolve("projected").toString
    RegistryEnricher.toRegistryProjection(RegistryEnricher.enrich(
      Seq(("grady_memorial", "Grady"), ("emory_mdtown", "Emory")).toDF("campus_id", "name"),
      Seq(("grady_memorial", "4", "30303")).toDF("campus_id", "cms_rating", "cms_zip")))
      .write.parquet(projected)
    val pipeline = dir.resolve("pipeline").toString
    Seq(("c1", "Acme Health", "General Hospital", "30303", "c1.csv", "tall csv",
        "", "", 0.0, "new", "", ""))
      .toDF("campus_id", "healthcare_system", "hospital_name", "zip_code",
        "raw_filename", "structure", "last_updated_on", "version",
        "transparency_score", "etl_status", "processed_by", "last_processed_on")
      .withColumn("hospital_address", lit("1 Main St"))
      .write.parquet(pipeline)
    // No part file at the top level: Spark's own inference, partition
    // column included.
    val partitioned = dir.resolve("partitioned").toString
    spark.read.parquet(pipeline).write.partitionBy("healthcare_system").parquet(partitioned)

    for (path <- Seq(projected, pipeline, partitioned)) {
      val inferred = spark.read.parquet(path)
      val (read, jobs) = withJobs(Devlog.readRegistry(spark, path))
      assert(read.schema == inferred.schema, path)
      assert(read.collect().toSeq == inferred.collect().toSeq, path)
      if (path != partitioned) assert(jobs == 0, path)
    }
    assert(spark.read.parquet(projected).schema.forall(_.dataType == StringType))
    assert(spark.read.parquet(pipeline).schema("transparency_score").dataType == DoubleType)

    val missing = dir.resolve("missing").toString
    val expected = intercept[AnalysisException](spark.read.parquet(missing))
    val e = intercept[AnalysisException](Devlog.readRegistry(spark, missing))
    assert(e.getCondition == expected.getCondition && e.getCondition == "PATH_NOT_FOUND")
  }

  test("registry update: matched row refreshed with devlog fallback, others untouched") {
    val registry = Seq(
      ("campus1", "2023-01-01", "v1", 0.5, "new", "", ""),
      ("campus2", "2023-01-01", "v1", 0.6, "new", "", ""))
      .toDF("campus_id", "last_updated_on", "version", "transparency_score",
        "etl_status", "processed_by", "last_processed_on")
    val devlog = Seq(("campus1", "2024-07-01", null.asInstanceOf[String], 0.925, 1L))
      .toDF("campus_id", "last_updated_on", "version", "transparency_score", "seq")
    val updated = Devlog.updateRegistry(registry, devlog, "campus1", "etl", "2026-08-12 00:00:00")
    val r1 = updated.filter(col("campus_id") === "campus1").head()
    val r2 = updated.filter(col("campus_id") === "campus2").head()
    assert(r1.getAs[String]("last_updated_on") == "2024-07-01")
    assert(r1.getAs[String]("version") == "v1") // devlog null → fallback kept
    assert(r1.getAs[Double]("transparency_score") == 0.925)
    assert(r1.getAs[String]("etl_status") == "cleaned")
    assert(r2.getAs[String]("etl_status") == "new") // untouched row
  }
}
