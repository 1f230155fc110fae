package graft.etl

import java.nio.file.{Files, Paths}
import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** End-to-end §3.1 trace over a miniature base dir: registry parquet + raw
  * tall-CSV MRF → extract → clean → devlog → registry refresh. */
class EtlPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val tallCsv =
    """hospital_name,last_updated_on,version,hospital_location,hospital_address
      |General,2024-07-01,2.0.0,Atlanta,1 Main St
      |description,code|1,code|1|type,code|2,code|2|type,setting,drug_unit_of_measurement,drug_type_of_measurement,modifiers,standard_charge|gross,standard_charge|discounted_cash,payer_name,plan_name,standard_charge|negotiated_dollar,standard_charge|negotiated_percentage,standard_charge|negotiated_algorithm,standard_charge|methodology,standard_charge|min,standard_charge|max,estimated_amount,additional_generic_notes
      |Knee MRI,73721,CPT,470,MS-DRG,outpatient,,,"26, TC",250.00,200.00,Aetna [AET01],PPO,150.00,,,fee schedule,100.00,300.00,140.00,see notes
      |Knee MRI,73721,CPT,470,MS-DRG,outpatient,,,"26, TC",250.00,200.00,Aetna [AET01],PPO,150.00,,,fee schedule,100.00,300.00,140.00,see notes
      |Blood test,85025,CPT,,,outpatient,,,,50.00,40.00,BCBS,HMO,30.00,,,other,20.00,60.00,25.00,
      |""".stripMargin

  test("full run: extract -> clean -> quarantine -> devlog -> registry refresh") {
    val base = Files.createTempDirectory("graft-etl").toString
    val system = "acme_health"
    Files.createDirectories(Paths.get(s"$base/data/raw data/$system"))
    Files.writeString(Paths.get(s"$base/data/raw data/$system/c1.csv"), tallCsv)

    val registryPath = s"$base/registry"
    Seq(
      ("c1", "Acme Health", "General Hospital", "30303", "c1.csv", "tall csv",
        "", "", 0.0, "new", "", ""),
      ("c2", "Other System", "Other", "11111", "x.csv", "json",
        "", "", 0.0, "new", "", ""))
      .toDF("campus_id", "healthcare_system", "hospital_name", "zip_code",
        "raw_filename", "structure", "last_updated_on", "version",
        "transparency_score", "etl_status", "processed_by", "last_processed_on")
      .withColumn("hospital_address", lit("1 Main St"))
      .write.parquet(registryPath)

    val res = EtlPipeline.run(spark, registryPath, "c1", base, "tester")

    // Tall explode: rows 1+2 (identical, deduped later) give 2 pairs each,
    // row 3 gives 1 pair → 5 extracted; dedup drops 2; "other" methodology
    // without notes quarantines the 85025 row (rule_4).
    assert(res.extractedRows == 5)
    assert(res.duplicatesDropped == 2)
    assert(res.violationRows == 1)
    assert(res.cleanRows == 2)
    assert(res.transparencyScore > 0.9 && res.transparencyScore < 1.0)

    // Artifacts exist where the reference layout says they should, with the
    // rows and columns of the plain dropDuplicates → tag → split path.
    val (refClean, refViolations) = graft.clean.Rules.split(graft.clean.Rules.tagViolations(
      graft.clean.Cleaning.cleanAll(spark.read.option("header", "true")
        .schema(graft.core.Schemas.canonicalIngest).csv(res.extractedPath))))
    def rows(path: String) = spark.read.option("header", "true").csv(path)
    for (((ref, path), i) <- Seq(refClean -> res.cleanedPath,
        refViolations -> res.quarantinePath).zipWithIndex) {
      val refPath = s"$base/reference-$i" // through the same CSV sink
      ref.write.option("header", "true").csv(refPath)
      assert(rows(path).columns.toSeq == ref.columns.toSeq)
      assert(rows(path).collect().map(_.toString).sorted.toSeq ==
        rows(refPath).collect().map(_.toString).sorted.toSeq)
    }

    // Registry refreshed in place: version/last_updated_on from the MRF run,
    // status flipped, other campus untouched.
    val reg = spark.read.parquet(registryPath).cache()
    try {
      val c1 = reg.filter(col("campus_id") === "c1").head()
      assert(c1.getAs[String]("etl_status") == "cleaned")
      assert(c1.getAs[Double]("transparency_score") == res.transparencyScore)
      assert(c1.getAs[String]("processed_by") == "tester")
      assert(c1.getAs[String]("version") == "2.0.0")
      assert(c1.getAs[String]("last_updated_on") == "2024-07-01")
      val c2 = reg.filter(col("campus_id") === "c2").head()
      assert(c2.getAs[String]("etl_status") == "new")

      // P9 — system filter.
      assert(EtlPipeline.systemRegistry(reg, "ACME HEALTH").count() == 1)
    } finally reg.unpersist()

    // Lake landing: the run's cleaned CSV, appended to the partitioned
    // lake, is visible through the partition-pruned read.
    val lake = s"$base/lake"
    graft.meta.Lake.writeCharges(spark.read.option("header", "true")
      .schema(graft.core.Schemas.canonicalIngest).csv(res.cleanedPath), lake, system, "c1")
    assert(graft.meta.Lake.readCampus(spark, lake, "acme_health", "c1")
      .count() == res.cleanRows)
  }

  test("unknown campus id raises the reference's lookup error") {
    val base = Files.createTempDirectory("graft-etl2").toString
    val registryPath = s"$base/registry"
    Seq(("c1", "s", "h", "z", "f", "tall csv"))
      .toDF("campus_id", "healthcare_system", "hospital_name", "zip_code",
        "raw_filename", "structure").write.parquet(registryPath)
    val e = intercept[IllegalArgumentException] {
      EtlPipeline.run(spark, registryPath, "nope", base, "t")
    }
    assert(e.getMessage.contains("not found in hospital registry"))
  }

  test("an extract with no canonical rows fails loudly") {
    val base = Files.createTempDirectory("graft-etl-empty").toString
    Files.createDirectories(Paths.get(s"$base/data/raw data/s"))
    // Only an unknown code type: every pair is rejected.
    Files.writeString(Paths.get(s"$base/data/raw data/s/c1.csv"),
      tallCsv.replace("CPT", "FOO").replace("MS-DRG", "FOO"))
    val registryPath = s"$base/registry"
    Seq(("c1", "s", "h", "z", "c1.csv", "tall csv"))
      .toDF("campus_id", "healthcare_system", "hospital_name", "zip_code",
        "raw_filename", "structure").write.parquet(registryPath)
    val e = intercept[IllegalArgumentException] {
      EtlPipeline.run(spark, registryPath, "c1", base, "t")
    }
    assert(e.getMessage.contains("0 canonical rows"))

    // The JSON path: a whitespace-only MRF has no root object, and an MRF
    // without standard_charge_information extracts no rows.
    Files.writeString(Paths.get(s"$base/data/raw data/s/blank.json"), "  \n ")
    Files.writeString(Paths.get(s"$base/data/raw data/s/no-charges.json"),
      """{ "hospital_name": "h", "version": "3.0.0" }""")
    val jsonRegistry = s"$base/json-registry"
    Seq(("j1", "s", "h", "z", "blank.json", "json"),
        ("j2", "s", "h", "z", "no-charges.json", "json"))
      .toDF("campus_id", "healthcare_system", "hospital_name", "zip_code",
        "raw_filename", "structure").write.parquet(jsonRegistry)
    for ((id, message) <- Seq("j1" -> "MRF root must be a JSON object",
        "j2" -> "Extraction produced 0 canonical rows")) {
      val e = intercept[IllegalArgumentException] {
        EtlPipeline.run(spark, jsonRegistry, id, base, "t")
      }
      assert(e.getMessage.contains(message), id)
      assert(!Files.exists(Paths.get(s"$base/data/scratch/s/${id}_mrf_split")), id)
    }
  }

  test("a campus run that fails after caching releases its cached frames") {
    val base = Files.createTempDirectory("graft-etl-fail").toString
    val system = "acme_health"
    Files.createDirectories(Paths.get(s"$base/data/raw data/$system"))
    Files.writeString(Paths.get(s"$base/data/raw data/$system/c1.csv"), tallCsv)
    val registryPath = s"$base/registry"
    Seq(("c1", "Acme Health", "General Hospital", "30303", "c1.csv", "tall csv"))
      .toDF("campus_id", "healthcare_system", "hospital_name", "zip_code",
        "raw_filename", "structure").write.parquet(registryPath)
    // The quarantine write comes after the rule frame is materialized and
    // the clean write has run; a regular file where its parent directory
    // belongs makes it throw.
    Files.createDirectories(Paths.get(s"$base/data/logs"))
    Files.writeString(Paths.get(s"$base/data/logs/rules violations"), "not a directory")
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception] {
      EtlPipeline.run(spark, registryPath, "c1", base, "t")
    }
    assert(Files.exists(Paths.get(s"$base/data/cleaned data/$system/c1_cleaned")))
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  private val wideCsv =
    """hospital_name,last_updated_on,version,hospital_location,hospital_address
      |General,2024-07-01,2.0.0,Atlanta,1 Main St
      |description,code|1,code|1|type,setting,drug_unit_of_measurement,drug_type_of_measurement,modifiers,standard_charge|gross,standard_charge|discounted_cash,standard_charge|min,standard_charge|max,additional_generic_notes,standard_charge|Aetna|PPO|negotiated_dollar,standard_charge|Aetna|PPO|methodology
      |Knee MRI,73721,CPT,outpatient,,,,250.00,200.00,100.00,300.00,,150.00,fee schedule
      |""".stripMargin

  private val jsonMrf =
    """{ "hospital_name": "General", "hospital_address": "2 Oak St",
      |  "last_updated_on": "2024-08-01", "version": "3.0.0",
      |  "standard_charge_information": [
      |    { "description": "MRI",
      |      "code_information": [ {"code": "73721", "type": "CPT"} ],
      |      "standard_charges": [
      |        { "gross_charge": 100.0, "discounted_cash": 80.0, "setting": "outpatient",
      |          "minimum": 50.0, "maximum": 150.0,
      |          "payers_information": [
      |            { "payer_name": "Aetna", "plan_name": "PPO",
      |              "methodology": "fee schedule", "standard_charge_dollar": 90.0 } ] } ] } ] }
      |""".stripMargin

  test("job budget: one campus run per structure, and a successful run caches nothing") {
    val base = Files.createTempDirectory("graft-etl-jobs").toString
    val system = "budget_sys"
    Files.createDirectories(Paths.get(s"$base/data/raw data/$system"))
    Files.writeString(Paths.get(s"$base/data/raw data/$system/t1.csv"), tallCsv)
    Files.writeString(Paths.get(s"$base/data/raw data/$system/w1.csv"), wideCsv)
    Files.writeString(Paths.get(s"$base/data/raw data/$system/j1.json"), jsonMrf)
    val registryPath = s"$base/registry"
    Seq(("t1", "t1.csv", "tall csv"), ("w1", "w1.csv", "wide csv"), ("j1", "j1.json", "json"))
      .map { case (id, file, structure) => (id, "Budget Sys", "H", "30303", file,
        structure, "", "", 0.0, "new", "", "", "1 Main St") }
      .toDF("campus_id", "healthcare_system", "hospital_name", "zip_code",
        "raw_filename", "structure", "last_updated_on", "version",
        "transparency_score", "etl_status", "processed_by",
        "last_processed_on", "hospital_address")
      .write.parquet(registryPath)

    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val cached = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    val counts = try Seq("tall csv" -> "t1", "wide csv" -> "w1", "json" -> "j1").map {
      case (structure, id) =>
        Bus.drain(sc)
        jobs.set(0)
        EtlPipeline.run(spark, registryPath, id, base, "t")
        Bus.drain(sc)
        structure -> jobs.get
    }.toMap finally sc.removeSparkListener(listener)
    // Per run, on every structure: the registry collect (1; its schema
    // comes from a parquet footer on the driver); the extract write (1, a
    // narrow plan, the CSV header read on the driver); the dedup's map
    // stage (1); the clean write, which also yields the rule summary, and
    // the quarantine write, both over that shuffle output (2); the registry
    // write (1). The devlog entry is written on the driver. Nothing runs
    // only to count, and nothing is cached.
    assert(counts == Map("tall csv" -> 6, "wide csv" -> 6, "json" -> 6))
    assert(sc.getPersistentRDDs.keySet == cached)
    assert(!Files.exists(Paths.get(s"$base/data/scratch/$system/j1_mrf_split")))
  }

  test("wide-csv and json structures dispatch end-to-end; runSystem batches a system") {
    val base = Files.createTempDirectory("graft-etl3").toString
    val system = "multi_sys"
    Files.createDirectories(Paths.get(s"$base/data/raw data/$system"))
    Files.writeString(Paths.get(s"$base/data/raw data/$system/w1.csv"), wideCsv)
    Files.writeString(Paths.get(s"$base/data/raw data/$system/j1.json"), jsonMrf)
    val registryPath = s"$base/registry"
    Seq(
      ("w1", "Multi Sys", "Wide Hosp", "30301", "w1.csv", "wide csv",
        "", "", 0.0, "new", "", "", "1 Main St"),
      ("j1", "Multi Sys", "Json Hosp", "30302", "j1.json", "json",
        "", "", 0.0, "new", "", "", "2 Oak St"))
      .toDF("campus_id", "healthcare_system", "hospital_name", "zip_code",
        "raw_filename", "structure", "last_updated_on", "version",
        "transparency_score", "etl_status", "processed_by",
        "last_processed_on", "hospital_address")
      .write.parquet(registryPath)

    val results = EtlPipeline.runSystem(spark, registryPath, "multi sys", base, "t")
    assert(results.map(_.structure).toSet == Set("wide csv", "json"))
    assert(results.forall(r => r.extractedRows > 0 && r.cleanRows > 0))
    val reg = spark.read.parquet(registryPath)
    assert(reg.filter(col("etl_status") === "cleaned").count() == 2)
    // json devlog metadata came from the MRF top level
    val j1 = reg.filter(col("campus_id") === "j1").head()
    assert(j1.getAs[String]("version") == "3.0.0")
    assert(j1.getAs[String]("last_updated_on") == "2024-08-01")
  }
}
