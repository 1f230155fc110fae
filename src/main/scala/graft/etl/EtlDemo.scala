package graft.etl

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Runnable end-to-end demo of the flagship pipeline: builds a miniature
  * base dir (registry parquet + one raw tall-CSV MRF), runs EtlPipeline,
  * prints the run result and the refreshed registry row.
  * Usage: runMain graft.etl.EtlDemo [baseDir]
  */
object EtlDemo {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse(
      Files.createTempDirectory("graft-etl-demo").toString)
    val spark = graft.core.Session.local()
    import spark.implicits._

    val system = "acme_health"
    Files.createDirectories(Paths.get(s"$base/data/raw data/$system"))
    Files.writeString(Paths.get(s"$base/data/raw data/$system/c1.csv"),
      """hospital_name,last_updated_on,version,hospital_location,hospital_address
        |General,2024-07-01,2.0.0,Atlanta,1 Main St
        |description,code|1,code|1|type,code|2,code|2|type,setting,drug_unit_of_measurement,drug_type_of_measurement,modifiers,standard_charge|gross,standard_charge|discounted_cash,payer_name,plan_name,standard_charge|negotiated_dollar,standard_charge|negotiated_percentage,standard_charge|negotiated_algorithm,standard_charge|methodology,standard_charge|min,standard_charge|max,estimated_amount,additional_generic_notes
        |Knee MRI,73721,CPT,470,MS-DRG,outpatient,,,"26, TC",250.00,200.00,Aetna [AET01],PPO,150.00,,,fee schedule,100.00,300.00,140.00,see notes
        |Blood test,85025,CPT,,,outpatient,,,,50.00,40.00,BCBS,HMO,30.00,,,other,20.00,60.00,25.00,
        |""".stripMargin)

    val registryPath = s"$base/registry"
    Seq(("c1", "Acme Health", "General Hospital", "30303", "c1.csv",
      "tall csv", "", "", 0.0, "new", "", "", "1 Main St"))
      .toDF("campus_id", "healthcare_system", "hospital_name", "zip_code",
        "raw_filename", "structure", "last_updated_on", "version",
        "transparency_score", "etl_status", "processed_by",
        "last_processed_on", "hospital_address")
      .write.mode("overwrite").parquet(registryPath)

    val res = EtlPipeline.run(spark, registryPath, "c1", base, "etl-demo")
    println(s"RESULT: $res")
    println("REGISTRY ROW AFTER RUN:")
    spark.read.parquet(registryPath).filter(col("campus_id") === "c1")
      .select("campus_id", "etl_status", "transparency_score", "version",
        "last_updated_on", "processed_by")
      .show(truncate = false)
    println("CLEAN OUTPUT:")
    spark.read.option("header", "true").csv(res.cleanedPath)
      .select("code", "code type", "insurance payer name", "insurance payer id",
        "negotiated price", "negotiated methodology")
      .show(truncate = false)
    spark.stop()
  }
}
