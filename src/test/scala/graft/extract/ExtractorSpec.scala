package graft.extract

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** File-fixture tests for the three extractors (FIXTURES.md §2.2-2.4). */
class ExtractorSpec extends SparkSpec {

  private def write(name: String, content: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-$name")
    Files.writeString(p, content)
    p.toString
  }

  test("S2 metadata transpose: first two lines become key→value map") {
    val p = write("meta.csv",
      """hospital_name,last_updated_on,version,hospital_location,hospital_address
        |General,2024-07-01,2.0.0,"Atlanta, GA","1 Main St, Atlanta, GA 30303"
        |description,code|1
        |x,12345
        |""".stripMargin)
    val m = MrfCsv.readMetadata(spark, p)
    assert(m("version") == "2.0.0")
    assert(m("hospital_location") == "Atlanta, GA")
    assert(m("hospital_address") == "1 Main St, Atlanta, GA 30303")

    // A quoted comma next to an escaped quote, read through a directory
    // (its first file holds the metadata) and through a gzip codec.
    val dir = Files.createTempDirectory("graft-meta-dir")
    val quoted = "hospital_name,version,hospital_address\n" +
      "\"St. Mary's, \"\"North\"\"\",3.1,\"9 Elm St, Macon\"\ndescription\nx\n"
    Files.writeString(dir.resolve("a.csv"), quoted)
    val gz = dir.resolveSibling(dir.getFileName.toString + ".csv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    try out.write(quoted.getBytes("UTF-8")) finally out.close()
    for (path <- Seq(dir.toString, gz.toString)) {
      val q = MrfCsv.readMetadata(spark, path)
      assert(q == Map("hospital_name" -> "St. Mary's, \"North\"", "version" -> "3.1",
        "hospital_address" -> "9 Elm St, Macon"))
    }
  }

  private val tallCsv =
    """hospital_name,last_updated_on,version,hospital_location,hospital_address
      |General,2024-07-01,2.0.0,Atlanta,1 Main St
      |description,code|1,code|1|type,code|2,code|2|type,setting,drug_unit_of_measurement,drug_type_of_measurement,modifiers,standard_charge|gross,standard_charge|discounted_cash,payer_name,plan_name,standard_charge|negotiated_dollar,standard_charge|negotiated_percentage,standard_charge|negotiated_algorithm,standard_charge|methodology,standard_charge|min,standard_charge|max,estimated_amount,additional_generic_notes
      |Knee MRI,73721,CPT,470,MS-DRG,outpatient,,,"26, TC",250.00,200.00,Aetna [AET01],PPO,150.00,,,fee schedule,100.00,300.00,140.00,see notes
      |Blood test,85025,CPT,,,outpatient,,,,50.00,40.00,BCBS,HMO,30.00,,,fee schedule,20.00,60.00,25.00,
      |Mystery,99999,FOO,,,inpatient,,,,10.00,,Cigna,EPO,,,,,,,,
      |""".stripMargin

  test("tall extract: pair explode, MS-DRG normalization, payer split, unknown type rejected") {
    val p = write("tall.csv", tallCsv)
    val out = TallExtractor.extractFile(spark, p, "General", "30303").cache()
    assert(out.columns.toSeq == graft.core.Schemas.CanonicalColumns)
    val rows = out.collect().map(r => (r.getString(2), r.getString(3),
      r.getString(7), r.getString(8), r.getString(10)))
    // row1 → 2 pairs (CPT + MS-DRG→DRG); row2 → 1 pair; row3 → FOO rejected.
    assert(rows.length == 3)
    assert(rows.contains(("73721", "CPT", "Aetna", "AET01", "150.00")))
    assert(rows.contains(("470", "DRG", "Aetna", "AET01", "150.00")))
    assert(rows.contains(("85025", "CPT", "BCBS", "", "30.00")))
  }

  test("tall side aggregations: modifier counts and field presence") {
    val p = write("tall.csv", tallCsv)
    val body = MrfCsv.readBody(spark, p)
    val mods = TallExtractor.modifierCounts(body).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mods == Map("26" -> 1L, "TC" -> 1L))
    val canonical = TallExtractor.extract(body, "General", "30303")
    val pres = TallExtractor.fieldPresence(canonical).head()
    assert(pres.getAs[Long]("hospital name") == 3L)
    assert(pres.getAs[Long]("negotiated percentage") == 0L)
    assert(pres.getAs[Long]("insurance payer id") == 2L) // AET01 on 2 rows
  }

  private val wideCsv =
    """hospital_name,last_updated_on,version,hospital_location,hospital_address
      |General,2024-07-01,2.0.0,Atlanta,1 Main St
      |description,code|1,code|1|type,setting,drug_unit_of_measurement,drug_type_of_measurement,modifiers,standard_charge|gross,standard_charge|discounted_cash,standard_charge|min,standard_charge|max,additional_generic_notes,standard_charge|Aetna|PPO|negotiated_dollar,standard_charge|Aetna|PPO|methodology,additional_payer_notes|Aetna|PPO,standard_charge|BCBS|HMO|negotiated_dollar,standard_charge|BCBS|HMO|estimated_amount
      |Knee MRI,73721,CPT,outpatient,,,,250.00,200.00,100.00,300.00,generic note,150.00,fee schedule,payer note,,
      |Blood test,85025,CPT,outpatient,,,,50.00,40.00,20.00,60.00,,30.00,per diem,,25.00,22.00
      |Knee MRI,73721,CPT,outpatient,,,,260.00,210.00,110.00,310.00,,151.00,case rate,,,
      |""".stripMargin

  test("wide extract: column classify, melt, re-pivot per source row, notes merge") {
    val p = write("wide.csv", wideCsv)
    val cls = WideExtractor.classifyColumns(MrfCsv.readBody(spark, p).columns.toSeq)
    assert(cls.map(_.field).toSet ==
      Set("negotiated_dollar", "methodology", "additional_payer_notes", "estimated_amount"))
    assert(cls.exists(c => c.payer == "Aetna" && c.plan == "PPO"))

    val out = WideExtractor.extractFile(spark, p, "General", "30303").cache()
    assert(out.columns.toSeq == graft.core.Schemas.CanonicalColumns)
    val rows = out.collect().map(r => (r.getString(2), r.getString(7),
      r.getString(10), r.getString(13), r.getString(20))).toSet
    // Two "Knee MRI" source rows with the same (code, payer, plan) stay separate.
    assert(rows.contains(("73721", "Aetna", "150.00", "fee schedule", "generic note, payer note")))
    assert(rows.contains(("73721", "Aetna", "151.00", "case rate", "")))
    // Blood test row melts two payers; empty cells skipped.
    assert(rows.contains(("85025", "Aetna", "30.00", "per diem", "")))
    assert(rows.contains(("85025", "BCBS", "25.00", "", "")))
    assert(out.count() == 4)
  }

  private val wideOverrideCsv =
    """hospital_name,last_updated_on,version,hospital_location,hospital_address
      |General,2024-07-01,2.0.0,Atlanta,1 Main St
      |description,code|1,code|1|type,code|2,code|2|type,code|3,code|3|type,standard_charge|Aetna|PPO|negotiated_dollar,negotiated_dollar|Aetna|PPO,standard_charge|Aetna|PPO|methodology,standard_charge|Cigna|EPO|negotiated_dollar,additional_payer_notes|Cigna|EPO,additional_generic_notes
      |dup pair,470,MS-DRG,470,drg,471,FOO,10.00,11.00,m1,20.00,,g
      |later empty,99,CPT,,,,,10.00,,m2,,n,
      |no payers,98,CPT,,,,,,,,,,
      |empty code,,CPT,97,,,,5.00,,,,,
      |same code two types,55,CPT,55,HCPCS,,,1.00,2.00,,3.00,cn,gn
      |""".stripMargin

  test("wide extract: later non-empty column wins, pairs merge per (code, type), empty groups drop") {
    val p = write("wide-override.csv", wideOverrideCsv)
    val out = WideExtractor.extractFile(spark, p, "General", "30303")
    assert(out.columns.toSeq == graft.core.Schemas.CanonicalColumns)
    val rows = out.collect().map(r => (r.getString(2), r.getString(3), r.getString(7),
      r.getString(9), r.getString(10), r.getString(13), r.getString(20))).toSeq.sorted
    // 470 under MS-DRG and drg is one DRG pair; FOO is rejected. A later
    // non-empty column overrides an earlier one, a later empty one does not.
    // A row with no payer cell or no complete kept pair gives no rows.
    assert(rows == Seq(
      ("470", "DRG", "Aetna", "PPO", "11.00", "m1", "g"),
      ("470", "DRG", "Cigna", "EPO", "20.00", "", "g"),
      ("55", "CPT", "Aetna", "PPO", "2.00", "", "gn"),
      ("55", "CPT", "Cigna", "EPO", "3.00", "", "gn, cn"),
      ("55", "HCPCS", "Aetna", "PPO", "2.00", "", "gn"),
      ("55", "HCPCS", "Cigna", "EPO", "3.00", "", "gn, cn"),
      ("99", "CPT", "Aetna", "PPO", "10.00", "m2", ""),
      ("99", "CPT", "Cigna", "EPO", "", "", "n")))
  }

  test("wide extract: a payer or plan name with dots is one column, not a struct path") {
    val p = write("wide-dotted.csv",
      """hospital_name,last_updated_on,version,hospital_location,hospital_address
        |General,2024-07-01,2.0.0,Atlanta,1 Main St
        |description,code|1,code|1|type,standard_charge|United Ins. Co.|PPO|negotiated_dollar,standard_charge|United Ins. Co.|PPO|methodology,standard_charge|Aetna|P.P.O.|negotiated_dollar
        |Knee MRI,73721,CPT,150.00,fee schedule,140.00
        |Blood test,85025,CPT,30.00,,
        |""".stripMargin)
    val out = WideExtractor.extractFile(spark, p, "General", "30303")
    val rows = out.collect().map(r => (r.getString(2), r.getString(3), r.getString(7),
      r.getString(9), r.getString(10), r.getString(13))).toSeq.sorted
    assert(rows == Seq(
      ("73721", "CPT", "Aetna", "P.P.O.", "140.00", ""),
      ("73721", "CPT", "United Ins. Co.", "PPO", "150.00", "fee schedule"),
      ("85025", "CPT", "United Ins. Co.", "PPO", "30.00", "")))
  }

  private val jsonMrf =
    """{ "hospital_name": "General", "hospital_location": "Atlanta",
      |  "hospital_address": "1 Main St, Atlanta, GA 30303",
      |  "last_updated_on": "2024-07-01", "version": "2.0.0",
      |  "standard_charge_information": [
      |    { "description": "Knee MRI",
      |      "code_information": [ {"code": "73721", "type": "CPT"},
      |                            {"code": "470", "type": "MS-DRG"},
      |                            {"code": "X", "type": "FOO"} ],
      |      "standard_charges": [
      |        { "gross_charge": 250.0, "discounted_cash": 200.0, "setting": "outpatient",
      |          "minimum": 100.0, "maximum": 300.0,
      |          "payers_information": [
      |            { "payer_name": "Aetna [AET01]", "plan_name": "PPO",
      |              "methodology": "fee schedule", "standard_charge_dollar": 150.0,
      |              "additional_payer_notes": "pn" },
      |            { "payer_name": "BCBS", "plan_name": "HMO",
      |              "methodology": "per diem", "estimated_amount": 90.5 } ] },
      |        { "gross_charge": 260.0, "discounted_cash": 210.0, "setting": "inpatient" } ] } ] }
      |""".stripMargin

  test("json extract: 3-level explode, type normalization, payer split, numeric→string") {
    val p = write("mrf.json", jsonMrf)
    val (frame, meta) = JsonExtractor.extractFile(spark, p, "General", "30303",
      Files.createTempDirectory("graft-split").resolve("split").toString)
    val out = frame.cache()
    assert(out.columns.toSeq == graft.core.Schemas.CanonicalColumns)
    // 2 valid codes × (1 charge × 2 payers + 1 payerless charge) = 6 rows
    // (FOO rejected; payerless charges keep their gross/cash with "" payer).
    assert(out.count() == 6)
    val rows = out.collect().map(r => (r.getString(2), r.getString(3),
      r.getString(7), r.getString(8), r.getString(10), r.getString(18))).toSet
    assert(rows.contains(("73721", "CPT", "Aetna", "AET01", "150.0", "")))
    assert(rows.contains(("470", "DRG", "BCBS", "", "", "90.5")))
    assert(rows.contains(("73721", "CPT", "", "", "", "")))
    val payerless = out.filter(col("insurance payer name") === "" &&
      col("code") === "470").head()
    assert(payerless.getAs[String]("gross charge") == "260.0")
    assert(meta("version") == "2.0.0" && meta("hospital_name") == "General")
  }

  test("S5 schema explorer lists nested key paths with types") {
    val p = write("mrf.json", jsonMrf)
    val paths = graft.util.SchemaExplorer.exploreJsonFile(spark, p).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(paths("hospital_name") == "string")
    assert(paths("standard_charge_information") == "array")
    assert(paths.contains("standard_charge_information.item.code_information.item.code"))
  }

  test("readBody over a directory drops metadata lines per file, not just globally") {
    val dir = Files.createTempDirectory("graft-multi").toString
    Files.writeString(Paths.get(s"$dir/a.csv"), tallCsv)
    Files.writeString(Paths.get(s"$dir/b.csv"), tallCsv)
    val body = MrfCsv.readBody(spark, dir)
    // 3 data rows per file; metadata lines of BOTH files must be gone.
    assert(body.count() == 6)
    assert(body.filter(col("description") === "hospital_name").count() == 0)
    assert(body.filter(col("description") === "General").count() == 0)
  }

  private def gzip(name: String, content: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-$name")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
    try out.write(content.getBytes("UTF-8")) finally out.close()
    p.toString
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("readBody names columns as csv(Dataset) with header=true does and drops every header repeat") {
    import spark.implicits._
    val header = "description,code,code,,Code,setting"
    val body = Seq(
      "Knee MRI,73721,470,x,y,outpatient",
      header, // byte-identical to the header: dropped
      "Blood test,85025,,,z,inpatient",
      " ",
      "\"description\",code,code,,Code,setting") // not byte-identical: a row
    val p = write("dup-header.csv",
      ("k1,k2" +: "v1,v2" +: header +: body).mkString("\n") + "\n")
    val ref = spark.read.option("header", "true").csv((header +: body).toDS())
    val got = MrfCsv.readBody(spark, p)
    assert(got.columns.toSeq == ref.columns.toSeq)
    assert(got.columns.distinct.length == 6 && !got.columns.contains(""))
    assert(sortedRows(got) == sortedRows(ref))
    assert(got.count() == 3)
    assert(got.filter(col(got.columns.head) === "description").count() == 1)
  }

  test("readBody gives a CRLF and a gzip MRF the rows of the LF file") {
    val lf = MrfCsv.readBody(spark, write("lf.csv", tallCsv))
    val expected = sortedRows(lf)
    assert(lf.select("description").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("Blood test", "Knee MRI", "Mystery"))
    val crlf = tallCsv.replace("\n", "\r\n")
    for (p <- Seq(write("crlf.csv", crlf), gzip("lf.csv.gz", tallCsv),
        gzip("crlf.csv.gz", crlf))) {
      val got = MrfCsv.readBody(spark, p)
      assert(got.columns.toSeq == lf.columns.toSeq, p)
      assert(sortedRows(got) == expected, p)
    }
  }

  test("readBody drops a first metadata line longer than a split") {
    val keys = (1 to 40).map(i => s"metadata_key_$i")
    val mrf = keys.mkString(",") + "\n" + keys.indices.map(i => s"v$i").mkString(",") +
      "\ndescription,code|1\nKnee MRI,73721\nBlood test,85025\n"
    assert(keys.mkString(",").length > mrf.length / spark.sparkContext.defaultParallelism)
    val body = MrfCsv.readBody(spark, write("long-meta.csv", mrf))
    assert(body.columns.toSeq == Seq("description", "code|1"))
    assert(sortedRows(body) == Seq("[Blood test,85025]", "[Knee MRI,73721]"))
  }

  test("empty/malformed JSON MRF fails loudly instead of extracting nothing") {
    val p = write("empty.json", "   ")
    val e = intercept[IllegalArgumentException] {
      JsonExtractor.metadata(JsonExtractor.readMrf(spark, p))
    }
    assert(e.getMessage.contains("zero rows"))
  }

  /** Numeric tokens whose text a number round trip changes, a 20-digit
    * integer code and a non-ASCII description. */
  private val numericMrf =
    """{ "hospital_name": "General", "version": 2.10,
      |  "standard_charge_information": [
      |    { "description": "Café MRI",
      |      "code_information": [ {"code": 12345678901234567890, "type": "CPT"},
      |                            {"code": 470, "type": "MS-DRG"} ],
      |      "standard_charges": [
      |        { "gross_charge": 12.10, "discounted_cash": 100.50, "setting": "outpatient",
      |          "minimum": 1e3, "maximum": 1.5E2,
      |          "payers_information": [
      |            { "payer_name": "Aetna", "plan_name": "PPO",
      |              "standard_charge_dollar": 100.50, "standard_charge_percentage": 1.5E2,
      |              "estimated_amount": 1e3 } ] } ] } ] }
      |""".stripMargin

  /** A CMS v2-shaped header: array address and location, an object
    * affirmation, and metadata after the charge array; a charge item's
    * modifiers are an array over two lines. */
  private val cmsV2Mrf =
    """{ "hospital_name": "General",
      |  "hospital_address": ["1 Main St", "Atlanta, GA"],
      |  "hospital_location": [ "Main Campus",
      |                         "East Wing" ],
      |  "affirmation": { "affirmation": "To the best of its knowledge",
      |                   "confirm_affirmation": true, "codes": [1, 2.50] },
      |  "standard_charge_information": [
      |    { "description": "Knee MRI",
      |      "code_information": [ {"code": "73721", "type": "CPT"} ],
      |      "standard_charges": [ { "gross_charge": 250.00, "setting": "outpatient",
      |        "payers_information": [ { "payer_name": "Aetna", "modifiers": [ "26",
      |                                                                     "TC" ] } ] } ] } ],
      |  "last_updated_on": "2024-07-01", "version": "2.0.0" }
      |""".stripMargin

  test("the program's JSON path gives the multiLine read's rows and metadata") {
    // extractFile (one streamed split, at every file size) against the
    // whole-document multiLine read: the same canonical rows and the same
    // devlog metadata, also for a JSON null scalar (""), and for numbers
    // and arrays in string fields, which keep their source text (not a
    // re-rendered number, whitespace included). The split lives only in the caller's scratch
    // directory, nothing is left under java.io.tmpdir, and the scratch is
    // gone once removed.
    val fixture = graft.queries.JsonMrfFixture.writeFixture(spark, sf("sf0.001"))
    val nullVersion = write("mrf-null-version.json",
      jsonMrf.replace("\"version\": \"2.0.0\"", "\"version\": null"))
    val numeric = write("mrf-numeric.json", numericMrf)
    val cmsV2 = write("mrf-cms-v2.json", cmsV2Mrf)
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def tmpSplits = tmp.list().filter(_.startsWith("graft-mrf-split-")).toSet
    val splitsBefore = tmpSplits
    val scratchRoot = Files.createTempDirectory("graft-split-scratch")
    val got = Seq(fixture, nullVersion, numeric, cmsV2).zipWithIndex.map { case (p, i) =>
      val scratch = scratchRoot.resolve(s"split-$i")
      val mrf = JsonExtractor.readMrf(spark, p)
      val (frame, meta) = JsonExtractor.extractFile(spark, p, "H", "Z", scratch.toString)
      val rows = frame.collect().toSeq
      assert(rows.nonEmpty, p)
      assert(rows.map(_.toString).sorted ==
        JsonExtractor.extract(mrf, "H", "Z").collect().map(_.toString).sorted.toSeq, p)
      assert(meta.keySet == JsonExtractor.MetadataKeys.toSet, p)
      assert(meta == JsonExtractor.metadata(mrf), p)
      assert(Files.exists(scratch.resolve("sci.jsonl")), p)
      p -> (rows, meta)
    }.toMap
    assert(got(nullVersion)._2("version") == "")

    val (numericRows, numericMeta) = got(numeric)
    assert(numericMeta("version") == "2.10")
    assert(numericRows.map(r => (r.getAs[String]("code"), r.getAs[String]("code type"),
      r.getAs[String]("description"), r.getAs[String]("gross charge"),
      r.getAs[String]("discounted cash price"), r.getAs[String]("min price"),
      r.getAs[String]("max price"), r.getAs[String]("negotiated price"),
      r.getAs[String]("negotiated percentage"), r.getAs[String]("estimated amount")))
      .sortBy(_._1) == Seq(
        ("12345678901234567890", "CPT", "Café MRI", "12.10", "100.50", "1e3", "1.5E2",
          "100.50", "1.5E2", "1e3"),
        ("470", "DRG", "Café MRI", "12.10", "100.50", "1e3", "1.5E2",
          "100.50", "1.5E2", "1e3")))

    val (cmsRows, cmsMeta) = got(cmsV2)
    def twoLines(text: String, first: String, second: String) =
      text.startsWith(s"[ $first,\n") && text.endsWith(s" $second ]") &&
        text.count(_ == '\n') == 1
    assert(cmsMeta - "hospital_location" == Map("hospital_name" -> "General",
      "hospital_address" -> """["1 Main St", "Atlanta, GA"]""",
      "last_updated_on" -> "2024-07-01", "version" -> "2.0.0"))
    assert(twoLines(cmsMeta("hospital_location"), "\"Main Campus\"", "\"East Wing\""))
    assert(cmsRows.map(_.getAs[String]("gross charge")) == Seq("250.00"))
    assert(twoLines(cmsRows.head.getAs[String]("modifiers"), "\"26\"", "\"TC\""))

    assert(tmpSplits == splitsBefore)
    val walked = Files.walk(scratchRoot)
    try walked.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally walked.close()
    assert(!Files.exists(scratchRoot))
  }

  test("PERMISSIVE malformed ingest: quarantine classes, counts, and parsed-field retention") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("code", StringType),
      StructField("qty", IntegerType), StructField("price", DoubleType)))
    // one line per class: clean / short / long / unconvertible field
    val csv = write("mal.csv",
      """A,1,1.5
        |B,2
        |C,3,3.5,EXTRA
        |D,zz,4.5
        |""".stripMargin)
    val rows = MalformedIngest.readCsvPermissive(spark, csv, schema)
      .collect().map(r => (r.getString(0),
        Option(r.get(1)), Option(r.get(2)),
        r.getString(3) != null)).sortBy(_._1).toSeq
    assert(rows == Seq(
      ("A", Some(1), Some(1.5), false),  // clean: not quarantined
      ("B", Some(2), None, true),        // short: prefix kept, padded null
      ("C", Some(3), Some(3.5), true),   // long: extra token dropped
      ("D", None, Some(4.5), true)))     // bad field: later fields kept
    val (clean, quarantine) = MalformedIngest.quarantineSplit(
      MalformedIngest.readCsvPermissive(spark, csv, schema))
    assert(clean.count() == 1 && quarantine.count() == 3)
    // the quarantine retains the raw line, whole
    assert(quarantine.select(col(MalformedIngest.CorruptCol)).collect()
      .map(_.getString(0)).sorted.toSeq == Seq("B,2", "C,3,3.5,EXTRA", "D,zz,4.5"))

    val jl = write("mal.jsonl",
      """{"code":"A","qty":1,"price":1.5}
        |{"code":"B","qty":2,
        |not json at all
        |{"code":"D","qty":4,"price":4.5}
        |""".stripMargin)
    val j = MalformedIngest.readJsonPermissive(spark, jl, schema)
    val (jc, jq) = MalformedIngest.quarantineSplit(j)
    assert(jc.count() == 2 && jq.count() == 2)
    // corrupt JSON rows null every schema field
    assert(jq.filter(col("code").isNotNull || col("qty").isNotNull ||
      col("price").isNotNull).count() == 0)
  }
}
