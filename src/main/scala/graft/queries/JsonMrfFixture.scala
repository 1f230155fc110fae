package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Deterministic nested JSON MRF fixture fabricated from `part` — the input
  * the S4 gate feeds through a REAL file round trip (json write → multiLine
  * read → [[graft.extract.JsonExtractor]] three-level explode).
  *
  * Shape follows the reconstructed json_parser.py contract (SURVEY §0;
  * json_sampler.py:23-33): standard_charge_information[] → code_information[]
  * × standard_charges[] → payers_information[]. Every leaf value is a single
  * SQL expression over `p_partkey` written in the Spark∩DuckDB dialect, so
  * the fabrication is shared verbatim with the DuckDB oracle (the same
  * no-drift discipline as [[ChargesFixture]]). CASE arms without ELSE yield
  * NULL — the extractor's coalesce-to-"" then matches the oracle's
  * coalesce(expr, '').
  *
  * Per part row k, the expected canonical rows are
  * codes(k) × charge/payer arms(k):
  *  - code 1 survives unless its type is the unknown 'FOO' (k%3=2);
  *    code 2 (HCPCS) exists when k%5=0 (else the empty-code skip drops it);
  *  - charge entry 1 (inpatient) carries payer Aetna[A#] always and BCBS
  *    when k%2=0; charge entry 2 (outpatient, k%4=0) has NO
  *    payers_information — the explode_outer payerless-row path.
  */
object JsonMrfFixture {

  val HospitalName = "Gate General"
  val Zip = "30309"

  // ------------------------------------------------- shared leaf expressions
  val drugUnitE = "cast(p_partkey % 9 + 1 as string)"
  val drugTypeE = "CASE WHEN p_partkey % 2 = 0 THEN 'ML' END"
  val code1E = "lpad(cast(p_partkey % 100000 as string), 5, '0')"
  val ct1E = "CASE p_partkey % 3 WHEN 0 THEN 'CPT' WHEN 1 THEN 'MS-DRG' ELSE 'FOO' END"
  val code2E = "CASE WHEN p_partkey % 5 = 0 THEN lpad(cast((p_partkey * 7) % 100000 as string), 5, '0') ELSE '' END"
  val ct2E = "'HCPCS'"
  val gross1E = "cast(p_partkey % 900 + 500 as string)"
  val cash1E = "cast(p_partkey % 400 + 100 as string)"
  val min1E = "cast(p_partkey % 100 + 10 as string)"
  val max1E = "cast(p_partkey % 1000 + 1000 as string)"
  val gross2E = "cast(p_partkey % 300 + 200 as string)"
  val aetnaNameE = "concat('Aetna [A', cast(p_partkey % 9 as string), ']')"
  val aetnaMethE = "CASE WHEN p_partkey % 6 = 0 THEN 'fee schedule' END"
  val aetnaDollarE = "CASE WHEN p_partkey % 4 = 0 THEN NULL ELSE cast(p_partkey % 700 + 100 as string) END"
  val aetnaPctE = "CASE WHEN p_partkey % 13 = 0 THEN cast(p_partkey % 90 + 10 as string) END"
  val aetnaAlgoE = "CASE WHEN p_partkey % 17 = 0 THEN 'per diem' END"
  val aetnaNotesE = "CASE WHEN p_partkey % 8 = 0 THEN 'payer note' END"
  val aetnaModsE = "CASE WHEN p_partkey % 10 = 0 THEN '25, 59' END"
  val bcbsDollarE = "CASE WHEN p_partkey % 3 = 0 THEN cast(p_partkey % 800 + 50 as string) END"
  val bcbsEstE = "CASE WHEN p_partkey % 7 = 0 THEN cast(p_partkey % 300 + 20 as string) END"

  // ------------------------------------------------------- Spark side (build)

  /** The standard_charge_information ELEMENT rows (`sci` struct column,
    * one per part row) built from `part` — [[writeFixture]] renders each
    * independently and stream-assembles the single-document file. */
  def mrfFrame(part: DataFrame): DataFrame = {
    def e(s: String): Column = expr(s)
    def nullStr(name: String): Column = lit(null).cast("string").as(name)
    val p1 = struct(
      e(aetnaNameE).as("payer_name"), lit("PPO").as("plan_name"),
      e(aetnaMethE).as("methodology"), e(aetnaDollarE).as("standard_charge_dollar"),
      e(aetnaPctE).as("standard_charge_percentage"),
      e(aetnaAlgoE).as("standard_charge_algorithm"),
      nullStr("estimated_amount"), e(aetnaNotesE).as("additional_payer_notes"),
      e(aetnaModsE).as("modifiers"))
    val p2 = struct(
      lit("BCBS").as("payer_name"), lit("HMO").as("plan_name"),
      nullStr("methodology"), e(bcbsDollarE).as("standard_charge_dollar"),
      nullStr("standard_charge_percentage"), nullStr("standard_charge_algorithm"),
      e(bcbsEstE).as("estimated_amount"), nullStr("additional_payer_notes"),
      nullStr("modifiers"))
    val payers1 = when(expr("p_partkey % 2 = 0"), array(p1, p2)).otherwise(array(p1))
    val sc1 = struct(
      e(gross1E).as("gross_charge"), e(cash1E).as("discounted_cash"),
      lit("inpatient").as("setting"), e(min1E).as("minimum"),
      e(max1E).as("maximum"), payers1.as("payers_information"))
    val sc2 = struct(
      e(gross2E).as("gross_charge"), nullStr("discounted_cash"),
      lit("outpatient").as("setting"), nullStr("minimum"), nullStr("maximum"),
      // null-typed like payers1 so array(sc1, sc2) unifies; the extractor's
      // explode_outer turns this into the payerless canonical row.
      when(lit(false), payers1).as("payers_information"))
    val scs = when(expr("p_partkey % 4 = 0"), array(sc1, sc2)).otherwise(array(sc1))
    val drug = when(expr("p_partkey % 11 <> 0"),
      struct(e(drugUnitE).as("unit"), e(drugTypeE).as("type")))
    val sci = struct(
      col("p_name").as("description"), drug.as("drug_information"),
      array(struct(e(code1E).as("code"), e(ct1E).as("type")),
        struct(e(code2E).as("code"), e(ct2E).as("type"))).as("code_information"),
      scs.as("standard_charges"))
    part.select(sci.as("sci"))
  }

  /** One write per (session, sf): three gates read the fixture file, and
    * re-fabricating it per gate would triple the bench cost for no extra
    * proof (the write→read round trip is exercised once either way). */
  private val written =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  /** Write the fixture as a real single-document JSON MRF under the
    * system tmpdir (one deterministic dir per sf, overwritten once per
    * session) and return the file's path. The write→read round trip IS
    * part of what the gate proves.
    *
    * Assembly is STREAMED, the way a real MRF publisher writes its file:
    * each standard_charge_information element renders independently
    * (to_json over the sci struct — bounded row size, parallel), then
    * the driver concatenates part files between the metadata prefix and
    * the closing bracket with O(buffer) memory. The pre-r15 one-row
    * `collect_list` materialized the ENTIRE document as a single
    * UnsafeRow — ~GBs at the 100× fixture — and OOMed the 8g tight-heap
    * screen inside BufferHolder.grow before any gate logic ran; no
    * fixture scale fits a one-row representation forever. `to_json`
    * omits null fields exactly like the previous DataFrame JSON writer,
    * so the file is content-identical minus element order (which no
    * consumer observes — the extractor explodes, the oracle compares
    * unordered). */
  def writeFixture(spark: SparkSession, sfDir: String): String =
    written.computeIfAbsent((spark, sfDir), { case (s, d) =>
      import java.io.{BufferedOutputStream, File, FileOutputStream}
      import java.nio.charset.StandardCharsets.UTF_8
      val root = new File(sys.props("java.io.tmpdir"),
        "graft-json-mrf-" + new File(d).getName)
      val bodyDir = new File(root, "sci")
      mrfFrame(Tables.table(s, d, "part"))
        .select(to_json(col("sci")).as("j"))
        .write.mode("overwrite").text(bodyDir.toString)
      val out = new File(root, "mrf.json")
      val w = new BufferedOutputStream(new FileOutputStream(out), 1 << 20)
      try {
        w.write(("{\"hospital_name\":\"" + HospitalName + "\"," +
          "\"hospital_location\":\"1 Gate St, Atlanta\"," +
          "\"hospital_address\":\"Georgia\"," +
          "\"last_updated_on\":\"2024-01-01\"," +
          "\"version\":\"v2.0\"," +
          "\"standard_charge_information\":[").getBytes(UTF_8))
        var first = true
        bodyDir.listFiles().filter(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".txt")).sortBy(_.getName).foreach { pf =>
          val src = java.nio.file.Files.newBufferedReader(pf.toPath, UTF_8)
          try {
            var line = src.readLine()
            while (line != null) {
              if (line.nonEmpty) {
                if (!first) w.write(','.toInt)
                w.write(line.getBytes(UTF_8))
                first = false
              }
              line = src.readLine()
            }
          } finally src.close()
        }
        w.write("]}".getBytes(UTF_8))
      } finally w.close()
      out.getAbsolutePath
    })

  /** The fixture file's canonical rows through the program's JSON path,
    * `JsonExtractor.extractFile`. Its split lives next to the fixture it
    * splits and is kept for every later gate of the same run, like the
    * fixture itself. */
  def extractCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    val path = writeFixture(spark, sfDir)
    graft.extract.JsonExtractor.extractFile(spark, path, HospitalName, Zip,
      new java.io.File(new java.io.File(path).getParentFile, "split").getPath)._1
  }

  // ------------------------------------------------------ oracle side (SQL)

  private def norm(rawTypeExpr: String): String =
    s"CASE upper($rawTypeExpr) WHEN 'CPT' THEN 'CPT' WHEN 'MS-DRG' THEN 'DRG'" +
      " WHEN 'DRG' THEN 'DRG' WHEN 'HCPCS' THEN 'HCPCS' WHEN 'ICD' THEN 'ICD'" +
      " WHEN 'CDT' THEN 'CDT' WHEN 'NDC' THEN 'NDC' WHEN 'APC' THEN 'APC' END"

  /** The extractor's canonical output as a DuckDB SELECT over `part`, with
    * the 22 underscored [[ChargesFixture.fabricated]] column names — usable
    * both as the S4 gate oracle and as the `raw` input of the clean-pipeline
    * CTE chain (the flagship trace gate). Arms mirror the three explodes:
    * codes × (charge entry, payer) per part row. */
  def canonicalSql: String = {
    val drugUnitO = s"CASE WHEN p_partkey % 11 <> 0 THEN $drugUnitE ELSE '' END"
    val drugTypeO = s"coalesce(CASE WHEN p_partkey % 11 <> 0 THEN $drugTypeE END, '')"
    val codes =
      s"""SELECT p_partkey, p_name AS description, $code1E AS code,
         |    ${norm(ct1E)} AS code_type, $drugUnitO AS drug_unit, $drugTypeO AS drug_type
         |  FROM part WHERE ${norm(ct1E)} IS NOT NULL
         |  UNION ALL
         |  SELECT p_partkey, p_name, $code2E, 'HCPCS', $drugUnitO, $drugTypeO
         |  FROM part WHERE $code2E <> ''""".stripMargin
    val cp =
      s"""SELECT p_partkey,
         |    'Aetna' AS insurance_payer_name,
         |    concat('A', cast(p_partkey % 9 as string)) AS insurance_payer_id,
         |    'PPO' AS insurance_plan_name,
         |    coalesce($aetnaDollarE, '') AS negotiated_price,
         |    coalesce($aetnaPctE, '') AS negotiated_percentage,
         |    coalesce($aetnaAlgoE, '') AS negotiated_algorithm,
         |    coalesce($aetnaMethE, '') AS negotiated_methodology,
         |    $gross1E AS gross_charge, $cash1E AS discounted_cash_price,
         |    $min1E AS min_price, $max1E AS max_price,
         |    '' AS estimated_amount, 'inpatient' AS setting,
         |    coalesce($aetnaNotesE, '') AS additional_notes,
         |    coalesce($aetnaModsE, '') AS modifiers
         |  FROM part
         |  UNION ALL
         |  SELECT p_partkey, 'BCBS', '', 'HMO', coalesce($bcbsDollarE, ''), '', '', '',
         |    $gross1E, $cash1E, $min1E, $max1E, coalesce($bcbsEstE, ''), 'inpatient', '', ''
         |  FROM part WHERE p_partkey % 2 = 0
         |  UNION ALL
         |  SELECT p_partkey, '', '', '', '', '', '', '',
         |    $gross2E, '', '', '', '', 'outpatient', '', ''
         |  FROM part WHERE p_partkey % 4 = 0""".stripMargin
    s"""SELECT '$HospitalName' AS hospital_name, '$Zip' AS zip_code,
       |  c.code, c.code_type, c.description, c.drug_unit, c.drug_type,
       |  p.insurance_payer_name, p.insurance_payer_id, p.insurance_plan_name,
       |  p.negotiated_price, p.negotiated_percentage, p.negotiated_algorithm,
       |  p.negotiated_methodology, p.gross_charge, p.discounted_cash_price,
       |  p.min_price, p.max_price, p.estimated_amount, p.setting,
       |  p.additional_notes, p.modifiers
       |FROM ($codes) c JOIN ($cp) p ON p.p_partkey = c.p_partkey""".stripMargin
  }
}
