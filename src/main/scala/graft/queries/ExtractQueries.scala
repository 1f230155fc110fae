package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables.table
import graft.extract.{TallExtractor, WideExtractor}

/** Correctness-gate queries driving the REAL extractor library (U1-U3, P7,
  * P8, P11, F1, F12, J3) over wide/tall-shaped frames fabricated from `part`
  * with dialect-neutral expressions mirrored in the DuckDB oracles.
  */
object ExtractQueries {

  def family: QueryFamily = QueryFamily("extract", queries, oracles)

  // Fabricated cell expressions (valid in both engines, integer-derived).
  private val codeE = "lpad(cast(p_partkey % 100000 as string), 5, '0')"
  private val ctE = "CASE p_partkey % 3 WHEN 0 THEN 'CPT' WHEN 1 THEN 'MS-DRG' ELSE 'FOO' END"
  private val code2E = "CASE WHEN p_partkey % 5 = 0 THEN lpad(cast((p_partkey * 7) % 100000 as string), 5, '0') ELSE '' END"
  private val ct2E = "'HCPCS'"
  private val payerE = "CASE WHEN p_partkey % 2 = 0 THEN concat('Aetna [A', cast(p_partkey % 9 as string), ']') ELSE 'BCBS' END"
  private val aetnaDollarE = "CASE WHEN p_partkey % 4 = 0 THEN '' ELSE cast(p_partkey % 700 + 100 as string) END"
  private val aetnaMethE = "CASE WHEN p_partkey % 6 = 0 THEN 'fee schedule' ELSE '' END"
  private val aetnaNotesE = "CASE WHEN p_partkey % 8 = 0 THEN 'payer note' ELSE '' END"
  private val bcbsDollarE = "CASE WHEN p_partkey % 3 = 0 THEN cast(p_partkey % 800 + 50 as string) ELSE '' END"
  private val bcbsEstE = "CASE WHEN p_partkey % 7 = 0 THEN cast(p_partkey % 300 + 20 as string) ELSE '' END"
  private val genericNotesE = "CASE WHEN p_partkey % 2 = 0 THEN 'generic' ELSE '' END"
  private val grossE = "cast(p_partkey % 900 + 500 as string)"

  /** The tall-shaped fabricated body shared by the tall-path gates. */
  private def tallBody(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part").select(
      col("p_name").as("description"),
      expr(codeE).as("code|1"), expr(ctE).as("code|1|type"),
      expr(code2E).as("code|2"), expr(ct2E).as("code|2|type"),
      lit("outpatient").as("setting"),
      expr(payerE).as("payer_name"),
      lit("PPO").as("plan_name"),
      expr(aetnaDollarE).as("standard_charge|negotiated_dollar"),
      expr(grossE).as("standard_charge|gross"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Tall path: pair explode + normalization + payer bracket split (U1).
    "extract_tall_canonical" -> ((s, dir) => {
      val body = tallBody(s, dir)
      TallExtractor.extract(body, "General", "30303")
        .select(col("code"), col("code type").as("code_type"),
          col("description"),
          col("insurance payer name").as("payer_name"),
          col("insurance payer id").as("payer_id"),
          col("negotiated price").as("negotiated_price"),
          col("gross charge").as("gross_charge"))
    }),

    // Wide path: header payer groups, pair × group explode, notes merge (U2/U3).
    "extract_wide_canonical" -> ((s, dir) => {
      val body = table(s, dir, "part").select(
        col("p_name").as("description"),
        expr(codeE).as("code|1"), expr(ctE).as("code|1|type"),
        lit("inpatient").as("setting"),
        expr(grossE).as("standard_charge|gross"),
        expr(genericNotesE).as("additional_generic_notes"),
        expr(aetnaDollarE).as("standard_charge|Aetna|PPO|negotiated_dollar"),
        expr(aetnaMethE).as("standard_charge|Aetna|PPO|methodology"),
        expr(aetnaNotesE).as("additional_payer_notes|Aetna|PPO"),
        expr(bcbsDollarE).as("standard_charge|BCBS|HMO|negotiated_dollar"),
        expr(bcbsEstE).as("standard_charge|BCBS|HMO|estimated_amount"))
      WideExtractor.extract(body, "General", "30303")
        .select(col("code"), col("code type").as("code_type"),
          col("insurance payer name").as("payer"),
          col("insurance plan name").as("plan"),
          col("negotiated price").as("negotiated_price"),
          col("negotiated methodology").as("methodology"),
          col("estimated amount").as("estimated_amount"),
          col("additional notes").as("notes"),
          col("gross charge").as("gross_charge"))
    }),

    // A3 — rejected-type counts: the fixture fabricates 'FOO' (not in the
    // normalization map) on every third row, so the reference's
    // unknown-code-type counter path is exercised with a real reject.
    "extract_unknown_types" -> ((s, dir) =>
      graft.extract.CodePairs.unknownTypeCounts(
        graft.extract.CodePairs.explodePairs(tallBody(s, dir)))),

    // A6 — allowed types never seen, as an EXCEPT plan (no driver collect):
    // fixture presents {CPT, DRG, HCPCS} ⇒ missing {ICD, CDT, NDC, APC}.
    "extract_missing_code_types" -> ((s, dir) =>
      graft.extract.CodePairs.missingCodeTypes(
        graft.extract.CodePairs.explodePairs(tallBody(s, dir)))),

    // S4 — the JSON MRF extractor end-to-end THROUGH A REAL FILE: the
    // nested fixture is fabricated from `part`, written as JSON, multiLine-
    // read back, and run through the three-level explode to the canonical
    // 22 columns (empty-code skip, unknown-type reject, MS-DRG→DRG
    // normalization, payer bracket split, payerless explode_outer row all
    // exercised). The oracle re-derives the same rows relationally.
    "extract_json_canonical" -> ((s, dir) =>
      JsonMrfFixture.extractCanonical(s, dir).select(ChargesFixture.fabricated.map {
        case (u, _) => col(ChargesFixture.toCanonical(u)).as(u) }: _*)),

    // S5 — SchemaExplorer (key path, type) rows over the SAME fixture
    // file, schema INFERRED from the written JSON (not the extractor's
    // pinned contract schema) — the explorer + inference path the
    // reference streams ijson events for; oracle is the literal expected
    // path table.
    "schema_key_paths" -> ((s, dir) => {
      val path = JsonMrfFixture.writeFixture(s, dir)
      graft.util.SchemaExplorer.exploreJsonFile(s, path)
    }),

    // S2/S3/U4 — the tall CSV path through a REAL MRF FILE: 2 metadata
    // lines (with a quoted, comma-bearing value exercising the RFC-4180
    // splitter) + header + body rows, read back via MrfCsv.readMetadata
    // (transposed to constants on every row) and MrfCsv.readBody
    // (per-file 2-line drop, all-string) into TallExtractor. Same body
    // fixture ⇒ the extract_tall_canonical oracle applies, plus the
    // metadata constants.
    "extract_tall_csv_file" -> ((s, dir) => {
      val path = writeTallCsvFixture(s, dir)
      val meta = graft.extract.MrfCsv.readMetadata(s, path)
      val can = TallExtractor.extract(
        graft.extract.MrfCsv.readBody(s, path), "General", "30303")
      can.select(col("code"), col("code type").as("code_type"),
          col("description"),
          col("insurance payer name").as("payer_name"),
          col("insurance payer id").as("payer_id"),
          col("negotiated price").as("negotiated_price"),
          col("gross charge").as("gross_charge"))
        .withColumn("mrf_version", lit(meta.getOrElse("version", "")))
        .withColumn("mrf_updated", lit(meta.getOrElse("last_updated_on", "")))
        .withColumn("mrf_location", lit(meta.getOrElse("hospital_location", "")))
    }),

    // Corrupt-tolerant CSV ingest (PERMISSIVE + _corrupt_record): every
    // structural deviation — ragged short (parsed prefix kept), ragged
    // long (extra token dropped), unconvertible field (later fields
    // still parsed) — is quarantined WITH its parsed fields and the raw
    // line retained, mirroring the cleaner's quarantine contract. The
    // oracle re-derives every class from `part`, pinning Spark 4's
    // actual PERMISSIVE semantics bit-for-bit (they differ from the
    // docs — see MalformedIngest).
    "extract_csv_malformed" -> ((s, dir) => {
      val path = writeMalformedFixture(s, dir, "csv", malformedCsvLines(s, dir))
      graft.extract.MalformedIngest.readCsvPermissive(s, path, malformedSchema)
        .select(col("code"), col("description"), col("qty"), col("price"),
          col(graft.extract.MalformedIngest.CorruptCol).isNotNull
            .as("quarantined"))
    }),

    // Corrupt-tolerant JSON-lines ingest: every 9th document truncated
    // mid-object — undecodable rows null every schema field and carry
    // the raw prefix into quarantine; the clean side parses exactly.
    "extract_json_malformed" -> ((s, dir) => {
      val path = writeMalformedFixture(s, dir, "json", malformedJsonLines(s, dir))
      graft.extract.MalformedIngest.readJsonPermissive(s, path,
          malformedJsonSchema)
        .select(col("code"), col("qty"), col("price"),
          col(graft.extract.MalformedIngest.CorruptCol).isNotNull
            .as("quarantined"))
    }))

  /** Corrupt-ingest fixture lines from `part` — the planted classes the
    * malformed gates and their oracles share (precedence: corrupt >
    * short > long > clean):
    *   pk%7==0  CSV: qty token unparseable  → PERMISSIVE quarantines
    *   pk%11==0 CSV: row truncated to 2 fields → padded nulls, KEPT
    *   pk%13==0 CSV: one extra trailing token  → token dropped, KEPT
    *   pk%9==0  JSON: line truncated at 60%    → quarantined, all null */
  private def malformedCsvLines(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part").selectExpr(
      """CASE
        | WHEN p_partkey % 7 = 0 THEN
        |   concat('C', p_partkey, ',', p_name, ',bogus,', CAST(p_retailprice AS STRING))
        | WHEN p_partkey % 11 = 0 THEN concat('C', p_partkey, ',', p_name)
        | WHEN p_partkey % 13 = 0 THEN
        |   concat('C', p_partkey, ',', p_name, ',', p_size, ',',
        |     CAST(p_retailprice AS STRING), ',EXTRA')
        | ELSE concat('C', p_partkey, ',', p_name, ',', p_size, ',',
        |   CAST(p_retailprice AS STRING))
        |END AS line""".stripMargin)

  private def malformedJsonLines(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part").selectExpr(
      """CASE WHEN p_partkey % 9 = 0 THEN
        |  substring(
        |    concat('{"code":"C', p_partkey, '","qty":', p_size,
        |      ',"price":', CAST(p_retailprice AS STRING), '}'),
        |    1,
        |    CAST(length(concat('{"code":"C', p_partkey, '","qty":', p_size,
        |      ',"price":', CAST(p_retailprice AS STRING), '}')) * 3 / 5 AS INT))
        |ELSE
        |  concat('{"code":"C', p_partkey, '","qty":', p_size,
        |    ',"price":', CAST(p_retailprice AS STRING), '}')
        |END AS line""".stripMargin)

  /** Write a line-oriented malformed fixture, deterministic dir per sf. */
  private def writeMalformedFixture(s: SparkSession, dir: String,
      kind: String, lines: DataFrame): String = {
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-malformed-$kind-" + new java.io.File(dir).getName)
    lines.coalesce(1).write.mode("overwrite").text(root.toString)
    root.getAbsolutePath
  }

  private val malformedSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("code",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("description",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("qty",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("price",
      org.apache.spark.sql.types.DoubleType)))

  private val malformedJsonSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("code",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("qty",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("price",
      org.apache.spark.sql.types.DoubleType)))

  /** Write the tall-MRF CSV fixture file: metadata keys/values lines, then
    * the header+body CSV Spark wrote, streamed into ONE physical file (the
    * reference's file shape). Deterministic path per sf, overwritten. */
  private def writeTallCsvFixture(s: SparkSession, dir: String): String = {
    import java.io.{BufferedOutputStream, File, FileOutputStream}
    import java.nio.charset.StandardCharsets.UTF_8
    val root = new File(sys.props("java.io.tmpdir"),
      "graft-tall-csv-" + new File(dir).getName)
    val bodyDir = new File(root, "body")
    tallBody(s, dir).coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(bodyDir.toString)
    val bodyPart = bodyDir.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .head
    val out = new File(root, "mrf_tall.csv")
    val w = new BufferedOutputStream(new FileOutputStream(out))
    try {
      w.write(("hospital_name,last_updated_on,version,hospital_location,hospital_address\n" +
        "Gate Tall,2024-03-01,v3.1,\"5 Gate Way, Atlanta\",Georgia\n").getBytes(UTF_8))
      java.nio.file.Files.copy(bodyPart.toPath, w)
    } finally w.close()
    out.getAbsolutePath
  }

  /** DuckDB mirror of the tall-path canonical extract over [[tallBody]] —
    * shared by the in-memory gate and the CSV-file round-trip gate (the
    * file adds only metadata constants on top of the identical rows). */
  private lazy val tallCanonicalSql: String = {
    val norm = "CASE upper(ct) WHEN 'CPT' THEN 'CPT' WHEN 'MS-DRG' THEN 'DRG'" +
      " WHEN 'DRG' THEN 'DRG' WHEN 'HCPCS' THEN 'HCPCS' WHEN 'ICD' THEN 'ICD'" +
      " WHEN 'CDT' THEN 'CDT' WHEN 'NDC' THEN 'NDC' WHEN 'APC' THEN 'APC' END"
    val base = s"SELECT p_name AS description, $codeE AS code1, $ctE AS ct1," +
      s" $code2E AS code2, $ct2E AS ct2, $payerE AS payer," +
      s" $aetnaDollarE AS dollar, $grossE AS gross FROM part"
    val arm = (c: String, t: String) =>
      s"""SELECT $c AS code, ${norm.replace("upper(ct)", s"upper($t)")} AS code_type,
         | description, payer, dollar, gross FROM f
         | WHERE $c <> '' AND $t <> '' AND ${norm.replace("upper(ct)", s"upper($t)")} IS NOT NULL""".stripMargin
    s"""WITH f AS ($base),
       |pairs AS ((${arm("code1", "ct1")}) UNION ALL (${arm("code2", "ct2")}))
       |SELECT code, code_type, description,
       | CASE WHEN regexp_matches(payer, '(.*)\\[(.*?)\\]')
       |   THEN trim(regexp_extract(payer, '(.*)\\[(.*?)\\]', 1)) ELSE payer END AS payer_name,
       | CASE WHEN regexp_matches(payer, '(.*)\\[(.*?)\\]')
       |   THEN trim(regexp_extract(payer, '(.*)\\[(.*?)\\]', 2)) ELSE '' END AS payer_id,
       | dollar AS negotiated_price, gross AS gross_charge
       |FROM pairs""".stripMargin
  }

  def oracles: Map[String, String] = {
    val norm = "CASE upper(ct) WHEN 'CPT' THEN 'CPT' WHEN 'MS-DRG' THEN 'DRG'" +
      " WHEN 'DRG' THEN 'DRG' WHEN 'HCPCS' THEN 'HCPCS' WHEN 'ICD' THEN 'ICD'" +
      " WHEN 'CDT' THEN 'CDT' WHEN 'NDC' THEN 'NDC' WHEN 'APC' THEN 'APC' END"
    Map(
      "extract_tall_canonical" -> tallCanonicalSql,
      "extract_tall_csv_file" ->
        s"""SELECT t.*, 'v3.1' AS mrf_version, '2024-03-01' AS mrf_updated,
           |  '5 Gate Way, Atlanta' AS mrf_location
           |FROM ($tallCanonicalSql) t""".stripMargin,

      // class precedence mirrors the fixture: corrupt(%7) > short(%11) >
      // long(%13) > clean; parsed-field retention per MalformedIngest
      "extract_csv_malformed" ->
        """SELECT concat('C', CAST(p_partkey AS VARCHAR)) AS code,
          |  p_name AS description,
          |  CASE WHEN p_partkey % 7 = 0 OR p_partkey % 11 = 0 THEN NULL
          |       ELSE p_size END AS qty,
          |  CASE WHEN p_partkey % 7 <> 0 AND p_partkey % 11 = 0 THEN NULL
          |       ELSE p_retailprice END AS price,
          |  (p_partkey % 7 = 0 OR p_partkey % 11 = 0 OR p_partkey % 13 = 0)
          |    AS quarantined
          |FROM part""".stripMargin,

      "extract_json_malformed" ->
        """SELECT
          |  CASE WHEN p_partkey % 9 = 0 THEN NULL
          |       ELSE concat('C', CAST(p_partkey AS VARCHAR)) END AS code,
          |  CASE WHEN p_partkey % 9 = 0 THEN NULL ELSE p_size END AS qty,
          |  CASE WHEN p_partkey % 9 = 0 THEN NULL
          |       ELSE p_retailprice END AS price,
          |  (p_partkey % 9 = 0) AS quarantined
          |FROM part""".stripMargin,
      "extract_wide_canonical" -> {
        val base = s"SELECT $codeE AS code1, $ctE AS ct1, $grossE AS gross," +
          s" $genericNotesE AS gnotes, $aetnaDollarE AS a_dollar, $aetnaMethE AS a_meth," +
          s" $aetnaNotesE AS a_notes, $bcbsDollarE AS b_dollar, $bcbsEstE AS b_est FROM part"
        val noteMerge = "concat_ws(', ', NULLIF(gnotes, ''), NULLIF(a_notes, ''))"
        val normed = norm.replace("upper(ct)", "upper(ct1)")
        s"""WITH f AS ($base),
           |valid AS (SELECT * FROM f WHERE code1 <> '' AND ct1 <> '' AND $normed IS NOT NULL),
           |aetna AS (SELECT code1 AS code, $normed AS code_type,
           |   'Aetna' AS payer, 'PPO' AS plan, a_dollar AS negotiated_price,
           |   a_meth AS methodology, '' AS estimated_amount,
           |   $noteMerge AS notes, gross AS gross_charge
           |  FROM valid WHERE a_dollar <> '' OR a_meth <> '' OR a_notes <> ''),
           |bcbs AS (SELECT code1 AS code, $normed AS code_type,
           |   'BCBS' AS payer, 'HMO' AS plan, b_dollar AS negotiated_price,
           |   '' AS methodology, b_est AS estimated_amount,
           |   concat_ws(', ', NULLIF(gnotes, '')) AS notes, gross AS gross_charge
           |  FROM valid WHERE b_dollar <> '' OR b_est <> '')
           |SELECT * FROM aetna UNION ALL SELECT * FROM bcbs""".stripMargin
      },
      "extract_unknown_types" -> {
        s"""WITH f AS (SELECT $codeE AS code1, $ctE AS ct1, $code2E AS code2, $ct2E AS ct2 FROM part),
           |pairs AS (
           |  SELECT code1 AS code, ct1 AS rt FROM f WHERE code1 <> '' AND ct1 <> ''
           |  UNION ALL
           |  SELECT code2, ct2 FROM f WHERE code2 <> '' AND ct2 <> '')
           |SELECT rt AS raw_type, CAST(count(*) AS BIGINT) AS n FROM pairs
           |WHERE ${norm.replace("upper(ct)", "upper(rt)")} IS NULL GROUP BY rt""".stripMargin
      },
      "extract_missing_code_types" -> {
        val normed = norm.replace("upper(ct)", "upper(rt)")
        s"""WITH f AS (SELECT $codeE AS code1, $ctE AS ct1, $code2E AS code2, $ct2E AS ct2 FROM part),
           |pairs AS (
           |  SELECT code1 AS code, ct1 AS rt FROM f WHERE code1 <> '' AND ct1 <> ''
           |  UNION ALL
           |  SELECT code2, ct2 FROM f WHERE code2 <> '' AND ct2 <> ''),
           |present AS (SELECT DISTINCT $normed AS code_type FROM pairs WHERE $normed IS NOT NULL)
           |SELECT code_type FROM (VALUES ('CPT'),('HCPCS'),('ICD'),('DRG'),('CDT'),('NDC'),('APC')) t(code_type)
           |EXCEPT SELECT code_type FROM present""".stripMargin
      },
      "extract_json_canonical" -> JsonMrfFixture.canonicalSql,
      "schema_key_paths" -> {
        val sci = "standard_charge_information"
        val sc = s"$sci.item.standard_charges"
        val pi = s"$sc.item.payers_information"
        val rows: Seq[(String, String)] = Seq(
          "hospital_address" -> "string",
          "hospital_location" -> "string",
          "hospital_name" -> "string",
          "last_updated_on" -> "string",
          sci -> "array",
          s"$sci.item.code_information" -> "array",
          s"$sci.item.code_information.item.code" -> "string",
          s"$sci.item.code_information.item.type" -> "string",
          s"$sci.item.description" -> "string",
          s"$sci.item.drug_information" -> "map",
          s"$sci.item.drug_information.type" -> "string",
          s"$sci.item.drug_information.unit" -> "string",
          sc -> "array",
          s"$sc.item.discounted_cash" -> "string",
          s"$sc.item.gross_charge" -> "string",
          s"$sc.item.maximum" -> "string",
          s"$sc.item.minimum" -> "string",
          pi -> "array",
          s"$pi.item.additional_payer_notes" -> "string",
          s"$pi.item.estimated_amount" -> "string",
          s"$pi.item.methodology" -> "string",
          s"$pi.item.modifiers" -> "string",
          s"$pi.item.payer_name" -> "string",
          s"$pi.item.plan_name" -> "string",
          s"$pi.item.standard_charge_algorithm" -> "string",
          s"$pi.item.standard_charge_dollar" -> "string",
          s"$pi.item.standard_charge_percentage" -> "string",
          s"$sc.item.setting" -> "string",
          "version" -> "string")
        rows.map { case (p, t) => s"('$p', '$t')" }
          .mkString("SELECT * FROM (VALUES ", ", ", ") t(path, type)")
      })
  }
}
