package graft.extract

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Schemas
import graft.enrich.Naming

/** JSON MRF → canonical 22-column charges table.
  *
  * The reference's json_parser.py is MISSING from the repo; this implements
  * the inferred contract (SURVEY §0): input shape fixed by
  * json_sampler.py:23-33 + the public CMS JSON MRF schema; output must be the
  * same canonical table the CSV extractors produce (consumed at
  * ETL_pipeline.py:80). Code-type normalization/allowlisting mirrors the CSV
  * extractors for consistency.
  *
  * Plan shape: multiLine JSON read with an EXPLICIT schema (missing fields →
  * null, extra fields ignored — the contract is pinned, not inferred), then
  * three nested explodes (standard_charge_information → code_information ×
  * standard_charges → payers_information). All narrow once the file is
  * parsed; at scale, many MRF files in one directory parallelize per-file.
  */
object JsonExtractor {

  /** Contract schema — only the fields the canonical table needs. */
  val mrfSchema: StructType = StructType(Seq(
    StructField("hospital_name", StringType),
    StructField("hospital_location", StringType),
    StructField("hospital_address", StringType),
    StructField("last_updated_on", StringType),
    StructField("version", StringType),
    StructField("standard_charge_information", ArrayType(StructType(Seq(
      StructField("description", StringType),
      StructField("drug_information", StructType(Seq(
        StructField("unit", StringType),
        StructField("type", StringType)))),
      StructField("code_information", ArrayType(StructType(Seq(
        StructField("code", StringType),
        StructField("type", StringType))))),
      StructField("standard_charges", ArrayType(StructType(Seq(
        StructField("gross_charge", StringType),
        StructField("discounted_cash", StringType),
        StructField("setting", StringType),
        StructField("minimum", StringType),
        StructField("maximum", StringType),
        StructField("payers_information", ArrayType(StructType(Seq(
          StructField("payer_name", StringType),
          StructField("plan_name", StringType),
          StructField("methodology", StringType),
          StructField("standard_charge_dollar", StringType),
          StructField("standard_charge_percentage", StringType),
          StructField("standard_charge_algorithm", StringType),
          StructField("estimated_amount", StringType),
          StructField("additional_payer_notes", StringType),
          StructField("modifiers", StringType)))))))))))))))

  def readMrf(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").schema(mrfSchema).json(path)

  /** The standard_charge_information ELEMENT schema — what one record of
    * the split stream carries. */
  val sciSchema: StructType = mrfSchema("standard_charge_information")
    .dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  /** The MRF top-level keys the devlog records (json_sampler.py:23-33). */
  val MetadataKeys: Seq[String] = Seq("hospital_name", "hospital_location",
    "hospital_address", "last_updated_on", "version")

  /** File size above which [[extractFile]] abandons the whole-file
    * multiLine read for the streamed split. A multiLine JSON document is
    * ONE Spark row — the entire standard_charge_information array
    * materializes as a single UnsafeRow, so a multi-GB hospital MRF
    * needs that many bytes of contiguous task heap no matter how many
    * executors exist. Caught by the r15 tight-heap screen: the 100×
    * flagship trace OOMed a fresh 8g JVM in the fixture's one-row write
    * (BufferHolder.grow) — the read side has the identical bound. Below
    * the threshold the one-row path is cheapest and byte-compatible
    * with the reference contract; above it, [[splitMrf]] streams the
    * document once (O(element) memory) into JSON-lines that parse in
    * parallel with bounded rows. */
  val WholeFileThresholdBytes: Long = 64L * 1024 * 1024

  /** One streaming pass (Jackson, O(element) memory) over a huge MRF:
    * writes each standard_charge_information element as one JSON line
    * under `outDir` and returns the top-level scalar fields (the devlog
    * metadata, JSON null as "" like [[metadata]]) read in the same pass
    * — the ijson shape the reference uses for multi-GB files
    * (json_sampler.py), kept OFF the default path for files where
    * whole-file parsing is cheaper. Runs where the file is readable
    * (driver here; inside a mapPartitions over file paths on a real
    * cluster — one hospital file per task). */
  def splitMrf(path: String, outDir: String): Map[String, String] = {
    val dir = new java.io.File(outDir)
    dir.mkdirs()
    val out = new java.io.BufferedWriter(new java.io.FileWriter(
      new java.io.File(dir, "sci.jsonl")), 1 << 20)
    try scanTopLevel(path) { (parser, mapper) =>
      while (parser.nextToken() != JsonToken.END_ARRAY) {
        out.write(mapper.readTree[JsonNode](parser).toString); out.newLine()
      }
    } finally out.close()
  }

  /** The devlog metadata ([[MetadataKeys]], "" when absent or null) by one
    * Jackson pass on the driver that skips the charge array: the same
    * values [[splitMrf]] returns, without a Spark job. */
  def fileMetadata(path: String): Map[String, String] =
    metadataKeys(scanTopLevel(path)((parser, _) => parser.skipChildren()))

  private def metadataKeys(all: Map[String, String]): Map[String, String] =
    MetadataKeys.map(k => k -> all.getOrElse(k, "")).toMap

  /** Walks the MRF's top-level object: `onCharges` consumes the
    * standard_charge_information array (the parser at its START_ARRAY);
    * every other top-level scalar is returned, JSON null as "". */
  private def scanTopLevel(path: String)(
      onCharges: (JsonParser, ObjectMapper) => Unit): Map[String, String] = {
    val mapper = new ObjectMapper()
    val parser = mapper.getFactory.createParser(new java.io.File(path))
    val meta = scala.collection.mutable.Map.empty[String, String]
    try {
      require(parser.nextToken() == JsonToken.START_OBJECT,
        s"MRF root must be a JSON object: $path")
      while (parser.nextToken() != JsonToken.END_OBJECT) {
        val field = parser.currentName()
        parser.nextToken()
        if (field == "standard_charge_information") {
          require(parser.currentToken() == JsonToken.START_ARRAY,
            s"standard_charge_information must be an array: $path")
          onCharges(parser, mapper)
        } else if (parser.currentToken() == JsonToken.VALUE_NULL) {
          meta(field) = ""
        } else if (parser.currentToken().isScalarValue) {
          meta(field) = parser.getText
        } else parser.skipChildren()
      }
    } finally parser.close()
    meta.toMap
  }

  /** Canonical extraction from a loaded MRF frame. */
  def extract(mrf: DataFrame, hospitalName: String, zipCode: String): DataFrame =
    extractFromSci(
      mrf.select(explode(col("standard_charge_information")).as("sci")),
      hospitalName, zipCode)

  /** Canonical extraction from already-split standard_charge_information
    * element rows (`sci` struct column) — the shared tail of the
    * whole-file and streamed regimes. */
  def extractFromSci(sciRows: DataFrame, hospitalName: String,
      zipCode: String): DataFrame = {
    val s = (c: Column) => coalesce(c.cast(StringType), lit(""))
    val exploded = sciRows
      .select(col("sci.description").as("__description"),
        col("sci.drug_information.unit").as("__drug_unit"),
        col("sci.drug_information.type").as("__drug_type"),
        explode(col("sci.code_information")).as("ci"),
        col("sci.standard_charges").as("scs"))
      .withColumn("sc", explode(col("scs")))
      .withColumn("__code_type",
        element_at(CodePairs.normalizeMap, upper(coalesce(col("ci.type"), lit("")))))
      .filter(coalesce(col("ci.code"), lit("")) =!= "" && col("__code_type").isNotNull)
      // explode_OUTER: a standard_charges entry with gross/cash prices but
      // no payers_information still yields one canonical row with empty
      // payer fields — matching the tall-CSV path, where payerless rows
      // survive with "" payer columns.
      .withColumn("pi", explode_outer(col("sc.payers_information")))

    val payer = s(col("pi.payer_name"))
    val cols: Seq[Column] = Schemas.CanonicalColumns.map {
      case "hospital name" => lit(hospitalName).as("hospital name")
      case "zip code" => lit(zipCode).as("zip code")
      case "code" => s(col("ci.code")).as("code")
      case "code type" => col("__code_type").as("code type")
      case "description" => s(col("__description")).as("description")
      case "drug unit" => s(col("__drug_unit")).as("drug unit")
      case "drug type" => s(col("__drug_type")).as("drug type")
      case "insurance payer name" => Naming.payerName(payer).as("insurance payer name")
      case "insurance payer id" => Naming.payerId(payer).as("insurance payer id")
      case "insurance plan name" => s(col("pi.plan_name")).as("insurance plan name")
      case "negotiated price" => s(col("pi.standard_charge_dollar")).as("negotiated price")
      case "negotiated percentage" => s(col("pi.standard_charge_percentage")).as("negotiated percentage")
      case "negotiated algorithm" => s(col("pi.standard_charge_algorithm")).as("negotiated algorithm")
      case "negotiated methodology" => s(col("pi.methodology")).as("negotiated methodology")
      case "gross charge" => s(col("sc.gross_charge")).as("gross charge")
      case "discounted cash price" => s(col("sc.discounted_cash")).as("discounted cash price")
      case "min price" => s(col("sc.minimum")).as("min price")
      case "max price" => s(col("sc.maximum")).as("max price")
      case "estimated amount" => s(col("pi.estimated_amount")).as("estimated amount")
      case "setting" => s(col("sc.setting")).as("setting")
      case "additional notes" => s(col("pi.additional_payer_notes")).as("additional notes")
      case "modifiers" => s(col("pi.modifiers")).as("modifiers")
    }
    exploded.select(cols: _*)
  }

  /** Two-regime file entry: canonical rows plus the devlog metadata
    * ([[MetadataKeys]], "" when absent or null). Files up to
    * [[WholeFileThresholdBytes]] take [[extractWholeFile]], larger ones
    * [[extractStreamed]] with its split under `scratchDir`; the two give
    * identical rows and metadata, pinned by ExtractorSpec's regime-parity
    * test and the unchanged extract_json_canonical oracle. */
  def extractFile(spark: SparkSession, path: String, hospitalName: String,
      zipCode: String, scratchDir: String): (DataFrame, Map[String, String]) =
    if (new java.io.File(path).length() <= WholeFileThresholdBytes)
      extractWholeFile(spark, path, hospitalName, zipCode)
    else extractStreamed(spark, path, hospitalName, zipCode, scratchDir)

  /** Whole-file multiLine parse: one row, cheapest, byte-compatible with
    * the reference contract; the metadata comes from [[fileMetadata]]. */
  def extractWholeFile(spark: SparkSession, path: String,
      hospitalName: String, zipCode: String): (DataFrame, Map[String, String]) =
    (extract(readMrf(spark, path), hospitalName, zipCode), fileMetadata(path))

  /** Streamed split: bounded rows, parallel parse — the only shape that
    * survives a multi-GB hospital document on a fixed executor heap.
    * The split is written under `scratchDir`, which the caller owns: the
    * returned frame reads it lazily, so the caller removes it once the
    * frame's last action has run. */
  def extractStreamed(spark: SparkSession, path: String, hospitalName: String,
      zipCode: String, scratchDir: String): (DataFrame, Map[String, String]) = {
    val meta = metadataKeys(splitMrf(path, scratchDir))
    val rows = spark.read.schema(sciSchema)
      .json(new java.io.File(scratchDir, "sci.jsonl").getAbsolutePath)
    (extractFromSci(rows.select(struct(
        col("description"), col("drug_information"),
        col("code_information"), col("standard_charges")).as("sci")),
      hospitalName, zipCode), meta)
  }

  /** Devlog metadata from a loaded MRF frame ([[MetadataKeys]]) — a Spark
    * job over the whole document; [[fileMetadata]] reads the same values
    * on the driver. */
  def metadata(mrf: DataFrame): Map[String, String] = {
    val rows = mrf.select(MetadataKeys.map(col): _*).take(1)
    require(rows.nonEmpty, "JSON MRF parsed to zero rows (empty or malformed file)")
    val row = rows.head
    MetadataKeys.zipWithIndex.map { case (k, i) =>
      k -> Option(row.getString(i)).getOrElse("")
    }.toMap
  }
}
