package graft.extract

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonGenerator, JsonParser, JsonToken}
import com.fasterxml.jackson.core.io.SerializedString
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.Using

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
  * Plan shape: one streamed Jackson pass splits the document into one JSON
  * line per standard_charge_information element, read with an EXPLICIT
  * schema (missing fields → null, extra fields ignored — the contract is
  * pinned, not inferred), then three nested explodes (standard_charge_
  * information → code_information × standard_charges → payers_information).
  * All narrow once the lines are parsed, with bounded rows at any file size.
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

  /** The whole-document multiLine read: one row per file. The flagship
    * extracts through [[extractFile]]; this read is the reference its rows
    * and metadata are compared against, and the benchmark's traced pass. */
  def readMrf(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").schema(mrfSchema).json(path)

  /** The standard_charge_information ELEMENT schema — what one record of
    * the split stream carries. */
  private val sciSchema: StructType = mrfSchema("standard_charge_information")
    .dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  /** The MRF top-level keys the devlog records (json_sampler.py:23-33). */
  val MetadataKeys: Seq[String] = Seq("hospital_name", "hospital_location",
    "hospital_address", "last_updated_on", "version")

  private val Json = new JsonFactory()

  /** One streaming pass (Jackson, O(element) memory) over an MRF: writes
    * each standard_charge_information element as one JSON line of
    * `outDir/sci.jsonl` and returns the devlog metadata ([[MetadataKeys]];
    * the [[stringText]] of each, "" when absent or null) read in the same
    * pass — the ijson shape the reference uses for multi-GB files
    * (json_sampler.py). */
  private def splitMrf(path: String, outDir: String): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val meta = scala.collection.mutable.Map.empty[String, String]
    Using.Manager { use =>
      val parser = use(Json.createParser(new java.io.File(path)))
      val source = use(new java.io.RandomAccessFile(path, "r"))
      val out = use(Json.createGenerator(new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(new java.io.File(outDir, "sci.jsonl")), 1 << 20),
        JsonEncoding.UTF8))
      out.setRootValueSeparator(new SerializedString("\n"))
      require(parser.nextToken() == JsonToken.START_OBJECT,
        s"MRF root must be a JSON object: $path")
      while (parser.nextToken() != JsonToken.END_OBJECT) {
        val field = parser.currentName()
        val token = parser.nextToken()
        if (field == "standard_charge_information") {
          require(token == JsonToken.START_ARRAY,
            s"standard_charge_information must be an array: $path")
          while (parser.nextToken() != JsonToken.END_ARRAY)
            copyValue(parser, source, out, sciSchema)
        } else if (!MetadataKeys.contains(field)) parser.skipChildren()
        else meta(field) = if (token == JsonToken.VALUE_NULL) "" else stringText(parser, source)
      }
    }.get
    MetadataKeys.map(k => k -> meta.getOrElse(k, "")).toMap
  }

  /** Copies the value at the parser's current token to `out` as a JSON read
    * with `schema` sees it: a string field holds its [[stringText]] as a JSON
    * string, and fields outside the schema are left out. */
  private def copyValue(parser: JsonParser, source: java.io.RandomAccessFile,
      out: JsonGenerator, schema: DataType): Unit =
    (parser.currentToken(), schema) match {
      case (JsonToken.START_OBJECT, s: StructType) =>
        out.writeStartObject()
        while (parser.nextToken() != JsonToken.END_OBJECT) {
          val field = s.find(_.name == parser.currentName())
          parser.nextToken()
          field match {
            case Some(f) =>
              out.writeFieldName(f.name)
              copyValue(parser, source, out, f.dataType)
            case None => parser.skipChildren()
          }
        }
        out.writeEndObject()
      case (JsonToken.START_ARRAY, ArrayType(element, _)) =>
        out.writeStartArray()
        while (parser.nextToken() != JsonToken.END_ARRAY)
          copyValue(parser, source, out, element)
        out.writeEndArray()
      case (token, StringType) if token != JsonToken.VALUE_NULL =>
        out.writeString(stringText(parser, source))
      case _ => out.copyCurrentStructure(parser)
    }

  /** The text Spark's JSON read gives a string field holding the parser's
    * current value (`source` is the parsed file): a string's value, and the
    * source text of a number, boolean, object or array, whitespace included
    * ("12.10" stays "12.10"). */
  private def stringText(parser: JsonParser, source: java.io.RandomAccessFile): String =
    if (!parser.currentToken().isStructStart) parser.getText
    else {
      val start = parser.currentTokenLocation().getByteOffset
      parser.skipChildren()
      val bytes = new Array[Byte]((parser.currentLocation().getByteOffset - start).toInt)
      source.seek(start)
      source.readFully(bytes)
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    }

  /** Canonical extraction from a loaded MRF frame. */
  def extract(mrf: DataFrame, hospitalName: String, zipCode: String): DataFrame =
    extractFromSci(
      mrf.select(explode(col("standard_charge_information")).as("sci")),
      hospitalName, zipCode)

  /** Canonical extraction from standard_charge_information element rows
    * (`sci` struct column) — the shared tail of [[extract]] and
    * [[extractFile]]. */
  private def extractFromSci(sciRows: DataFrame, hospitalName: String,
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

  /** The program's JSON extract: canonical rows plus the devlog metadata
    * ([[MetadataKeys]], "" when absent or null), at every file size. One
    * streamed pass splits the document into one JSON line per
    * standard_charge_information element under `scratchDir` and reads the
    * metadata; the lines parse in parallel as bounded rows, so a multi-GB
    * hospital document never becomes one task-heap-sized row. Rows and
    * metadata equal those of [[extract]] and [[metadata]] over [[readMrf]]
    * (ExtractorSpec's parity test). The caller owns `scratchDir`: the
    * returned frame reads it lazily, so the caller removes it once the
    * frame's last action has run. */
  def extractFile(spark: SparkSession, path: String, hospitalName: String,
      zipCode: String, scratchDir: String): (DataFrame, Map[String, String]) = {
    val meta = splitMrf(path, scratchDir)
    val rows = spark.read.schema(sciSchema)
      .json(new java.io.File(scratchDir, "sci.jsonl").getAbsolutePath)
    (extractFromSci(rows.select(struct(
        col("description"), col("drug_information"),
        col("code_information"), col("standard_charges")).as("sci")),
      hospitalName, zipCode), meta)
  }

  /** Devlog metadata from a loaded MRF frame ([[MetadataKeys]]) — a Spark
    * job over the whole document; [[extractFile]] reads the same values in
    * its split pass. */
  def metadata(mrf: DataFrame): Map[String, String] = {
    val rows = mrf.select(MetadataKeys.map(col): _*).take(1)
    require(rows.nonEmpty, "JSON MRF parsed to zero rows (empty or malformed file)")
    val row = rows.head
    MetadataKeys.zipWithIndex.map { case (k, i) =>
      k -> Option(row.getString(i)).getOrElse("")
    }.toMap
  }
}
