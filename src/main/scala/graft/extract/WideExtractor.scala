package graft.extract

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Schemas
import CodePairs.colOr

/** Wide-format CSV MRF → canonical 22-column charges table
  * (wide_format_csv_extractor.py:65-204, recovered from bytecode).
  *
  * Dynamic per-payer columns `standard_charge|{Payer}|{Plan}|{field}` (field
  * last when >3 segments) or `{field}|{Payer}|{Plan}` (field first at exactly
  * 3) are classified DRIVER-side from the schema (P11 — metadata, not data)
  * into one struct per (payer, plan) group (U2). Each source row explodes
  * its distinct kept code pairs × its groups with a non-empty field (U3), so
  * the whole extract is a narrow plan, like the tall and JSON extractors:
  * zero shuffles, pipelined with the CSV scan at any scale.
  *
  * Pinned semantics (SURVEY §7.4): rows of different source rows never
  * merge, even for the same (code, payer, plan); within one source row a
  * later classified column overwrites an earlier one (dict-assignment
  * order) unless it is empty — each group field is a coalesce over its
  * columns in descending column index, with "" read as absent (P8).
  */
object WideExtractor {

  /** field token → canonical column (STANDARD_CHARGE_PREFIXES). */
  val FieldMap: Map[String, String] = Map(
    "negotiated_dollar" -> "negotiated price",
    "negotiated_percentage" -> "negotiated percentage",
    "negotiated_algorithm" -> "negotiated algorithm",
    "estimated_amount" -> "estimated amount",
    "methodology" -> "negotiated methodology",
    "additional_payer_notes" -> "additional notes")

  final case class PayerColumn(name: String, field: String, payer: String,
      plan: String, index: Int)

  /** P11 — classify payer columns from the schema (driver-side;
    * wide_format_csv_extractor.py:59-63,88-91). */
  def classifyColumns(columns: Seq[String]): Seq[PayerColumn] =
    columns.zipWithIndex.flatMap { case (name, idx) =>
      val parts = name.split("\\|", -1)
      if (parts.length < 3) None
      else {
        val field = if (parts.length == 3) parts(0) else parts.last
        if (FieldMap.contains(field))
          Some(PayerColumn(name, field, parts(1), parts(2), idx))
        else None
      }
    }

  /** canonical column → its source column, for the per-row columns. */
  private val staticSources: Map[String, String] = Map(
    "description" -> "description",
    "drug unit" -> "drug_unit_of_measurement",
    "drug type" -> "drug_type_of_measurement",
    "gross charge" -> "standard_charge|gross",
    "discounted cash price" -> "standard_charge|discounted_cash",
    "min price" -> "standard_charge|min",
    "max price" -> "standard_charge|max",
    "setting" -> "setting",
    "modifiers" -> "modifiers")

  /** A column by its literal name: a dot in a payer or plan name
    * ("United Ins. Co.") is not a struct path. */
  private def literalCol(name: String): Column = col(s"`${name.replace("`", "``")}`")

  /** Full extract over an already-loaded body frame (MrfCsv.readBody). */
  def extract(body: DataFrame, hospitalName: String, zipCode: String): DataFrame = {
    val payerCols = classifyColumns(body.columns.toSeq)
    val nonEmpty = (c: Column) => when(length(c) > 0, c) // "" and null → null

    // U2 — one struct per (payer, plan): each canonical field is its last
    // non-empty column.
    val groups = payerCols.map(pc => (pc.payer, pc.plan)).distinct.map { case (payer, plan) =>
      val own = payerCols.filter(pc => pc.payer == payer && pc.plan == plan).sortBy(-_.index)
      val fields = FieldMap.toSeq.map { case (tok, dst) =>
        coalesce(own.filter(_.field == tok).map(pc => nonEmpty(literalCol(pc.name))) :+
          lit(null).cast("string"): _*).as(dst)
      }
      struct(lit(payer).as("payer") +: lit(plan).as("plan") +: fields: _*)
    }
    val group = (f: String) => col("__group").getField(f)

    // U3 — one row per (distinct kept code pair, group with a value).
    val exploded = body
      .withColumn("__group", explode(array(groups: _*)))
      .filter(coalesce(FieldMap.values.toSeq.map(group): _*).isNotNull)
      .withColumn("__pair", explode(CodePairs.keptPairSet(body)))
      .filter(col("__pair").isNotNull)

    val cols: Seq[Column] = Schemas.CanonicalColumns.map {
      case "hospital name" => lit(hospitalName).as("hospital name")
      case "zip code" => lit(zipCode).as("zip code")
      case "code" => col("__pair.code").as("code")
      case "code type" => col("__pair.code_type").as("code type")
      case "insurance payer name" => group("payer").as("insurance payer name")
      case "insurance payer id" => lit("").as("insurance payer id")
      case "insurance plan name" => group("plan").as("insurance plan name")
      // F12 — merge generic + payer notes (empties dropped, ", " separator).
      case "additional notes" => concat_ws(", ",
        nonEmpty(colOr(body, "additional_generic_notes")),
        group("additional notes")).as("additional notes")
      case canonical if staticSources.contains(canonical) =>
        colOr(body, staticSources(canonical)).as(canonical)
      case canonical => coalesce(group(canonical), lit("")).as(canonical)
    }
    exploded.select(cols: _*)
  }

  def extractFile(spark: SparkSession, path: String,
      hospitalName: String, zipCode: String): DataFrame =
    extract(MrfCsv.readBody(spark, path), hospitalName, zipCode)
}
