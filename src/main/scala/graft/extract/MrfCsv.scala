package graft.extract

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Shared CSV plumbing for MRF extractors.
  *
  * Reference MRF CSVs carry 2 metadata lines (row0 = keys, row1 = values)
  * before the real header (tall_format_csv_extractor.py:66-71,
  * wide_format_csv_extractor.py:80-85). The metadata read is a tiny
  * driver-side file read, no Spark job (S2/U4); the body read drops those
  * 2 lines in a single pass (no count job) and parses the remainder as an
  * all-string header CSV (S3, dtype=str semantics).
  */
object MrfCsv {

  /** S2/U4 — metadata transpose: first two physical lines → Map(key→value),
    * missing/short values → "". Read on the driver through the Hadoop
    * FileSystem (no Spark job); a glob or directory resolves as in
    * [[readBody]] and its first file holds the metadata. A compressed file
    * is decompressed by its codec, as the body read does. */
  def readMetadata(spark: SparkSession, path: String): Map[String, String] = {
    val two = resolveFiles(spark, path).headOption.toSeq
      .flatMap(f => firstLines(spark, new Path(f), 2))
    if (two.length < 2) return Map.empty
    val keys = splitCsvLine(two(0))
    val values = splitCsvLine(two(1))
    keys.zipAll(values, "", "").filter(_._1.nonEmpty).toMap
  }

  private def firstLines(spark: SparkSession, file: Path, n: Int): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val raw = file.getFileSystem(conf).open(file)
    val in = Option(new CompressionCodecFactory(conf).getCodec(file))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw))
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(reader.readLine()).take(n).takeWhile(_ != null).toList
    finally reader.close()
  }

  /** A path, glob or directory → its files, resolved on the driver; an
    * unmatched path comes back as itself so the reader raises its own
    * missing-file error. */
  private def resolveFiles(spark: SparkSession, path: String): Seq[String] = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(hPath)) match {
      case Some(sts) if sts.nonEmpty =>
        sts.toSeq.flatMap { st =>
          if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile)
          else Seq(st)
        }.map(_.getPath.toString)
      case _ => Seq(path)
    }
  }

  // Minimal RFC-4180 field splitter for the 2 driver-side metadata lines.
  private def splitCsvLine(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') inQ = false
        else cur += c
      } else c match {
        case '"' => inQ = true
        case ',' => out += cur.result(); cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    out += cur.result()
    out.result()
  }

  /** S3 — body scan: skip the 2 metadata lines (dropped from the first file
    * partition only — single pass, unlike a zipWithIndex count job), then
    * parse as header CSV with every column StringType.
    *
    * Divergence note: dropping physical lines assumes the 2 metadata rows
    * contain no embedded newlines (true of CMS MRFs); pandas' parser would
    * tolerate them. Quoted newlines in the *body* are likewise not supported
    * by the line-based pre-pass — documented, body rows are single-line in
    * the reference corpus. */
  def readBody(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    // Resolve the glob driver-side and drop the 2 metadata lines PER FILE
    // (a global partition-0 drop would keep later files' metadata lines as
    // body rows when a directory/glob of MRFs is read).
    val rdds = resolveFiles(spark, path).map { f =>
      spark.sparkContext.textFile(f)
        .mapPartitionsWithIndex { (idx, it) => if (idx == 0) it.drop(2) else it }
    }
    val lines: Dataset[String] =
      rdds.reduce(_ union _).toDS()
    spark.read
      .option("header", "true")
      .option("inferSchema", "false") // dtype=str
      .csv(lines)
    // Known csv(Dataset) caveat: body lines byte-identical to the header
    // line are treated as repeated headers and dropped; MRF data rows never
    // equal the header row in practice.
  }
}
