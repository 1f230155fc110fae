package graft.extract

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapred.TextInputFormat
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.TextInputCSVDataSource

/** Shared CSV plumbing for MRF extractors.
  *
  * Reference MRF CSVs carry 2 metadata lines (row0 = keys, row1 = values)
  * before the real header (tall_format_csv_extractor.py:66-71,
  * wide_format_csv_extractor.py:80-85). Each file's preamble — the metadata
  * lines, the byte offset where its body starts and its header line — is a
  * tiny driver-side read, no Spark job (S2/U4). The body read is a single
  * pass over at least `defaultParallelism` splits per file that drops the
  * preamble by byte offset and parses the rest as all-string CSV under the
  * header's column names (S3, dtype=str semantics).
  */
object MrfCsv {

  /** S2/U4 — metadata transpose: first two physical lines → Map(key→value),
    * missing/short values → "". Read on the driver through the Hadoop
    * FileSystem (no Spark job); a glob or directory resolves as in
    * [[readBody]] and its first file holds the metadata. A compressed file
    * is decompressed by its codec, as the body read does. */
  def readMetadata(spark: SparkSession, path: String): Map[String, String] = {
    val two = resolveFiles(spark, path).headOption.toSeq
      .flatMap(f => preamble(spark, new Path(f)).metadata)
    if (two.length < 2) return Map.empty
    val keys = splitCsvLine(two(0))
    val values = splitCsvLine(two(1))
    keys.zipAll(values, "", "").filter(_._1.nonEmpty).toMap
  }

  /** A file's first two physical lines, the byte offset just past them and
    * its header: the first later line that is not blank (only spaces, as
    * `csv(Dataset)` skips). Lines and offsets come from Hadoop's own line
    * reader over the decompressed stream, so the offset is the key
    * `TextInputFormat` gives the first body line, also for a gzip file. */
  private final case class Preamble(metadata: Seq[String], bodyStart: Long,
      header: Option[String])

  private def preamble(spark: SparkSession, file: Path): Preamble = {
    val conf = spark.sparkContext.hadoopConfiguration
    val raw = file.getFileSystem(conf).open(file)
    val in = Option(new CompressionCodecFactory(conf).getCodec(file))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw))
    val reader = new LineReader(in, conf)
    try {
      val text = new Text
      var offset = 0L
      def next(): Option[String] = {
        val n = reader.readLine(text)
        offset += n
        Option.when(n > 0)(text.toString)
      }
      val metadata = List.fill(2)(next()).flatten
      val bodyStart = offset
      Preamble(metadata, bodyStart,
        Iterator.continually(next()).takeWhile(_.isDefined).flatten.find(_.exists(_ != ' ')))
    } finally reader.close()
  }

  /** A path, glob or directory → its files, resolved on the driver; an
    * unmatched path comes back as itself, so reading it raises the file
    * system's missing-file error. */
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

  /** S3 — body scan: every file is read with at least
    * `defaultParallelism` splits, and each split drops the lines before
    * its file's body offset, so the metadata lines go in the same pass
    * however small the first split is. The header line is read on the
    * driver with the metadata; the columns take Spark's own header names
    * (`csv(Dataset)` with header=true: empty → `_cN`, duplicates suffixed
    * with their index), all StringType, and the body is parsed with that
    * schema — no job reads the first line.
    *
    * Like `csv(Dataset)` with header=true, every body line byte-identical
    * to the header is dropped as a repeated header; MRF data rows never
    * equal the header row in practice. Over a directory or glob the header
    * is the first file's, and later files' identical headers drop the same
    * way.
    *
    * Divergence note: dropping physical lines assumes the 2 metadata rows
    * contain no embedded newlines (true of CMS MRFs); pandas' parser would
    * tolerate them. Quoted newlines in the *body* are likewise not supported
    * by the line-based pass — documented, body rows are single-line in
    * the reference corpus. */
  def readBody(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val files = resolveFiles(spark, path).map(f => f -> preamble(spark, new Path(f)))
    val header = files.flatMap(_._2.header).headOption
    val lines = files.map { case (f, pre) =>
      val bodyStart = pre.bodyStart
      sc.hadoopFile(f, classOf[TextInputFormat], classOf[LongWritable], classOf[Text],
          sc.defaultParallelism)
        .mapPartitions(_.filter(_._1.get >= bodyStart).map(_._2.toString)
          .filterNot(header.contains))
    }.reduce(_ union _).toDS()
    val options = Map("header" -> "true", "inferSchema" -> "false") // dtype=str
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
    val schema = TextInputCSVDataSource.inferFromDataset(spark, lines, header,
      new CSVOptions(options, conf.csvColumnPruning, conf.sessionLocalTimeZone))
    spark.read.schema(schema).csv(lines)
  }
}
