package graft.etl

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.functions.{col, filter, from_csv, inline, split, transform}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** S2 — positional slice + header promotion (`app.py:236-238`): the raw
  * roster sheet carries 3 preamble rows, the 4th row IS the header, data
  * follows. Plus the reference's rename map (`app.py:240-245`), including
  * the infamous trailing-space `"Nombres "` header.
  *
  * One Spark plan, built without launching a job. Rows are PHYSICAL lines
  * (`multiLine=false` semantics: a quoted newline never joins two lines),
  * split on `\n`, `\r` or `\r\n` like Hadoop's `LineRecordReader`.
  *
  *  - Header: the first `headerRow + 1` lines are read on the driver
  *    through the Hadoop `FileSystem` (UTF-8, leading BOM stripped) and
  *    line `headerRow` is tokenized with Spark's own CSV parser settings.
  *    The header alone fixes the width: schema inference would take it
  *    from the first line, and preamble lines are typically narrower.
  *  - Data: the file is read whole as one row and split into lines; the
  *    lines up to the header (by index) and blank lines (the ones Spark's
  *    CSV reader skips) are dropped, the rest is parsed by `from_csv` at
  *    the header's all-string width, and `inline` makes each parsed line a
  *    row. `PERMISSIVE`: short rows pad with NULL, wide rows truncate.
  *
  * Row order: one file is one row, inlined in line order within one
  * partition, so row order is file order whatever the split size.
  * `monotonically_increasing_id` ordinals would not be (SURVEY.md
  * §7.4.1). This operator is for one human-sized roster file — the
  * positional contract doesn't scale past that and doesn't need to.
  */
object RosterReader {

  val DefaultRenames: Map[String, String] = Map(
    "Rut (con punto y con guión)" -> "rut",
    "Nombres "                    -> "nombres",
    "Apellidos"                   -> "apellidos",
    "Correo electrónico"          -> "email")

  private val CsvOpts = Map("mode" -> "PERMISSIVE")

  /** Read a headerless CSV, promote row `headerRow` (0-based) to column
    * names, drop everything before the first data row, apply renames.
    */
  def read(spark: SparkSession, path: String, headerRow: Int = 3,
           renames: Map[String, String] = DefaultRenames): DataFrame = {
    val head = leadingLines(spark, path, headerRow + 1)
    if (head.length <= headerRow) throw new IllegalArgumentException(
      s"roster has no row $headerRow to promote to a header")
    val settings = new CSVOptions(CsvOpts, false,
      spark.sessionState.conf.sessionLocalTimeZone).asParserSettings
    val headerVals = Option(new CsvParser(settings).parseLine(head(headerRow)))
      .getOrElse(throw new IllegalArgumentException(
        s"roster row $headerRow is blank: no header to promote"))
    val names = promoteNames(headerVals.toSeq) // empty cells parse as "" (nullValue)
    val schema = StructType(names.map(n => StructField(n, StringType, nullable = true)))

    // One generator turns the file's one row into the parsed rows, so a
    // downstream filter cannot be pushed below it and re-run `from_csv`.
    // Line 0 (where a BOM sits) is always at or before the header, so the
    // BOM never reaches the parsed rows.
    val dataLines = filter(split(col("value"), "\r\n|\r|\n"),
      (line, i) => i > headerRow && line.rlike("[^\\x00-\\x20]"))
    spark.read.option("wholetext", "true").text(path)
      .select(inline(transform(dataLines, line => from_csv(line, schema, CsvOpts))))
      .withColumnsRenamed(renames)
  }

  /** The first `n` physical lines of `path`, decoded as UTF-8 with a
    * leading BOM stripped (as `LineRecordReader` does); fewer if the file
    * is shorter. Compressed files are decoded by their extension's codec.
    */
  private def leadingLines(spark: SparkSession, path: String, n: Int): Vector[String] = {
    val p = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val raw = p.getFileSystem(conf).open(p)
    val in = Option(new CompressionCodecFactory(conf).getCodec(p))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw))
    val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    try {
      val lines = Iterator.continually(reader.readLine()).takeWhile(_ != null).take(n).toVector
      lines.headOption.fold(lines)(l0 => lines.updated(0, l0.stripPrefix("\uFEFF")))
    } finally reader.close()
  }

  /** The reference's ACTUAL source format (`pd.read_excel`,
    * `app.py:234`): first worksheet of an .xlsx via the JDK-only
    * [[graft.sources.Xlsx]] reader, then the identical positional
    * header-promotion contract as [[read]] — sheet row `headerRow` (0-
    * based) becomes the schema, earlier rows are preamble, narrow rows
    * pad with NULL and wide rows truncate to the header's width. Parsing
    * is driver-side and the frame is a local relation: the positional
    * contract is inherently for human-sized roster files (class doc).
    */
  def readXlsx(spark: SparkSession, path: String, headerRow: Int = 3,
               renames: Map[String, String] = DefaultRenames): DataFrame = {
    val rows = graft.sources.Xlsx.readRows(path)
    if (rows.length <= headerRow) throw new IllegalArgumentException(
      s"roster has no row $headerRow to promote to a header")
    val names = promoteNames(rows(headerRow).map(v => if (v == null) "" else v))
    val width = names.length
    val schema = StructType(names.map(n => StructField(n, StringType, nullable = true)))
    val data = rows.drop(headerRow + 1).map(r =>
      org.apache.spark.sql.Row.fromSeq(r.padTo(width, null).take(width)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(data.asJava, schema).withColumnsRenamed(renames)
  }

  /** Uniquify blank/duplicate promoted header names so toDF can't
    * collide (shared by the CSV and xlsx paths).
    */
  private def promoteNames(headerVals: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    headerVals.indices.map { i =>
      val h    = headerVals(i)
      val base = if (h.trim.isEmpty) s"_c$i" else h
      val n    = seen.getOrElse(base, 0)
      seen(base) = n + 1
      if (n == 0) base else s"${base}_$n"
    }
  }
}
