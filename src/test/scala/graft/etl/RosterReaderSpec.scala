package graft.etl

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.{CostGuard, TestSpark}

/** S2 — positional slice + header promotion (`app.py:236-238`). */
class RosterReaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeCsv(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("roster")
    val f   = dir.resolve("roster.csv")
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  test("row 3 becomes the header, rows 0-2 are discarded, renames apply") {
    val path = writeCsv(Seq(
      "Listado oficial,,,",
      "Generado: 2025,,,",
      ",,,",
      "Rut (con punto y con guión),Nombres ,Apellidos,Correo electrónico",
      "1-9,Ana,Soto,a@x.cl",
      "2-7,Luis,Rojas,l@x.cl"))
    val df = RosterReader.read(spark, path)
    assert(df.columns.toSeq == Seq("rut", "nombres", "apellidos", "email"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("1-9", "Ana"), ("2-7", "Luis")))
  }

  test("extra columns are carried through; blank headers get positional names") {
    val path = writeCsv(Seq(
      "x,x,x,x,x",
      "x,x,x,x,x",
      ",,,,",
      "Rut (con punto y con guión),Nombres ,Apellidos,Correo electrónico,",
      "1-9,Ana,Soto,a@x.cl,extra"))
    val df = RosterReader.read(spark, path)
    assert(df.columns.length == 5)
    assert(df.columns.take(4).toSeq == Seq("rut", "nombres", "apellidos", "email"))
  }

  test("file order is preserved as row order") {
    val data = (1 to 200).map(i => s"$i-0,N$i,S$i,n$i@x.cl")
    val path = writeCsv(Seq("p", "p", "p",
      "Rut (con punto y con guión),Nombres ,Apellidos,Correo electrónico") ++ data)
    val df = RosterReader.read(spark, path)
    // narrow single-field preamble must NOT truncate the schema
    assert(df.columns.toSeq == Seq("rut", "nombres", "apellidos", "email"))
    val ruts = df.collect().map(_.getString(0))
    assert(ruts.toSeq == (1 to 200).map(i => s"$i-0"))
  }

  test("quoted embedded newline in the preamble does not shift the header index") {
    // the quoted field spans two PHYSICAL lines; both passes must index
    // physical lines (multiLine=false) or the header promotion desyncs
    val path = writeCsv(Seq(
      "\"Listado", "oficial\",,,",
      ",,,",
      "Rut (con punto y con guión),Nombres ,Apellidos,Correo electrónico",
      "1-9,Ana,Soto,a@x.cl"))
    val df = RosterReader.read(spark, path)
    assert(df.columns.toSeq == Seq("rut", "nombres", "apellidos", "email"))
    assert(df.collect().map(_.getString(1)).toSeq == Seq("Ana"))
  }

  test("missing header row fails fast") {
    val path = writeCsv(Seq("only,one,row"))
    intercept[IllegalArgumentException](RosterReader.read(spark, path))
  }

  private val Header = "Rut (con punto y con guión),Nombres ,Apellidos,Correo electrónico"

  private def rutsAndNames(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSeq

  test("a blank preamble line does not eat the first data row") {
    // the header index counts physical lines, blank ones included, so
    // the data rows must be counted the same way
    val path = writeCsv(Seq("Listado oficial,,,", "", ",,,", Header,
      "1-9,Ana,Soto,a@x.cl", "2-7,Luis,Rojas,l@x.cl"))
    assert(rutsAndNames(RosterReader.read(spark, path)) == Seq(("1-9", "Ana"), ("2-7", "Luis")))
  }

  test("a whitespace-only preamble line is a physical line like any other") {
    val path = writeCsv(Seq("Listado oficial,,,", " \t ", ",,,", Header,
      "1-9,Ana,Soto,a@x.cl", "2-7,Luis,Rojas,l@x.cl"))
    assert(rutsAndNames(RosterReader.read(spark, path)) == Seq(("1-9", "Ana"), ("2-7", "Luis")))
  }

  test("CRLF line ends; blank data lines are skipped as Spark's CSV reader skips them") {
    val dir = Files.createTempDirectory("roster")
    val f   = dir.resolve("roster.csv")
    Files.writeString(f, Seq("p", "p", "p", Header, "1-9,Ana,Soto,a@x.cl", "", "  ",
      "2-7,Luis,Rojas,l@x.cl", "").mkString("\r\n"))
    assert(rutsAndNames(RosterReader.read(spark, f.toString)) ==
      Seq(("1-9", "Ana"), ("2-7", "Luis")))
  }

  test("a UTF-8 BOM on line 0 is stripped before the header is promoted") {
    val path = writeCsv(Seq("\uFEFF" + Header, "1-9,Ana,Soto,a@x.cl"))
    val df = RosterReader.read(spark, path, headerRow = 0)
    assert(df.columns.toSeq == Seq("rut", "nombres", "apellidos", "email"))
    assert(rutsAndNames(df) == Seq(("1-9", "Ana")))
  }

  test("narrow rows pad, wide rows truncate, duplicate and blank headers get unique names") {
    val path = writeCsv(Seq("p", "p", "p", "a,a,,b", "1,2,3,4,5,6", "x", "\"q,1\",r"))
    val df = RosterReader.read(spark, path)
    assert(df.columns.toSeq == Seq("a", "a_1", "_c2", "b"))
    val rows = df.collect().map(_.toSeq).toSeq
    assert(rows == Seq(Seq("1", "2", "3", "4"), Seq("x", null, null, null),
      Seq("q,1", "r", null, null)))
  }

  test("a roster spanning several input splits keeps every row in file order") {
    val data = (1 to 300).map(i => s"$i-0,N$i,S$i,n$i@x.cl")
    val path = writeCsv(Seq("p", "p", "p", Header) ++ data)
    val tiny = spark.newSession()
    tiny.conf.set("spark.sql.files.maxPartitionBytes", "256")
    tiny.conf.set("spark.sql.files.openCostInBytes", "0")
    assert(tiny.read.text(path).rdd.getNumPartitions > 1, "the file must span several splits")
    val ruts = RosterReader.read(tiny, path).collect().map(_.getString(0)).toSeq
    assert(ruts == (1 to 300).map(i => s"$i-0"))
  }

  test("a file shorter than the header row names the row it wanted") {
    val path = writeCsv(Seq("p", "p", "p"))
    val e = intercept[IllegalArgumentException](RosterReader.read(spark, path))
    assert(e.getMessage.contains("no row 3 to promote"), e.getMessage)
  }

  test("building the frame launches no Spark job and plans no RDD") {
    val path = writeCsv(Seq("p", "p", "p", Header, "1-9,Ana,Soto,a@x.cl"))
    val (df, jobs) = CostGuard.jobsIn(RosterReader.read(spark, path))
    assert(jobs == 0, s"RosterReader.read launched $jobs Spark jobs")
    assert(CostGuard.rddLeaves(df).isEmpty, df.queryExecution.analyzed)
    // every call re-reads the file: nothing about it is remembered
    Files.writeString(java.nio.file.Paths.get(path),
      Seq("p", "p", "p", Header, "2-7,Luis,Rojas,l@x.cl").mkString("\n"))
    assert(rutsAndNames(RosterReader.read(spark, path)) == Seq(("2-7", "Luis")))
  }

  test("each line is parsed once, also under a downstream filter") {
    val path = writeCsv(Seq("p", "p", "p", Header, "1-9,Ana,Soto,a@x.cl"))
    // MoodleNormalize filters on rut and nombres; pushed below the parse,
    // that filter would run from_csv again for every line
    val plan = MoodleNormalize(RosterReader.read(spark, path)).queryExecution.optimizedPlan
    assert(plan.flatMap(_.expressions.flatMap(_.collect {
      case e: org.apache.spark.sql.catalyst.expressions.CsvToStructs => e })).size == 1, plan)
  }

  // ------------------------------------------------------------- xlsx

  /** Minimal OOXML writer for fixtures: enough structure for a compliant
    * reader (workbook + rels + sharedStrings + one sheet), with shared
    * strings, inline strings, numbers, gaps, and a trailing-space header
    * preserved via xml:space.
    */
  private def writeXlsx(): String = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val dir = Files.createTempDirectory("rosterx")
    val f = dir.resolve("roster.xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(f))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    put("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    put("_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    // two sheets: the FIRST one (non-conventional part name) must win
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Datos" sheetId="1" r:id="rId7"/><sheet name="Otra" sheetId="2" r:id="rId8"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId8" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/other.xml"/><Relationship Id="rId7" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/datos.xml"/></Relationships>""")
    put("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="6" uniqueCount="6"><si><t>Listado oficial</t></si><si><t>Rut (con punto y con guión)</t></si><si><t xml:space="preserve">Nombres </t></si><si><t>Apellidos</t></si><si><t>Correo electrónico</t></si><si><r><t>An</t></r><r><t>a</t></r></si></sst>""")
    // rows: 3 preamble (narrow), header at sheet row 4 (index 3), data.
    // Ana arrives as a rich-text shared string; Soto inline; rut numeric;
    // row 6 has a GAP at column B and an email at D only.
    put("xl/worksheets/datos.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
      """<row r="1"><c r="A1" t="s"><v>0</v></c></row>""" +
      """<row r="2"><c r="A2" t="inlineStr"><is><t>Generado: 2025</t></is></c></row>""" +
      """<row r="3"/>""" +
      """<row r="4"><c r="A4" t="s"><v>1</v></c><c r="B4" t="s"><v>2</v></c><c r="C4" t="s"><v>3</v></c><c r="D4" t="s"><v>4</v></c></row>""" +
      """<row r="5"><c r="A5" t="inlineStr"><is><t>1-9</t></is></c><c r="B5" t="s"><v>5</v></c><c r="C5" t="inlineStr"><is><t>Soto</t></is></c><c r="D5" t="inlineStr"><is><t>a@x.cl</t></is></c></row>""" +
      """<row r="6"><c r="A6"><v>27</v></c><c r="C6" t="inlineStr"><is><t>Rojas</t></is></c><c r="D6" t="inlineStr"><is><t>l@x.cl</t></is></c></row>""" +
      """</sheetData></worksheet>""")
    put("xl/worksheets/other.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>WRONG SHEET</t></is></c></row></sheetData></worksheet>""")
    zos.close()
    f.toString
  }

  test("xlsx: first sheet resolved via rels, header promotion + renames as in CSV") {
    val df = RosterReader.readXlsx(spark, writeXlsx())
    assert(df.columns.toSeq == Seq("rut", "nombres", "apellidos", "email"))
    val rows = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(rows.toSeq == Seq(
      ("1-9", "Ana", "Soto", "a@x.cl"),      // rich-text shared string joins runs
      ("27", null, "Rojas", "l@x.cl")))      // numeric cell as string; gap -> NULL
  }

  test("xlsx feeds the full Moodle normalize pipeline like a CSV roster does") {
    val moodle = MoodleNormalize(RosterReader.readXlsx(spark, writeXlsx()))
    val out = moodle.collect()
    // row 2 has no nombres -> filtered by the non-null participant gate
    assert(out.length == 1)
    assert(out.head.getAs[String]("username") == "anasoto")
  }

  test("legacy .xls (BIFF/OLE2) roster is rejected with a typed, actionable error") {
    // the reference's file dialog accepts *.xls too (app.py:792); parity
    // here is detection by the OLE2 container magic (extensions lie) and
    // a clear re-save instruction instead of an opaque ZipException
    val f = java.nio.file.Files.createTempFile("roster", ".xls")
    val ole2 = Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte)
    java.nio.file.Files.write(f, ole2 ++ Array.fill[Byte](512)(0))
    val e = intercept[IllegalArgumentException] {
      RosterReader.readXlsx(spark, f.toString)
    }
    assert(e.getMessage.contains("legacy .xls") &&
      e.getMessage.contains("re-save the roster as .xlsx"))
  }

  test("xlsx: the frame is a local relation, built without a Spark job") {
    val path = writeXlsx()
    val (df, jobs) = CostGuard.jobsIn(RosterReader.readXlsx(spark, path))
    assert(jobs == 0, s"RosterReader.readXlsx launched $jobs Spark jobs")
    assert(CostGuard.rddLeaves(df).isEmpty, df.queryExecution.analyzed)
  }

  test("xlsx column reference math") {
    import graft.sources.Xlsx
    assert(Xlsx.colIndex("A1") == 0)
    assert(Xlsx.colIndex("Z9") == 25)
    assert(Xlsx.colIndex("AA10") == 26)
    assert(Xlsx.colIndex("BC7") == 54)
  }
}
