package graft

import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import graft.clean.Clean
import graft.schema.SchemaLoader.FieldSpec
import graft.sources.Xlsx

/** S2 — real .xlsx ingestion: a genuine two-sheet workbook (zip + XML,
  * written by hand here exactly as Excel/openpyxl lay it out) read back
  * through [[Xlsx.readSheet]] and the Excel clean branch (P6/P7/U2). */
class XlsxSpec extends SparkSpec {

  /** Write a minimal-but-real workbook: two sheets, shared strings,
    * inline strings, numerics, booleans, and a skipped cell (gap). */
  private def writeWorkbook(): String = {
    def sheetXml(rows: Seq[Seq[(String, String, String)]]): String = {
      // rows of (ref, type-attr, inner-xml)
      val body = rows.zipWithIndex.map { case (cs, _) =>
        "<row>" + cs.map { case (ref, t, inner) =>
          val tAttr = if (t.isEmpty) "" else s""" t="$t""""
          s"""<c r="$ref"$tAttr>$inner</c>"""
        }.mkString + "</row>"
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
         |<sheetData>$body</sheetData></worksheet>""".stripMargin
    }
    // Prime sheet: VIN (shared string), TOTAL_PREMIUM (numeric).
    val prime = sheetXml(Seq(
      Seq(("A1", "s", "<v>0</v>"), ("B1", "s", "<v>1</v>")),
      Seq(("A2", "s", "<v>2</v>"), ("B2", "", "<v>10.5</v>")),
      Seq(("A3", "inlineStr", "<is><t>V2</t></is>"), ("B3", "", "<v>20</v>"))))
    // Plus sheet: VIN, DEALER, TOTAL_PREMIUM, LEASE; row V4 skips DEALER
    // (no B-cell) to exercise ref-based gap handling.
    val plus = sheetXml(Seq(
      Seq(("A1", "s", "<v>0</v>"), ("B1", "s", "<v>3</v>"),
        ("C1", "s", "<v>1</v>"), ("D1", "s", "<v>4</v>")),
      Seq(("A2", "s", "<v>5</v>"), ("B2", "inlineStr", "<is><t>D9</t></is>"),
        ("C2", "", "<v>30</v>"), ("D2", "b", "<v>1</v>")),
      Seq(("A3", "inlineStr", "<is><t>V4</t></is>"),
        ("C3", "", "<v>40</v>"), ("D3", "b", "<v>0</v>"))))
    val shared =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="6" uniqueCount="6">
        |<si><t>VIN</t></si><si><t>TOTAL_PREMIUM</t></si><si><r><t>V</t></r><r><t>1</t></r></si>
        |<si><t>DEALER</t></si><si><t>LEASE</t></si><si><t>V3</t></si></sst>""".stripMargin
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="Prime" sheetId="1" r:id="rId1"/>
        |<sheet name="Plus" sheetId="2" r:id="rId2"/></sheets></workbook>""".stripMargin
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>
        |</Relationships>""".stripMargin
    val dir = tempDir("xlsx-spec").toFile
    val f = new java.io.File(dir, "ProductionRpt.xlsx")
    val zos = new ZipOutputStream(new java.io.FileOutputStream(f))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    put("xl/workbook.xml", workbook)
    put("xl/_rels/workbook.xml.rels", rels)
    put("xl/sharedStrings.xml", shared)
    put("xl/worksheets/sheet1.xml", prime)
    put("xl/worksheets/sheet2.xml", plus)
    zos.close()
    f.getAbsolutePath
  }

  test("colIndex decodes A1-style refs") {
    assert(Xlsx.colIndex("A1") === 0)
    assert(Xlsx.colIndex("Z9") === 25)
    assert(Xlsx.colIndex("AA10") === 26)
    assert(Xlsx.colIndex("BC12") === 54)
  }

  test("readSheet: shared strings, rich-text runs, inline, numeric, bool, gaps") {
    val path = writeWorkbook()
    val prime = Xlsx.readSheet(spark, path, "Prime")
    assert(prime.columns.toSeq === Seq("VIN", "TOTAL_PREMIUM"))
    val pr = prime.orderBy("VIN").collect()
    assert(pr.map(_.getString(0)).toSeq === Seq("V1", "V2")) // rich-text si concat
    assert(pr.map(_.getString(1)).toSeq === Seq("10.5", "20"))

    val plus = Xlsx.readSheet(spark, path, "Plus")
    assert(plus.columns.toSeq === Seq("VIN", "DEALER", "TOTAL_PREMIUM", "LEASE"))
    val pl = plus.orderBy("VIN").collect()
    assert(pl.map(_.getString(0)).toSeq === Seq("V3", "V4"))
    assert(pl(0).getString(1) === "D9" && pl(0).getString(3) === "true")
    assert(pl(1).getString(1) === null) // gap cell -> null
    assert(pl(1).getString(3) === "false")
  }

  test("e2e: xlsx -> two sheets -> align (P6/P7/U2) -> clean typed output") {
    val path = writeWorkbook()
    val fields = Seq(
      FieldSpec("VIN", "STRING", "NULLABLE"),
      FieldSpec("DEALER", "STRING", "NULLABLE"),
      FieldSpec("TOTAL_PREMIUM", "FLOAT", "NULLABLE"),
      FieldSpec("LEASE", "BOOLEAN", "NULLABLE"),
      FieldSpec("SOURCE", "STRING", "NULLABLE"))
    val conf = graft.config.PipelineConf(
      name = "ProductionRpt.xlsx", jsonfile = "", dateCol = "",
      convertFuncs = Map.empty, tableNew = "", tableOld = "",
      uri1 = None, uri2 = None)
    val aligned = Clean.alignSheets(
      Xlsx.readSheet(spark, path, "Prime"),
      Xlsx.readSheet(spark, path, "Plus"), fields)
    val out = Clean.clean(fields, conf)(aligned)
    assert(out.schema("TOTAL_PREMIUM").dataType ===
      org.apache.spark.sql.types.DoubleType)
    val rows = out.orderBy("VIN").collect()
    assert(rows.map(_.getAs[String]("VIN")).toSeq === Seq("V1", "V2", "V3", "V4"))
    assert(rows.map(_.getAs[String]("SOURCE")).toSeq ===
      Seq("prime", "prime", "plus", "plus"))
    assert(rows(0).isNullAt(rows(0).fieldIndex("DEALER"))) // P7 insert
    assert(rows(2).getAs[Double]("TOTAL_PREMIUM") === 30.0)
    assert(rows(2).getAs[Boolean]("LEASE") === true)
  }
}
