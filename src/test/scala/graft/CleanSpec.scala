package graft

import java.nio.file.Files
import org.apache.spark.sql.types._
import graft.clean.Clean
import graft.config.PipelineConf
import graft.schema.SchemaLoader.FieldSpec

/** Clean stage P2–P9 + U2 over a synthesized dirty CSV (fixture patterns
  * per FIXTURES.md §2). */
class CleanSpec extends SparkSpec {

  private val fields = Seq(
    FieldSpec("PolicyNumber", "STRING", "NULLABLE"),
    FieldSpec("PolicyEffectiveDate", "DATE", "NULLABLE"),
    FieldSpec("PolicyExpiryDate", "DATE", "NULLABLE"),
    FieldSpec("LeaseIndicator", "BOOLEAN", "NULLABLE"),
    FieldSpec("CommissionAmt", "NUMERIC", "NULLABLE"),
    FieldSpec("Units", "INTEGER", "NULLABLE"))

  private val conf = PipelineConf(
    name = "RenewalList.CSV", jsonfile = "", dateCol = "PolicyExpiryDate",
    convertFuncs = Map("PolicyNumber" -> "strip_excel"),
    tableNew = "", tableOld = "", uri1 = None, uri2 = None)

  private def writeCsv(rows: String*): String = {
    val dir = tempDir("clean-spec").toFile
    val f = new java.io.File(dir, "in.csv")
    val header =
      "PolicyNumber,PolicyEffectiveDate,PolicyExpiryDate,LeaseIndicator,CommissionAmt,Units,Extra"
    Files.write(f.toPath, (header +: rows).mkString("\n").getBytes("UTF-8"))
    f.getAbsolutePath
  }

  test("CSV branch: P1 prune, P8/P9 strip, P2 dropna, P3 coerce, P4 ''->null, P5 cast") {
    val path = writeCsv(
      "\"=\"\"P001\"\"\",2020-01-15,2021-01-15,true,123.45,7,junk", // quoted ="P001"
      "P002,not-a-date,2021-02-01,false,,,junk",   // bad eff date -> null; empties -> null
      "P003,2020-03-01,,true,9.99,1,junk",         // null date_col -> row dropped
      ",2020-04-01,2021-04-01,false,1.00,2,junk")  // empty PolicyNumber -> null, row kept
    val raw = Clean.readRawCsv(spark, path, fields :+ FieldSpec("Extra", "STRING", "NULLABLE"))
    val out = Clean.clean(fields, conf)(raw.drop("Extra"))

    assert(out.columns.toSeq === fields.map(_.name)) // P1: Extra pruned
    assert(out.schema("PolicyExpiryDate").dataType === DateType)
    assert(out.schema("CommissionAmt").dataType === DecimalType(38, 9))
    assert(out.schema("Units").dataType === LongType)
    assert(out.schema("LeaseIndicator").dataType === BooleanType)

    val rows = out.orderBy("PolicyExpiryDate").collect()
    assert(rows.length === 3) // P2 dropped P003
    val p1 = rows.find(r => r.getAs[String]("PolicyNumber") == "P001").get
    assert(p1.getAs[java.sql.Date]("PolicyEffectiveDate").toString === "2020-01-15")
    val p2 = rows.find(r => r.getAs[String]("PolicyNumber") == "P002").get
    assert(p2.isNullAt(p2.fieldIndex("PolicyEffectiveDate"))) // P3 coerced
    assert(p2.isNullAt(p2.fieldIndex("CommissionAmt")))       // P4 ''->null
    val p4 = rows.find(_.isNullAt(0)).get                     // P4 on key col
    assert(p4.getAs[Long]("Units") === 2L)
  }

  test("Excel branch: P6 SOURCE tags, P7 null-insert, U2 union, schema order") {
    import spark.implicits._
    val allFields = Seq(
      FieldSpec("VIN", "STRING", "NULLABLE"),
      FieldSpec("DEALER", "STRING", "NULLABLE"),       // absent from prime
      FieldSpec("TOTAL_PREMIUM", "FLOAT", "NULLABLE"),
      FieldSpec("SOURCE", "STRING", "NULLABLE"))
    val prime = Seq(("V1", 10.0), ("V2", 20.0)).toDF("VIN", "TOTAL_PREMIUM")
    val plus = Seq(("V3", "D9", 30.0)).toDF("VIN", "DEALER", "TOTAL_PREMIUM")
    val out = Clean.alignSheets(prime, plus, allFields)

    assert(out.columns.toSeq === Seq("VIN", "DEALER", "TOTAL_PREMIUM", "SOURCE"))
    val rows = out.orderBy("VIN").collect()
    assert(rows.map(_.getAs[String]("SOURCE")).toSeq === Seq("prime", "prime", "plus"))
    assert(rows.take(2).forall(_.isNullAt(1))) // P7: DEALER null for prime
    assert(rows(2).getAs[String]("DEALER") === "D9")
  }

  test("multiLine: quoted embedded newlines survive (allow_quoted_newlines)") {
    val path = writeCsv("\"P0\n01\",2020-01-15,2021-01-15,true,1.0,1,x")
    val raw = Clean.readRawCsv(spark, path, fields :+ FieldSpec("Extra", "STRING", "NULLABLE"))
    val out = Clean.clean(fields, conf)(raw)
    assert(out.select("PolicyNumber").collect().head.getString(0) === "P0\n01")
  }
}
