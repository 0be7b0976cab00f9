package graft.clean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.config.{Converters, PipelineConf}
import graft.schema.SchemaLoader
import graft.schema.SchemaLoader.FieldSpec

/** The clean stage (reference `config.py:105-148`) as one generic,
  * config-driven DataFrame transform — the CSV branch (P1–P5, P8, P9)
  * plus the Excel two-sheet branch (P6, P7, U2).
  *
  * The whole stage is map-only (projections + scalar expressions, no
  * shuffle): at 100 TB it runs as a single narrow codegen'd stage,
  * embarrassingly parallel over input splits.
  */
object Clean {

  /** S1-adjacent: read a raw CSV with every column as string (converters
    * and casts are applied explicitly afterwards, mirroring how the
    * reference layers pandas converters over a raw read). multiLine
    * covers the reference's allow_quoted_newlines (`config.py:168`). */
  def readRawCsv(spark: org.apache.spark.sql.SparkSession, path: String,
                 fields: Seq[FieldSpec]): DataFrame = {
    val stringSchema = StructType(
      fields.map(f => StructField(f.name, StringType, nullable = true)))
    spark.read
      .option("header", true)
      .option("multiLine", true)
      .schema(stringSchema)
      .csv(path)
  }

  /** The CSV-branch clean (`config.py:131-144`), generic over schema+conf:
    * [[typed]] then [[dropUndated]].
    *
    *  P1  prune to schema columns (`usecols`)
    *  P8  apply config-named converters (P9 strip_excel via registry)
    *  P4  '' → NULL across all string columns (`df.replace('', NaN)`)
    *  P3  lenient date coercion — unparseable → null, never error
    *      (`pd.to_datetime(errors='coerce')`; `try_to_date` is the exact
    *      Spark 4 / ANSI-mode equivalent)
    *  P2  drop rows with null key date (`dropna(subset=[date_col])`)
    *  P5  bulk cast every column to its declared type (`astype`);
    *      try_cast keeps the reference's coerce-don't-crash posture
    *      under Spark 4's default ANSI mode
    */
  def clean(fields: Seq[FieldSpec], conf: PipelineConf)(raw: DataFrame): DataFrame =
    dropUndated(conf)(typed(fields, conf)(raw))

  /** P1, P8/P9, P4, P3, P5: every row typed, none dropped. `carry`
    * columns of `raw` ride along untouched after the schema columns —
    * the stream keeps each row's source file through its one pass. */
  def typed(fields: Seq[FieldSpec], conf: PipelineConf,
            carry: Seq[String] = Nil)(raw: DataFrame): DataFrame = {
    val names = SchemaLoader.colNames(fields).filter(raw.columns.contains)
    val types = fields.map(f => f.name -> SchemaLoader.sparkType(f.bqType)).toMap

    val pruned = raw.select((names ++ carry).map(col): _*) // P1

    val converted = conf.convertFuncs.foldLeft(pruned) { // P8/P9
      case (df, (c, fn)) if names.contains(c) =>
        df.withColumn(c, Converters(fn)(col(c)))
      case (df, _) => df
    }

    converted.select(names.map { c =>
      val base = col(c)
      val nulled =
        if (converted.schema(c).dataType == StringType)
          when(base === "", lit(null)).otherwise(base) // P4
        else base
      val typed = types(c) match {
        case DateType      => try_to_date(nulled)          // P3
        case TimestampType => try_to_timestamp(nulled)     // P3
        case t             => nulled.try_cast(t.sql)       // P5
      }
      typed.as(c)
    } ++ carry.map(col): _*)
  }

  /** P2: keep the rows whose key date survived typing. */
  def dropUndated(conf: PipelineConf)(typedRows: DataFrame): DataFrame =
    if (conf.dateCol.nonEmpty && typedRows.columns.contains(conf.dateCol))
      typedRows.filter(col(conf.dateCol).isNotNull)
    else typedRows

  /** The Excel two-sheet branch (`config.py:109-128`):
    *  P6  literal SOURCE provenance tag per sheet
    *  P7  null-column insertion so the Prime sheet matches the declared
    *      schema (the reference inserts at fixed ordinals; Spark is
    *      name-based, so insert-by-name + one final schema-order select
    *      is exactly equivalent)
    *  U2  vertical union of the two sheets
    */
  def alignSheets(prime: DataFrame, plus: DataFrame,
                  fields: Seq[FieldSpec]): DataFrame = {
    val order = SchemaLoader.colNames(fields)
    def tagAndAlign(df: DataFrame, tag: String): DataFrame = {
      val tagged = df.withColumn("SOURCE", lit(tag)) // P6
      val withMissing = order.foldLeft(tagged) { (d, c) => // P7
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast(
          SchemaLoader.toStructType(fields)(c).dataType))
      }
      withMissing.select(order.map(col): _*)
    }
    tagAndAlign(prime, "prime").unionByName(tagAndAlign(plus, "plus")) // U2
  }
}
