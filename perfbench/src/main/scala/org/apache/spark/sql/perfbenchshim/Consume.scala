package org.apache.spark.sql.perfbenchshim

import java.security.MessageDigest
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** What one full read of a query result saw. `hash` is an
  * order-independent sum of per-row hashes (cheap; compared against the
  * same query's reference run). `fp` is the canonical fingerprint the
  * DuckDB oracle recomputes: columns sorted by name, every cell rendered
  * as text (NULL, floats at 12 significant digits, timestamps to the
  * second), the row string md5-hashed, the first 60 bits of each hash
  * summed. `cents(c)` sums round(c * 100) and `nonNull(c)` counts
  * non-null cells of the named columns. */
final case class Consumed(rows: Long, hash: Long, fp: BigInt,
                          cents: Map[String, Long], nonNull: Map[String, Long])

object Consume {

  private val tsFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** Canonical text of one cell; must match `oracle.cell_sql`. */
  private def cell(row: InternalRow, i: Int, t: DataType): String =
    if (row.isNullAt(i)) "NULL" else t match {
      case IntegerType => row.getInt(i).toString
      case LongType => row.getLong(i).toString
      case ShortType => row.getShort(i).toString
      case ByteType => row.getByte(i).toString
      case BooleanType => row.getBoolean(i).toString
      case DoubleType => String.format(Locale.US, "%.11e", Double.box(row.getDouble(i)))
      case FloatType => String.format(Locale.US, "%.11e", Double.box(row.getFloat(i).toDouble))
      case StringType => row.getUTF8String(i).toString
      case TimestampType | TimestampNTZType =>
        val us = row.getLong(i)
        tsFmt.format(Instant.ofEpochSecond(Math.floorDiv(us, 1000000L)))
      case DateType => LocalDate.ofEpochDay(row.getInt(i).toLong).toString
      case other => throw new IllegalArgumentException(s"no canonical form for $other")
    }

  /** Execute `df` completely (every row reaches this reader) and
    * summarise what came back. One Spark SQL execution, so the plan is
    * exactly the one a user action would run. */
  def apply(df: DataFrame, canonical: Boolean,
            centCols: Seq[String] = Nil, nonNullCols: Seq[String] = Nil): Consumed = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val schema = df.schema
    val fields = schema.fields
    val sortedIdx = fields.indices.sortBy(i => fields(i).name).toArray
    val centIdx = centCols.map(c => schema.fieldIndex(c)).toArray
    val nnIdx = nonNullCols.map(c => schema.fieldIndex(c)).toArray
    val qe = ds.queryExecution
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench consume")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        val md5 = MessageDigest.getInstance("MD5")
        val sb = new java.lang.StringBuilder
        var n = 0L; var h = 0L; var fp = BigInt(0)
        val cents = new Array[Long](centIdx.length)
        val nn = new Array[Long](nnIdx.length)
        it.foreach { row =>
          n += 1
          h += (row match {
            case u: UnsafeRow => u.hashCode()
            case r => proj(r).hashCode()
          }).toLong
          var j = 0
          while (j < centIdx.length) {
            val i = centIdx(j)
            if (!row.isNullAt(i)) cents(j) += Math.round(row.getDouble(i) * 100)
            j += 1
          }
          j = 0
          while (j < nnIdx.length) { if (!row.isNullAt(nnIdx(j))) nn(j) += 1; j += 1 }
          if (canonical) {
            sb.setLength(0)
            var k = 0
            while (k < sortedIdx.length) {
              if (k > 0) sb.append('|')
              val i = sortedIdx(k)
              sb.append(cell(row, i, fields(i).dataType))
              k += 1
            }
            val d = md5.digest(sb.toString.getBytes("UTF-8"))
            var top = 0L
            var b = 0
            while (b < 8) { top = (top << 8) | (d(b) & 0xffL); b += 1 }
            fp += BigInt(top >>> 4)
          }
        }
        Iterator((n, h, fp, cents, nn))
      }.collect()
    }
    Consumed(
      parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum,
      centCols.indices.map(j => centCols(j) -> parts.map(_._4(j)).sum).toMap,
      nonNullCols.indices.map(j => nonNullCols(j) -> parts.map(_._5(j)).sum).toMap)
  }

  /** Block until every listener event posted so far has been delivered,
    * so the trace is complete before it is written. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
