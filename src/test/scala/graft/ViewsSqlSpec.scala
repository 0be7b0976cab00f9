package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, max, min}
import graft.merge.Merge
import graft.views.Views

/** S6 cross-check: the reference's view SQL texts (its `CREATE OR
  * REPLACE VIEW` surface, `config.py:215-221`) must return exactly the
  * rows of the DataFrame builders, and the views `Views.createAll`
  * registers are those builders: one memoized build serves SQL and
  * DataFrame callers, and `createAll` after a write is the refresh.
  */
class ViewsSqlSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def assertSameRows(sql: DataFrame, df: DataFrame): Unit = {
    assert(sql.columns.toSeq === df.columns.toSeq)
    assert(sql.count() === df.count())
    assert(sql.exceptAll(df).isEmpty && df.exceptAll(sql).isEmpty)
  }

  /** A reference SQL text run over the registered base tables of `dir`. */
  private def sqlText(text: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(text)
  }

  test("S6: SQL views == DataFrame builders for all three views") {
    assertSameRows(sqlText(Views.transactionsSql), Views.transactions(spark, dir))
    assertSameRows(sqlText(Views.retentionSql), Views.retention(spark, dir))
    assertSameRows(sqlText(Views.autoOptiomSql), Views.autoOptiom(spark, dir))
  }

  test("TRANSACTIONS_SCALED: same rows as the verbatim view, distributed plan") {
    val verbatim = sqlText(Views.transactionsSql)
    val scaled = sqlText(Views.transactionsScaledSql)
    assert(scaled.columns.toSeq === verbatim.columns.toSeq)
    // Id casts to long: the verbatim ROW_NUMBER yields int, the scaled
    // rn + bigint offset yields long — values identical
    def normalized(df: DataFrame) =
      df.withColumn("Id", col("Id").cast("long"))
        .withColumn("MinId", col("MinId").cast("long"))
    assert(normalized(scaled).exceptAll(normalized(verbatim)).isEmpty &&
      normalized(verbatim).exceptAll(normalized(scaled)).isEmpty)
    // the verbatim plan carries the known single-partition window; the
    // scaled plan must not have a SinglePartition exchange ANYWHERE —
    // its windows are bucket-/key-partitioned and the bucket offsets
    // come from an aggregate self-join, not a global window
    assert(verbatim.queryExecution.executedPlan.toString
      .contains("SinglePartition"))
    assert(!scaled.queryExecution.executedPlan.toString
      .contains("SinglePartition"))
  }

  test("S6: views are lazy — re-creation replaces, table() re-evaluates") {
    Tables.registerAll(spark, dir)
    spark.sql(s"CREATE OR REPLACE TEMP VIEW TX_TEXT AS\n${Views.transactionsSql}")
    val n1 = spark.table("TX_TEXT").count()
    spark.sql(s"CREATE OR REPLACE TEMP VIEW TX_TEXT AS\n${Views.transactionsSql}")
    assert(spark.table("TX_TEXT").count() === n1)
    Views.createAll(spark, dir)
    Views.createAll(spark, dir) // re-registration is idempotent
    assert(spark.table("TRANSACTIONS").count() === n1)
  }

  test("one build serves both surfaces: TRANSACTIONS reads the memoized core") {
    Views.createAll(spark, dir)
    assert(!spark.table("TRANSACTIONS").queryExecution.executedPlan.toString
      .contains("SinglePartition"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Views.transactionsCore(spark, dir)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "transactionsCore after createAll must be a memo hit")
  }

  test("createAll after a write serves the merged rows, no SessionCache.clear") {
    val src = Path.of(dir)
    val copy = tempDir("views-refresh").resolve("sf")
    val walk = Files.walk(src)
    try walk.forEach(p => Files.copy(p, copy.resolve(src.relativize(p).toString)))
    finally walk.close()
    val d = copy.toString
    Views.createAll(spark, d)
    val n0 = spark.table("TRANSACTIONS").count()
    // the batch: every row from the 30th-newest ship date on, plus a
    // copy of each under a fresh order key — the cutoff merge replaces
    // the first half with itself and adds the second
    val li = Tables(spark, d, "lineitem")
    val cut = li.orderBy(col("l_shipdate").desc).limit(30)
      .agg(min("l_shipdate")).head.getTimestamp(0)
    val tail = li.filter(col("l_shipdate") >= cut).collect()
    val fresh = 10000000L
    val rows = tail ++ tail.map(r => Row.fromSeq(r.toSeq.updated(0, r.getLong(0) + fresh)))
    val batch = spark.createDataFrame(java.util.Arrays.asList(rows: _*), li.schema)
    Merge.updateTable(spark, s"$d/lineitem.parquet", batch, "l_shipdate")
    Views.createAll(spark, d)

    val n = spark.read.parquet(s"$d/lineitem.parquet").count()
    assert(n === n0 + tail.length)
    for (tx <- Seq(spark.table("TRANSACTIONS"), Views.transactions(spark, d))) {
      assert(tx.count() === n)
      assert(tx.agg(max("Id")).head.getLong(0) === n)
      assert(tx.filter(col("PolicyNumber") >= fresh).count() === tail.length)
    }
    val ao = spark.table("AUTO_OPTIOM")
    assert(ao.agg(max("Id")).head.getLong(0) === n)
    assert(ao.filter(col("PolicyNumber") >= fresh).count() === tail.length)
    assertSameRows(ao, spark.sql(Views.autoOptiomSql))
  }
}
