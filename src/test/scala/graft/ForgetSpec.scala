package graft

import org.apache.spark.sql.functions._
import graft.operators.Forget

/** Forget-user cascade: the written purge output must agree with the
  * audit counts, carry a complete tombstone manifest, and satisfy the
  * zero-orphan postcondition (no surviving child row references a
  * purged parent). */
class ForgetSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private lazy val out = {
    val d = tempDir("forget").toString
    Forget.purgeTo(spark, dir, d)
    d
  }

  test("audit counts match the written purge output") {
    val audit = Forget.qForgetAudit(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    for (t <- Seq("customer", "orders", "lineitem", "events")) {
      val after = spark.read.parquet(s"$out/$t.parquet").count()
      assert(after === audit(t)._3, s"$t rows_after")
      assert(audit(t)._1 === audit(t)._2 + audit(t)._3, s"$t balance")
    }
    // sf0.001's 15 distinct event users all miss the 1/16 coin — the
    // events leg legitimately deletes zero rows there; the keyed tables
    // must delete
    for (t <- Seq("customer", "orders", "lineitem"))
      assert(audit(t)._2 > 0, s"$t should delete something at this SF")
  }

  test("zero orphans: every surviving child references a surviving parent") {
    val cust = spark.read.parquet(s"$out/customer.parquet")
    val orders = spark.read.parquet(s"$out/orders.parquet")
    val li = spark.read.parquet(s"$out/lineitem.parquet")
    assert(orders.join(cust, col("o_custkey") === col("c_custkey"),
      "left_anti").count() === 0L)
    assert(li.join(orders, col("l_orderkey") === col("o_orderkey"),
      "left_anti").count() === 0L)
  }

  test("tombstones: complete, disjoint from survivors") {
    val ts = spark.read.parquet(s"$out/tombstones.parquet")
    val audit = Forget.qForgetAudit(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val byTable = ts.groupBy("table_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTable("customer") === audit("customer"))
    assert(byTable("orders") === audit("orders"))
    assert(byTable.getOrElse("events", 0L) === audit("events"))
    // no purged customer key survives
    val cust = spark.read.parquet(s"$out/customer.parquet")
    assert(cust.join(ts.filter(col("table_name") === "customer"),
      col("c_custkey") === col("key"), "left_semi").count() === 0L)
  }
}
