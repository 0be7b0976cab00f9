package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{DataQuality, DqGate, Salting}

/** Closed-loop DQ gating: the quarantine/clean split is an exact
  * partition of the fact table, downstream aggregates over the clean
  * flow provably exclude every quarantined row, the streaming gate
  * equals the batch gate, and the skew-profile-driven salting decision
  * fires only on hot keys (with semantics identical to the plain
  * join). */
class DqGateSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def li = Tables(spark, dir, "lineitem")
  private def ord = Tables(spark, dir, "orders")

  test("quarantine + clean is an exact partition of lineitem") {
    val nAll = li.count()
    val q = DqGate.quarantined(li, ord)
    val c = DqGate.cleanRows(li, ord)
    assert(q.count() + c.count() === nAll)
    // exact multiset partition: clean ⊎ quarantine == the input rows
    // ((orderkey, linenumber) is NOT unique in the synthetic table, so
    // the proof is row-multiset equality, not key disjointness)
    val recomposed = c.unionByName(q.drop("viol_rules"))
    assert(recomposed.exceptAll(li).count() === 0L)
    assert(li.exceptAll(recomposed).count() === 0L)
    assert(q.count() > 0L) // the synthetic shipdate violates temporal order
  }

  test("per-rule quarantine counts agree with the qDqRules report") {
    val rules = DataQuality.qDqRules(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val exploded = DqGate.quarantined(li, ord)
      .select(explode(col("viol_rules")).as("rule"))
      .groupBy("rule").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every row-level rule's violation mass matches the report exactly
    for (rule <- Seq("l_quantity_in_1_50", "l_returnflag_domain",
        "l_discount_in_0_1", "l_ship_after_order",
        "l_orderkey_in_orders"))
      assert(exploded.getOrElse(rule, 0L) === rules(rule),
        s"rule $rule")
  }

  test("downstream view over the clean flow excludes every quarantined row") {
    val c = DqGate.cleanRows(li, ord)
    val q = DqGate.quarantined(li, ord)
    // revenue rollup (the q1_agg shape) over clean + over quarantine
    // must recompose to the ungated rollup — and the gated view's mass
    // is strictly smaller, i.e. the quarantined rows are really gone
    def mass(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum((col("l_quantity") * 100.0).cast("bigint")))
        .head.getLong(0)
    assert(mass(c) + mass(q) === mass(li))
    assert(mass(c) < mass(li))
    // row-level: the clean flow is exactly the input minus quarantine
    assert(c.exceptAll(li.exceptAll(q.drop("viol_rules"))).count() === 0L)
  }

  test("streaming gate == batch gate, idempotent under batch replay") {
    val tmp = tempDir("dqgate")
      .toFile.getAbsolutePath
    // two uploads
    val Array(a, b) = li.randomSplit(Array(0.5, 0.5), seed = 7)
    a.coalesce(1).write.parquet(s"$tmp/src/up0")
    b.coalesce(1).write.parquet(s"$tmp/src/up1")
    val src = spark.readStream
      .schema(li.schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/src/*")
    val orders = ord.localCheckpoint()
    src.writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        DqGate.gateBatch(batch, orders, s"$tmp/clean", s"$tmp/quar", id)
      }.start().awaitTermination()
    // batch=<id> partition dirs surface as a `batch` column — not part
    // of the row payload
    val qStream = spark.read.parquet(s"$tmp/quar").drop("batch")
    val cStream = spark.read.parquet(s"$tmp/clean").drop("batch")
    // equality with the batch twin (viol_rules rendered the same way)
    val qBatch = DqGate.quarantined(li, orders)
      .withColumn("viol_rules", array_join(col("viol_rules"), ","))
    assert(qStream.count() === qBatch.count())
    assert(qStream.exceptAll(qBatch).count() === 0L)
    assert(cStream.count() === DqGate.cleanRows(li, orders).count())
    // replay batch 0: overwrite-own-dir keeps the stores exactly-once
    val replay = spark.read.parquet(s"$tmp/src/up0")
    DqGate.gateBatch(replay, orders, s"$tmp/clean", s"$tmp/quar", 0L)
    assert(spark.read.parquet(s"$tmp/quar").drop("batch").count()
      === qBatch.count())
  }

  test("auto-salt: uniform key joins plain, hot key joins salted — same rows") {
    val dim = (0L until 50L).map(k => (k, s"d$k")).toDF("k", "attr")
    val uniform = (0L until 5000L).map(i => (i % 50, i)).toDF("fk", "v")
    val skewed = ((0L until 5000L).map(_ => (7L, 1L)) ++
      (0L until 500L).map(i => (i % 50, 2L))).toDF("fk", "v")
    // the spec session runs 2 shuffle partitions, where no key can be
    // 4x the fair share by pigeonhole — decide at the 32-partition
    // posture the cluster sessions use
    val parts = 32
    assert(DqGate.saltsFor(DqGate.skewStats(uniform, "fk"), parts) === 0)
    assert(DqGate.saltsFor(DqGate.skewStats(skewed, "fk"), parts) >= 2)
    // the guard executes the advisor's strategy end-to-end; a tiny
    // broadcastBudget forces the non-broadcast arms here (the 50-row
    // dim would otherwise broadcast, correctly)
    // salt arm: hot key -> salted plan, rows == plain join
    val guarded = DqGate.joinWithSkewGuard(skewed, dim, "fk", "k",
      numPartitions = parts, broadcastBudget = 10L)
    assert(guarded.queryExecution.analyzed.toString.contains("__salt"))
    val plain = skewed.join(dim, skewed("fk") === dim("k"))
    assert(guarded.exceptAll(plain).count() === 0L)
    assert(plain.exceptAll(guarded).count() === 0L)
    // shuffle arm: uniform key -> plain join, no salt, no broadcast hint
    val guardedU = DqGate.joinWithSkewGuard(uniform, dim, "fk", "k",
      numPartitions = parts, broadcastBudget = 10L)
    assert(!guardedU.queryExecution.analyzed.toString.contains("__salt"))
    val plainU = uniform.join(dim, uniform("fk") === dim("k"))
    assert(guardedU.exceptAll(plainU).count() === 0L)
    assert(plainU.exceptAll(guardedU).count() === 0L)
    // broadcast arm: the default budget admits the 50-row dim -> the
    // physical plan is a BroadcastHashJoin and rows are unchanged
    val guardedB = DqGate.joinWithSkewGuard(skewed, dim, "fk", "k",
      numPartitions = parts)
    assert(guardedB.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    assert(guardedB.exceptAll(plain).count() === 0L)
    assert(plain.exceptAll(guardedB).count() === 0L)
    // the decision inputs agree between the shared-pass advisor and
    // the standalone profiling path
    val adv = graft.operators.JoinAdvisor.adviseJoin(
      skewed, "fk", dim, "k", broadcastBudget = 10L)
    assert(adv.strategy === "salt")
    assert(adv.factStats === DqGate.skewStats(skewed, "fk"))
    assert(adv.buildRows === 50L)
  }

  test("driver query shape: non-empty, every row indicted") {
    val out = DqGate.qDqQuarantine(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getString(4).nonEmpty))
  }
}
