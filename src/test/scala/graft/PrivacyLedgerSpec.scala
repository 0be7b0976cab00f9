package graft

import graft.streaming.PrivacyLedger

class PrivacyLedgerSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val cost = graft.operators.DpRelease.epsCountMicro +
    graft.operators.DpRelease.epsSumMicro // 500000 per release

  test("releases spend the budget; the over-budget release is refused") {
    val tmp = tempDir("dpledger")
      .toFile.getAbsolutePath + "/store"
    val budget = 2L * cost + cost / 2 // room for exactly two releases
    val r1 = PrivacyLedger.release(spark, dir, tmp, "customer", 0L, budget)
    assert(r1.isDefined)
    assert(r1.get.count() === 25L)
    val r2 = PrivacyLedger.release(spark, dir, tmp, "customer", 1L, budget)
    assert(r2.isDefined)
    assert(PrivacyLedger.spent(spark, tmp, "customer") === 2L * cost)
    // third would exceed: refused, nothing computed, nothing charged
    val r3 = PrivacyLedger.release(spark, dir, tmp, "customer", 2L, budget)
    assert(r3.isEmpty)
    assert(PrivacyLedger.spent(spark, tmp, "customer") === 2L * cost)
  }

  test("replaying a release id re-writes its own spend, not a new one") {
    val tmp = tempDir("dpledger2")
      .toFile.getAbsolutePath + "/store"
    val budget = 10L * cost
    assert(PrivacyLedger.release(spark, dir, tmp, "customer", 0L, budget)
      .isDefined)
    val before = PrivacyLedger.spent(spark, tmp, "customer")
    // crash-replay of release 0: overwrites batch=0, no double charge
    assert(PrivacyLedger.release(spark, dir, tmp, "customer", 0L, budget)
      .isDefined)
    assert(PrivacyLedger.spent(spark, tmp, "customer") === before)
  }

  test("budgets are per scope; an empty ledger reads zero") {
    val tmp = tempDir("dpledger3")
      .toFile.getAbsolutePath + "/store"
    assert(PrivacyLedger.spent(spark, tmp, "customer") === 0L)
    assert(PrivacyLedger.release(spark, dir, tmp, "scopeA", 0L, cost)
      .isDefined)
    assert(PrivacyLedger.spent(spark, tmp, "scopeA") === cost)
    assert(PrivacyLedger.spent(spark, tmp, "scopeB") === 0L)
    // scopeA exhausted its budget; scopeB still has room
    assert(PrivacyLedger.release(spark, dir, tmp, "scopeA", 1L, cost)
      .isEmpty)
    assert(PrivacyLedger.release(spark, dir, tmp, "scopeB", 2L, cost)
      .isDefined)
  }

  test("refusal lands exactly at the budget boundary") {
    val tmp = tempDir("dpledger4")
      .toFile.getAbsolutePath + "/store"
    // budget = exactly 4 releases: the 4th spends TO the boundary and
    // is granted; the 5th would cross it and is refused
    val budget = 4L * cost
    (0L to 3L).foreach { i =>
      assert(PrivacyLedger.release(spark, dir, tmp, "s", i, budget)
        .isDefined, s"release $i inside the budget must be granted")
    }
    assert(PrivacyLedger.spent(spark, tmp, "s") === budget)
    assert(PrivacyLedger.release(spark, dir, tmp, "s", 4L, budget).isEmpty)
    // one micro-ε less than 4 releases: the 4th is the first refusal
    val tmp2 = tempDir("dpledger5")
      .toFile.getAbsolutePath + "/store"
    (0L to 2L).foreach { i =>
      assert(PrivacyLedger
        .release(spark, dir, tmp2, "s", i, budget - 1L).isDefined)
    }
    assert(PrivacyLedger.release(spark, dir, tmp2, "s", 3L, budget - 1L)
      .isEmpty)
  }

  test("audit rows from the store loop equal the declarative composition") {
    import spark.implicits._
    val tmp = tempDir("dpledger6")
      .toFile.getAbsolutePath + "/store"
    val budget = 2L * cost // 2 grants then refusals, per scope
    val plan = Seq((0L, "a"), (1L, "a"), (2L, "b"), (3L, "a"), (4L, "b"))
    val audits = plan.map { case (id, scope) =>
      PrivacyLedger.releaseAudit(spark, dir, tmp, scope, id, budget)._1
    }
    val declarative = PrivacyLedger.composedLedger(
      plan.toDF("release_id", "scope")
        .withColumn(
          "cost_micro", org.apache.spark.sql.functions.lit(cost)),
      budget)
      .collect()
      .map(r => PrivacyLedger.Audit(r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getBoolean(4), r.getLong(5)))
      .toSeq
    assert(audits === declarative)
    // the trail records refusals as rows: scope a grants 0,1 and
    // refuses 3 (its third); scope b grants both of 2,4
    assert(audits.count(_.granted) === 4)
    assert(audits.filterNot(_.granted).map(_.releaseId) === Seq(3L))
  }

  test("the ledger store refuses compaction (per-release dirs are the " +
    "idempotence mechanism)") {
    val tmp = tempDir("dpledger7")
      .toFile.getAbsolutePath + "/store"
    assert(PrivacyLedger.release(spark, dir, tmp, "s", 0L, 10L * cost)
      .isDefined)
    assert(PrivacyLedger.release(spark, dir, tmp, "s", 1L, 10L * cost)
      .isDefined)
    val st = PrivacyLedger.store(tmp)
    assert(!st.compactable)
    intercept[IllegalArgumentException] { st.compact(spark, 1L) }
    // maybeCompact (the foreachBatch cadence hook) silently no-ops
    st.maybeCompact(spark, 2L, every = 1)
    // spend is intact and the replay-exclusion path still works
    assert(PrivacyLedger.spent(spark, tmp, "s") === 2L * cost)
    assert(PrivacyLedger.release(spark, dir, tmp, "s", 0L, 10L * cost)
      .isDefined)
    assert(PrivacyLedger.spent(spark, tmp, "s") === 2L * cost)
  }
}
