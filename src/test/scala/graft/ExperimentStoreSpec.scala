package graft

import org.apache.spark.sql.functions._
import graft.operators.{AbTest, Cuped, DiffInDiff, GroupSeq, PermTest, RobustEffects, Sprt, SrmMde, StratEffect}
import graft.streaming.ExperimentStore

/** Streaming experiment store: every live readout (chi²/Welch,
  * Mann-Whitney, CUPED, DiD, permutation, SPRT) equals its batch
  * operator over the absorbed events at every point — including users
  * whose events are split across batches (the per-user sum monoid is
  * what's under test) — replay is idempotent, compaction inert. */
class ExperimentStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def events = Tables(spark, dir, "events")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
  /** The full live-view battery vs batch twins over `all` — shared by
    * the convergence test and the round-16 retention test. */
  private def viewChecks(st: String, all: org.apache.spark.sql.DataFrame)
      : Seq[(String, () => Seq[String], Seq[String])] = Seq(
      ("ab", () => rows(ExperimentStore.abView(spark, st)),
        rows(AbTest.abTest(all))),
      ("mw", () =>
        rows(ExperimentStore.mannWhitneyView(spark, st)),
        rows(AbTest.mannWhitney(all))),
      // round 14 session 5: Cliff's delta rides the same rank state;
      // Nelson-Aalen the same clock lattice as kmView
      ("cliffs", () =>
        rows(ExperimentStore.cliffsDeltaView(spark, st)),
        rows(AbTest.cliffsDelta(all))),
      ("bayes", () =>
        rows(ExperimentStore.bayesView(spark, st)),
        rows(graft.operators.BayesAb.bayesAb(all))),
      ("odds", () =>
        rows(ExperimentStore.oddsView(spark, st)),
        rows(graft.operators.OddsRatio.oddsRatio(all))),
      ("balance", () =>
        rows(ExperimentStore.balanceView(spark, st)),
        rows(graft.operators.CovariateBalance.covariateBalance(all))),
      ("ks", () =>
        rows(ExperimentStore.ksView(spark, st)),
        rows(graft.operators.KsAb.ksAb(all))),
      ("rate", () =>
        rows(ExperimentStore.rateRatioView(spark, st)),
        rows(graft.operators.RateRatio.rateRatio(all))),
      ("medsurv", () =>
        rows(ExperimentStore.medianSurvivalView(spark, st)),
        rows(graft.operators.MedianSurvival.survivalQuantiles(
          graft.operators.KaplanMeier.timeToBigPurchase(all)))),
      ("nelson", () =>
        rows(ExperimentStore.nelsonAalenView(spark, st)),
        rows(graft.operators.NelsonAalen.hazardTable(
          graft.operators.KaplanMeier.timeToBigPurchase(all)))),
      ("cuped", () => rows(ExperimentStore.cupedView(spark, st)),
        rows(Cuped.cuped(all))),
      ("did", () => rows(ExperimentStore.didView(spark, st)),
        rows(DiffInDiff.didTest(all))),
      ("perm", () =>
        rows(ExperimentStore.permTestView(spark, st)),
        rows(PermTest.permTest(all))),
      ("sprt", () => rows(ExperimentStore.sprtView(spark, st)),
        rows(Sprt.sprt(all))),
      ("srm", () => rows(ExperimentStore.srmView(spark, st)),
        rows(SrmMde.srmCheck(all))),
      ("mde", () => rows(ExperimentStore.mdeView(spark, st)),
        rows(SrmMde.mdePower(all))),
      ("trimmed", () =>
        rows(ExperimentStore.trimmedView(spark, st)),
        rows(RobustEffects.trimmedAb(all))),
      ("qte", () => rows(ExperimentStore.qteView(spark, st)),
        rows(RobustEffects.qte(all))),
      ("strat", () => rows(ExperimentStore.stratView(spark, st)),
        rows(StratEffect.stratEffect(all))),
      ("lorenz", () =>
        rows(ExperimentStore.lorenzView(spark, st)),
        rows(graft.operators.Lorenz.lorenzGini(all))),
      ("rfm", () => rows(ExperimentStore.rfmView(spark, st)),
        rows(graft.operators.Rfm.rfm(all))),
      // round 14: the group-sequential looks ride the same per-user
      // delta as K schedule-parameterized sum columns
      ("groupseq", () =>
        rows(ExperimentStore.groupSeqView(spark, st)),
        rows(GroupSeq.groupSeq(all))),
      // round 14 session 4: qini rides the existing sums; shapley the
      // per-channel single-bit MAX lattices (bit-OR across batches)
      ("qini", () => rows(ExperimentStore.qiniView(spark, st)),
        rows(graft.operators.Uplift.qiniFromPerUser(
          graft.operators.Uplift.perUserUplift(all)))),
      ("shapley", () =>
        rows(ExperimentStore.shapleyView(spark, st)),
        rows(graft.operators.ShapleyAttrib.shapleyChannels(all))),
      ("offpolicy", () =>
        rows(ExperimentStore.offPolicyView(spark, st)),
        rows(graft.operators.OffPolicy.offPolicyFromPerUser(
          graft.operators.OffPolicy.perUserLogged(all)))))

  test("every live readout == its batch test; replay idempotent; " +
    "compaction inert") {
    val tmp = tempDir("expstore")
      .toFile.getAbsolutePath
    // split by EVENT id so one user's events land in several batches:
    // the served statistics are right only if the per-user deltas
    // merge correctly across dirs
    val parts = (0 until 3).map(i =>
      events.filter(abs(hash(col("event_id"))) % 3 === i)
        .localCheckpoint())
    parts.zipWithIndex.foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$tmp/src/up$i")
    }
    ExperimentStore.runExperimentStream(spark, s"$tmp/src/*",
      s"$tmp/store", s"$tmp/ckpt", parts.head.schema, compactEvery = 2)
      .awaitTermination()

    val checks = viewChecks(s"$tmp/store", events)
    checks.foreach { case (name, live, batch) =>
      assert(live() === batch, s"live $name view != batch")
    }
    // replay the newest (un-compacted) batch: same delta dir rewritten
    ExperimentStore.appendExperimentBatch(spark,
      spark.read.parquet(s"$tmp/src/up2"), s"$tmp/store", 2L)
    checks.foreach { case (name, live, batch) =>
      assert(live() === batch, s"$name after replay")
    }
    // explicit compaction of everything committed: views unchanged
    ExperimentStore.store(s"$tmp/store").compact(spark, 2L)
    checks.foreach { case (name, live, batch) =>
      assert(live() === batch, s"$name after compaction")
    }
  }

  test("round-16 retention contract: retiring inactive users preserves " +
    "every view over the retained window; retained history stays whole") {
    val tmp = tempDir("expstore3")
      .toFile.getAbsolutePath
    // TIME-sliced batches (the feed shape the contract assumes:
    // time-ordered within the watermark) — a user active across slices
    // has rows in several dirs, so retention must survive the fold
    val cuts = events.selectExpr(
      "percentile(unix_micros(ts), 0.33) as c1",
      "percentile(unix_micros(ts), 0.66) as c2").head()
    val (c1, c2) = (cuts.getDouble(0).toLong, cuts.getDouble(1).toLong)
    val slices = Seq(
      events.filter(unix_micros(col("ts")) <= c1),
      events.filter(unix_micros(col("ts")) > c1 &&
        unix_micros(col("ts")) <= c2),
      events.filter(unix_micros(col("ts")) > c2)).map(_.localCheckpoint())
    slices.zipWithIndex.foreach { case (p, i) =>
      ExperimentStore.appendExperimentBatch(spark, p, s"$tmp/store",
        i.toLong)
    }
    // horizon at the median of per-user LAST activity, so roughly half
    // the population retires (all batches are committed, so upto = 2;
    // the watermark premise holds by construction — no further files)
    val lastSeen = events.groupBy("user_id")
      .agg(max(unix_micros(col("ts"))).as("last_us"))
    val horizon = lastSeen.selectExpr("percentile(last_us, 0.5)")
      .head().getDouble(0).toLong + 1
    val retainedUsers = lastSeen.filter(col("last_us") >= horizon)
      .select("user_id")
    val nRetired = lastSeen.filter(col("last_us") < horizon).count()
    assert(nRetired > 0, "corpus produced no retirees — test vacuous")
    ExperimentStore.retireInactiveUsers(spark, s"$tmp/store", 2L, horizon)
    // store rows = retained users exactly
    assert(ExperimentStore.store(s"$tmp/store").merged(spark).count() ===
      retainedUsers.count())
    // retained users keep their FULL history: first_ts can predate the
    // horizon (retirement windows USERS, never a retained user's past)
    val earliest = ExperimentStore.store(s"$tmp/store").merged(spark)
      .agg(min("first_ts_us")).head().getLong(0)
    assert(earliest < horizon, "retained users' pre-horizon history lost")
    // every one of the 25 views equals its batch twin over the
    // RETAINED users' events (all of them, pre-horizon included)
    val retainedEvents = events.join(retainedUsers, Seq("user_id"),
      "left_semi").localCheckpoint()
    viewChecks(s"$tmp/store", retainedEvents).foreach {
      case (name, live, batch) =>
        assert(live() === batch, s"$name view broke under retention")
    }
    // a further plain compaction stays inert
    ExperimentStore.store(s"$tmp/store").compact(spark, 2L)
    viewChecks(s"$tmp/store", retainedEvents).foreach {
      case (name, live, batch) =>
        assert(live() === batch, s"$name after post-retirement compaction")
    }
  }

  test("round-17 hardening: retirement folds a single-base store, " +
    "rejects uncommitted tail dirs, and quarantines late events") {
    val tmp = tempDir("expstore4")
      .toFile.getAbsolutePath
    val st = s"$tmp/store"
    val half0 = events.filter(col("event_id") % 2 === 0).localCheckpoint()
    val half1 = events.filter(col("event_id") % 2 === 1).localCheckpoint()
    ExperimentStore.appendExperimentBatch(spark, half0, st, 0L)
    ExperimentStore.appendExperimentBatch(spark, half1, st, 1L)

    val lastSeen = events.groupBy("user_id")
      .agg(max(unix_micros(col("ts"))).as("last_us"))
    val horizon = lastSeen.selectExpr("percentile(last_us, 0.5)")
      .head().getDouble(0).toLong + 1
    // (b) an uncommitted tail dir makes the retire predicate blind to
    // its users' newest activity — retirement must REFUSE, not proceed
    val err = intercept[IllegalArgumentException] {
      ExperimentStore.retireInactiveUsers(spark, st, 0L, horizon)
    }
    assert(err.getMessage.contains("batch=1"))

    // (a) drive the store to the cadenced fold's steady state — ONE
    // batch=-1 base — where the r16 ADVICE hole silently retired
    // nobody (compactWith's <=1-dir short-circuit)
    ExperimentStore.store(st).compact(spark, 1L)
    val beforeUsers = ExperimentStore.store(st).merged(spark).count()
    val retainedUsers = lastSeen.filter(col("last_us") >= horizon)
      .select("user_id").localCheckpoint()
    val nRetired = lastSeen.filter(col("last_us") < horizon).count()
    assert(nRetired > 0, "corpus produced no retirees — test vacuous")
    assert(ExperimentStore.retireInactiveUsers(spark, st, 1L, horizon)
      === 1) // the single base dir WAS folded
    assert(ExperimentStore.store(st).merged(spark).count()
      === beforeUsers - nRetired)

    // (c) a late event (below the persisted horizon, its user already
    // retired) must be quarantined, while an on-time event in the SAME
    // batch is absorbed normally
    val retiredIds = lastSeen.filter(col("last_us") < horizon)
      .select("user_id")
    val lateEvt = events.join(retiredIds, Seq("user_id"), "left_semi")
      .orderBy("event_id").limit(1).localCheckpoint()
    val onTimeEvt = events.join(retainedUsers, Seq("user_id"), "left_semi")
      .orderBy(desc("ts")).limit(1)
      .withColumn("ts", expr("ts + INTERVAL 1 DAY"))
      .withColumn("event_id", col("event_id") + 1000000L)
      .localCheckpoint()
    assert(ExperimentStore.retentionHorizonUs(spark, st) === Some(horizon))
    ExperimentStore.appendExperimentBatch(spark,
      lateEvt.unionByName(onTimeEvt), st, 2L)
    assert(ExperimentStore.quarantinedCount(spark, st) === 1L)
    assert(ExperimentStore.quarantineView(spark, st)
      .select("event_id").head().getLong(0)
      === lateEvt.head().getAs[Long]("event_id"))
    // views equal batch twins over retained events + the on-time event
    // only — the late event left no trace in the store
    val retainedEvents = events.join(retainedUsers, Seq("user_id"),
      "left_semi").unionByName(onTimeEvt).localCheckpoint()
    viewChecks(st, retainedEvents).foreach { case (name, live, batch) =>
      assert(live() === batch, s"$name view broke under quarantine")
    }
    // replaying the quarantining batch stays idempotent (same dirs
    // rewritten, same counter)
    ExperimentStore.appendExperimentBatch(spark,
      lateEvt.unionByName(onTimeEvt), st, 2L)
    assert(ExperimentStore.quarantinedCount(spark, st) === 1L)
    viewChecks(st, retainedEvents).foreach { case (name, live, batch) =>
      assert(live() === batch, s"$name after quarantine replay")
    }
  }

  test("the sequential walk updates as later batches flip conversions") {
    val tmp = tempDir("expstore2")
      .toFile.getAbsolutePath
    // batch 0: only the FIRST half of each user's purchases (by event
    // id parity) — many users sit below convMin; batch 1 completes
    // them. The walk after batch 1 must equal the batch test on the
    // full log, i.e. y is re-derived from merged state, not frozen.
    val half0 = events.filter(col("event_id") % 2 === 0).localCheckpoint()
    ExperimentStore.appendExperimentBatch(spark, half0, s"$tmp/store", 0L)
    val afterHalf = ExperimentStore.sprtView(spark, s"$tmp/store")
      .collect().map(_.toString).toSeq.sorted
    assert(afterHalf === Sprt.sprt(half0).collect()
      .map(_.toString).toSeq.sorted)
    val half1 = events.filter(col("event_id") % 2 === 1).localCheckpoint()
    ExperimentStore.appendExperimentBatch(spark, half1, s"$tmp/store", 1L)
    val afterAll = ExperimentStore.sprtView(spark, s"$tmp/store")
      .collect().map(_.toString).toSeq.sorted
    assert(afterAll === Sprt.sprt(events).collect()
      .map(_.toString).toSeq.sorted)
    assert(afterAll !== afterHalf) // the walk genuinely moved
  }
}
