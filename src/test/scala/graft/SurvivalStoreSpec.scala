package graft

import org.apache.spark.sql.functions._
import graft.operators.{KaplanMeier, LogRank, Rmst}
import graft.streaming.ExperimentStore

/** Streaming survival readouts on the CONSOLIDATED experiment store
  * (round 14: the former SurvivalStore's clocks are two more lattice
  * columns on the experiment delta): KM / log-rank / RMST views equal
  * their batch operators over the absorbed events at every point —
  * with a user's clock SPLIT across batches (the lattice merge under
  * test: censoring extends, the event time only moves earlier) —
  * replay idempotent, compaction inert. */
class SurvivalStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def events = Tables(spark, dir, "events")

  test("all three live survival readouts == batch; replay idempotent; " +
    "compaction inert") {
    val tmp = tempDir("survstore")
      .toFile.getAbsolutePath
    // split by EVENT id: one user's first/last/first-big events land
    // in different batches, so the lattice merge is load-bearing
    val parts = (0 until 3).map(i =>
      events.filter(abs(hash(col("event_id"))) % 3 === i)
        .localCheckpoint())
    parts.zipWithIndex.foreach { case (p, i) =>
      ExperimentStore.appendExperimentBatch(spark, p, s"$tmp/store",
        i.toLong)
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val checks: Seq[(String, () => Seq[String], Seq[String])] = Seq(
      ("km", () => rows(ExperimentStore.kmView(spark, s"$tmp/store")),
        rows(KaplanMeier.lifeTable(KaplanMeier.timeToBigPurchase(events)))),
      ("logrank", () =>
        rows(ExperimentStore.logRankView(spark, s"$tmp/store")),
        rows(LogRank.logRank(events))),
      ("rmst", () => rows(ExperimentStore.rmstView(spark, s"$tmp/store")),
        rows(Rmst.rmst(events))))
    checks.foreach { case (n, live, batch) =>
      assert(live() === batch, s"live $n != batch")
    }
    // a mid-stream view is also a VALID survival readout of the prefix
    // corpus: re-absorbing batch 2 (replay) changes nothing
    ExperimentStore.appendExperimentBatch(spark, parts(2), s"$tmp/store",
      2L)
    checks.foreach { case (n, live, batch) =>
      assert(live() === batch, s"$n after replay")
    }
    ExperimentStore.store(s"$tmp/store").compact(spark, 2L)
    checks.foreach { case (n, live, batch) =>
      assert(live() === batch, s"$n after compaction")
    }
  }

  test("censoring extends and the event time moves earlier as batches " +
    "arrive") {
    import spark.implicits._
    val tmp = tempDir("survstore2")
      .toFile.getAbsolutePath
    def ev(id: Long, u: Long, ts: String, tpe: String, v: Double) =
      (id, u, ts, tpe, v)
    def toDf(rows: Seq[(Long, Long, String, String, Double)]) =
      rows.toDF("event_id", "user_id", "tss", "event_type", "value")
        .select(col("event_id"), col("user_id"),
          col("tss").cast("timestamp").as("ts"),
          col("event_type"), col("value"))
    // batch 0: user 1 active day 1..2, no big purchase yet
    ExperimentStore.appendExperimentBatch(spark, toDf(Seq(
      ev(1, 1, "2024-01-01 00:00:00", "view", 0),
      ev(2, 1, "2024-01-02 00:00:00", "view", 0))), s"$tmp/store", 0L)
    val c0 = ExperimentStore.clockView(spark, s"$tmp/store").head()
    assert(c0.isNullAt(c0.fieldIndex("p_us"))) // censored so far
    // batch 1: activity through day 10 and a big purchase on day 5
    ExperimentStore.appendExperimentBatch(spark, toDf(Seq(
      ev(3, 1, "2024-01-10 00:00:00", "view", 0),
      ev(4, 1, "2024-01-05 00:00:00", "purchase", 150.0))),
      s"$tmp/store", 1L)
    val c1 = ExperimentStore.clockView(spark, s"$tmp/store").head()
    val day = 86400000000L
    assert(c1.getAs[Long]("l_us") - c1.getAs[Long]("f_us") === 9L * day)
    assert(c1.getAs[Long]("p_us") - c1.getAs[Long]("f_us") === 4L * day)
  }
}
