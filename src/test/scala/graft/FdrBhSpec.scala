package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.operators.FdrBh

/** BH battery over per-type permutation tests: planted effects
  * reject, null metrics survive, and the verdict column equals a
  * driver-side BH replay. */
class FdrBhSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("planted effect rejects, constant metric does not") {
    val users = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1L to 200L).map(u => Row(u, u % 2)), 2),
      StructType(Seq(StructField("user_id", LongType, false),
        StructField("arm", LongType, false))))
    // 'strong' follows the arm 9:1; 'flat' is identical for everyone
    val utc = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1L to 200L).flatMap(u => Seq(
          Row(u, "strong", if (u % 2 == 1) 10L else 1L),
          Row(u, "flat", 5L))), 2),
      StructType(Seq(StructField("user_id", LongType, false),
        StructField("event_type", StringType, false),
        StructField("c", LongType, false))))
    val out = FdrBh.fdrBattery(users, utc).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out("strong").getAs[Boolean]("bh_reject"))
    assert(!out("flat").getAs[Boolean]("bh_reject"))
    // a constant metric's every permutation ties the observed 0 → the
    // add-one p saturates at exactly 1
    assert(out("flat").getAs[Long]("p_micro") === 1000000L)
    assert(out("flat").getAs[Long]("obs_micro") === 0L)
    assert(out("strong").getAs[Long]("p_micro") <= 10000L)
  }

  test("driver query: verdicts equal a driver-side BH replay of the p column") {
    val rows = FdrBh.qFdrBh(spark, dir).collect()
    val m = rows.length.toLong
    assert(rows.forall(_.getAs[Long]("m_tests") === m))
    val byRank = rows.sortBy(_.getAs[Long]("p_rank"))
    // ranks are the (p, type) order, 1..m
    assert(byRank.map(_.getAs[Long]("p_rank")).toSeq === (1L to m))
    val ps = byRank.map(_.getAs[Long]("p_micro"))
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b })
    val kstar = (1 to m.toInt).filter(k =>
      ps(k - 1) * m <= k * FdrBh.alphaMicro)
      .lastOption.getOrElse(0)
    assert(byRank.map(_.getAs[Boolean]("bh_reject")).toSeq ===
      (1 to m.toInt).map(_ <= kstar))
  }

  test("FdrStore: live battery == batch under slicing, replay, compaction") {
    import org.apache.spark.sql.functions._
    import graft.streaming.FdrStore
    val tmp = tempDir("fdrstore")
      .toFile.getAbsolutePath
    val events = Tables(spark, dir, "events").localCheckpoint()
    val parts = (0 until 3).map(i =>
      events.filter(abs(hash(col("event_id"))) % 3 === i)
        .localCheckpoint())
    def live: Seq[String] = FdrStore.fdrView(spark, s"$tmp/store")
      .orderBy("event_type").collect().map(_.toString).toSeq
    def batchOf(prefix: org.apache.spark.sql.DataFrame): Seq[String] =
      FdrBh.fdrFromCounts(prefix.groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("c")))
        .orderBy("event_type").collect().map(_.toString).toSeq
    parts.zipWithIndex.foreach { case (p, i) =>
      FdrStore.appendEventBatch(spark, p, s"$tmp/store", i.toLong)
      assert(live === batchOf(parts.take(i + 1).reduce(_ unionAll _)),
        s"after batch $i")
    }
    val full = live
    assert(full === batchOf(events)) // absorbed set == the whole dir
    FdrStore.appendEventBatch(spark, parts(2), s"$tmp/store", 2L) // replay
    assert(live === full)
    FdrStore.store(s"$tmp/store").compact(spark, 2L)
    assert(live === full)
  }

  test("simpson check: strata equal the shared table, flags replay the sign rule") {
    import graft.operators.{Cuped, StratEffect}
    val pu = Cuped.perUser(Tables(spark, dir, "events"))
    val expectStrata = StratEffect.perStratumTable(pu)
      .collect().map(r => r.getAs[Long]("stratum") ->
        (Option(r.get(r.fieldIndex("effect_micro"))).map(_
          .asInstanceOf[Long]), r.getAs[Long]("w"))).toMap
    val out = StratEffect.qSimpsonCheck(spark, dir).collect()
    assert(out.length === expectStrata.size)
    val naive = out.head.getAs[Long]("naive_micro")
    assert(out.forall(_.getAs[Long]("naive_micro") === naive))
    out.foreach { r =>
      val s = r.getAs[Long]("stratum")
      val eff = Option(r.get(r.fieldIndex("effect_micro")))
        .map(_.asInstanceOf[Long])
      assert(eff === expectStrata(s)._1)
      val expectFlag = eff.exists(e =>
        (e > 0 && naive < 0) || (e < 0 && naive > 0))
      assert(r.getAs[Boolean]("sign_reversed") === expectFlag)
    }
  }
}
