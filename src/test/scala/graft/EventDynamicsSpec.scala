package graft

import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.operators.{EventDynamics, OffPolicy}

/** Burstiness/Fano profile and IPS/SNIPS off-policy evaluation. */
class EventDynamicsSpec extends SparkSpec {

  private def evDf(rows: Seq[(Long, Long, Long, String, Double)]) = {
    val schema = StructType(Seq(
      StructField("event_id", LongType, false),
      StructField("ts", TimestampType, false),
      StructField("user_id", LongType, false),
      StructField("event_type", StringType, false),
      StructField("value", DoubleType, false)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row(r._1, new Timestamp(r._2), r._3, r._4, r._5)), 2),
      schema)
  }

  test("burstiness: perfectly regular arrivals score exactly -1") {
    // one user, gaps all 60s → sigma = 0 → B = -1
    val ev = evDf((0L until 5L).map(i =>
      (i, i * 60000L, 1L, "view", 0.0)))
    val out = EventDynamics.burstiness(ev).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("burstiness_micro") === -1000000L)
    assert(out(0).getAs[Long]("n_gaps") === 4L)
  }

  test("fano: hand-computed dispersion over a 2-hour span") {
    // 3 events in hour 0, 1 in hour 1: H=2, S=4, sum c^2 = 10
    // F = (2*10 - 16) / (2*4) = 1/2
    val ev = evDf(Seq(
      (1L, 0L, 1L, "view", 0.0), (2L, 1000L, 2L, "view", 0.0),
      (3L, 2000L, 3L, "view", 0.0), (4L, 3600000L, 4L, "view", 0.0)))
    val out = EventDynamics.burstiness(ev).collect()
    assert(out(0).getAs[Long]("fano_micro") === 500000L)
    assert(out(0).getAs[Long]("n_events") === 4L)
    assert(out(0).getAs[Long]("n_hours_occupied") === 2L)
    // four distinct users, one event each → zero gaps, guard → 0
    assert(out(0).getAs[Long]("n_gaps") === 0L)
    assert(out(0).getAs[Long]("burstiness_micro") === 0L)
  }

  test("burstiness driver query: one row per event type, B in [-1e6, 1e6]") {
    val out = EventDynamics.qBurstiness(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.length === 5)
    assert(out.forall { r =>
      val b = r.getAs[Long]("burstiness_micro")
      b >= -1000000L && b <= 1000000L })
    assert(out.forall(_.getAs[Long]("fano_micro") >= 0L))
  }

  test("streaming fano view == the batch fano leg on fully-finalized data") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val tmp = tempDir("fano-stream")
      .toFile.getAbsolutePath
    val ev = Tables(spark, dir, "events")
    ev.coalesce(1).write.parquet(s"$tmp/src/part0")
    val src = spark.readStream.schema(
      spark.read.parquet(s"$tmp/src/part0").schema)
      .parquet(s"$tmp/src/*")
    graft.streaming.EventStreams
      .runHourlyCountStream(spark, src, s"$tmp/store", s"$tmp/ckpt")
      .awaitTermination()
    val hmax = spark.read.parquet(s"$tmp/store")
      .agg(max(expr("unix_micros(ws) div 3600000000"))).head.getLong(0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq.sorted
    val want = EventDynamics.fanoOverHourly(
      ev.groupBy(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hour"))
        .agg(count(lit(1)).as("c"))
        .filter(col("hour") <= hmax))
    assert(rows(graft.streaming.EventStreams.fanoView(spark, s"$tmp/store"))
      === rows(want))
  }

  private def puDf(rows: Seq[(Long, Long, Long, Long)]) = {
    val schema = StructType(Seq(
      StructField("user_id", LongType, false),
      StructField("arm", LongType, false),
      StructField("activity", LongType, false),
      StructField("cents", LongType, false)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row(r._1, r._2, r._3, r._4)), 2), schema)
  }

  test("off-policy: hand-computed IPS/SNIPS for all three policies") {
    val pu = puDf(Seq((1L, 1L, 50L, 100L), (2L, 0L, 50L, 80L),
      (3L, 1L, 0L, 60L), (4L, 0L, 0L, 40L)))
    val out = OffPolicy.offPolicyFromPerUser(pu).collect()
      .map(r => r.getString(0) -> r).toMap
    val all = out("treat_all")
    assert(all.getAs[Long]("n_matched") === 2L)
    assert(all.getAs[Long]("ips_micro") === 80000000L)
    assert(all.getAs[Long]("snips_micro") === 80000000L)
    val none = out("treat_none")
    assert(none.getAs[Long]("ips_micro") === 60000000L)
    val high = out("treat_high_engagement")
    assert(high.getAs[Long]("n_matched") === 2L)
    assert(high.getAs[Long]("matched_cents") === 140L)
    assert(high.getAs[Long]("ips_micro") === 70000000L)
  }

  test("off-policy driver query: IPS(treat_all) is the known identity 2*arm1 mass / n") {
    val dir = "/root/testdata/sf0.001"
    val pu = OffPolicy.perUserLogged(Tables(spark, dir, "events"))
      .collect()
    val n = pu.length
    val arm1 = pu.filter(_.getAs[Long]("arm") == 1L)
      .map(_.getAs[Long]("cents")).sum
    val out = OffPolicy.qOffPolicyEval(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("treat_all").getAs[Long]("ips_micro")
      === 2000000L * arm1 / n)
    assert(out.size === 3)
  }
}
