package graft

import graft.operators.MixDrift

/** Mix drift: a uniform mix scores ~0, a flipped-mix period alarms,
  * and the corpus plan equals its SQL replay. */
class MixDriftSpec extends SparkSpec {
  import spark.implicits._

  test("uniform mix scores ~0; a flipped period alarms") {
    // periods p1/p2: 50/50 a-b (baseline); p3: 95/5 — strong drift
    val obs = (
      Seq.fill(50)(("p1", "a")) ++ Seq.fill(50)(("p1", "b")) ++
      Seq.fill(50)(("p2", "a")) ++ Seq.fill(50)(("p2", "b")) ++
      Seq.fill(95)(("p3", "a")) ++ Seq.fill(5)(("p3", "b")))
      .toDF("period", "cat")
    val out = MixDrift.mixDrift(obs).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getInt(3))).toMap
    // the baseline is the CORPUS mix (65/35 here — p3 pulls it), so
    // the balanced periods sit below the alarm line but not at zero
    assert(out("p1")._2 === 0 && out("p2")._2 === 0)
    assert(out("p3")._2 === 1)
    assert(out("p3")._1 > out("p1")._1 * 2)
  }

  test("a category absent from one period contributes zero, not NaN") {
    val obs = (Seq.fill(30)(("p1", "a")) ++ Seq.fill(30)(("p1", "b")) ++
      Seq.fill(30)(("p2", "a"))).toDF("period", "cat")
    val out = MixDrift.mixDrift(obs).collect()
    assert(out.forall(r => !r.getDouble(2).isNaN))
  }

  test("streaming view == batch statistic on complete days") {
    import graft.streaming.EventStreams
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val tmp = tempDir("mix-drift-stream")
      .toFile.getAbsolutePath
    val ev = Tables(spark, dir, "events")
    ev.coalesce(1).write.parquet(s"$tmp/src/part0")
    val src = spark.readStream.schema(
      spark.read.parquet(s"$tmp/src/part0").schema)
      .parquet(s"$tmp/src/*")
    EventStreams.runHourlyCountStream(spark, src, s"$tmp/store",
      s"$tmp/ckpt").awaitTermination()

    def key(r: org.apache.spark.sql.Row) =
      r.getTimestamp(0).toString -> (r.getLong(1), r.getDouble(2), r.getInt(3))
    val got = EventStreams.mixDriftView(spark, s"$tmp/store")
      .collect().map(key).toMap
    // batch over raw events restricted to the SAME complete-day set
    val maxWs = spark.read.parquet(s"$tmp/store")
      .agg(max(col("ws"))).head.getTimestamp(0)
    val batch = graft.operators.MixDrift.mixDrift(
      ev.filter(col("ts") < date_trunc("DAY", lit(maxWs)))
        .select(date_trunc("DAY", col("ts")).as("period"),
          col("event_type").as("cat")))
      .collect().map(key).toMap
    assert(got.keySet === batch.keySet && got.nonEmpty)
    got.foreach { case (p, (n, g, d)) =>
      val (bn, bg, bd) = batch(p)
      assert(n === bn && d === bd)
      assert(math.abs(g - bg) <= 1e-9 * math.max(1.0, math.abs(bg)))
    }
  }

  test("corpus plan equals the SQL replay") {
    val dir = "/root/testdata/sf0.001"
    Tables.registerAll(spark, dir)
    // float G sums compare within tolerance (partial-agg order may
    // differ between the two plans); integers compare exact
    def key(r: org.apache.spark.sql.Row) =
      r.getTimestamp(0).toString -> (r.getLong(1), r.getDouble(2), r.getInt(3))
    val got = MixDrift.qMixDrift(spark, dir).collect().map(key).toMap
    val want = spark.sql(MixDrift.qMixDriftSql).collect().map(key).toMap
    assert(got.keySet === want.keySet && got.nonEmpty)
    got.foreach { case (p, (n, g, d)) =>
      val (wn, wg, wd) = want(p)
      assert(n === wn && d === wd)
      assert(math.abs(g - wg) <= 1e-9 * math.max(1.0, math.abs(wg)))
    }
  }
}
