package graft

import java.sql.Timestamp
import graft.operators.Changepoint

/** AMOC changepoint: a planted level step is localized exactly with
  * the true before/after means, a constant series scores share 0, a
  * ramp (no step) stays strictly interior, and the streaming view
  * equals the batch statistic on the finalized hour set. */
class ChangepointSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1700000000000L - (1700000000000L % 3600000L)
  private def at(h: Int) = new Timestamp(base + h * 3600000L)

  test("planted step 10 -> 30 at hour 12 localized exactly") {
    val ev = (0 until 30).flatMap(h =>
      Seq.fill(if (h < 12) 10 else 30)(("a", at(h))))
      .toDF("event_type", "ts")
    val r = Changepoint.changepoint(ev).collect().head
    assert(r.getLong(1) === 30L)
    assert(r.getTimestamp(2) === at(12)) // first hour of the new level
    assert(r.getDouble(3) > 0.99 && r.getDouble(3) <= 1.0)
    assert(math.abs(r.getDouble(4) - 10.0) < 1e-12)
    assert(math.abs(r.getDouble(5) - 30.0) < 1e-12)
  }

  test("constant series: gain share exactly 0") {
    val ev = (0 until 20).flatMap(h => Seq.fill(7)(("b", at(h))))
      .toDF("event_type", "ts")
    val r = Changepoint.changepoint(ev).collect().head
    assert(r.getDouble(3) === 0.0)
    assert(math.abs(r.getDouble(4) - 7.0) < 1e-12)
    assert(math.abs(r.getDouble(5) - 7.0) < 1e-12)
  }

  test("a ramp has no step: share strictly interior") {
    val ev = (0 until 24).flatMap(h => Seq.fill(h + 1)(("c", at(h))))
      .toDF("event_type", "ts")
    val r = Changepoint.changepoint(ev).collect().head
    assert(r.getDouble(3) > 0.0 && r.getDouble(3) < 1.0)
    // the split's means still order correctly on a rising ramp
    assert(r.getDouble(4) < r.getDouble(5))
  }

  test("single-hour types have no valid split and are dropped") {
    val ev = (Seq.fill(5)(("one", at(0))) ++
      (0 until 6).map(h => ("two", at(h)))).toDF("event_type", "ts")
    val out = Changepoint.changepoint(ev).collect()
    assert(out.map(_.getString(0)).toSet === Set("two"))
  }

  test("streaming view == batch changepoint on the finalized hour set") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val tmp = tempDir("cp-stream")
      .toFile.getAbsolutePath
    val ev = Tables(spark, dir, "events")
    ev.coalesce(1).write.parquet(s"$tmp/src/part0")
    val src = spark.readStream.schema(
      spark.read.parquet(s"$tmp/src/part0").schema)
      .parquet(s"$tmp/src/*")
    graft.streaming.EventStreams
      .runHourlyCountStream(spark, src, s"$tmp/store", s"$tmp/ckpt")
      .awaitTermination()
    def key(r: org.apache.spark.sql.Row) = r.getString(0) ->
      (r.getLong(1), r.getTimestamp(2).getTime, r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
    val got = graft.streaming.EventStreams
      .changepointView(spark, s"$tmp/store").collect().map(key).toMap
    val hmax = spark.read.parquet(s"$tmp/store")
      .agg(max(col("ws"))).head.getTimestamp(0)
    val want = Changepoint.changepoint(ev.filter(col("ts") < lit(hmax) +
        expr("interval 1 hour"))).collect().map(key).toMap
    assert(got === want && got.nonEmpty)
  }

  test("driver query shape on testdata") {
    val out = Changepoint.qChangepoint(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
  }
}
