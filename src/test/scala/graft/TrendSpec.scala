package graft

import java.sql.Timestamp
import graft.operators.Trend

/** OLS trend: a planted linear ramp is recovered exactly, a constant
  * series reads slope 0 / R² 1 (a flat line fits flatness), and noise
  * lands strictly inside (0,1). */
class TrendSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1700000000000L - (1700000000000L % 3600000L)
  private def at(h: Int) = new Timestamp(base + h * 3600000L)

  test("planted ramp y = 2x + 5 recovered exactly") {
    val ev = (0 until 30).flatMap(h => Seq.fill(2 * h + 5)(("a", at(h))))
      .toDF("event_type", "ts")
    val r = Trend.trend(ev).collect().head
    assert(r.getLong(1) === 30L)
    assert(math.abs(r.getDouble(2) - 2.0) < 1e-12)
    assert(math.abs(r.getDouble(3) - 5.0) < 1e-12)
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-12)
  }

  test("constant series: slope 0, r2 exactly 1") {
    val ev = (0 until 20).flatMap(h => Seq.fill(7)(("b", at(h))))
      .toDF("event_type", "ts")
    val r = Trend.trend(ev).collect().head
    assert(r.getDouble(2) === 0.0 && r.getDouble(4) === 1.0)
  }

  test("gap hours count as zeros: alternation reads r2 exactly 0") {
    // every other hour missing: WITHOUT the dense spine this would be a
    // constant-10 series (r2 = 1); with the zeros it is a symmetric
    // alternation whose linear correlation is exactly zero.
    val ev = (0 until 20).filter(_ % 2 == 0)
      .flatMap(h => Seq.fill(10)(("c", at(h)))).toDF("event_type", "ts")
    val r = Trend.trend(ev).collect().head
    assert(r.getLong(1) === 19L) // spine ends at the last ACTIVE hour
    assert(r.getDouble(2) === 0.0 && r.getDouble(4) === 0.0)
  }

  test("a single gap hour drags a perfect ramp below r2 = 1") {
    val ev = (0 until 20).filter(_ != 7)
      .flatMap(h => Seq.fill(h + 1)(("d", at(h)))).toDF("event_type", "ts")
    val r = Trend.trend(ev).collect().head
    assert(r.getLong(1) === 20L)
    assert(r.getDouble(4) > 0.0 && r.getDouble(4) < 1.0)
  }

  test("streaming view == batch trend on the finalized hour set") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val tmp = tempDir("trend-stream")
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
      (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    val got = graft.streaming.EventStreams.trendView(spark, s"$tmp/store")
      .collect().map(key).toMap
    val hmax = spark.read.parquet(s"$tmp/store")
      .agg(max(col("ws"))).head.getTimestamp(0)
    val want = Trend.trend(ev.filter(col("ts") < lit(hmax) +
        expr("interval 1 hour"))).collect().map(key).toMap
    assert(got === want && got.nonEmpty)
  }

  test("driver query shape on testdata") {
    val out = Trend.qTrend(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0))
  }
}
