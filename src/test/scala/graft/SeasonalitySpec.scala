package graft

import java.sql.Timestamp
import graft.operators.Seasonality

/** Seasonality strength: a pure hour-of-day signal scores η² = 1, a
  * constant series scores 0 (exactly, via the integer guard), and the
  * peak hour is the planted one. */
class SeasonalitySpec extends SparkSpec {
  import spark.implicits._

  private val base = 1700000000000L - (1700000000000L % 86400000L)
  private def at(h: Int) = new Timestamp(base + h * 3600000L)

  test("pure daily cycle: eta2 = 1, peak at the planted hour") {
    // 3 full days; hour-of-day 5 gets 9 events, all others 1
    val ev = (0 until 72).flatMap { h =>
      val k = if (h % 24 == 5) 9 else 1
      Seq.fill(k)(("a", at(h)))
    }.toDF("event_type", "ts")
    val r = Seasonality.seasonality(ev).collect().head
    assert(r.getLong(1) === 72L)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(r.getLong(3) === 5L)
  }

  test("constant series scores exactly 0, never NaN") {
    val ev = (0 until 48).flatMap(h => Seq.fill(3)(("b", at(h))))
      .toDF("event_type", "ts")
    val r = Seasonality.seasonality(ev).collect().head
    assert(r.getDouble(2) === 0.0)
  }

  test("streaming view == batch seasonality on the finalized hour set") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val tmp = tempDir("season-stream")
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
      (r.getLong(1), r.getDouble(2), r.getLong(3))
    val got = graft.streaming.EventStreams
      .seasonalityView(spark, s"$tmp/store").collect().map(key).toMap
    val hmax = spark.read.parquet(s"$tmp/store")
      .agg(max(col("ws"))).head.getTimestamp(0)
    val want = Seasonality.seasonality(ev.filter(col("ts") < lit(hmax) +
        expr("interval 1 hour"))).collect().map(key).toMap
    assert(got === want && got.nonEmpty)
  }

  test("noise-plus-cycle sits strictly between 0 and 1") {
    // cycle of period 24 + a one-off burst (unexplained by hod)
    val ev = ((0 until 96).flatMap { h =>
      Seq.fill(1 + (h % 24) / 8)(("c", at(h)))
    } ++ Seq.fill(30)(("c", at(50)))).toDF("event_type", "ts")
    val r = Seasonality.seasonality(ev).collect().head
    assert(r.getDouble(2) > 0.0 && r.getDouble(2) < 1.0)
  }
}
