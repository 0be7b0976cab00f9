package graft

import java.sql.Timestamp
import graft.operators.Ewma

/** EWMA monitor: hand-computed baseline on a constant series, a
  * planted 4× burst trips the flag while the decayed aftermath does
  * not, and the full-window gate drops the first 8 hours. */
class EwmaSpec extends SparkSpec {
  import spark.implicits._

  // hour-aligned base so date_trunc('hour') keeps the keys stable
  private val base = 1700000000000L - (1700000000000L % 3600000L)
  private def at(h: Int) = new Timestamp(base + h * 3600000L)

  test("constant series: ewma equals the level; no spikes") {
    // 20 events per hour for 24 hours
    val ev = (0 until 24).flatMap(h => Seq.fill(20)(("a", at(h))))
      .toDF("event_type", "ts")
    val out = Ewma.ewma(ev).collect()
    // rows only after the full window: 24 - 8
    assert(out.length === 16)
    assert(out.forall(r => math.abs(r.getDouble(3) - 20.0) < 1e-12))
    assert(out.forall(_.getInt(4) === 0))
  }

  test("a planted burst spikes; the flag needs min volume") {
    // level 20, then hour 20 bursts to 100 (5x the baseline)
    val ev = ((0 until 24).flatMap(h => Seq.fill(20)(("a", at(h)))) ++
      Seq.fill(80)(("a", at(20)))).toDF("event_type", "ts")
    val out = Ewma.ewma(ev).collect()
      .map(r => r.getTimestamp(1).getTime -> (r.getLong(2), r.getDouble(3),
        r.getInt(4))).toMap
    val (n20, base20, spike20) = out(at(20).getTime)
    assert(n20 === 100L && math.abs(base20 - 20.0) < 1e-12 && spike20 === 1)
    // the hour after: baseline has absorbed 100 at weight 128/255
    val (_, base21, spike21) = out(at(21).getTime)
    assert(math.abs(base21 - (100 * 128 + 20 * 127) / 255.0) < 1e-12)
    assert(spike21 === 0)
    // a tiny series never spikes regardless of ratio (min volume)
    val tiny = ((0 until 12).map(h => ("b", at(h))) ++
      Seq.fill(5)(("b", at(12)))).toDF("event_type", "ts")
    assert(Ewma.ewma(tiny).collect().forall(_.getInt(4) === 0))
  }

  test("streaming view == batch ewma on the finalized hour set") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val tmp = tempDir("ewma-stream")
      .toFile.getAbsolutePath
    val ev = Tables(spark, dir, "events")
    ev.coalesce(1).write.parquet(s"$tmp/src/part0")
    val src = spark.readStream.schema(
      spark.read.parquet(s"$tmp/src/part0").schema)
      .parquet(s"$tmp/src/*")
    graft.streaming.EventStreams
      .runHourlyCountStream(spark, src, s"$tmp/store", s"$tmp/ckpt")
      .awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getTimestamp(1).getTime) ->
        (r.getLong(2), r.getDouble(3), r.getInt(4))
    val got = graft.streaming.EventStreams.ewmaView(spark, s"$tmp/store")
      .collect().map(key).toMap
    val hmax = spark.read.parquet(s"$tmp/store")
      .agg(max(col("ws"))).head.getTimestamp(0)
    val want = Ewma.ewma(ev.filter(col("ts") < lit(hmax) +
        expr("interval 1 hour")))
      .collect().map(key).toMap
    assert(got === want && got.nonEmpty)
  }

  test("driver query shape on testdata") {
    val out = Ewma.qEwma(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getDouble(3) >= 0.0))
  }
}
