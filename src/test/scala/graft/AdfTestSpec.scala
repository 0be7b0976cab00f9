package graft

import java.sql.Timestamp
import graft.operators.AdfTest

/** ADF unit-root test: a strongly mean-reverting series must reject
  * the unit root (t far below the −2.86 fence) and a random walk
  * must NOT; the streaming view equals batch. */
class AdfTestSpec extends SparkSpec {
  import spark.implicits._

  private def at(h: Int) = new Timestamp(
    Timestamp.valueOf("2024-03-01 00:00:00").getTime + h * 3600L * 1000L)

  /** Deterministic noise in {0..9} from a hash of (tag, h). */
  private def noise(tag: String, h: Int): Int =
    math.abs((tag + ":" + h).hashCode) % 10

  test("mean-reverting series → stationary; random walk → not") {
    // white noise around level 20: x_h = 15 + noise (iid) — strongly
    // mean-reverting (beta ≈ −1)
    val wn = (0 until 200).flatMap(h =>
      Seq.fill(15 + noise("wn", h))(("a", at(h))))
      .toDF("event_type", "ts")
    val r = AdfTest.adfTest(wn).collect().head
    assert(r.getLong(r.fieldIndex("t_micro")) < AdfTest.dfCritMicro)
    assert(r.getBoolean(r.fieldIndex("stationary")))
    assert(r.getLong(r.fieldIndex("beta_micro")) < -500000L)
    // random walk: x_h = x_{h-1} + (noise − 4), floored at 1
    var lvl = 50
    val rw = (0 until 200).flatMap { h =>
      lvl = math.max(1, lvl + noise("rw", h) - 4)
      Seq.fill(lvl)(("b", at(h)))
    }.toDF("event_type", "ts")
    val r2 = AdfTest.adfTest(rw).collect().head
    assert(!r2.getBoolean(r2.fieldIndex("stationary")),
      s"walk flagged stationary: t=${r2.getLong(r2.fieldIndex("t_micro"))}")
  }

  test("streaming view == batch on the finalized hour set") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val tmp = tempDir("adf-stream")
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
      .agg(max(col("ws"))).head.getTimestamp(0)
    val fin = ev.filter(col("ts") < lit(hmax) + expr("interval 1 hour"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq.sorted
    assert(rows(graft.streaming.EventStreams.adfView(spark, s"$tmp/store"))
      === rows(AdfTest.adfTest(fin)))
  }
}
