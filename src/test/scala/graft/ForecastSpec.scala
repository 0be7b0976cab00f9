package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.Forecast

/** Brown double-EWMA + MASE/sMAPE eval: the self-convolved kernel
  * must mass to 255², a constant series must forecast itself exactly
  * and a linear ramp must flag trend_up; the eval must report zero
  * error for a perfectly seasonal series under the seasonal baseline
  * (MASE 0) and the streaming views must equal batch on the
  * finalized hour set. */
class ForecastSpec extends SparkSpec {
  import spark.implicits._

  private def at(h: Int) = new Timestamp(
    Timestamp.valueOf("2024-03-01 00:30:00").getTime + h * 3600L * 1000L)

  test("brown kernel is the exact self-convolution of the ewma kernel") {
    assert(Forecast.brownKernel.map(_._2).sum === 255L * 255L)
    // spot: K_2 = 2^14 (one pair), K_9 = 8·2^7 (eight pairs)
    val k = Forecast.brownKernel.toMap
    assert(k(2) === 16384L && k(9) === 1024L && k(16) === 1L)
  }

  test("constant series: forecast == the constant; ramp: trend_up") {
    // 40 hours of exactly 20 events for one type
    val const = (0 until 40).flatMap(h =>
      Seq.fill(20)(("a", at(h)))).toDF("event_type", "ts")
    val out = Forecast.doubleEwma(const).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(math.abs(r.getDouble(r.fieldIndex("forecast")) - 20.0) < 1e-9)
      assert(r.getInt(r.fieldIndex("trend_up")) === 0) // n1·255 == n2
    }
    // strictly increasing ramp: level below current, trend positive
    val ramp = (0 until 40).flatMap(h =>
      Seq.fill(10 + 2 * h)(("a", at(h)))).toDF("event_type", "ts")
    val last = Forecast.doubleEwma(ramp).orderBy(col("hour").desc)
      .collect().head
    assert(last.getInt(last.fieldIndex("trend_up")) === 1)
    // Brown forecast extrapolates: above the plain smoothed level
    assert(last.getDouble(last.fieldIndex("forecast"))
      > last.getDouble(last.fieldIndex("s1")))
  }

  test("eval: period-24 series has zero seasonal error, MASE 0") {
    // x_h = 10 + 5·[h mod 24 == 3] over 5 full days
    val seas = (0 until 120).flatMap(h =>
      Seq.fill(if (h % 24 == 3) 15 else 10)(("a", at(h))))
      .toDF("event_type", "ts")
    val r = Forecast.forecastEval(seas).collect().head
    assert(r.getLong(r.fieldIndex("sae_seasonal")) === 0L)
    assert(r.getLong(r.fieldIndex("mase_micro")) === 0L)
    assert(r.getLong(r.fieldIndex("smape_seasonal_micro")) === 0L)
    assert(r.getLong(r.fieldIndex("sae_naive")) > 0L)
  }

  test("streaming views == batch on the finalized hour set") {
    val dir = "/root/testdata/sf0.001"
    val tmp = tempDir("brown-stream")
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
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    assert(rows(graft.streaming.EventStreams
      .doubleEwmaView(spark, s"$tmp/store"))
      === rows(Forecast.doubleEwma(fin)))
    assert(rows(graft.streaming.EventStreams
      .forecastEvalView(spark, s"$tmp/store"))
      === rows(Forecast.forecastEval(fin)))
    // the STL and runs-test views ride the same store
    assert(rows(graft.streaming.EventStreams.stlView(spark, s"$tmp/store"))
      === rows(graft.operators.StlDecompose.stl(fin)))
    assert(rows(graft.streaming.EventStreams
      .runsTestView(spark, s"$tmp/store"))
      === rows(graft.operators.RunsTest.runsTest(fin)))
    assert(rows(graft.streaming.EventStreams
      .extremeView(spark, s"$tmp/store"))
      === rows(graft.operators.ExtremeValue.extremeValue(fin)))
  }
}
