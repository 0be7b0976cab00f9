package graft

import graft.operators.Autocorr

/** ACF: an alternating series autocorrelates perfectly at even lags
  * and anti-correlates at odd lags; spine gaps are true zeros; pair
  * counts shrink by exactly one per lag. */
class AutocorrSpec extends SparkSpec {
  import spark.implicits._

  test("alternating series: r(even) = 1, r(odd) = -1") {
    // 0,4,0,4,... over 40 hours
    val counts = (0L until 40L).map(h => (h, if (h % 2 == 0) 0L else 4L))
      .toDF("h", "c")
    val out = Autocorr.acf(counts, maxL = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(math.abs(out(2L)._2 - 1.0) < 1e-12)
    assert(math.abs(out(4L)._2 - 1.0) < 1e-12)
    assert(math.abs(out(1L)._2 + 1.0) < 1e-12)
    assert(math.abs(out(3L)._2 + 1.0) < 1e-12)
    // n = |spine| - lag
    assert(out(1L)._1 === 39L && out(4L)._1 === 36L)
  }

  test("missing hours enter the spine as zeros, not dropped rows") {
    // only odd hours present with c=4: spine densifies to the same
    // alternating series as above
    val sparse = (0L until 40L).filter(_ % 2 == 1).map(h => (h, 4L))
      .toDF("h", "c")
    val out = Autocorr.acf(sparse, maxL = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // spine starts at h=1 (min) so it is 4,0,4,0,… — still period 2
    assert(math.abs(out(2L) - 1.0) < 1e-12)
    assert(math.abs(out(1L) + 1.0) < 1e-12)
  }

  test("streaming view == batch ACF on fully-finalized data") {
    val dir = "/root/testdata/sf0.001"
    val tmp = tempDir("acf-stream")
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
      r.getLong(0) -> (r.getLong(1), r.getDouble(2))
    val got = graft.streaming.EventStreams.acfView(spark, s"$tmp/store")
      .collect().map(key).toMap
    // batch over raw events restricted to the same finalized hour set
    // (the 2h watermark holds back the trailing hours)
    import org.apache.spark.sql.functions._
    val hmax = spark.read.parquet(s"$tmp/store")
      .agg(max(expr("unix_micros(ws) div 3600000000"))).head.getLong(0)
    val want = Autocorr.acf(
      ev.select(expr("unix_micros(ts) div 3600000000").as("h"))
        .filter(col("h") <= hmax)
        .groupBy("h").agg(count(lit(1)).as("c")))
      .collect().map(key).toMap
    assert(got === want && got.size === 24)
  }

  test("driver query: 24 lags, every r in [-1, 1]") {
    val rows = Autocorr.qAcf(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length === 24)
    assert(rows.forall { r =>
      val v = r.getDouble(2); !v.isNaN && v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9
    })
  }
}
