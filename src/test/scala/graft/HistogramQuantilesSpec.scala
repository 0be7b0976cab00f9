package graft

import org.apache.spark.sql.functions._
import graft.operators.HistogramQuantiles
import graft.streaming.HistogramStore

/** Histogram percentiles: hand-checkable estimates on planted
  * buckets, bucket-width error bound against the exact order
  * statistic on testdata, and the streaming store equality. */
class HistogramQuantilesSpec extends SparkSpec {
  import spark.implicits._

  test("planted uniform buckets: interpolation exact") {
    // 100 values: 0..99 → width 10 ⇒ 10 buckets × 10 values
    val df = (0 until 100).map(_.toDouble).toDF("v")
    val out = HistogramQuantiles.histQuantiles(df, "v", width = 10L,
      ps = Seq(50, 90)).collect().map(r => r.getInt(0) -> r).toMap
    // p50: target = 50, buckets 0-4 hold 50 ⇒ bucket 4 reached at
    // cum 50, prev 40 ⇒ est = 40 + 10·(50-40)/10 = 50
    assert(out(50).getLong(1) === 50L)
    assert(out(50).getDouble(4) === 50.0)
    // p90: target 90 ⇒ bucket 8 (cum 90, prev 80) ⇒ est 90
    assert(out(90).getDouble(4) === 90.0)
  }

  test("estimate within one bucket width of the exact order statistic") {
    val dir = "/root/testdata/sf0.001"
    val o = Tables(spark, dir, "orders")
    val vals = o.select(col("o_totalprice").cast("double"))
      .collect().map(_.getDouble(0)).sorted
    val out = HistogramQuantiles.qQuantileHist(spark, dir).collect()
    assert(out.length === HistogramQuantiles.percentiles.length)
    out.foreach { r =>
      val exact = vals((r.getLong(1) - 1).toInt) // target-rank-th value
      assert(math.abs(r.getDouble(4) - exact) <=
        HistogramQuantiles.bucketWidth.toDouble,
        s"p${r.getInt(0)}: est ${r.getDouble(4)} exact $exact")
    }
  }

  test("streaming store == batch estimator; replay idempotent") {
    val tmp = tempDir("histstore")
      .toFile.getAbsolutePath
    val o = Tables(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_totalprice"))
    val Array(a, b) = o.randomSplit(Array(0.5, 0.5), seed = 11)
    a.coalesce(1).write.parquet(s"$tmp/src/up0")
    b.coalesce(1).write.parquet(s"$tmp/src/up1")
    HistogramStore.runHistStream(spark, s"$tmp/src/*", "o_totalprice",
      s"$tmp/store", s"$tmp/ckpt", a.schema).awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))
    val live = HistogramStore.quantilesView(spark, s"$tmp/store")
      .collect().map(key).toMap
    val batch = HistogramQuantiles.histQuantiles(o, "o_totalprice")
      .collect().map(key).toMap
    assert(live === batch && live.nonEmpty)
    // replay batch 0 → unchanged
    HistogramStore.appendHistBatch(spark,
      spark.read.parquet(s"$tmp/src/up0"), "o_totalprice",
      s"$tmp/store", 0L)
    assert(HistogramStore.quantilesView(spark, s"$tmp/store")
      .collect().map(key).toMap === batch)
  }
}
