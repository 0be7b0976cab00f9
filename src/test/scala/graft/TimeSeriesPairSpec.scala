package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.operators.{Anova, TimeSeriesPair}

/** Cross-correlation, Granger-style predictive test, one-way ANOVA. */
class TimeSeriesPairSpec extends SparkSpec {

  private def spineDf(rows: Seq[(Long, Long, Long)]) = {
    val schema = StructType(Seq(StructField("h", LongType, false),
      StructField("x", LongType, false),
      StructField("y", LongType, false)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row(r._1, r._2, r._3)), 2), schema)
  }

  test("xcorr: a series that lags its driver by 2 hours peaks at lag 2 with r = 1") {
    // x varies; y_t = x_{t-2} exactly
    val xs = (0L until 40L).map(t => (t * t + 3) % 17)
    val rows = (2L until 40L).map(t => (t, xs(t.toInt), xs(t.toInt - 2)))
    val out = TimeSeriesPair.xcorr(spineDf(rows)).collect()
      .map(r => r.getAs[Long]("lag") -> r.getAs[Double]("r")).toMap
    assert(out(2L) === 1.0)
    assert(out.filter(_._1 != 2L).values.forall(_ < 1.0))
    assert(out.size === 2 * TimeSeriesPair.xcorrMaxLag + 1)
  }

  test("granger: a lag-1 driver with unexplained residual is detected; coefficient ~ 1") {
    // y_t = x_{t-1} + (t mod 3): x1 is strongly predictive beyond AR(1)
    val rows = (0L until 60L).map { t =>
      val x = (t * t + 5) % 23
      val xPrev = if (t == 0) 0L else ((t - 1) * (t - 1) + 5) % 23
      (t, x, xPrev + t % 3)
    }
    val out = TimeSeriesPair.granger(spineDf(rows)).collect()(0)
    assert(out.getAs[Boolean]("granger"))
    val c = out.getAs[Long]("c_coef_micro")
    assert(c > 800000L && c < 1200000L, s"c=$c")
    assert(out.getAs[Long]("n_obs") === 59L)
  }

  test("granger: statistics match an independent driver-side OLS replay") {
    val spine = TimeSeriesPair.pairSpine(
      Tables(spark, "/root/testdata/sf0.001", "events"))
    val rows = spine.orderBy("h").collect()
      .map(r => (r.getLong(1), r.getLong(2))) // (x, y)
    val trip = rows.sliding(2).map { w =>
      (w(1)._2.toDouble, w(0)._2.toDouble, w(0)._1.toDouble) // y, y1, x1
    }.toSeq
    val n = trip.size.toDouble
    def s(f: ((Double, Double, Double)) => Double) = trip.map(f).sum
    // solve the 3x3 normal equations by Gaussian elimination
    val (sy, sy1, sx1) = (s(_._1), s(_._2), s(_._3))
    val (syy, syy1, syx1) = (s(t => t._1 * t._1), s(t => t._1 * t._2),
      s(t => t._1 * t._3))
    val (sy1y1, sy1x1, sx1x1) = (s(t => t._2 * t._2),
      s(t => t._2 * t._3), s(t => t._3 * t._3))
    val bR = (n * syy1 - sy * sy1) / (n * sy1y1 - sy1 * sy1)
    val aR = (sy - bR * sy1) / n
    val rssR = syy - aR * sy - bR * syy1
    val m = Array(
      Array(n, sy1, sx1, sy), Array(sy1, sy1y1, sy1x1, syy1),
      Array(sx1, sy1x1, sx1x1, syx1))
    for (i <- 0 until 3; j <- 0 until 3 if j != i) {
      val f = m(j)(i) / m(i)(i)
      for (k <- 0 to 3) m(j)(k) -= f * m(i)(k)
    }
    val (aF, bF, cF) = (m(0)(3) / m(0)(0), m(1)(3) / m(1)(1),
      m(2)(3) / m(2)(2))
    val rssF = syy - aF * sy - bF * syy1 - cF * syx1
    val fStat = (rssR - rssF) * (n - 3.0) / rssF
    val out = TimeSeriesPair.qGranger(spark, "/root/testdata/sf0.001")
      .collect()(0)
    assert(math.abs(out.getAs[Long]("f_micro") - 1000000.0 * fStat) < 2.0)
    assert(math.abs(out.getAs[Long]("c_coef_micro") - 1000000.0 * cF) < 2.0)
  }

  test("granger: a perfect full-model fit saturates F instead of dividing by zero") {
    // y_t = x_{t-1} EXACTLY (and x varies): rssF = 0 up to rounding
    val rows = (0L until 30L).map { t =>
      val x = (t * 3 + 1) % 7
      val xPrev = if (t == 0) 0L else ((t - 1) * 3 + 1) % 7
      (t, x, xPrev)
    }
    val out = TimeSeriesPair.granger(spineDf(rows)).collect()(0)
    assert(out.getAs[Long]("f_micro") === TimeSeriesPair.fSatMicro)
    assert(out.getAs[Boolean]("granger"))
  }

  private def gyDf(rows: Seq[(String, Long)]) = {
    val schema = StructType(Seq(StructField("g", StringType, false),
      StructField("y", LongType, false)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row(r._1, r._2)), 2), schema)
  }

  test("anova: hand-computed F and eta^2; perfect separation saturates") {
    // A={1,3}, B={2,4}: SSB=1, SST=5, SSW=4 → F=0.5, eta2=0.2
    val out = Anova.anova(gyDf(Seq(("A", 1L), ("A", 3L), ("B", 2L),
      ("B", 4L)))).collect()
    assert(out.forall(_.getAs[Long]("f_micro") === 500000L))
    assert(out.forall(_.getAs[Long]("eta2_micro") === 200000L))
    assert(out.map(r => r.getString(0) -> r.getAs[Long]("mean_micro"))
      .toMap === Map("A" -> 2000000L, "B" -> 3000000L))
    // constant within groups, different across → saturated F, eta2 = 1
    val sep = Anova.anova(gyDf(Seq(("A", 1L), ("A", 1L), ("B", 3L),
      ("B", 3L)))).collect()
    assert(sep.forall(_.getAs[Long]("f_micro")
      === TimeSeriesPair.fSatMicro))
    assert(sep.forall(_.getAs[Long]("eta2_micro") === 1000000L))
    // all values equal → SST = 0 → F = 0 by the degenerate guard
    val flat = Anova.anova(gyDf(Seq(("A", 2L), ("B", 2L)))).collect()
    assert(flat.forall(_.getAs[Long]("f_micro") === 0L))
  }

  test("streaming xcorr/granger views == batch on fully-finalized data") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val tmp = tempDir("tsp-stream")
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
    val batchSpine = TimeSeriesPair.pairSpineOverHourly(
      ev.groupBy(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("h"))
        .agg(count(lit(1)).as("n"))
        .filter(col("h") <= hmax))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq.sorted
    assert(rows(graft.streaming.EventStreams.xcorrView(spark, s"$tmp/store"))
      === rows(TimeSeriesPair.xcorr(batchSpine)))
    assert(rows(graft.streaming.EventStreams.grangerView(spark, s"$tmp/store"))
      === rows(TimeSeriesPair.granger(batchSpine)))
  }

  test("anova driver query: one row per source, shared verdict columns") {
    val out = Anova.qAnova(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("f_micro")).distinct.length === 1)
    assert(out.forall { r =>
      val e = r.getAs[Long]("eta2_micro"); e >= 0L && e <= 1000000L })
  }
}
