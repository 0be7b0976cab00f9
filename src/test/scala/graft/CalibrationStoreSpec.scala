package graft

import org.apache.spark.sql.functions._
import graft.ext.{IsotonicCal, RaterAgreement}
import graft.streaming.CalibrationStore

/** Streaming calibration store: the live isotonic curve and κ equal
  * the batch operators over the absorbed docs at every point; replay
  * idempotent; compaction inert; a range-extending batch re-buckets
  * the view without touching state. */
class CalibrationStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("live views == batch isotonic/kappa under slicing, replay, compaction") {
    val tmp = tempDir("calstore")
      .toFile.getAbsolutePath
    // frozen scorer: the KN model over the reference corpus, scored
    // once — slices carry the rows, never retrain
    val sl = IsotonicCal.scoredLabeled(spark, dir).localCheckpoint()
    val docs = Tables(spark, dir, "documents").localCheckpoint()
    val slParts = (0 until 3).map(i =>
      sl.filter(abs(hash(col("doc_id"))) % 3 === i).localCheckpoint())
    val docParts = (0 until 3).map(i =>
      docs.filter(abs(hash(col("doc_id"))) % 3 === i).localCheckpoint())
    def isoLive: Seq[String] =
      CalibrationStore.isotonicView(spark, tmp)
        .orderBy("bucket").collect().map(_.toString).toSeq
    def kappaLive: String =
      CalibrationStore.kappaView(spark, tmp).head.toString
    def mcnemarLive: String =
      CalibrationStore.mcnemarView(spark, tmp).head.toString
    (0 until 3).foreach { i =>
      CalibrationStore.appendScoredBatch(spark, slParts(i), tmp, i.toLong)
      CalibrationStore.appendVerdictBatch(spark,
        RaterAgreement.raterVerdicts(docParts(i)), tmp, i.toLong)
      val slPrefix = slParts.take(i + 1).reduce(_ unionAll _)
      val docPrefix = docParts.take(i + 1).reduce(_ unionAll _)
      assert(isoLive === IsotonicCal.isotonicFromBuckets(
        IsotonicCal.bucketTable(slPrefix))
        .orderBy("bucket").collect().map(_.toString).toSeq,
        s"isotonic after batch $i")
      assert(kappaLive === RaterAgreement.kappaFromVerdicts(
        RaterAgreement.raterVerdicts(docPrefix)).head.toString,
        s"kappa after batch $i")
    }
    val isoFull = isoLive
    val kappaFull = kappaLive
    val mcnemarFull = mcnemarLive
    assert(mcnemarFull === RaterAgreement.qMcnemar(spark, dir)
      .head.toString)
    // the absorbed corpus now equals the full dir: cross-check the
    // driver queries directly
    assert(isoFull === IsotonicCal.qIsotonicCal(spark, dir)
      .orderBy("bucket").collect().map(_.toString).toSeq)
    assert(kappaFull === RaterAgreement.qRaterKappa(spark, dir)
      .head.toString)
    // replay of the newest batch: same dirs rewritten, views unchanged
    CalibrationStore.appendScoredBatch(spark, slParts(2), tmp, 2L)
    CalibrationStore.appendVerdictBatch(spark,
      RaterAgreement.raterVerdicts(docParts(2)), tmp, 2L)
    assert(isoLive === isoFull)
    assert(kappaLive === kappaFull)
    // compaction folds committed deltas on both stores; views unchanged
    CalibrationStore.scoreStore(tmp).compact(spark, 2L)
    CalibrationStore.raterStore(tmp).compact(spark, 2L)
    assert(isoLive === isoFull)
    assert(kappaLive === kappaFull)
    assert(mcnemarLive === mcnemarFull)
  }

  test("a range-extending batch re-buckets the curve from merged state") {
    val tmp = tempDir("calstore2")
      .toFile.getAbsolutePath
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("s", LongType, false),
      StructField("y", IntegerType, false)))
    def slOf(rows: Seq[(Long, Int)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2),
      schema)
    val b0 = Seq.tabulate(40)(i => (i.toLong, if (i >= 20) 1 else 0))
    CalibrationStore.appendScoredBatch(spark, slOf(b0), tmp, 0L)
    val before = CalibrationStore.isotonicView(spark, tmp)
      .agg(min("lo_score"), max("lo_score")).head
    // batch 1 extends the score range 10x in both directions
    val b1 = Seq((-200L, 0), (400L, 1))
    CalibrationStore.appendScoredBatch(spark, slOf(b1), tmp, 1L)
    val after = CalibrationStore.isotonicView(spark, tmp)
      .agg(min("lo_score"), max("lo_score")).head
    assert(after.getLong(0) === -200L, "new lo bound enters the curve")
    assert(after.getLong(0) < before.getLong(0))
    assert(after.getLong(1) > before.getLong(1))
    // and the re-bucketed view still equals the batch operator
    assert(CalibrationStore.isotonicView(spark, tmp)
      .orderBy("bucket").collect().map(_.toString).toSeq ===
      IsotonicCal.isotonicFromBuckets(IsotonicCal.bucketTable(
        slOf(b0 ++ b1))).orderBy("bucket").collect().map(_.toString).toSeq)
  }
}
