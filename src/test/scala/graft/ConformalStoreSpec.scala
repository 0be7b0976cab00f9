package graft

import org.apache.spark.sql.functions._
import graft.ext.{Conformal, CorpusOps}
import graft.streaming.ConformalStore

/** Streaming conformal store: the live q̂/coverage readout equals the
  * batch operator over the absorbed inferred rows at every point;
  * replay idempotent; compaction inert; q̂ tightens as calibration
  * data accrues. */
class ConformalStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("live view == batch conformal under slicing, replay, compaction") {
    val tmp = tempDir("confstore")
      .toFile.getAbsolutePath
    val inferred = CorpusOps.qClassifierInfer(spark, dir)
      .select("doc_id", "score", "y").localCheckpoint()
    val parts = (0 until 3).map(i =>
      inferred.filter(abs(hash(col("doc_id"))) % 3 === i)
        .localCheckpoint())
    def live: String =
      ConformalStore.conformalView(spark, s"$tmp/store").head.toString
    // after each batch the view equals batch conformal on the prefix
    parts.zipWithIndex.foreach { case (p, i) =>
      ConformalStore.appendInferredBatch(spark, p, s"$tmp/store", i.toLong)
      val prefix = parts.take(i + 1).reduce(_ unionAll _)
      assert(live === Conformal.conformal(prefix).head.toString,
        s"after batch $i")
    }
    val full = Conformal.conformal(inferred).head.toString
    assert(live === full)
    // replay of the newest batch: same dir rewritten
    ConformalStore.appendInferredBatch(spark, parts(2), s"$tmp/store", 2L)
    assert(live === full)
    // compaction folds committed deltas; the view is unchanged
    ConformalStore.store(s"$tmp/store").compact(spark, 2L)
    assert(live === full)
  }
}
