package graft

import org.apache.spark.sql.functions._
import graft.operators.DqGate
import graft.streaming.SkewStore

/** Streaming skew store: the live profile equals the batch profile
  * over the absorbed corpus at every point, replay is idempotent, and
  * the served salting decision matches the batch decision. */
class SkewStoreSpec extends SparkSpec {
  import spark.implicits._

  test("streamed profile == batch profile; replay idempotent; salts served") {
    val tmp = tempDir("skewstore")
      .toFile.getAbsolutePath
    // two uploads with a hot key concentrated in the second
    val up0 = (1L to 3000L).map(i => (i % 100, i)).toDF("fk", "v")
    val up1 = ((1L to 1000L).map(i => (i % 100, i)) ++
      (1L to 6000L).map(i => (7L, i))).toDF("fk", "v")
    up0.coalesce(1).write.parquet(s"$tmp/src/up0")
    up1.coalesce(1).write.parquet(s"$tmp/src/up1")
    val all = up0.unionAll(up1)
    SkewStore.runSkewStream(spark, s"$tmp/src/*", "fk", s"$tmp/store",
      s"$tmp/ckpt", up0.schema).awaitTermination()
    def profile(df: org.apache.spark.sql.DataFrame) = {
      val s = DqGate.skewStats(df, "fk")
      (s.nKeys, s.nRows, s.maxCnt, s.hhi)
    }
    val live = SkewStore.skewStatsView(spark, s"$tmp/store").head()
    val batch = profile(all)
    assert((live.getLong(0), live.getLong(1), live.getLong(2),
      live.getDouble(4)) === batch)
    // replay batch 0: per-batch-dir overwrite keeps counts exactly-once
    SkewStore.appendKeyCountBatch(spark,
      spark.read.parquet(s"$tmp/src/up0"), "fk", s"$tmp/store", 0L)
    val live2 = SkewStore.skewStatsView(spark, s"$tmp/store").head()
    assert(live2.getLong(1) === batch._2)
    // the served decision == the batch decision at the 32-partition
    // posture (the hot key holds ~60% of rows → salted)
    val salts = SkewStore.currentSalts(spark, s"$tmp/store", 32)
    assert(salts === DqGate.saltsFor(DqGate.skewStats(all, "fk"), 32))
    assert(salts >= 2)
  }
}
