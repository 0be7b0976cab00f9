package graft

import org.apache.spark.sql.functions._
import graft.operators.{KsDrift, PsiDrift}
import graft.streaming.DriftStore

/** Streaming drift store: the live PSI and KS views equal the batch
  * statistics over the absorbed corpus at every point, replay is
  * idempotent, and compaction never changes a served value. */
class DriftStoreSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def feat(df: org.apache.spark.sql.DataFrame) = df.select(
    when(col("o_orderdate") < lit(PsiDrift.splitDate).cast("timestamp"),
      "ref").otherwise("cur").as("side"),
    round(col("o_totalprice") * 100).cast("long").as("cents"))

  test("streamed views == batch stats; replay idempotent; compaction inert") {
    val tmp = tempDir("driftstore")
      .toFile.getAbsolutePath
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderdate", "o_totalprice")
    // three uploads: split by order key ranges via a hash coin
    val parts = (0 until 3).map(i =>
      orders.filter(abs(hash(col("o_totalprice"))) % 3 === i)
        .localCheckpoint())
    parts.zipWithIndex.foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$tmp/src/up$i")
    }
    DriftStore.runDriftStream(spark, s"$tmp/src/*", s"$tmp/store",
      s"$tmp/ckpt", parts.head.schema, compactEvery = 2)
      .awaitTermination()
    val all = parts.reduce(_ unionAll _)
    val livePsi = DriftStore.psiView(spark, s"$tmp/store")
      .orderBy("bucket").collect().map(_.toString).toSeq
    val batchPsi = PsiDrift.psiDrift(feat(all))
      .orderBy("bucket").collect().map(_.toString).toSeq
    assert(livePsi === batchPsi)
    val liveKs = DriftStore.ksView(spark, s"$tmp/store").head.toString
    val batchKs = KsDrift.ksDrift(feat(all)).head.toString
    assert(liveKs === batchKs)
    // replay: overwrite batch 2's dir with the same delta (batch 2 is
    // the newest, still un-compacted batch — replaying a COMPACTED id
    // is outside the store's safety contract: the checkpoint
    // guarantees committed-and-folded ids are never redelivered)
    DriftStore.appendDriftBatch(spark,
      spark.read.parquet(s"$tmp/src/up2"), s"$tmp/store", 2L)
    assert(DriftStore.ksView(spark, s"$tmp/store").head.toString === liveKs)
    // explicit compaction of everything committed: views unchanged
    DriftStore.store(s"$tmp/store").compact(spark, 2L)
    assert(DriftStore.ksView(spark, s"$tmp/store").head.toString === liveKs)
    assert(DriftStore.psiView(spark, s"$tmp/store")
      .orderBy("bucket").collect().map(_.toString).toSeq === livePsi)
  }

  test("recover converges an interrupted state and serving proceeds") {
    val tmp = tempDir("driftrec")
      .toFile.getAbsolutePath
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderdate", "o_totalprice")
    DriftStore.appendDriftBatch(spark, orders, s"$tmp/store", 0L)
    DriftStore.store(s"$tmp/store").recover(spark) // no pending: no-op
    val live = DriftStore.ksView(spark, s"$tmp/store").head
    val batch = KsDrift.ksDrift(feat(orders)).head
    assert(live.toString === batch.toString)
  }
}
