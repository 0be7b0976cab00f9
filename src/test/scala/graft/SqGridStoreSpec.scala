package graft

import org.apache.spark.sql.functions._
import graft.ext.SqAnn
import graft.streaming.SqGridStore

/** Streaming SQ grid: the live grid equals the batch fit over the
  * absorbed corpus; the lattice monoid makes replay safe EVEN for
  * compacted batches (idempotence — the property sum stores lack). */
class SqGridStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("streamed grid == batch fit; compacted-batch replay is safe") {
    val tmp = tempDir("sqgrid")
      .toFile.getAbsolutePath
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val parts = (0 until 3).map(i =>
      emb.filter(col("vec_id") % 3 === i).localCheckpoint())
    parts.zipWithIndex.foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$tmp/src/up$i")
    }
    SqGridStore.runGridStream(spark, s"$tmp/src/*", s"$tmp/store",
      s"$tmp/ckpt", parts.head.schema, compactEvery = 2)
      .awaitTermination()
    val live = SqGridStore.gridView(spark, s"$tmp/store")
    val batch = SqAnn.fitGrid(emb)
    assert(live.mn.toSeq === batch.mn.toSeq)
    assert(live.mx.toSeq === batch.mx.toSeq)
    // batch 0 was folded into the base by the cadence (compactEvery=2
    // fires at batch 2 with upto=1). Re-appending it would DOUBLE-ADD
    // in a sum store — for the min/max lattice it must be a no-op.
    SqGridStore.appendGridBatch(spark,
      spark.read.parquet(s"$tmp/src/up0"), s"$tmp/store", 0L)
    val replayed = SqGridStore.gridView(spark, s"$tmp/store")
    assert(replayed.mn.toSeq === batch.mn.toSeq)
    assert(replayed.mx.toSeq === batch.mx.toSeq)
    // explicit full compaction: grid unchanged
    SqGridStore.store(s"$tmp/store").compact(spark, 2L)
    val compacted = SqGridStore.gridView(spark, s"$tmp/store")
    assert(compacted.mn.toSeq === batch.mn.toSeq)
    assert(compacted.mx.toSeq === batch.mx.toSeq)
  }

  test("served scores through the live grid match the batch operator") {
    val tmp = tempDir("sqgrid2")
      .toFile.getAbsolutePath
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    SqGridStore.appendGridBatch(spark, emb, s"$tmp/store", 0L)
    val g = SqGridStore.gridView(spark, s"$tmp/store")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val live = SqAnn.sqScores(emb.crossJoin(broadcast(qv)), col("qv"), g)
      .orderBy(col("approx_micro").desc, col("vec_id").asc).limit(5)
      .collect().map(_.toString).toSeq
    val batch = SqAnn.sqScores(
      emb.crossJoin(broadcast(qv)), col("qv"), SqAnn.fitGrid(emb))
      .orderBy(col("approx_micro").desc, col("vec_id").asc).limit(5)
      .collect().map(_.toString).toSeq
    assert(live === batch)
  }
}
