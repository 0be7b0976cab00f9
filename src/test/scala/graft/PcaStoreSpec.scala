package graft

import graft.ext.EmbedAlgebra
import graft.streaming.PcaStore

/** Streaming PCA store: the served model must be BIT-EQUAL to the batch
  * fit over the absorbed corpus (moments are a sum monoid — exactness,
  * not approximation), replay-idempotent, and compaction-invariant. */
class PcaStoreSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def modelKey(m: EmbedAlgebra.PcaModel) =
    (m.n, m.mean.toSeq, m.vMicro.toSeq, m.vv2, m.lambda, m.explained)

  test("streamed model == batch fit, bit-equal; replay + compaction invariant") {
    val tmp = tempDir("pcastore")
      .toFile.getAbsolutePath
    val emb = Tables(spark, dir, "embeddings")
    val Array(a, b) = emb.randomSplit(Array(0.5, 0.5), seed = 7)
    a.coalesce(1).write.parquet(s"$tmp/src/up0")
    b.coalesce(1).write.parquet(s"$tmp/src/up1")
    PcaStore.runPcaStream(spark, s"$tmp/src/*", s"$tmp/store",
      s"$tmp/ckpt", a.schema).awaitTermination()
    val batchModel = modelKey(EmbedAlgebra.fitPca(emb))
    assert(modelKey(PcaStore.modelView(spark, s"$tmp/store"))
      === batchModel)
    // replay batch 0 → its dir is overwritten, model unchanged
    PcaStore.appendPcaBatch(spark,
      spark.read.parquet(s"$tmp/src/up0"), s"$tmp/store", 0L)
    assert(modelKey(PcaStore.modelView(spark, s"$tmp/store"))
      === batchModel)
    // compact both committed batches into the base → model unchanged
    val folded = PcaStore.store(s"$tmp/store").compact(spark, upto = 1L)
    assert(folded === 2)
    assert(modelKey(PcaStore.modelView(spark, s"$tmp/store"))
      === batchModel)
    // the serving join scores exactly like the batch scorer
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    assert(rows(PcaStore.abttView(spark, emb, s"$tmp/store"))
      === rows(EmbedAlgebra.qEmbedAbtt(spark, dir)))
  }
}
