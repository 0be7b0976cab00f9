package graft

import org.apache.spark.sql.functions._
import graft.ext.Bm25
import graft.streaming.Bm25Store

/** Streaming BM25 store: the served scores equal the batch operator
  * over the absorbed corpus — exactly, including the float tree —
  * and replay is idempotent. */
class Bm25StoreSpec extends SparkSpec {

  test("served scores == batch bm25 over absorbed docs; replay idempotent") {
    val tmp = tempDir("bm25store")
      .toFile.getAbsolutePath
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val Array(a, b) = docs.randomSplit(Array(0.5, 0.5), seed = 13)
    a.coalesce(1).write.parquet(s"$tmp/src/up0")
    b.coalesce(1).write.parquet(s"$tmp/src/up1")
    Bm25Store.runBm25Stream(spark, s"$tmp/src/*", Bm25.queryTerms,
      s"$tmp/store", s"$tmp/ckpt", a.schema).awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getLong(1), r.getDouble(2))
    val served = Bm25Store.bm25View(spark, s"$tmp/store")
      .collect().map(key).toMap
    val batch = Bm25.bm25(docs, Bm25.queryTerms).collect().map(key).toMap
    assert(served === batch && served.nonEmpty)
    // replay batch 0: overwrite-own-dir keeps all three deltas
    // exactly-once
    Bm25Store.appendBm25Batch(spark,
      spark.read.parquet(s"$tmp/src/up0"), Bm25.queryTerms,
      s"$tmp/store", 0L)
    assert(Bm25Store.bm25View(spark, s"$tmp/store")
      .collect().map(key).toMap === batch)

    // STREAMING HYBRID RETRIEVAL: RRF over the live lexical store +
    // the dense arm equals the batch fusion over the same corpus —
    // the serving loop closed end to end
    val dense = graft.ext.Similarity
      .qAnnCosineById(spark, "/root/testdata/sf0.001")
      .localCheckpoint()
    def fkey(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getDouble(1), r.getInt(2), r.getInt(3))
    val servedFusion = graft.ext.Rrf
      .rrf(Bm25Store.bm25View(spark, s"$tmp/store"), dense)
      .collect().map(fkey).toMap
    val batchFusion = graft.ext.Rrf
      .rrf(Bm25.bm25(docs, Bm25.queryTerms), dense)
      .collect().map(fkey).toMap
    assert(servedFusion === batchFusion && servedFusion.nonEmpty)
  }
}
