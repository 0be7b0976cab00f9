package graft

import org.apache.spark.sql.functions._
import graft.ext.{Bpe, CorpusOps, Unigram}
import graft.streaming.TypeStore

/** Streaming corpus-model store: every served model (BPE merges,
  * unigram EM trace, top-K vocab) must be BIT-EQUAL to its batch
  * trainer over the absorbed corpus — type frequencies are a sum
  * monoid and both trainers are deterministic functions of the type
  * table. Replay-idempotent, compaction-invariant. */
class TypeStoreSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("streamed models == batch training, bit-equal; replay + compaction invariant") {
    val tmp = tempDir("typestore")
      .toFile.getAbsolutePath
    val docs = Tables(spark, dir, "documents")
    val Array(a, b) = docs.randomSplit(Array(0.5, 0.5), seed = 11)
    a.coalesce(1).write.parquet(s"$tmp/src/up0")
    b.coalesce(1).write.parquet(s"$tmp/src/up1")
    TypeStore.runTypeStream(spark, s"$tmp/src/*", s"$tmp/store",
      s"$tmp/ckpt", a.schema).awaitTermination()

    // the merged store IS the batch type table (multiset equality)
    val batchTypes = TypeStore.typeDelta(docs)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    def storedTypes() = TypeStore.mergedTypes(spark, s"$tmp/store")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(storedTypes() === batchTypes)

    // each served model == its batch twin, bit-equal
    val bpeBatch = Bpe.train(TypeStore.typeDelta(docs)).merges
    assert(TypeStore.bpeView(spark, s"$tmp/store").merges === bpeBatch)
    val uniBatch = Unigram.train(
      TypeStore.typeDelta(docs).filter(col("word") =!= "")).rounds
    assert(TypeStore.unigramView(spark, s"$tmp/store").rounds === uniBatch)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val vocabBatch = rows(CorpusOps.vocab(docs))
    assert(rows(TypeStore.vocabView(spark, s"$tmp/store")) === vocabBatch)

    // replay batch 0 → overwrites its own dir, store unchanged
    TypeStore.appendTypesBatch(spark,
      spark.read.parquet(s"$tmp/src/up0"), s"$tmp/store", 0L)
    assert(storedTypes() === batchTypes)

    // compact both committed batches → views unchanged, dirs folded
    val folded = TypeStore.store(s"$tmp/store").compact(spark, upto = 1L)
    assert(folded === 2)
    assert(storedTypes() === batchTypes)
    assert(rows(TypeStore.vocabView(spark, s"$tmp/store")) === vocabBatch)
  }
}
