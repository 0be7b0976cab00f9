package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.HeavyHitters
import graft.streaming.HeavyHittersStore

/** Heavy-hitter counter store: streamed counters ≡ batch sketch pass,
  * served heavy set ≡ batch operator, replay overwrites instead of
  * double-adding. */
class HeavyHittersStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("counter store: streamed counters == batch sketch; served heavy " +
    "== batch operator; replay is a value no-op") {
    val tmp = tempDir("hh-store").toFile.getAbsolutePath
    val store = s"$tmp/store"
    val docs = Tables(spark, dir, "documents")
    (0 until 3).foreach(i => docs.filter(col("doc_id") % 3 === i)
      .coalesce(1).write.parquet(s"$tmp/upload/$i"))
    HeavyHittersStore.runCounterStream(spark, s"$tmp/upload/*", store,
      s"$tmp/ckpt", docs.schema).awaitTermination()

    // streamed counter table == the batch sketch pass over the corpus
    val streamed = HeavyHittersStore.counters(spark, store)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = HeavyHittersStore.counterDelta(docs)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)

    // served heavy set == the batch operator on the same corpus
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1))
    val served = HeavyHittersStore.servedHeavy(spark, docs, store)
      .collect().map(key).toSet
    val want = HeavyHitters.qHeavyHitters(spark, dir).collect()
      .map(key).toSet
    assert(served === want && served.nonEmpty)

    // replay safety: a redelivered batch OVERWRITES its own dir — sums
    // don't double. (Direct store with controlled ids: the stream's
    // file→batch-id assignment is its own business.)
    val store2 = s"$tmp/store2"
    (0 until 3).foreach(i => HeavyHittersStore.appendCounterBatch(spark,
      docs.filter(col("doc_id") % 3 === i), store2, i.toLong))
    HeavyHittersStore.appendCounterBatch(spark,
      docs.filter(col("doc_id") % 3 === 1), store2, 1L)
    val again = HeavyHittersStore.counters(spark, store2)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(again === batch)
  }
}
