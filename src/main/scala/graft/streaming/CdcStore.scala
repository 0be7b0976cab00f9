package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Incrementally-maintained CDC LATEST-STATE store — the streaming
  * materialization of [[graft.operators.CdcApply]]: change records
  * (upserts + tombstones, per-key ordered by (seq, tie)) arrive as
  * files, and the store always holds exactly ONE row per touched key —
  * the (seq, tie)-maximal change — so the applied table is a lazy view
  * over base ⟗ store, equal to batch `applyCdc` on the union of every
  * batch ever absorbed.
  *
  * Latest-wins is a MONOID on (seq, tie)-stamped rows: `max_by` over
  * any slicing, order, or redelivery of the log converges to the same
  * per-key winner (commutative, associative, idempotent — a
  * redelivered row compares equal and changes nothing). That is the
  * entire correctness argument, and it is the same argument the batch
  * operator's partial-agg compaction makes; stream and batch share one
  * definition of "latest".
  *
  * TOMBSTONES STAY IN THE STORE: a deleted key's winning row (op='D')
  * must keep absorbing — and beating — late-arriving earlier upserts;
  * dropping it would resurrect the key on the next late arrival. The
  * view applies the drop, not the store. (Tombstone garbage collection
  * is the usual out-of-band compaction once the log's lateness horizon
  * has passed — the watermark analogue, deliberately not wired to a
  * clock here so replay at any order stays exact.)
  *
  * Store layout/merge: `pmod(key, N)` bucketed, touched-bucket
  * union + re-reduce, published by [[graft.merge.Merge.swapPartitions]]
  * — the shared [[BucketedMonoidStore]] contract. Per-batch work is
  * O(batch + touched buckets), independent of store size and log
  * depth; store size is |touched keys|, never log volume (the
  * per-batch map-side max_by collapses the log before anything is
  * written). */
object CdcStore {

  private def bucketOf =
    pmod(col("key"), lit(CurationStream.storeBuckets.toLong))

  /** Per-key latest over (store ∪ batch) — the one monoid both the
    * store merge and the batch operator's compaction express. */
  private def latestPerKey(df: DataFrame): DataFrame =
    df.groupBy("key").agg(
      max_by(struct(col("seq"), col("tie"), col("op"), col("value")),
        struct(col("seq"), col("tie"))).as("w"))
      .select(col("key"), col("w.seq").as("seq"), col("w.tie").as("tie"),
        col("w.op").as("op"), col("w.value").as("value"))

  /** The store: latest-wins monoid on the shared touched-bucket
    * machinery ([[BucketedMonoidStore]]). */
  def store(storePath: String): BucketedMonoidStore =
    new BucketedMonoidStore(storePath,
      latestPerKey(_).withColumn("bucket", bucketOf), bucketOf)

  /** Fold one micro-batch of change rows (key, seq, tie, op, value)
    * into the latest-state store. Map-side collapse first: the store
    * never sees log depth. */
  def mergeCdcBatch(spark: SparkSession, batch: DataFrame,
                    storePath: String): Unit =
    store(storePath).merge(spark, latestPerKey(batch))

  /** Wire the stream: change-record files under `uploadDir` → per-batch
    * latest-wins merge. Same ingest scaffold as every stream here. */
  def runCdcStream(spark: SparkSession, uploadDir: String,
                   storePath: String, checkpointDir: String,
                   schema: StructType): StreamingQuery =
    CurationStream.runFileStream(spark, uploadDir, checkpointDir, schema) {
      (batch, _) => mergeCdcBatch(spark, batch, storePath)
    }

  /** The applied table over everything absorbed so far — equal to
    * [[graft.operators.CdcApply.applyCdc]](base, union of batches).
    * applyCdc's own compaction is a no-op on the already-latest store
    * rows, so stream and batch run the identical apply plan. */
  def appliedView(spark: SparkSession, base: DataFrame,
                  storePath: String): DataFrame =
    graft.operators.CdcApply.applyCdc(base, store(storePath).merged(spark))
}
