package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.merge.Merge

/** THE PER-BATCH-DELTA STORE, defined once — the contract that
  * [[SkewStore]], [[HistogramStore]], [[Bm25Store]], [[ProfileStore]]
  * and [[HeavyHittersStore]] each previously hand-rolled:
  *
  *  - LAYOUT: one `batch=<id>` dir per micro-batch, written with
  *    overwrite — a REDELIVERED batch rewrites its own dir instead of
  *    double-adding (sum is the one monoid here that is not
  *    idempotent, so replay safety comes from the layout, not the
  *    algebra);
  *  - MERGE: `reduce` is the store's monoid applied over the union of
  *    any subset of deltas — commutative + associative, so any
  *    slicing/order of batches converges to the same merged view
  *    (per-key SUM for counters, lattice MIN/MAX for profile bounds,
  *    bottom-k re-sketch for KMV — all expressed as one
  *    `DataFrame => DataFrame`);
  *  - COMPACTION: because merge is a fold, deltas ≤ the last
  *    COMMITTED batch id can be pre-folded into a `batch=-1` base dir
  *    ([[StoreCompaction]]'s crash-safe protocol) without changing any
  *    view — [[maybeCompact]] is the cadence hook the foreachBatch
  *    bodies call so a long-running stream never accumulates unbounded
  *    tiny dirs;
  *  - RECOVERY: [[recover]] converges an interrupted compaction; the
  *    stream wiring calls it once at start-up.
  *
  * At 100 TB the store's merged-view cost is |store| (bounded: keys,
  * buckets, counters — never corpus history), per-batch cost is the
  * batch's own aggregation, and compaction keeps the dir count bounded
  * by the cadence rather than the stream's lifetime. */
final class MonoidStore(val path: String,
                        val reduce: DataFrame => DataFrame,
                        val compactable: Boolean = true) {

  /** Write (or on replay, overwrite) one batch's delta dir. Deltas are
    * bounded (already reduced map-side by the caller), so one file per
    * batch is the right shape. */
  def append(delta: DataFrame, batchId: Long): Unit =
    delta.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/batch=$batchId")

  /** The live merged view: the monoid fold over every delta (and the
    * compacted base, if present). The `batch` partition column is
    * layout, not data — dropped before the fold. */
  def merged(spark: SparkSession): DataFrame = {
    val raw = spark.read.parquet(path)
    reduce(if (raw.columns.contains("batch")) raw.drop("batch") else raw)
  }

  /** Fold deltas with id ≤ `upto` into the `batch=-1` base —
    * [[StoreCompaction]]'s crash-safe two-phase protocol with THIS
    * store's monoid as the fold. `upto` must be ≤ the last COMMITTED
    * batch id (the checkpoint guarantees those are never redelivered,
    * which is what makes removing their dirs safe). */
  def compact(spark: SparkSession, upto: Long): Int = {
    // Some stores derive REPLAY IDEMPOTENCE from the per-batch dir
    // layout itself (PrivacyLedger excludes a replayed release's prior
    // charge by filtering its batch dir) — folding dirs into the
    // batch=-1 base would make an already-folded charge unexcludable
    // and the replay double-charge. Those stores declare
    // compactable = false and compaction REFUSES rather than silently
    // corrupting the idempotence contract.
    require(compactable,
      s"store at $path relies on per-batch dirs for replay idempotence" +
        " and must never be compacted")
    StoreCompaction.compactWith(spark, path, reduce, upto)
  }

  /** Converge a crashed compaction. No-op when none is pending. */
  def recover(spark: SparkSession): Unit =
    StoreCompaction.recover(spark, path)

  /** The cadence hook for foreachBatch bodies: after batch `batchId`'s
    * delta is written, fold everything up to the PREVIOUS batch
    * (committed by the checkpoint) once per `every` batches. `every`
    * ≤ 0 disables. The current batch's dir is never folded, so its
    * own redelivery stays an overwrite. */
  def maybeCompact(spark: SparkSession, batchId: Long, every: Int): Unit =
    if (compactable && every > 0 && batchId > 0 && batchId % every == 0)
      compact(spark, batchId - 1)
}

/** THE TOUCHED-BUCKET SIBLING of [[MonoidStore]] — for IDEMPOTENT
  * monoids whose state is a keyed table re-reduced IN PLACE
  * (latest-wins max_by, set union, lattice min, bottom-k, the curated
  * store's min-doc_id dedup) rather than per-batch delta dirs folded at
  * read time. Sum is the one monoid that needs the delta layout for
  * replay safety; an idempotent reduce makes redelivery a value no-op,
  * so the store can BE the merged view: `bucket=<k>` partitioned
  * parquet, and a batch unions into only the buckets it touches (union
  * + re-reduce, staged in the store's `.merge-tmp` and published by
  * [[graft.merge.Merge.swapPartitions]]). Per-batch work is
  * O(batch + touched buckets), independent of store size; the read
  * side pays zero fold cost.
  *
  * Defined once here for every bucket store (CdcStore, CohortStore,
  * KmvStore and CurationStream's curated, line-stats, window-stats and
  * ANN stores), with each store contributing only its monoid and
  * bucket key. */
final class BucketedMonoidStore(val path: String,
                                val reduce: DataFrame => DataFrame,
                                val bucket: org.apache.spark.sql.Column) {

  /** Union `batchRows` (already reduced map-side by the caller) into
    * the touched buckets and republish them. `bucket` buckets the batch
    * rows; `reduce` is the store's monoid over (store ∪ batch), whose
    * rows both carry `bucket`, and must yield it — idempotent and
    * order-independent, which is the replay-safety contract here. The
    * store is healed first ([[graft.merge.Merge.heal]]); a store that
    * is missing, or empty after a crashed first merge, is empty. */
  def merge(spark: SparkSession, batchRows: DataFrame): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Merge.heal(fs, root, "bucket", Merge.childNames(fs, root))
    val (staged, release) = graft.util.Checkpoints.checkpointTracked(
      batchRows.withColumn("bucket", bucket))
    try {
      val touched = staged.select("bucket").distinct()
        .collect().map(_.getLong(0)).toSet // ≤ storeBuckets
      if (touched.nonEmpty) {
        reduce(Merge.readBase(spark, fs, root)
          .fold(staged)(s => staged.unionByName(s.filter(col("bucket").isInCollection(touched)))))
          .write.partitionBy("bucket").parquet(new Path(root, ".merge-tmp").toString)
        Merge.swapPartitions(fs, root, "bucket", touched)
      }
    } finally release()
  }

  /** The live state (the store IS the merged view here). */
  def merged(spark: SparkSession): DataFrame =
    spark.read.parquet(path).drop("bucket")
}

object MonoidStore {

  /** The common aggregate monoid: group by every non-aggregated
    * column, SUM `sumCols`, lattice-MIN `minCols`, lattice-MAX
    * `maxCols` (min/max are idempotent joins, so they compose with the
    * per-batch-dir sum layout for free — this is what lets
    * [[ProfileStore]]'s stats, with their non-summable bounds columns,
    * ride the same store). Column order is preserved. */
  def aggReduce(sumCols: Seq[String], minCols: Seq[String] = Nil,
                maxCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    val aggCols = (sumCols ++ minCols ++ maxCols).toSet
    val groupCols = df.columns.filterNot(aggCols.contains)
    val aggs = sumCols.map(c => sum(col(c)).as(c)) ++
      minCols.map(c => min(col(c)).as(c)) ++
      maxCols.map(c => max(col(c)).as(c))
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(df.columns.map(col): _*)
  }

  /** A store whose merge is per-key SUM over `sumCols`. */
  def sums(path: String, sumCols: String*): MonoidStore =
    new MonoidStore(path, aggReduce(sumCols.toSeq))

  def apply(path: String, reduce: DataFrame => DataFrame): MonoidStore =
    new MonoidStore(path, reduce)
}
