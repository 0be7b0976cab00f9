package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftshim.InternalRowDF
import org.apache.spark.storage.StorageLevel

/** Eager, serialized, RELEASABLE checkpointing.
  *
  * `Dataset.localCheckpoint()` has no working release: the blocks it
  * caches live outside the CacheManager, so `Dataset.unpersist()` is a
  * no-op on them and a long-running process that checkpoints per unit
  * of work (a streamed merge per micro-batch) accumulates dead
  * generations until the context dies — the exact pathology the bench
  * sweep measured in round 4. This utility checkpoints at the RDD
  * layer (copy → persist MEMORY_AND_DISK_SER → localCheckpoint →
  * materialize) and hands back a `release` thunk that unpersists
  * exactly those blocks — safe under concurrent queries, unlike a
  * global transient-block sweep.
  *
  * Eager by construction (one cheap count over the caching pass): the
  * data is fully materialized before the caller's next step, which is
  * what makes read-then-overwrite-the-same-path sequences safe. */
object Checkpoints {

  /** The one definition of the round-4 caching recipe (copy because
    * the scan iterator reuses its UnsafeRow buffer; serialized so the
    * GC skips the blocks; localCheckpoint to truncate lineage). Lazy —
    * the caller's first action materializes it. Shared with
    * [[graft.operators.PrefixSum]]. */
  private[graft] def checkpointInternalRdd(
      df: DataFrame): RDD[InternalRow] =
    InternalRowDF.toInternalRdd(df)
      .mapPartitions(it => it.map(_.copy()), preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
      .localCheckpoint()

  def checkpointTracked(df: DataFrame): (DataFrame, () => Unit) = {
    val (ck, _, release) = checkpointTrackedCounted(df)
    (ck, release)
  }

  /** Same as [[checkpointTracked]] but also returns the row count the
    * materialization pass already computed — iterative fixpoint loops
    * (KCore) use it instead of paying a second count action per round. */
  def checkpointTrackedCounted(
      df: DataFrame): (DataFrame, Long, () => Unit) =
    track(df)(_.count())

  /** Same as [[checkpointTracked]], but the pass that fills the cache is
    * `materialize` over the checkpointed rows, and its result comes
    * back — a micro-batch's statistics then cost no second pass over
    * the cached (serialized, unprunable) rows. `materialize` must read
    * every partition; a single-stage action does it in one job. */
  def checkpointTrackedWith[A](df: DataFrame)(
      materialize: DataFrame => A): (DataFrame, A, () => Unit) =
    track(df)(rdd => materialize(
      InternalRowDF.fromInternalRdd(df.sparkSession, rdd, df.schema)))

  private def track[A](df: DataFrame)(
      materialize: RDD[InternalRow] => A): (DataFrame, A, () => Unit) = {
    val rdd = checkpointInternalRdd(df)
    val release = () => { rdd.unpersist(blocking = false); () }
    // materialize NOW (checkpoint happens on first action); a failed
    // pass releases the blocks it already cached
    val a = try materialize(rdd) catch {
      case e: Throwable => release(); throw e
    }
    // Round-17: the wrapped frame CARRIES the origin plan's output
    // partitioning/ordering (resolved post-AQE, valid because the rdd
    // is already materialized), so downstream joins/aggregations keyed
    // the way the data already lies skip their Exchange (+ Sort) — the
    // metadata can only remove exchanges, never change results.
    // (InternalRowDF drops DEGENERATE partition claims — see there.)
    (InternalRowDF.fromInternalRddPreserving(rdd, df), a, release)
  }
}
