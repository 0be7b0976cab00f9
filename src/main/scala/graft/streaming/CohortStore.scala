package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Incrementally-maintained COHORT RETENTION state — the materialized-
  * view-maintenance form of [[graft.operators.Events.cohortRetention]]:
  * events arrive as files, and two tiny monoid stores absorb each
  * micro-batch so the retention matrix is a lazy view over them,
  * always equal to the batch operator on the absorbed corpus.
  *
  * The whole operator reduces to two monoids, which is what makes it
  * incrementally maintainable at all (the
  * [[CurationStream.mergeLineStatsBatch]] posture, applied to events):
  *
  *  - per-user COHORT: `min(first event week)` — commutative,
  *    associative, IDEMPOTENT, so any slicing/order/redelivery
  *    converges to the corpus-wide first-seen week;
  *  - ACTIVITY: the distinct `(user_id, week)` pair set — set union,
  *    the same monoid properties.
  *
  * Both stores are bucketed `pmod(user_id, N)` and merged only in the
  * buckets a batch touches (union + re-reduce, published by
  * [[graft.merge.Merge.swapPartitions]]), so per-batch
  * work is O(batch + touched buckets) and redelivery is a value no-op.
  * Store sizes are |users| and |distinct (user, week)| — the same
  * bounds the batch operator's shuffles have, NOT event volume: the
  * per-batch map-side distinct collapses events before anything is
  * written.
  *
  * [[retentionView]] equals batch `cohortRetention` on the absorbed
  * corpus EXACTLY (CurationStreamSpec proves it under slicing and
  * redelivery) — a retention dashboard reads the view after any batch
  * without ever rescanning event history.
  */
object CohortStore {

  private def bucketOf =
    pmod(col("user_id"), lit(CurationStream.storeBuckets.toLong))

  /** Fold one micro-batch of raw events into the two stores. The raw
    * batch is scanned ONCE: the deduped (user, week) pair rows are
    * checkpoint-materialized, the pairs store merges them directly,
    * and the cohort mins derive from the same materialized rows
    * (min(cohort candidate) per user ≡ min(week) over the deduped
    * pair set — deduplication never changes a min). */
  def mergeCohortBatch(spark: SparkSession, batch: DataFrame,
                       rootPath: String): Unit = {
    val wk = date_trunc("week", col("ts"))
    val (pairRows, release) = graft.util.Checkpoints.checkpointTracked(
      batch.select(col("user_id"), wk.as("week")).distinct())
    try {
      mergeMonoid(spark, s"$rootPath/pairs", pairRows,
        _.select("user_id", "week").distinct()
          .select(col("user_id"), col("week")))
      mergeMonoid(spark, s"$rootPath/cohorts",
        pairRows.groupBy("user_id").agg(min(col("week")).as("cohort_week")),
        _.groupBy("user_id").agg(min(col("cohort_week")).as("cohort_week")))
    } finally release()
  }

  /** Generic touched-bucket monoid merge — the shared
    * [[BucketedMonoidStore]] machinery; this shim keeps the historic
    * call-site shape (shared by [[KmvStore]]). `reduce` must be the
    * store's monoid applied over (store ∪ batch) — idempotent +
    * order-independent. */
  private[streaming] def mergeMonoid(spark: SparkSession, storePath: String,
                          batchRows: DataFrame,
                          reduce: DataFrame => DataFrame,
                          bucket: org.apache.spark.sql.Column = bucketOf)
      : Unit =
    new BucketedMonoidStore(storePath, reduce(_).withColumn("bucket", bucket), bucket)
      .merge(spark, batchRows)

  /** Wire the stream: event files under `uploadDir` → per-batch store
    * merge. Same file-arrival/checkpoint posture as every ingest
    * stream in the engine. */
  def runCohortStream(spark: SparkSession, uploadDir: String,
                      rootPath: String, checkpointDir: String,
                      schema: StructType): StreamingQuery =
    CurationStream.runFileStream(spark, uploadDir, checkpointDir, schema) {
      (batch, _) => mergeCohortBatch(spark, batch, rootPath)
    }

  /** The retention matrix over everything absorbed so far — equal to
    * [[graft.operators.Events.cohortRetention]] on the union corpus. */
  def retentionView(spark: SparkSession, rootPath: String): DataFrame = {
    val cohorts = spark.read.parquet(s"$rootPath/cohorts")
      .select("user_id", "cohort_week")
    val pairs = spark.read.parquet(s"$rootPath/pairs")
      .select("user_id", "week")
    pairs.join(cohorts, "user_id")
      .groupBy(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7)
          .cast("long").as("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_active"))
  }
}
