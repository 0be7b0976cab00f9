package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Events
import graft.streaming.KmvStore

/** KMV day-sketch store: streamed rolling view ≡ batch rollingHll
  * under event-sliced arrival; redelivery a value no-op (bottom-k is
  * an idempotent monoid, unlike the counter store's sums). */
class KmvStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("kmv store: streamed rolling view == batch sketch; redelivery no-op") {
    val tmp = tempDir("kmv-store").toFile.getAbsolutePath
    val store = s"$tmp/store"
    val ev = Tables(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    // slice by event id: a day's users span batches, so per-day
    // sketches must converge across merges, not within one batch
    (0 until 3).foreach(i => ev.filter(col("event_id") % 3 === i)
      .coalesce(1).write.parquet(s"$tmp/upload/$i"))
    KmvStore.runDaySketchStream(spark, s"$tmp/upload/*", store,
      s"$tmp/ckpt", ev.schema).awaitTermination()

    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2),
        r.getDouble(3))
    val got = KmvStore.rollingView(spark, store).collect().map(key).toSet
    val want = Events.rollingHll(ev).collect().map(key).toSet
    assert(got === want && got.nonEmpty)
    // non-vacuous: one slice alone sketches differently
    assert(Events.rollingHll(ev.filter(col("event_id") % 3 === 0))
      .collect().map(key).toSet !== want)
    // redelivery: re-merging a delivered slice changes nothing
    KmvStore.mergeDaySketchBatch(spark,
      ev.filter(col("event_id") % 3 === 1), store)
    assert(KmvStore.rollingView(spark, store)
      .collect().map(key).toSet === want)
    // store size law: ≤ k rows per day
    val perDay = spark.read.parquet(store).groupBy("day").count()
    assert(perDay.filter(col("count") > Events.rollingKmvK).isEmpty)
  }
}
