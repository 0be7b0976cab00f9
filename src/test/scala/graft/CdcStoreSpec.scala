package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.CdcApply
import graft.streaming.CdcStore

/** CDC latest-state store: streamed store ≡ batch compaction of the
  * union under sliced/scrambled arrival, redelivery a value no-op,
  * tombstones keep beating late-arriving earlier upserts. */
class CdcStoreSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def changeLog = Tables(spark, dir, "orders").select(
    col("o_custkey").as("key"),
    unix_micros(col("o_orderdate").cast("timestamp")).as("seq"),
    col("o_orderkey").as("tie"),
    when(col("o_orderpriority") === "5-LOW", "D").otherwise("U").as("op"),
    round(col("o_totalprice") * 100).cast("long").as("value"))

  test("cdc store: streamed applied view == batch applyCdc under " +
    "orderkey-sliced arrival; redelivery a no-op") {
    val tmp = tempDir("cdc-store").toFile.getAbsolutePath
    val store = s"$tmp/store"
    val base = Tables(spark, dir, "customer").select(
      col("c_custkey").as("key"),
      round(col("c_acctbal") * 100).cast("long").as("value"))
    // slice by orderkey so one key's changes SPAN batches and arrive
    // out of per-key order — the monoid must converge anyway
    (0 until 3).foreach(i => changeLog.filter(col("tie") % 3 === i)
      .coalesce(1).write.parquet(s"$tmp/upload/$i"))
    CdcStore.runCdcStream(spark, s"$tmp/upload/*", store,
      s"$tmp/ckpt", changeLog.schema).awaitTermination()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getString(2))
    val got = CdcStore.appliedView(spark, base, store)
      .collect().map(key).toSet
    val want = CdcApply.applyCdc(base, changeLog).collect().map(key).toSet
    assert(got === want)
    // non-vacuous: one slice alone applies to a DIFFERENT table
    assert(CdcApply.applyCdc(base, changeLog.filter(col("tie") % 3 === 0))
      .collect().map(key).toSet !== want)
    // redelivering a whole slice is a value no-op (max_by idempotent)
    CdcStore.mergeCdcBatch(spark, changeLog.filter(col("tie") % 3 === 1),
      store)
    assert(CdcStore.appliedView(spark, base, store)
      .collect().map(key).toSet === want)
    // store size is |touched keys|: exactly one row per key
    val perKey = spark.read.parquet(store).groupBy("key").count()
    assert(perKey.filter("count <> 1").isEmpty)
  }

  test("cdc store: tombstone keeps beating a late-arriving earlier upsert") {
    val tmp = tempDir("cdc-late").toFile.getAbsolutePath
    val store = s"$tmp/store"
    val base = Seq((1L, 10L)).toDF("key", "value")
    // delete at seq 5 arrives FIRST, upsert at seq 3 arrives LATER
    CdcStore.mergeCdcBatch(spark,
      Seq((1L, 5L, 0L, "D", 0L)).toDF("key", "seq", "tie", "op", "value"),
      store)
    CdcStore.mergeCdcBatch(spark,
      Seq((1L, 3L, 0L, "U", 99L)).toDF("key", "seq", "tie", "op", "value"),
      store)
    assert(CdcStore.appliedView(spark, base, store).count() === 0)
    // and a genuinely LATER upsert resurrects
    CdcStore.mergeCdcBatch(spark,
      Seq((1L, 7L, 0L, "U", 42L)).toDF("key", "seq", "tie", "op", "value"),
      store)
    val rows = CdcStore.appliedView(spark, base, store).collect()
    assert(rows.length === 1 && rows.head.getLong(1) === 42L
      && rows.head.getString(2) === "cdc")
  }
}
