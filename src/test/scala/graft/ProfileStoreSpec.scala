package graft

import org.apache.spark.sql.functions._
import graft.streaming.ProfileStore

/** Profile store: the streamed per-batch-delta store serves exactly
  * the batch profile of the absorbed corpus — including the KMV
  * distinct sketch (merge closure) — and a replayed batch overwrites
  * rather than double-counts. */
class ProfileStoreSpec extends SparkSpec {

  private def key(r: org.apache.spark.sql.Row) =
    r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
      Option(r.get(4)), Option(r.get(5)), Option(r.get(6)), Option(r.get(7)))

  test("streamed store == batch profile on the union corpus") {
    val tmp = tempDir("profile-store")
      .toFile.getAbsolutePath
    val orders = Tables(spark, "/root/testdata/sf0.001", "orders")
    // three uneven slices arriving as separate files
    val slices = Seq(
      orders.filter(col("o_orderkey") % 3 === 0),
      orders.filter(col("o_orderkey") % 3 === 1),
      orders.filter(col("o_orderkey") % 3 === 2))
    slices.zipWithIndex.foreach { case (s, i) =>
      s.coalesce(1).write.parquet(s"$tmp/upload/part$i")
    }
    graft.streaming.CurationStream
      .runFileStream(spark, s"$tmp/upload/*", s"$tmp/ckpt", orders.schema) {
        (b, id) => ProfileStore.appendProfileBatch(spark, b, s"$tmp/store", id)
      }.awaitTermination()
    val got = ProfileStore.profileView(spark, s"$tmp/store")
      .collect().map(key).toMap
    val want = ProfileStore.profileOf(orders).collect().map(key).toMap
    assert(got === want)
    assert(got.size === 6)
    // the estimator really is approximate (k < distinct keys) yet tight
    val (n, _, est, _, _, _, _) = got("o_orderkey")
    assert(est != n.toDouble || n <= ProfileStore.sketchK)
    assert(math.abs(est - n.toDouble) / n.toDouble < 0.5)

    // redelivery: a manually-fed store with a replayed batch id
    // overwrites its own dir and serves the same view
    slices.zipWithIndex.foreach { case (s, i) =>
      ProfileStore.appendProfileBatch(spark, s, s"$tmp/store2", i.toLong)
    }
    ProfileStore.appendProfileBatch(spark, slices(1), s"$tmp/store2", 1L)
    val replayed = ProfileStore.profileView(spark, s"$tmp/store2")
      .collect().map(key).toMap
    assert(replayed === want)
  }
}
