package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.streaming.{MonoidStore, ProfileStore, SkewStore, StoreCompaction}

/** The unified per-batch-delta store contract, proven once over the
  * shared implementation: in-stream cadenced compaction changes no
  * view, bounds the dir count, survives a stream restart (checkpoint
  * resume), and the non-sum folds (min/max lattice, bottom-k sketch)
  * compact with their own monoid rather than a corrupting column sum. */
class MonoidStoreSpec extends SparkSpec {
  import spark.implicits._

  private def batchDirs(root: String): Seq[String] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).toSeq.sorted
  }

  test("stream with compaction cadence: view identical, dirs bounded, " +
    "restart resumes over the compacted store") {
    val tmp = tempDir("monoidstore")
      .toFile.getAbsolutePath
    // five uploads -> five micro-batches (1 file/trigger)
    val ups = (0 until 5).map { b =>
      val df = (1L to 500L).map(i => ((i + b) % 40, i)).toDF("fk", "v")
      df.coalesce(1).write.parquet(s"$tmp/src/up$b")
      df
    }
    // cadence 2: batches 2 and 4 fold everything committed before them
    SkewStore.runSkewStream(spark, s"$tmp/src/*", "fk", s"$tmp/store",
      s"$tmp/ckpt", ups.head.schema, compactEvery = 2).awaitTermination()
    val dirs = batchDirs(s"$tmp/store")
    // batch 4 folded {-1 base, 2, 3}; its own delta stays a live dir
    assert(dirs.contains("batch=-1"))
    assert(dirs.size < 5, s"compaction should bound dirs, got $dirs")
    // the view over the compacted store == the batch profile
    val all = ups.reduce(_ unionAll _)
    val live = SkewStore.keyCounts(spark, s"$tmp/store")
    val batch = all.groupBy(col("fk").as("k")).agg(count(lit(1)).as("c"))
    assert(live.exceptAll(batch).isEmpty && batch.exceptAll(live).isEmpty)
    // restart with one more upload: checkpoint resumes past absorbed
    // batches (their dirs are gone - the compaction safety contract),
    // the new batch lands, and the view stays exact
    val up5 = (1L to 500L).map(i => (i % 7, i)).toDF("fk", "v")
    up5.coalesce(1).write.parquet(s"$tmp/src/up5")
    SkewStore.runSkewStream(spark, s"$tmp/src/*", "fk", s"$tmp/store",
      s"$tmp/ckpt", up5.schema, compactEvery = 2).awaitTermination()
    val live2 = SkewStore.keyCounts(spark, s"$tmp/store")
    val batch2 = all.unionAll(up5)
      .groupBy(col("fk").as("k")).agg(count(lit(1)).as("c"))
    assert(live2.exceptAll(batch2).isEmpty && batch2.exceptAll(live2).isEmpty)
  }

  test("min/max + sketch folds compact with their own monoid " +
    "(profile store unchanged by compaction)") {
    val tmp = tempDir("monoidprofile")
      .toFile.getAbsolutePath
    val mk = (lo: Long, hi: Long) => (lo to hi).map(i =>
      (i, i % 50, if (i % 11 == 0) null else s"S$i", i * 10.0,
        java.sql.Timestamp.valueOf(s"2024-01-0${1 + (i % 9)} 00:00:00"),
        s"P${i % 3}"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val b0 = mk(1L, 400L); val b1 = mk(401L, 800L); val b2 = mk(801L, 1200L)
    ProfileStore.appendProfileBatch(spark, b0, s"$tmp/store", 0L)
    ProfileStore.appendProfileBatch(spark, b1, s"$tmp/store", 1L)
    ProfileStore.appendProfileBatch(spark, b2, s"$tmp/store", 2L)
    val before = ProfileStore.profileView(spark, s"$tmp/store").collect()
      .map(_.toSeq).toSet
    // fold batches 0 and 1 (committed); min/max must lattice-join and
    // the sketch must re-bottom-k - a sum over either would corrupt
    assert(ProfileStore.statsStore(s"$tmp/store").compact(spark, 1L) === 2)
    assert(ProfileStore.sketchStore(s"$tmp/store").compact(spark, 1L) === 2)
    val after = ProfileStore.profileView(spark, s"$tmp/store").collect()
      .map(_.toSeq).toSet
    assert(after === before)
    // base holds at most one row per col_name for stats (the
    // one-base-delta goal the round-11 sum-only fold defeated)
    val base = spark.read.parquet(s"$tmp/store/stats/batch=-1")
    assert(base.count() === base.select("col_name").distinct().count())
    // idempotent re-run: nothing eligible
    assert(ProfileStore.statsStore(s"$tmp/store").compact(spark, 1L) === 0)
  }

  test("recover() on stream start converges a mid-delete crash") {
    val tmp = tempDir("monoidrecover")
      .toFile.getAbsolutePath
    val store = MonoidStore.sums(s"$tmp/store", "c")
    store.append(Seq((1L, 2L), (2L, 3L)).toDF("k", "c"), 0L)
    store.append(Seq((1L, 5L), (3L, 1L)).toDF("k", "c"), 1L)
    store.append(Seq((2L, 7L)).toDF("k", "c"), 2L)
    val want = store.merged(spark).collect().map(_.toSeq).toSet
    // simulate a crash: the durable temp + manifest exist, one absorbed
    // dir is already deleted, the rename never happened
    val root = new Path(s"$tmp/store")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpDir = new Path(root, ".compact-tmp-1")
    spark.read.parquet(s"$tmp/store/batch=0", s"$tmp/store/batch=1")
      .groupBy("k").agg(sum(col("c")).as("c")).coalesce(1)
      .write.parquet(tmpDir.toString)
    val out = fs.create(new Path(tmpDir, "_ABSORBED"), true)
    out.write("batch=0\nbatch=1".getBytes("UTF-8")); out.close()
    fs.delete(new Path(root, "batch=0"), true) // died mid-delete
    store.recover(spark)
    assert(batchDirs(s"$tmp/store").toSet === Set("batch=-1", "batch=2"))
    assert(store.merged(spark).collect().map(_.toSeq).toSet === want)
  }
}
