package graft

import org.apache.spark.sql.functions._
import graft.operators.MarkovEval
import graft.streaming.MarkovStore

/** Streaming Markov eval store: the live readout equals the batch
  * operator over the absorbed events at every prefix point — with
  * users ACTIVE ACROSS batches, so the cross-batch stitch pairs (the
  * segment-boundary derivation) are load-bearing — replay idempotent,
  * compaction inert for both tables. Batches slice the stream by TIME
  * (the store's stated order contract: adjacency cannot survive
  * arbitrary slicing, arrival order is the watermark assumption). */
class MarkovStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def events = Tables(spark, dir, "events")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("live markov view == batch at every prefix; stitch pairs are " +
    "load-bearing; replay idempotent; compaction inert") {
    val tmp = tempDir("markovstore")
      .toFile.getAbsolutePath
    // time-contiguous slices: every user active in more than one slice
    // contributes at least one cross-batch transition
    val cuts = Seq("2024-01-11", "2024-01-21")
    val parts = Seq(
      events.filter(col("ts") < lit(cuts(0)).cast("timestamp")),
      events.filter(col("ts") >= lit(cuts(0)).cast("timestamp") &&
        col("ts") < lit(cuts(1)).cast("timestamp")),
      events.filter(col("ts") >= lit(cuts(1)).cast("timestamp")))
      .map(_.localCheckpoint())
    val prefixes = Seq(
      events.filter(col("ts") < lit(cuts(0)).cast("timestamp")),
      events.filter(col("ts") < lit(cuts(1)).cast("timestamp")),
      events)
    parts.zipWithIndex.foreach { case (p, i) =>
      MarkovStore.appendMarkovBatch(spark, p, s"$tmp/store", i.toLong)
      assert(rows(MarkovStore.markovView(spark, s"$tmp/store"))
        === rows(MarkovEval.markovEval(prefixes(i))),
        s"live != batch after batch $i")
    }
    // the stitch is genuinely load-bearing: internal counts alone
    // (sum of per-batch pair tables) under-count the corpus pairs
    val internalOnly = MarkovStore.countsStore(s"$tmp/store")
      .merged(spark).agg(sum("n")).head().getLong(0)
    val full = MarkovEval.transitionCounts(events)
      .agg(sum("n")).head().getLong(0)
    assert(internalOnly < full, "no cross-batch pairs in this slicing?")
    assert(MarkovStore.countsView(spark, s"$tmp/store")
      .agg(sum("n")).head().getLong(0) === full)
    val batchRows = rows(MarkovEval.markovEval(events))
    // replay the newest batch: both dirs rewritten, views unchanged
    MarkovStore.appendMarkovBatch(spark, parts(2), s"$tmp/store", 2L)
    assert(rows(MarkovStore.markovView(spark, s"$tmp/store"))
      === batchRows, "after replay")
    // counts compaction (sum fold): inert
    MarkovStore.countsStore(s"$tmp/store").compact(spark, 2L)
    assert(rows(MarkovStore.markovView(spark, s"$tmp/store"))
      === batchRows, "after counts compaction")
    // plain union compaction of segments would orphan a folded stitch
    // table — the raw path refuses loudly (the PrivacyLedger posture)
    intercept[IllegalArgumentException] {
      MarkovStore.segmentsStore(s"$tmp/store").compact(spark, 2L)
    }
  }

  test("segment fold: stitch counts migrate, segments collapse, every " +
    "view unchanged; idempotent; future batches keep stitching") {
    val tmp = tempDir("markovfold")
      .toFile.getAbsolutePath
    val store = s"$tmp/store"
    val cuts = Seq("2024-01-11", "2024-01-21")
    val parts = Seq(
      events.filter(col("ts") < lit(cuts(0)).cast("timestamp")),
      events.filter(col("ts") >= lit(cuts(0)).cast("timestamp") &&
        col("ts") < lit(cuts(1)).cast("timestamp")),
      events.filter(col("ts") >= lit(cuts(1)).cast("timestamp")))
      .map(_.localCheckpoint())
    val batchRows = rows(MarkovEval.markovEval(events))
    def segDirs(): Seq[String] = {
      val root = new java.io.File(s"$store/segments")
      root.listFiles().map(_.getName).filter(_.startsWith("batch=")).toSeq
    }
    // absorb 0,1 → fold up to 0 (batch 1 stays live) → absorb 2
    MarkovStore.appendMarkovBatch(spark, parts(0), store, 0L)
    MarkovStore.appendMarkovBatch(spark, parts(1), store, 1L)
    assert(MarkovStore.foldSegments(spark, store, 0L) === 0,
      "a single eligible dir has nothing to fold")
    assert(MarkovStore.foldSegments(spark, store, 1L) === 2)
    assert(segDirs() === Seq("batch=-1"), "collapsed to the base")
    val mid = rows(MarkovStore.markovView(spark, store))
    assert(mid === rows(MarkovEval.markovEval(
      events.filter(col("ts") < lit(cuts(1)).cast("timestamp")))),
      "view == batch prefix after fold")
    val migrated = MarkovStore.stitchBase(spark, store)
      .agg(sum("n")).head().getLong(0)
    assert(migrated > 0, "this slicing must migrate stitch pairs")
    // future batches stitch off the collapsed boundary row
    MarkovStore.appendMarkovBatch(spark, parts(2), store, 2L)
    assert(rows(MarkovStore.markovView(spark, store)) === batchRows,
      "post-fold batch stitches against the collapsed base")
    // second fold accumulates into the same stitch table
    assert(MarkovStore.foldSegments(spark, store, 2L) === 2)
    assert(rows(MarkovStore.markovView(spark, store)) === batchRows,
      "after second fold")
    assert(MarkovStore.stitchBase(spark, store)
      .agg(sum("n")).head().getLong(0) > migrated,
      "second fold adds the new cross-batch pairs")
    // idempotent: nothing left to fold, view unchanged
    assert(MarkovStore.foldSegments(spark, store, 99L) === 0)
    assert(rows(MarkovStore.markovView(spark, store)) === batchRows)
    // the fold equals the all-at-once fold: a second store folded once
    // at the end lands on the identical stitch table
    val store2 = s"$tmp/store2"
    parts.zipWithIndex.foreach { case (p, i) =>
      MarkovStore.appendMarkovBatch(spark, p, store2, i.toLong)
    }
    MarkovStore.foldSegments(spark, store2, 2L)
    assert(rows(MarkovStore.stitchBase(spark, store))
      === rows(MarkovStore.stitchBase(spark, store2)),
      "incremental folds == one-shot fold")
  }

  test("segment fold crash recovery: a temp without a manifest is " +
    "discarded; one with a manifest is installed — views converge") {
    val tmp = tempDir("markovcrash")
      .toFile.getAbsolutePath
    val store = s"$tmp/store"
    val cut = "2024-01-16"
    val parts = Seq(
      events.filter(col("ts") < lit(cut).cast("timestamp")),
      events.filter(col("ts") >= lit(cut).cast("timestamp")))
      .map(_.localCheckpoint())
    parts.zipWithIndex.foreach { case (p, i) =>
      MarkovStore.appendMarkovBatch(spark, p, store, i.toLong)
    }
    val batchRows = rows(MarkovEval.markovEval(events))
    // crash BEFORE the manifest: payloads in the temp, sources intact.
    // recovery (run by the next fold) discards the temp; the re-run
    // fold then completes — no pair lost, none double-counted.
    val segRoot = new java.io.File(s"$store/segments")
    val orphan = new java.io.File(segRoot, ".compact-tmp-9")
    orphan.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(orphan, "part-zzz.parquet").toPath,
      Array[Byte](1, 2, 3))
    assert(MarkovStore.foldSegments(spark, store, 1L) === 2)
    assert(!orphan.exists(), "manifest-less temp discarded")
    assert(rows(MarkovStore.markovView(spark, store)) === batchRows)
  }

  test("file-stream wiring absorbs time-sliced uploads") {
    val tmp = tempDir("markovstore2")
      .toFile.getAbsolutePath
    val cut = "2024-01-16"
    val parts = Seq(
      events.filter(col("ts") < lit(cut).cast("timestamp")),
      events.filter(col("ts") >= lit(cut).cast("timestamp")))
      .map(_.localCheckpoint())
    parts.zipWithIndex.foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$tmp/src/up$i")
    }
    MarkovStore.runMarkovStream(spark, s"$tmp/src/*", s"$tmp/store",
      s"$tmp/ckpt", parts.head.schema, compactEvery = 2)
      .awaitTermination()
    assert(rows(MarkovStore.markovView(spark, s"$tmp/store"))
      === rows(MarkovEval.markovEval(events)))
  }
}
