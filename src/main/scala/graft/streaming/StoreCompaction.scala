package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.merge.Merge

/** MONOID STORE COMPACTION — the maintenance pass every
  * per-batch-delta store ([[MonoidStore]]: [[HeavyHittersStore]],
  * [[SkewStore]], [[HistogramStore]], [[Bm25Store]], [[ProfileStore]])
  * needs at scale: after thousands of micro-batches the store is
  * thousands of tiny `batch=<id>` dirs, and every view pays the full
  * listing + small-file scan. Compaction folds all deltas with id ≤
  * `upto` into ONE base delta (`batch=-1`) — valid because the
  * stores' merge IS a monoid fold (associative): folding a pre-folded
  * base with newer deltas equals folding the originals, so every view
  * is unchanged (spec-proven). [[compactWith]] takes the store's own
  * fold, so non-sum monoids compose too: ProfileStore's min/max
  * lattice bounds and its bottom-k KMV sketch compact with the exact
  * reduce their views use — a plain column sum would have corrupted
  * both (the round-11 Scaladoc overclaimed this; now the fold is the
  * caller's).
  *
  * SAFETY CONTRACT (why `upto` exists): per-batch-dir overwrite is
  * what makes REDELIVERY idempotent — a replayed batch rewrites its
  * own dir. A compacted batch's dir is gone, so a replay of it would
  * double-add. Structured Streaming's checkpoint guarantees committed
  * batch ids are never redelivered, so the caller passes the last
  * COMMITTED id as `upto` and compaction is exactly as safe as the
  * checkpoint — the same recovery contract as
  * [[graft.merge.Merge.compactPartitions]] on the base table.
  *
  * Crash safety (the [[graft.merge.Merge.compactPartitions]]
  * recovery posture): the merged base is written to a DOT-prefixed
  * temp dir (invisible to partition discovery) together with an
  * `_ABSORBED` manifest naming every delta dir it folded; only then
  * are the absorbed dirs deleted and the temp renamed to `batch=-1`.
  * A crash at ANY point is converged by [[recover]] (run
  * automatically at the start of the next [[compact]]): if a temp
  * with a manifest exists, delete whatever absorbed dirs remain and
  * install the temp — the merged data was durable before the first
  * delete, so nothing is ever lost and re-running is idempotent.
  * Like the base-table compaction, the pass is maintenance — not
  * concurrent with readers of the same store. */
object StoreCompaction {

  val baseBatchId: Long = -1L
  private val manifestName = "_ABSORBED"

  /** Converge a crashed compaction: finish deleting the absorbed
    * dirs named in the temp's manifest, then install the temp as the
    * base. No-op when no temp exists. */
  def recover(spark: SparkSession, storePath: String): Unit = {
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith(".compact-tmp-")).foreach { tmp =>
        // no manifest: died mid-write, discard
        if (!fs.exists(new Path(tmp, manifestName))) fs.delete(tmp, true)
        else absorb(fs, root, tmp)
      }
  }

  /** The commit step of [[fold]] and of [[recover]]: delete the dirs
    * the temp's manifest names, then install the temp as the base. */
  private def absorb(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                     tmp: Path): Unit = {
    val in = fs.open(new Path(tmp, manifestName))
    val absorbed = try scala.io.Source.fromInputStream(in).getLines().toList
      finally in.close()
    absorbed.map(new Path(root, _)).filter(fs.exists)
      .foreach(fs.delete(_, true))
    // the manifest travels INTO the installed base (underscore
    // files are invisible to parquet readers): deleting it before
    // the rename would open a window where a crash loses both the
    // manifest and the absorbed dirs
    Merge.rename(fs, tmp, new Path(root, s"batch=$baseBatchId"))
  }

  /** Fold every `batch=<id>` delta with id ≤ `upto` (including a
    * previous base) into `batch=-1`, summing `sumCols` grouped by the
    * remaining columns. Returns the number of delta dirs absorbed. */
  def compact(spark: SparkSession, storePath: String,
              sumCols: Seq[String], upto: Long): Int =
    compactWith(spark, storePath, MonoidStore.aggReduce(sumCols), upto)

  /** The general form: fold eligible deltas with the store's OWN
    * monoid (`reduce` must preserve column names/order — true of
    * every [[MonoidStore]] reduce, whose views it also serves).
    *
    * `foldSingle`: the `dirs.length <= 1` short-circuit is only valid
    * when `reduce` is a PURE MERGE (folding one dir with itself is an
    * identity — skipping it saves a rewrite). A non-identity reduce
    * (retirement's row filter) must still fold a single-dir store —
    * the fully-compacted single-base layout is exactly the steady
    * state the cadenced fold drives toward, and short-circuiting there
    * silently retired nobody (round-16 ADVICE). */
  def compactWith(spark: SparkSession, storePath: String,
                  reduce: DataFrame => DataFrame, upto: Long,
                  foldSingle: Boolean = false): Int =
    fold(spark, storePath, upto, foldSingle) { (delta, tmp) =>
      reduce(delta)
        .select(delta.columns.map(col): _*) // original column order
        .coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
    }

  /** The manifest fold every delta-store compaction runs: `write`
    * gets the eligible dirs (id ≤ `upto`, plus the base) as one frame
    * and the temp dir to fill. Returns the number of dirs absorbed. */
  private[streaming] def fold(spark: SparkSession, storePath: String,
                              upto: Long, foldSingle: Boolean)(
      write: (DataFrame, Path) => Unit): Int = {
    recover(spark, storePath)
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val dirs = fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.startsWith("batch="))
      .filter { p =>
        val id = p.getName.stripPrefix("batch=").toLong
        id == baseBatchId || id <= upto
      }
    if (dirs.length < (if (foldSingle) 1 else 2)) return 0 // nothing to fold
    val tmp = new Path(root, s".compact-tmp-$upto")
    write(spark.read.parquet(dirs.map(_.toString): _*), tmp)
    // durable manifest BEFORE any delete — recovery replays from it
    val out = fs.create(new Path(tmp, manifestName), true)
    out.write(dirs.map(_.getName).mkString("\n").getBytes("UTF-8"))
    out.close()
    absorb(fs, root, tmp)
    dirs.length
  }
}
