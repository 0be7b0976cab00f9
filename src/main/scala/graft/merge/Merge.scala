package graft.merge

import java.io.{FileNotFoundException, IOException}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.util.{Checkpoints, Parallel}

/** A1/A2/S7 — the reference's core state-update semantic
  * (`config.py:180-212`): load a staging batch, take MIN(date_col) as the
  * cutoff, and rebuild the base table as
  * `base WHERE date < cutoff  UNION ALL  staging  ORDER BY date`.
  *
  * Every base row on/after the staging window start is REPLACED by the
  * staging contents — this is the reference's whole late/corrected-data
  * story (ST4): re-delivered rows in the overlap window win.
  *
  * Scale shape: the filter is a narrow map; the union is free (no
  * shuffle); the trailing sort is one range-partition exchange. A
  * month-partitioned base rewrites only its overlap months.
  */
object Merge {

  /** A1 — scalar MIN cutoff (`config.py:180-187`). Single-row collect:
    * the aggregation is distributed (partial mins per partition); only
    * the one-row result reaches the driver. [[merge]]'s alone: the table
    * updates take theirs from [[batchStats]]. */
  def cutoff(staging: DataFrame, dateCol: String): Option[Any] =
    Option(staging.agg(min(col(dateCol))).first().get(0))

  /** A2 — cutoff filter + UNION ALL + order (`config.py:192-199`).
    * Empty staging (null cutoff) leaves the base unchanged — the
    * reference would interpolate a Python `None` into SQL there; we make
    * the no-op explicit instead. */
  def merge(base: DataFrame, staging: DataFrame, dateCol: String): DataFrame =
    cutoff(staging, dateCol).fold(base)(mergeAt(base, staging, dateCol, _))

  /** [[merge]] at a known cutoff: base rows below `cut` ∪ staging, by
    * date. A base whose columns differ from staging's fails here. */
  private def mergeAt(base: DataFrame, staging: DataFrame,
                      dateCol: String, cut: Any): DataFrame =
    base.filter(col(dateCol) < lit(cut))
      .unionByName(staging)
      .orderBy(col(dateCol).asc)

  /** A rename that fails loudly: Hadoop filesystems may report a
    * failed rename (HDFS: a missing source) as `false`, not throw. */
  def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new IOException(s"could not rename $src to $dst")

  /** THE crash-safe directory swap every rewrite here uses — the
    * filesystem stand-in for the reference's atomic `CREATE OR REPLACE
    * TABLE`: drop a stale `bak`, move `live` (if any) to `bak`, move the
    * complete `staged` dir to `live`, roll back if that fails. A crash
    * between the renames leaves `bak` without `live`: see [[heal]]. The
    * caller deletes `bak` or keeps it as a rollback. */
  def publish(fs: FileSystem, staged: Path, live: Path, bak: Path): Unit = {
    fs.delete(bak, true)
    val displaced = fs.exists(live)
    if (displaced) rename(fs, live, bak)
    try rename(fs, staged, live)
    catch {
      case e: IOException =>
        if (displaced) fs.rename(bak, live) // roll back
        throw e
    }
  }

  /** THE partition swap: each staged `<root>/.merge-tmp/<col>=<k>` is
    * swapped in by [[publish]], its old generation at `.compact-bak-<k>`
    * until that swap is done, then `.merge-tmp` goes. Exactly `keys`
    * are replaced; every other partition stays byte-identical. A failure
    * at any step leaves a table that [[heal]] converges. The month base
    * (merge and compaction) and every bucket store publish through it. */
  def swapPartitions(fs: FileSystem, root: Path, col: String,
                     keys: Iterable[Any]): Unit = {
    val tmp = new Path(root, ".merge-tmp")
    keys.foreach { k =>
      val bak = new Path(root, s".compact-bak-$k")
      publish(fs, new Path(tmp, s"$col=$k"), new Path(root, s"$col=$k"), bak)
      fs.delete(bak, true)
    }
    fs.delete(tmp, true)
  }

  /** THE heal of a table path, either layout; `names` is its root
    * listing ([[childNames]]). Converges an interrupted [[publish]]: a
    * backup without its live dir is restored (the previous generation
    * is the safe root; the rewrite re-runs), a backup beside its live
    * dir is debris and deleted. The backups are `<root>.bak`
    * ([[stageOverwrite]]) and each `.compact-bak-<k>`, against
    * `<col>=<k>` ([[swapPartitions]]). The staged dirs `<root>.tmp` and
    * `<root>/.merge-tmp` are deleted: incomplete, or never published.
    * Every caller that reads a table before rewriting it runs this
    * first: unhealed, a displaced generation reads as missing, and the
    * rewrite's own backup delete destroys it. Returns the number of
    * generations restored. */
  def heal(fs: FileSystem, root: Path, col: String, names: Seq[String]): Int = {
    def restore(live: Path, bak: Path): Boolean =
      fs.exists(bak) && {
        if (fs.exists(live)) { fs.delete(bak, true); false }
        else { rename(fs, bak, live); true }
      }
    val restored = restore(root, new Path(s"$root.bak")) +:
      names.filter(_.startsWith(".compact-bak-")).map(n =>
        restore(new Path(root, s"$col=${n.stripPrefix(".compact-bak-")}"), new Path(root, n)))
    fs.delete(new Path(s"$root.tmp"), true)
    fs.delete(new Path(root, ".merge-tmp"), true)
    restored.count(identity)
  }

  /** `path`'s children (a file lists itself); None when it is missing. */
  private def listing(fs: FileSystem, path: Path): Option[Seq[FileStatus]] =
    try Some(fs.listStatus(path).toSeq)
    catch { case _: FileNotFoundException => None }

  /** The names of `dir`'s children; empty when it is missing. */
  private[graft] def childNames(fs: FileSystem, dir: Path): Seq[String] =
    listing(fs, dir).getOrElse(Nil).map(_.getPath.getName)

  /** S7 — overwrite-own-input table rewrite. BigQuery's
    * `CREATE OR REPLACE TABLE old AS (… FROM old …)` reads and replaces
    * the same table in one statement; Spark cannot overwrite a path it is
    * reading, so: write to the sibling `<path>.tmp` ([[stageOverwrite]]),
    * then [[publish]] it. The displaced old data survives at
    * `<path>.bak` until the next rewrite or [[heal]] — a cheap
    * poor-man's version for rollback. */
  def overwriteAtomic(df: DataFrame, path: String): Unit =
    stageOverwrite(df.sparkSession, path)(df.write.mode("overwrite").parquet(_))

  /** [[overwriteAtomic]] for any writer: `write` fills `<path>.tmp`
    * (given its path; a stale one is deleted first), then [[publish]]
    * swaps it in. A failed write leaves `path` untouched. */
  private[graft] def stageOverwrite(spark: SparkSession, path: String)(
      write: String => Unit): Unit = {
    val fs = fsOf(spark, path)
    val tmp = new Path(path + ".tmp")
    fs.delete(tmp, true)
    write(tmp.toString)
    publish(fs, tmp, new Path(path), new Path(path + ".bak"))
  }

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The full update step (reference `update_table`,
    * `config.py:201-212`) on a whole-table base: one pass checkpoints
    * `staging` and yields its cutoff ([[batchStats]]), then
    * [[mergeBatch]] heals, reads and rewrites the base. */
  def updateTable(spark: SparkSession, basePath: String,
                  staging: DataFrame, dateCol: String): Unit =
    update(spark, basePath, staging, dateCol, partitioned = false)

  /** [[updateTable]] on the 100 TB layout: a base partitioned by month
    * (`pmonth=yyyy-MM` dirs), of which only the months on/after the
    * cutoff month are touched — O(overlap) per batch where the whole
    * table is O(table). Semantics IDENTICAL to [[merge]] (MergeSpec
    * cross-checks the tables). */
  def updateTablePartitioned(spark: SparkSession, basePath: String,
                             staging: DataFrame, dateCol: String): Unit =
    update(spark, basePath, staging, dateCol, partitioned = true)

  private def update(spark: SparkSession, basePath: String, staging: DataFrame,
                     dateCol: String, partitioned: Boolean): Unit = {
    val (batch, stats, release) =
      Checkpoints.checkpointTrackedWith(staging)(batchStats(_, dateCol))
    try mergeBatch(spark, basePath, batch, dateCol, stats, partitioned)
    finally release()
  }

  /** What one pass over a merge batch yields: its source files (when a
    * source column rides along), its dated-row count, its cutoff (MIN
    * date; None when no row is dated) and the `yyyy-MM` months its
    * dated rows cover. */
  private[graft] final case class BatchStats(files: Set[String], kept: Long,
                              cut: Option[Any], months: Set[String]) {
    def ++(o: BatchStats): BatchStats = BatchStats(files ++ o.files,
      kept + o.kept, (cut ++ o.cut).reduceOption(earliest), months ++ o.months)
  }

  /** The `pmonth` partition value of a row. */
  private def monthOf(dateCol: String) = date_format(col(dateCol), "yyyy-MM")

  private def earliest(a: Any, b: Any): Any =
    if (a.asInstanceOf[Comparable[Any]].compareTo(b) <= 0) a else b

  /** [[BatchStats]] of `batch` as ONE single-stage job — per-partition
    * folds combined on the driver, no exchange — so as the materializing
    * pass of a [[graft.util.Checkpoints.checkpointTrackedWith]] it is
    * also the pass that fills the cache. */
  private[graft] def batchStats(batch: DataFrame, dateCol: String,
                 srcCol: Option[String] = None): BatchStats =
    batch.select(Seq(col(dateCol), monthOf(dateCol)) ++ srcCol.map(col): _*)
      .rdd.mapPartitions { rows =>
        val files = scala.collection.mutable.Set[String]()
        val months = scala.collection.mutable.Set[String]()
        var kept = 0L
        var cut: Option[Any] = None
        rows.foreach { r =>
          if (r.length > 2) files += r.getString(2)
          if (!r.isNullAt(0)) {
            kept += 1
            cut = Some(cut.fold(r.get(0))(earliest(_, r.get(0))))
            months += r.getString(1)
          }
        }
        Iterator(BatchStats(files.toSet, kept, cut, months.toSet))
      }.collect().foldLeft(BatchStats(Set.empty, 0L, None, Set.empty))(_ ++ _)

  /** THE cutoff merge, both layouts: publish (base rows below the
    * batch's cutoff) ∪ `batch`. `batch` is cached and `stats` is its
    * [[batchStats]]: nothing re-derives the cutoff; no dated row, no-op.
    *  1. [[heal]] first, from the one root listing that also yields the
    *     overlap months (unhealed, a month a crashed compaction
    *     displaced is rewritten from the batch alone and its rows below
    *     the cutoff are lost).
    *  2. A missing base is an empty one: the first batch creates it.
    *  3. The base (partitioned: its cutoff month only) is read with its
    *     own footer schema — no inference job; differing columns fail
    *     the union loudly.
    *  4. Whole table: [[mergeAt]] through [[stageOverwrite]]
    *     (`<base>.tmp`, then [[publish]]). Partitioned: the cutoff
    *     month's survivors and the batch are written to `.merge-tmp`,
    *     then [[swapPartitions]] swaps in exactly the batch's months;
    *     older ones stay byte-identical. Overlap months the batch does
    *     not cover are deleted after the swaps (a crash leaves at worst
    *     stale rows; re-running converges). Either staged dir is read by
    *     the write and displaced only by the publish. */
  private[graft] def mergeBatch(spark: SparkSession, basePath: String,
                                batch: DataFrame, dateCol: String,
                                stats: BatchStats, partitioned: Boolean): Unit =
    stats.cut.foreach { cut =>
      val fs = fsOf(spark, basePath)
      val root = new Path(basePath)
      val names = childNames(fs, root)
      heal(fs, root, "pmonth", names)
      if (!partitioned)
        stageOverwrite(spark, basePath)(mergeAt(readBase(spark, fs, root)
          .getOrElse(batch.limit(0)), batch, dateCol, cut).write.mode("overwrite").parquet(_))
      else {
        val cutMonth = stats.months.min
        // a healed `.compact-bak-<m>` is `pmonth=<m>` again
        val overlap = names.collect {
          case n if n.startsWith("pmonth=") => n.stripPrefix("pmonth=")
          case n if n.startsWith(".compact-bak-") => n.stripPrefix(".compact-bak-")
        }.distinct.filter(_ >= cutMonth)
        overlap.find(_ == cutMonth)
          .flatMap(m => readBase(spark, fs, new Path(root, s"pmonth=$m")))
          .fold(batch)(_.filter(col(dateCol) < lit(cut)).unionByName(batch))
          .withColumn("pmonth", monthOf(dateCol))
          .write.mode("overwrite").partitionBy("pmonth")
          .parquet(new Path(root, ".merge-tmp").toString)
        swapPartitions(fs, root, "pmonth", stats.months)
        overlap.filterNot(stats.months).foreach { m =>
          fs.delete(new Path(root, s"pmonth=$m"), true)
        }
      }
    }

  /** The parquet table at `path`, read with the schema Spark stored in
    * the footer of one of its files ([[sparkSchema]]; inferred only for
    * files another writer produced). None when `path` is missing or
    * holds only hidden entries (a table whose first write crashed). */
  private[graft] def readBase(spark: SparkSession, fs: FileSystem,
                              path: Path): Option[DataFrame] =
    listing(fs, path).filter(_.exists(f => !hidden(f.getPath.getName)))
      .map(files => readWithFooter(spark, path, files
        .find(f => f.isFile && f.getPath.getName.endsWith(".parquet")).map(_.getPath)))

  /** Names Spark's file listing skips: staged and backup dirs, markers. */
  private def hidden(name: String) = name.startsWith(".") || name.startsWith("_")

  private def readWithFooter(spark: SparkSession, dir: Path,
                             file: Option[Path]): DataFrame =
    file.flatMap(sparkSchema(spark, _))
      .fold(spark.read)(spark.read.schema(_)).parquet(dir.toString)

  /** Small-file compaction for the month-partitioned base — the
    * maintenance pass a streamed-into table needs: per-batch merges
    * leave each overlap partition with one file generation per batch,
    * and at 100 TB a scan over millions of small files is dominated by
    * open/footer costs. For every partition holding more than
    * `maxFiles` parquet files, rewrite it to ⌈bytes/targetBytes⌉ files
    * (a coalesce — no shuffle; rows within the partition just
    * concatenate). Returns the number of partitions compacted.
    * Idempotent: a partition already at its target file count —
    * `max(maxFiles, ⌈bytes/targetBytes⌉)` for partitions bigger than
    * maxFiles·targetBytes — is skipped on re-run, so large healthy
    * partitions are never re-rewritten.
    *
    * The fragmented partitions are written at once, each to
    * `.merge-tmp/pmonth=<m>`, on at most `defaultParallelism` threads
    * ([[graft.util.Parallel.all]]); once every write has ended, the
    * first failure is thrown, else [[swapPartitions]] publishes them.
    *
    * Crash contract: every run begins with [[heal]], so a kill at ANY
    * point is healed by the next run. Staged and backup dirs are
    * dot-prefixed, so partition discovery never lists them and a
    * crashed run never double-counts rows.
    *
    * Reader contract (single-maintainer, like every rewrite here):
    * compaction of partition A never touches partition B — concurrent
    * reads of other partitions are safe (spec-asserted). A reader
    * listing THE partition being swapped can observe it briefly absent
    * (rename is atomic per path, but the swap is two renames); run
    * compaction from the pipeline's own maintenance slot — as
    * [[graft.streaming.StreamPipeline]] does, between batches — not
    * concurrently with readers of the same partition. */
  def compactPartitions(spark: SparkSession, basePath: String,
                        maxFiles: Int = 8,
                        targetBytes: Long = 128L << 20): Int = {
    val fs = fsOf(spark, basePath)
    val root = new Path(basePath)
    heal(fs, root, "pmonth", childNames(fs, root))
    val rewrites = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("pmonth="))
      .flatMap { p =>
        val files = fs.listStatus(p.getPath).toSeq.filter(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet"))
        val n = math.max(1,
          math.ceil(files.map(_.getLen).sum.toDouble / targetBytes).toInt)
        Option.when(files.length > math.max(maxFiles, n)) {
          val month = p.getPath.getName.stripPrefix("pmonth=")
          // the write job reads the live partition; the swap displaces it
          month -> (() => readWithFooter(spark, p.getPath, Some(files.head.getPath))
            .coalesce(n).write.mode("overwrite")
            .parquet(new Path(root, s".merge-tmp/pmonth=$month").toString))
        }
      }
    Parallel.all(spark, spark.sparkContext.defaultParallelism)(rewrites.map(_._2))
      .foreach(_.get)
    swapPartitions(fs, root, "pmonth", rewrites.map(_._1))
    rewrites.size
  }

  /** The schema Spark stored in a parquet file's footer, read on the
    * driver — schema inference would run a Spark job to read the same
    * footer. None for a file another writer produced. */
  private def sparkSchema(spark: SparkSession, file: Path): Option[StructType] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
    finally reader.close()
  }

  /** Initial load for the partitioned layout. */
  def writePartitioned(df: DataFrame, basePath: String, dateCol: String): Unit =
    df.withColumn("pmonth", monthOf(dateCol))
      .write.mode("overwrite").partitionBy("pmonth").parquet(basePath)
}
