package graft.merge

import java.io.IOException
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

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
  * shuffle); the trailing sort is one range-partition exchange. With the
  * base table date-partitioned at rest, the cutoff filter becomes
  * partition pruning and the rewrite touches only overlap partitions.
  */
object Merge {

  /** A1 — scalar MIN cutoff (`config.py:180-187`). Single-row collect:
    * the aggregation is distributed (partial mins per partition); only
    * the one-row result reaches the driver. */
  def cutoff(staging: DataFrame, dateCol: String): Option[Any] =
    Option(staging.agg(min(col(dateCol))).first().get(0))

  /** A2 — cutoff filter + UNION ALL + order (`config.py:192-199`).
    * Empty staging (null cutoff) leaves the base unchanged — the
    * reference would interpolate a Python `None` into SQL there; we make
    * the no-op explicit instead. */
  def merge(base: DataFrame, staging: DataFrame, dateCol: String): DataFrame =
    cutoff(staging, dateCol) match {
      case Some(cut) =>
        base.filter(col(dateCol) < lit(cut))
          .unionByName(staging)
          .orderBy(col(dateCol).asc)
      case None => base
    }

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

  /** Converge an interrupted [[publish]]: `bak` without `live` is
    * restored (the previous generation is the safe root; the rewrite
    * re-runs); `bak` beside `live` is debris and deleted. Staging dirs
    * are the caller's. True when `bak` was restored. */
  def heal(fs: FileSystem, live: Path, bak: Path): Boolean =
    fs.exists(bak) && {
      if (fs.exists(live)) { fs.delete(bak, true); false }
      else { rename(fs, bak, live); true }
    }

  /** [[heal]] every `<bakPrefix><k>` child of `root` against its
    * `<livePrefix><k>` sibling — the per-partition form shared by the
    * `pmonth=` and `bucket=` layouts. Returns the number restored. */
  private[graft] def healChildren(fs: FileSystem, root: Path,
                                  livePrefix: String, bakPrefix: String): Int =
    if (!fs.exists(root)) 0
    else fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(bakPrefix))
      .count(name => heal(fs,
        new Path(root, livePrefix + name.stripPrefix(bakPrefix)),
        new Path(root, name)))

  /** S7 — overwrite-own-input table rewrite. BigQuery's
    * `CREATE OR REPLACE TABLE old AS (… FROM old …)` reads and replaces
    * the same table in one statement; Spark cannot overwrite a path it is
    * reading, so: write to a sibling temp dir, then [[publish]]. The
    * displaced old data survives at `<path>.bak` until the next rewrite —
    * a cheap poor-man's version for rollback. */
  def overwriteAtomic(df: DataFrame, path: String): Unit = {
    val fs = fsOf(df.sparkSession, path)
    val tmp = new Path(path + ".tmp")
    fs.delete(tmp, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    publish(fs, tmp, new Path(path), new Path(path + ".bak"))
  }

  /** Heal an [[overwriteAtomic]] interrupted between its renames. Every
    * caller that reads `path` before rewriting it runs this first:
    * unhealed, the absent `path` reads as a missing (or empty) table and
    * the rewrite's own `.bak` delete destroys the last good generation. */
  def healOverwrite(spark: SparkSession, path: String): Unit =
    heal(fsOf(spark, path), new Path(path), new Path(path + ".bak"))

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The full update step (reference `update_table`, `config.py:201-212`):
    * read base, merge staging in, atomically rewrite base. */
  def updateTable(spark: SparkSession, basePath: String,
                  staging: DataFrame, dateCol: String): Unit = {
    healOverwrite(spark, basePath)
    val base = spark.read.parquet(basePath)
    // The write job scans basePath while writing the sibling tmp dir —
    // the input is only displaced by the rename AFTER the job completes,
    // so no checkpoint/self-overwrite hazard exists.
    overwriteAtomic(merge(base, staging, dateCol), basePath)
  }

  /** The 100 TB merge: base laid out partitioned by month
    * (`pmonth=yyyy-MM` directories) and the rewrite touches ONLY the
    * partitions on/after the cutoff month — everything older is not
    * read, not shuffled, and not rewritten.
    *
    * Mechanics: one pass over `staging` checkpoints it and yields its
    * cutoff and months ([[batchStats]]); [[mergePartitioned]] then
    * publishes (cutoff-month base rows still below the exact cutoff) ∪
    * staging with `partitionOverwriteMode=dynamic`, which replaces
    * exactly the partitions present in the written data and leaves all
    * others' files byte-identical (spec-asserted). The unpartitioned
    * [[updateTable]] rewrites the whole table per batch — correct, but
    * O(table); this variant is O(overlap), which is what makes a daily
    * merge into a years-deep 100 TB table feasible.
    *
    * Semantics are IDENTICAL to [[merge]] (MergeSpec cross-checks the
    * resulting table): cutoff-month base rows below the exact cutoff
    * survive, everything on/after the cutoff is replaced by staging.
    *
    * The output months ARE the staging months: the cutoff is the
    * staging MIN date, so every surviving base row lies in the cutoff's
    * own month, which staging covers. Dynamic partition overwrite only
    * replaces partitions PRESENT in the written data — a base partition
    * after the cutoff month that staging does not cover would silently
    * keep its stale files (rows [[merge]] deletes). So the overlap
    * partition dirs are listed BEFORE the write (a pure filesystem
    * metadata call, O(#overlap months)) and any of them the staging
    * months do not cover is deleted after the write commits.
    * Delete-after-commit keeps the crash contract: a failure mid-step
    * leaves at worst stale extra rows, and the merge is idempotent —
    * re-running it converges. A missing base is an empty one: the
    * first batch creates it. */
  def updateTablePartitioned(spark: SparkSession, basePath: String,
                             staging: DataFrame, dateCol: String): Unit = {
    val (batch, stats, release) =
      graft.util.Checkpoints.checkpointTrackedWith(staging)(batchStats(_, dateCol))
    try stats.cut.foreach(mergePartitioned(spark, basePath, batch, dateCol, _, stats.months))
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
    * folds combined on the driver, no exchange — so as the
    * materializing pass of a
    * [[graft.util.Checkpoints.checkpointTrackedWith]] it is also the
    * pass that fills the cache. */
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

  /** The partitioned merge of a batch whose cutoff `cut` and months
    * (`yyyy-MM`, the cutoff's included) are already known — a cached
    * batch is read once more, by the write. Only `pmonth=<cut month>`
    * of the base is read, with the batch's schema (no inference, no
    * scan of the whole base); its rows below `cut` are checkpointed
    * before the write starts, which is what keeps this off Spark's
    * "cannot overwrite a path being read from" hazard, and they are
    * bounded by one month. Tracked + released: a streamed pipeline
    * calls this per micro-batch, and un-releasable
    * Dataset.localCheckpoint blocks would accumulate for the life of
    * the stream. */
  private[graft] def mergePartitioned(spark: SparkSession, basePath: String,
                                      batch: DataFrame, dateCol: String,
                                      cut: Any, months: Set[String]): Unit = {
    val cutMonth = months.min
    val fs = fsOf(spark, basePath)
    val root = new Path(basePath)
    val overlapMonths =
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(_.startsWith("pmonth="))
        .map(_.stripPrefix("pmonth="))
        .filter(_ >= cutMonth)
    val survivors = Option.when(overlapMonths.contains(cutMonth))(
      graft.util.Checkpoints.checkpointTracked(
        spark.read.schema(batch.schema)
          .parquet(new Path(root, s"pmonth=$cutMonth").toString)
          .filter(col(dateCol) < lit(cut))))
    try {
      // per-WRITE option, not the session conf: toggling the session
      // setting would race any concurrent partitioned overwrite on
      // the same SparkSession (and clobber a caller's own setting)
      survivors.fold(batch)(_._1.unionByName(batch))
        .withColumn("pmonth", monthOf(dateCol))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pmonth").parquet(basePath)
      overlapMonths.filterNot(months).foreach { m =>
        fs.delete(new Path(basePath, s"pmonth=$m"), true)
      }
    } finally survivors.foreach(_._2())
  }

  /** Small-file compaction for the month-partitioned base — the
    * maintenance pass a streamed-into table needs: per-batch merges
    * leave each overlap partition with one file generation per batch,
    * and at 100 TB a scan over millions of small files is dominated by
    * open/footer costs. For every partition holding more than
    * `maxFiles` parquet files, rewrite it to ⌈bytes/targetBytes⌉ files
    * (a coalesce — no shuffle; rows within the partition just
    * concatenate) and swap via rename. Returns the number of partitions
    * compacted. Idempotent: a partition already at its target file
    * count — `max(maxFiles, ⌈bytes/targetBytes⌉)` for partitions bigger
    * than maxFiles·targetBytes — is skipped on re-run, so large healthy
    * partitions are never re-rewritten.
    *
    * Crash contract: each partition is swapped in by [[publish]] and
    * every run begins with [[recoverCompaction]], so a kill at ANY
    * point is healed by the next run. Temp/backup dirs are
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
    recoverCompaction(spark, basePath)
    val parts = fs.listStatus(new Path(basePath)).toSeq
      .filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("pmonth="))
    var compacted = 0
    parts.foreach { p =>
      val files = fs.listStatus(p.getPath).toSeq.filter(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet"))
      val n = math.max(1,
        math.ceil(files.map(_.getLen).sum.toDouble / targetBytes).toInt)
      if (files.length > math.max(maxFiles, n)) {
        val month = p.getPath.getName.stripPrefix("pmonth=")
        val tmp = new Path(basePath, s".compact-tmp-$month")
        val bak = new Path(basePath, s".compact-bak-$month")
        fs.delete(tmp, true)
        // the write job reads the live partition while writing tmp; the
        // source is only displaced by the renames after it completes
        sparkSchema(spark, files.head.getPath)
          .fold(spark.read)(spark.read.schema(_))
          .parquet(p.getPath.toString).coalesce(n)
          .write.mode("overwrite").parquet(tmp.toString)
        publish(fs, tmp, p.getPath, bak)
        fs.delete(bak, true)
        compacted += 1
      }
    }
    compacted
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

  /** Heal a compaction interrupted by a crash: [[heal]] each
    * `.compact-bak-<m>` against `pmonth=<m>` and delete every
    * `.compact-tmp-<m>` (an incomplete or superseded write — when a
    * backup was just restored, the next run simply re-compacts).
    * Returns the number of partitions restored. Invoked as the first
    * step of [[compactPartitions]]; public so a restarting pipeline
    * can also heal without compacting. */
  def recoverCompaction(spark: SparkSession, basePath: String): Int = {
    val fs = fsOf(spark, basePath)
    val root = new Path(basePath)
    val healed = healChildren(fs, root, "pmonth=", ".compact-bak-")
    fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith(".compact-tmp-"))
      .foreach(fs.delete(_, true))
    healed
  }

  /** Initial load for the partitioned layout. */
  def writePartitioned(df: DataFrame, basePath: String, dateCol: String): Unit =
    df.withColumn("pmonth", monthOf(dateCol))
      .write.mode("overwrite").partitionBy("pmonth").parquet(basePath)

  /** S5 retry path — merge from the PERSISTED staging table. The
    * reference truncate-loads `table_new` and keeps it queryable
    * (`config.py:161-171`, `settings.yaml:20`); a merge failure leaves
    * staging committed so the merge alone can be re-run
    * (`main.py:50-62`: load failure dead-letters, merge failure only
    * logs). This is that retry: no re-clean, no re-upload — just re-read
    * `table_new` and redo the cutoff merge (idempotent, MergeSpec
    * property). */
  def updateFromStaging(spark: SparkSession, basePath: String,
                        stagingPath: String, dateCol: String): Unit =
    updateTable(spark, basePath, spark.read.parquet(stagingPath), dateCol)

  /** [[updateFromStaging]] against a month-partitioned base — the same
    * retryable/idempotent contract, O(overlap) per attempt. The stream
    * merges its cached batch directly ([[mergePartitioned]]); this is
    * the retry over the persisted `table_new`. */
  def updateFromStagingPartitioned(spark: SparkSession, basePath: String,
                                   stagingPath: String, dateCol: String): Unit =
    updateTablePartitioned(spark, basePath,
      spark.read.parquet(stagingPath), dateCol)
}
