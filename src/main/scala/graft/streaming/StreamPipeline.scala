package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.slf4j.LoggerFactory
import scala.util.{Success, Try}
import graft.clean.Clean
import graft.config.PipelineConf
import graft.merge.Merge
import graft.schema.SchemaLoader.FieldSpec
import graft.util.{Checkpoints, Parallel}

/** The reference's event-driven pipeline (`main.py:18-63`) as one
  * Structured Streaming program:
  *
  *  ST1  file-arrival trigger: `readStream` on the upload dir with
  *       `Trigger.AvailableNow` + maxFilesPerTrigger=1 — one micro-batch
  *       per uploaded file, mirroring one Cloud-Function invocation per
  *       GCS Finalize event. Spark's file source keys the files it has
  *       seen by path, so an upload needs a name the stream has not seen:
  *       a file re-uploaded under a seen name is never read
  *  ST2  the second stage (load→merge→views) runs in the same
  *       foreachBatch — the Pub/Sub hop becomes an in-job dataflow edge
  *  ST3  effectively-once table update: checkpointed source offsets +
  *       idempotent cutoff merge (re-running a batch reproduces the same
  *       base table)
  *  ST4  late/overlapping data: staging rows win the overlap window
  *       (Merge semantics)
  *  ST5  each micro-batch ends in one of three ways, decided once,
  *       right after the pass: dead-lettered — the pass failed or no row
  *       is dated, and the raw file(s) move into errorDir before any
  *       write starts (`S8`, reference `config.py:223-234`,
  *       `main.py:52-53`); merged (the writes, then notify); or failed
  *       before its offset commits — any later step threw (the cleaned
  *       CSV, staging, the merge, notify), the query stops, and the
  *       restart replays the batch (same rows, idempotent merge). A
  *       write that keeps failing stops the stream until it is
  *       repaired. One window needs two faults: a replay whose pass then
  *       fails dead-letters an upload an earlier attempt already merged
  *       (a failed notify's replay already could)
  *  ST6  post-update notification: one message file per merged batch
  *       in notifyDir, base64-encoded payload (`S9`/`S10` analog — a
  *       downstream `readStream` on notifyDir is the second trigger)
  *  ST7  stage-transition logging via slf4j
  *
  * Scale: each micro-batch is the same narrow clean + merge dataflow as
  * batch mode, reading its upload once (see [[run]]); state lives in
  * the base table + checkpoint dir only.
  */
object StreamPipeline {

  private val log = LoggerFactory.getLogger(getClass)

  /** Where one stream reads and writes. Beside `basePath` the pipeline
    * keeps two fixed siblings, mirroring the reference's `<type>_update`
    * staging table (`settings.yaml:20`) and second-bucket cleaned file
    * (`config.py:146`): `<basePath>_update`, the persisted `table_new`
    * analog (S5, truncate-loaded by every loaded batch, queryable
    * between batches), and `<basePath>_cleaned/<name>`, the cleaned CSV
    * artifact (S4). */
  final case class StreamDirs(
      uploadDir: String,
      basePath: String,
      errorDir: String,
      notifyDir: String,
      checkpointDir: String,
      partitionedBase: Boolean = false,
      /** When > 0 (requires partitionedBase): run
        * [[graft.merge.Merge.compactPartitions]] after a successfully
        * merged batch whose stream batch id + 1 is a multiple of N —
        * per-batch merges fragment the overlap partitions,
        * and the pipeline maintains itself instead of leaning on an
        * external maintenance job. Batch ids count every micro-batch,
        * dead-lettered ones included, so when that batch does not merge
        * the round skips its compaction. A compaction failure only logs:
        * the data is correct either way, and the next round retries. */
      compactEveryBatches: Int = 0)

  /** S10 — decode a notify-message DataFrame (column `payload` base64). */
  def decodeMessage(df: DataFrame): DataFrame =
    df.withColumn("payload", unbase64(col("payload")).cast("string"))

  /** Move the batch's raw files (URL-encoded `_metadata.file_path`
    * URIs) into errorDir. A failed move throws: the batch then fails
    * before its offset commits, so the file is retried instead of
    * being stranded in uploadDir. */
  def deadLetter(spark: SparkSession, files: Seq[String], errorDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val err = new Path(errorDir)
    val fs = err.getFileSystem(conf)
    fs.mkdirs(err)
    files.foreach { f =>
      val src = new Path(new java.net.URI(f))
      log.warn(s"dead-lettering $src -> $errorDir")
      Merge.rename(fs, src, new Path(err, src.getName))
    }
  }

  /** ST6 — publish `batch-<id>.msg`: written whole under a dot-prefixed
    * name (file sources skip hidden files), then renamed in, so the
    * notify stage never lists a half-written message. */
  private def notify(spark: SparkSession, notifyDir: String,
                     batchId: Long, name: String): Unit = {
    val dir = new Path(notifyDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val payload = java.util.Base64.getEncoder
      .encodeToString(name.getBytes("UTF-8"))
    val tmp = new Path(dir, s".batch-$batchId.msg.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"""{"payload":"$payload"}""".getBytes("UTF-8"))
    finally out.close()
    val msg = new Path(dir, s"batch-$batchId.msg")
    fs.delete(msg, false) // a re-run batch replaces its message
    Merge.rename(fs, tmp, msg)
  }

  /** ST6/S10 — the DECOUPLED second stage: a `readStream` on notifyDir,
    * the Pub/Sub-subscription analog. The reference's second Cloud
    * Function is triggered BY the message alone (`main.py:47-48`,
    * `config.py:55-57`), not by sharing a process with the loader — this
    * is that hop: each notify file becomes a micro-batch row, the base64
    * payload is decoded to the data-type name, and `onMessage(name)`
    * runs the downstream step (view refresh, in the reference). The
    * checkpoint makes message consumption effectively-once across
    * restarts, like a Pub/Sub ack. A message without a payload (a
    * corrupt file) is logged and skipped.
    *
    * Scale: message files are tiny and per-batch; the stream's state is
    * the checkpointed file offsets only. The downstream work runs as
    * ordinary batch jobs inside foreachBatch. */
  def runNotifyStage(spark: SparkSession, notifyDir: String,
                     checkpointDir: String)(onMessage: String => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = StructType(Seq(StructField("payload", StringType, true)))
    val msgs = spark.readStream.schema(schema).json(notifyDir)
    msgs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        decodeMessage(batch).select("payload")
          .collect().map(_.getString(0)).foreach {
            case null =>
              log.warn(s"notify stage: batch $batchId skipped a message without payload")
            case name =>
              log.info(s"notify stage: batch $batchId message '$name'")
              onMessage(name)
          }
      }
      .start()
  }

  /** Wire the full pipeline; returns the started query (caller awaits).
    * Processes everything currently in uploadDir, then stops
    * (Trigger.AvailableNow); restart with the same checkpoint to pick up
    * only new files — or to replay a batch whose merge or notify failed
    * (ST5): its `awaitTermination` throws, and the restart is the retry.
    *
    * One micro-batch reads its upload ONCE: the typed rows
    * ([[graft.clean.Clean.typed]], each row's source file still
    * attached, undated rows kept) are checkpointed, and the pass that
    * fills that checkpoint also yields the batch's files, dated-row
    * count, cutoff and months ([[graft.merge.Merge.batchStats]]). A
    * batch whose pass threw or kept no dated row is dead-lettered there,
    * before any write. Otherwise everything after reads the cached rows:
    * the dated ones are the cleaned batch, written as the cleaned CSV
    * artifact and the staging table, and merged by
    * [[graft.merge.Merge.mergeBatch]] with that pass's statistics — the
    * one cutoff merge, `partitionedBase` naming the layout. These three
    * writes run at once ([[graft.util.Parallel.all]]); the batch waits
    * for all of them, then the first failure fails the batch, and the
    * restart replays it. Otherwise compaction (when due) and notify run.
    * The critical path is the pass, the slowest of the three writes,
    * and notify. */
  def run(spark: SparkSession, fields: Seq[FieldSpec], conf: PipelineConf,
          dirs: StreamDirs): org.apache.spark.sql.streaming.StreamingQuery = {
    val stringSchema = StructType(
      fields.map(f => StructField(f.name, StringType, nullable = true)))
    val raw = spark.readStream
      .option("header", true)
      .option("multiLine", true) // allow_quoted_newlines, as Clean.readRawCsv
      .option("maxFilesPerTrigger", 1) // one batch per uploaded file
      .schema(stringSchema)
      .csv(dirs.uploadDir)
      .withColumn("__src", col("_metadata.file_path"))
    val staging = dirs.basePath + "_update"

    raw.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", dirs.checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val tag = s"[${conf.name}] batch $batchId"
        // ONE pass over the upload: it fills the checkpoint that severs
        // lineage from files we may move (released after the merge: a
        // long stream must not accumulate a cached generation per batch)
        // and yields the batch's files, kept count, cutoff and months
        val pass = Try(Checkpoints.checkpointTrackedWith(
          Clean.typed(fields, conf, carry = Seq("__src"))(batch))(
          Merge.batchStats(_, conf.dateCol, srcCol = Some("__src"))))
        try pass match {
          case Success((typed, stats, _)) if stats.kept > 0 =>
            log.info(s"$tag: ${stats.files.size} file(s), ${stats.kept} dated rows")
            val cleaned = Clean.dropUndated(conf)(typed).drop("__src")
            // the three writes read only the cached batch, so they run at
            // once. A failure leaves foreachBatch once all have ended: the
            // offset does not commit, and the restart replays this batch
            Parallel.all(spark, 3)(Seq(
              // S4: durable cleaned artifact (reference writes the cleaned
              // file to a second bucket, config.py:146) — inspectable
              // between stages, overwritten per batch like the reference's
              // fixed per-type uri2.
              () => cleaned.write.mode("overwrite").option("header", true)
                .csv(s"${dirs.basePath}_cleaned/${conf.name}"),
              // S5: truncate-load the staging table (WRITE_TRUNCATE,
              // config.py:161-171); table_new survives the batch, queryable
              () => Merge.overwriteAtomic(cleaned, staging),
              () => Merge.mergeBatch(spark, dirs.basePath, cleaned, conf.dateCol,
                stats, dirs.partitionedBase))).foreach(_.get)
            log.info(s"$tag staged at $staging and merged")
            if (dirs.partitionedBase && dirs.compactEveryBatches > 0 &&
                (batchId + 1) % dirs.compactEveryBatches == 0)
              try {
                val n = Merge.compactPartitions(spark, dirs.basePath)
                log.info(s"$tag compacted $n partition(s)")
              } catch {
                case e: Throwable =>
                  log.warn(s"$tag compaction failed " +
                    s"(data unaffected, retried next trigger): ${e.getMessage}")
              }
            notify(spark, dirs.notifyDir, batchId, conf.name)
          case _ =>
            // the load (main.py:52-53) is decided here, before any write:
            // the pass threw, or no row is dated — every row failed
            // cleaning, or a replayed batch whose file was already moved.
            // A failed pass listed no files: list them alone
            val files = pass.map(_._2.files.toSeq).getOrElse(
              batch.select("__src").distinct().collect().map(_.getString(0)).toSeq)
            log.warn(s"$tag: ${files.size} file(s) not loaded, dead-lettered: " +
              pass.fold(_.getMessage, _ => "no dated row"))
            deadLetter(spark, files, dirs.errorDir)
        } finally pass.foreach(_._3())
      }
      .start()
  }
}
