package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbenchshim.{Consume, Consumed}

import graft.SparkEntry
import graft.clean.Clean
import graft.config.PipelineConf
import graft.merge.Merge
import graft.schema.SchemaLoader
import graft.streaming.StreamPipeline
import graft.streaming.StreamPipeline.StreamDirs
import graft.util.SessionCache
import graft.views.Views

/** One closed-loop workload: `prepare` builds its state, `warm` runs
  * untimed operations so caches and JIT are hot (both count in setup_s),
  * then `op` is called until the run's time is up. `finish` gathers the
  * program's final state for the offline correctness check. */
trait Workload {
  def prepare(): Unit
  def warm(): Unit
  def hasNext: Boolean
  /** Timed operations a run makes at least (see Main). */
  def minOps: Int = 2
  def op(): Unit
  def finish(): Map[String, Any]
}

object Fs {
  def rm(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) Files.walk(f.toPath).iterator().asScala.toSeq.reverse
      .foreach(x => Files.deleteIfExists(x))
  }
  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }
  def files(dir: String, suffix: String): Set[String] = {
    val d = Paths.get(dir)
    if (!Files.exists(d)) Set.empty
    else Files.walk(d).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(suffix))
      .map(p => d.relativize(p).toString).toSet
  }
  def read(p: String): String = new String(Files.readAllBytes(Paths.get(p)), UTF_8)
}

/** upload_stream: RenewalList uploads through StreamPipeline.run into a
  * month-partitioned base table (clean -> stage -> partitioned merge ->
  * periodic compaction -> notify), one upload per operation. */
final class UploadStream(spark: SparkSession, data: String, work: String,
                         tracer: Tracer) extends Workload {
  private val fields = SchemaLoader.parse(Fs.read(s"$data/renewals_bq.json"))
  private val keyCols = Seq("PolicyNumber", "AgencyNumber", "RegNumber")
  private val conf = PipelineConf("RenewalList.CSV", "", "PolicyExpiryDate",
    keyCols.map(_ -> "strip_excel").toMap, "", "", None, None)
  /** name, kind (good|poison), raw rows, phase (warm|timed) */
  private val plan: IndexedSeq[(String, String, Long, String)] =
    Fs.read(s"$data/uploads/plan.tsv").linesIterator.filter(_.nonEmpty).map { l =>
      val Array(n, k, r, p) = l.split("\t"); (n, k, r.toLong, p)
    }.toIndexedSeq
  private val root = s"$work/upload_stream"
  private val dirs = StreamDirs(
    uploadDir = s"$root/upload", basePath = s"$root/base",
    errorDir = s"$root/error", notifyDir = s"$root/notify",
    checkpointDir = s"$root/ckpt", partitionedBase = true,
    compactEveryBatches = 2)
  private var next = 0
  private var baseFiles = Set.empty[String]

  /** The pre-seeded base: two years of cleaned renewals, month-
    * partitioned. Its oldest months (listed by the generator), which no
    * upload's cutoff reaches, are written as FragmentFiles small files
    * each, so the pipeline's periodic compactPartitions (more than 8
    * files in a month) has partitions to rewrite. */
  def prepare(): Unit = {
    Fs.rm(root)
    new File(dirs.uploadDir).mkdirs()
    val cleaned = Clean.clean(fields, conf)(
      Clean.readRawCsv(spark, s"$data/base.csv", fields))
    val month = date_format(col(conf.dateCol), "yyyy-MM")
    val oldest = Fs.read(s"$data/fragment_months.txt").split("\\s+").filter(_.nonEmpty)
    val frag = cleaned.filter(month.isin(oldest: _*)).repartition(UploadStream.FragmentFiles)
    Merge.writePartitioned(frag.union(cleaned.filter(!month.isin(oldest: _*))),
      dirs.basePath, conf.dateCol)
    baseFiles = Fs.files(dirs.basePath, ".parquet")
    next = 0
  }

  /** The plan's warm-up uploads (gen.WARM_UPLOADS) run untimed: a good
    * one runs every streaming and merge code path cold, a poisoned one
    * the dead-letter path. */
  def warm(): Unit = while (plan(next)._4 == "warm") op()
  def hasNext: Boolean = next < plan.size
  /** Three, so one slow upload cannot move the median. */
  override def minOps: Int = 3

  private def messages(): Seq[String] =
    Fs.files(dirs.notifyDir, ".msg").toSeq.sorted

  private def payload(msg: String): String = {
    val b64 = "\"payload\":\"([^\"]*)\"".r
      .findFirstMatchIn(Fs.read(s"${dirs.notifyDir}/$msg")).map(_.group(1)).getOrElse("")
    new String(java.util.Base64.getDecoder.decode(b64), UTF_8)
  }

  def op(): Unit = {
    val (name, kind, rows, _) = plan(next)
    val src = Paths.get(s"$data/uploads/$name")
    tracer.operation(s"upload_$kind") {
      val before = messages()
      Files.copy(src, Paths.get(dirs.uploadDir, name))
      val q = tracer.span("streaming.start") {
        StreamPipeline.run(spark, fields, conf, dirs)
      }
      tracer.span("streaming.await") { q.awaitTermination() }
      val after = messages()
      val fresh = after.diff(before)
      val ok = kind match {
        case "good" => fresh.size == 1 && payload(fresh.head) == conf.name
        case _ => fresh.isEmpty && new File(dirs.errorDir, name).exists() &&
          !new File(dirs.uploadDir, name).exists()
      }
      (ok, Map("rows" -> rows, "bytes" -> Files.size(src), "upload" -> name))
    }
    if (tracer.on) traceExtras(src.toString, rows)
    next += 1
  }

  /** Traced runs only, outside the operation's timing: files the merge
    * wrote, and the clean layer timed on the same upload (clean runs
    * lazily inside the stream's batch, so it cannot be timed in place). */
  private def traceExtras(upload: String, rows: Long): Unit = {
    val now = Fs.files(dirs.basePath, ".parquet")
    tracer.count("merge.files_written", (now -- baseFiles).size)
    tracer.count("merge.base_files", now.size)
    baseFiles = now
    val kept = tracer.span("clean.busy") {
      Consume(Clean.clean(fields, conf)(Clean.readRawCsv(spark, upload, fields)),
        canonical = false).rows
    }
    tracer.count("clean.rows_in", rows)
    tracer.count("clean.rows_out", kept)
  }

  def finish(): Map[String, Any] = {
    val base = spark.read.parquet(dirs.basePath)
    val sums = Seq("CommissionAmt", "AmountDue")
    val months = base.groupBy(date_format(col(conf.dateCol), "yyyy-MM").as("m"))
      .agg(count(lit(1)).as("n"), sums.map(c => sum(col(c)).as(c)): _*)
      .collect().map { r =>
        r.getString(0) -> (Seq[Any](r.getLong(1)) ++ sums.map { c =>
          val d = Option(r.getAs[java.math.BigDecimal](c))
            .getOrElse(java.math.BigDecimal.ZERO)
          d.movePointRight(2).toBigIntegerExact.toString
        })
      }.toMap
    val badKeys = base.filter(keyCols.map(c =>
      col(c).contains("=") || col(c).contains("\"")).reduce(_ || _)).count()
    val errors = Option(new File(dirs.errorDir).list()).map(_.toSeq.sorted).getOrElse(Nil)
    val msgs = messages()
    Map("processed" -> next, "per_month" -> months, "bad_keys" -> badKeys,
      "error_files" -> errors, "messages" -> msgs.size,
      "message_payloads" -> msgs.map(payload).distinct)
  }
}

object UploadStream {
  val FragmentFiles = 12
}

/** The view reads of update_refresh, and the record of a result the
  * DuckDB oracle must reproduce over the same parquet. */
object ViewKinds {
  /** The top-10 most recent transactions through the registered view. */
  val top10 = "SELECT * FROM TRANSACTIONS ORDER BY Id DESC LIMIT 10"

  def oracleCheck(kind: String, sql: String, c: Consumed)
      : Map[String, Any] =
    Map("kind" -> kind, "sql" -> sql, "rows" -> c.rows, "fp" -> c.fp)

  /** The refresh after a write: drop the session's memos, re-register the
    * tables and views, rebuild the row-numbered TRANSACTIONS core. */
  def refresh(spark: SparkSession, dir: String, tracer: Tracer): DataFrame = {
    tracer.span("cache.refresh") {
      SessionCache.clear()
      tracer.span("views.createAll") { Views.createAll(spark, dir) }
    }
    tracer.span("views.transactionsCore") { Views.transactionsCore(spark, dir) }
  }
}

/** update_refresh: each operation merges a lineitem staging batch with
  * the whole-table Merge.updateTable, refreshes the views
  * (SessionCache.clear + Views.createAll) and reads the fresh answers:
  * the ten newest TRANSACTIONS rows through the registered SQL view and
  * through the memoized core, AUTO_OPTIOM, and every Deck query (in a
  * seeded order per cycle), whose memos the refresh dropped too. The
  * untimed warm-up cycle records each deck query's canonical
  * fingerprint; every timed read must reproduce it, and finish hands the
  * fingerprints to the DuckDB oracle. */
final class UpdateRefresh(spark: SparkSession, data: String, work: String,
                          seed: Long, tracer: Tracer) extends Workload {
  private val dir = s"$work/update_refresh/tables"
  private val batches = new File(s"$data/staging").list().filter(_.endsWith(".parquet")).sorted
  private val deckRefs = scala.collection.mutable.Map.empty[String, Consumed]
  private var next = 0

  def prepare(): Unit = {
    Fs.rm(s"$work/update_refresh")
    Fs.copyTree(s"$data/tables", dir)
    ViewKinds.refresh(spark, dir, tracer)
    next = 0
  }

  /** One untimed cycle: it runs the merge, the view reads and the deck
    * cold, and builds the deck queries' artifacts for the first time. */
  def warm(): Unit = op()
  def hasNext: Boolean = next < batches.length

  private def top10(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[Long]] =
    rows.toSeq.map(r => Seq(r.getAs[Number]("PolicyNumber").longValue,
      r.getAs[Number]("LineNumber").longValue,
      Math.round(r.getAs[Double]("CommTotal") * 100), r.getAs[Number]("Id").longValue))

  def op(): Unit = {
    val batch = s"$data/staging/${batches(next)}"
    val cycle = next
    tracer.operation("cycle") {
      tracer.span("merge.updateTable") {
        Merge.updateTable(spark, s"$dir/lineitem.parquet", spark.read.parquet(batch), "l_shipdate")
      }
      val core = ViewKinds.refresh(spark, dir, tracer)
      val sqlTop = tracer.span("views.top10_sql") {
        spark.sql(ViewKinds.top10).collect()
      }
      val dfTop = tracer.span("views.top10_df") {
        core.orderBy(col("Id").desc).limit(10).collect()
      }
      val ao = tracer.span("views.auto_optiom_df") {
        Consume(Views.autoOptiom(spark, dir), canonical = false,
          centCols = Seq("CommTotal"), nonNullCols = Seq("VIN_OP"))
      }
      val deckOk = new scala.util.Random(seed * 1000003L + cycle).shuffle(Deck.queries).map {
        case (q, module) =>
          val c = tracer.span(s"$module.$q") {
            Consume(SparkEntry.queries(q)(spark, dir), canonical = true)
          }
          val ref = deckRefs.getOrElseUpdate(q, c)
          c.rows == ref.rows && c.fp == ref.fp
      }.forall(identity)
      (deckOk, Map("cycle" -> cycle, "top10_sql" -> top10(sqlTop), "top10_df" -> top10(dfTop),
        "auto_optiom" -> Seq(ao.rows, ao.cents("CommTotal"), ao.nonNull("VIN_OP"))))
    }
    if (tracer.on) {
      val files = Fs.files(s"$dir/lineitem.parquet", ".parquet").size
      tracer.count("merge.files_written", files)
      tracer.count("merge.base_files", files)
    }
    next += 1
  }

  /** Final state: per-month counts and price sums of the rewritten table
    * for the merge model, and the canonical fingerprints of the whole
    * TRANSACTIONS view and of the deck queries for the DuckDB oracle over
    * the same files. */
  def finish(): Map[String, Any] = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val months = li.groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("m"))
      .agg(count(lit(1)), sum(round(col("l_extendedprice") * 100).cast("long")))
      .collect().map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2))).toMap
    val whole = Consume(spark.sql("SELECT * FROM TRANSACTIONS"), canonical = true)
    Map("processed" -> next, "per_month" -> months,
      "oracle" -> (ViewKinds.oracleCheck("transactions_sql", Views.transactionsSql, whole) +:
        Deck.queries.collect { case (q, _) if deckRefs.contains(q) =>
          ViewKinds.oracleCheck(q, SparkEntry.oracleSql(q), deckRefs(q))
        }))
  }
}

/** The operator deck: SparkEntry queries of the operators, ext and
  * multimodal modules (with the curation pipeline), read after every
  * refresh in update_refresh. (query, module it lives in); every one has
  * oracleSql, and none reads lineitem, so their answers stay the same
  * from cycle to cycle. */
object Deck {
  val queries: Vector[(String, String)] = Vector(
    "q_sessionize" -> "operators", "q_scd2" -> "operators",
    "q_ann_brute" -> "ext", "q_curate_e2e" -> "ext",
    "q_multimodal_decode" -> "multimodal")
}
