package graft

import java.io.{File, IOException}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.config.PipelineConf
import graft.merge.Merge
import graft.schema.SchemaLoader.FieldSpec
import graft.streaming.StreamPipeline
import graft.streaming.StreamPipeline.StreamDirs

/** Fault sweep of one upload: every mutating filesystem call of the
  * pipeline fails once, in turn, and a fault-free restart must converge.
  * All dirs but the checkpoint live on [[FaultFs]], so every create,
  * rename, delete and mkdirs of the program is counted (the window
  * between a batch's work and its offset commit is StreamingSpec's
  * replay test). An upload's cleaned CSV, staging and merge writes run
  * at once, as do a compaction's month rewrites, so the k-th call names
  * no fixed step: the count of a fault-free run must repeat, and each
  * failure message names the call that failed. For every k, one good
  * and one poisoned upload run into each base layout (the partitioned
  * one compacts after the good batch). The dead-letter is decided by
  * the pass, before any write, so no filesystem fault can dead-letter
  * the good upload; after the restart:
  *  - the good upload is merged and still in uploadDir, never in
  *    errorDir, and the poisoned one is in errorDir only;
  *  - the base equals a [[Merge.merge]] of the good upload into the
  *    seed;
  *  - the good upload has exactly one notify message.
  * A compaction of two fragmented months is swept the same way, on its
  * own. */
class FaultSweepSpec extends SparkSpec {
  import spark.implicits._

  private val fields = Seq(
    FieldSpec("PolicyNumber", "STRING", "NULLABLE"),
    FieldSpec("PolicyExpiryDate", "DATE", "NULLABLE"),
    FieldSpec("Amount", "FLOAT", "NULLABLE"))

  private val conf = PipelineConf(
    name = "RenewalList.CSV", jsonfile = "", dateCol = "PolicyExpiryDate",
    convertFuncs = Map.empty, tableNew = "", tableOld = "", uri1 = None, uri2 = None)

  private def rows(rs: (String, String, Double)*): DataFrame =
    rs.toDF("PolicyNumber", "PolicyExpiryDate", "Amount")
      .withColumn("PolicyExpiryDate", to_date($"PolicyExpiryDate"))

  /** twelve January rows (fragmented in the partitioned base, so the
    * merged batch's compaction rewrites January), three later ones */
  private val seed = rows((1 to 12).map(d => (f"J$d%02d", f"2020-01-$d%02d", d * 1.0)) ++
    Seq(("P2", "2020-02-01", 2.0), ("P3", "2020-02-20", 3.0), ("P4", "2020-03-05", 4.0)): _*)
  /** the good upload: cuts February at the 15th, replaces P3 and P4 */
  private val good = Seq(("P3", "2020-02-20", 30.0), ("P5", "2020-03-01", 5.0),
    ("P6", "2020-02-15", 6.0))

  private def table(df: DataFrame): Seq[(String, String, Double)] =
    df.select("PolicyNumber", "PolicyExpiryDate", "Amount").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2))).toSeq.sorted

  spark.sparkContext.hadoopConfiguration
    .set("fs.faultfs.impl", classOf[FaultFs].getName)

  /** One scenario: seed the base, upload, run with call `k` failing
    * (0: none), restart fault-free. Returns the faulted run's count of
    * mutating calls. */
  private def scenario(partitioned: Boolean, k: Int): Int = {
    val root = tempDir("fault-sweep").toFile.getAbsolutePath
    val dirs = StreamDirs(s"faultfs:$root/upload", s"faultfs:$root/base",
      s"faultfs:$root/error", s"faultfs:$root/notify", s"$root/ckpt",
      partitionedBase = partitioned, compactEveryBatches = 1)
    if (partitioned) Merge.writePartitioned(seed.repartition(12), s"$root/base", conf.dateCol)
    else seed.write.parquet(s"$root/base")
    new File(s"$root/upload").mkdirs()
    Files.write(new File(s"$root/upload", "u0-good.csv").toPath,
      ("PolicyNumber,PolicyExpiryDate,Amount\n" +
        good.map { case (p, d, a) => s"$p,$d,$a" }.mkString("\n")).getBytes("UTF-8"))
    Files.write(new File(s"$root/upload", "u1-poisoned.csv").toPath,
      "a,b,c\nx,y,z\n".getBytes("UTF-8"))
    new File(s"$root/upload", "u1-poisoned.csv").setLastModified(
      new File(s"$root/upload", "u0-good.csv").lastModified() + 1000)

    FaultFs.arm(k)
    val (calls, failed) = try {
      try StreamPipeline.run(spark, fields, conf, dirs).awaitTermination(120000)
      catch { case _: Exception if k > 0 => () } // the fault stops the query
      (FaultFs.calls, FaultFs.failed)
    } finally FaultFs.arm(0)
    val at = s"k=$k (${failed.getOrElse("no call failed")}), partitioned=$partitioned"
    assert(StreamPipeline.run(spark, fields, conf, dirs).awaitTermination(120000), at)

    val dead = Option(new File(s"$root/error").list()).map(_.toSet).getOrElse(Set.empty)
    val left = new File(s"$root/upload").list().toSet
    assert(!dead("u0-good.csv") && left("u0-good.csv"), s"$at: the good upload was dead-lettered")
    assert(dead("u1-poisoned.csv") && !left("u1-poisoned.csv"), at)
    val msgs = Option(new File(s"$root/notify").list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".msg"))
    assert(msgs.length === 1, s"$at: messages ${msgs.toSeq}")
    assert(table(spark.read.parquet(s"$root/base")) ===
      table(Merge.merge(seed, rows(good: _*), conf.dateCol)), at)
    if (partitioned && k == 0) assert(new File(s"$root/base/pmonth=2020-01").list()
      .count(_.endsWith(".parquet")) <= 8, "the good batch compacted January")
    calls
  }

  Seq(false, true).foreach { partitioned =>
    val layout = if (partitioned) "partitioned" else "whole-table"
    test(s"fault sweep, $layout base: a failed call at any step converges on restart") {
      val n = scenario(partitioned, 0)
      info(s"N = $n mutating calls in one fault-free run")
      assert(n > 0)
      assert(scenario(partitioned, 0) === n, "the count of a fault-free run repeats")
      (1 to n).foreach(k => scenario(partitioned, k))
    }
  }

  /** January and February, twelve one-row files each */
  private def fragmented: DataFrame = spark.range(0, 24, 1, 24).select(
    concat(lit("C"), $"id").as("PolicyNumber"),
    expr("date_add(DATE'2020-01-01', CAST(id AS INT) + IF(id >= 12, 19, 0))")
      .as("PolicyExpiryDate"),
    $"id".cast("double").as("Amount"))

  /** One compaction of a fragmented base with call `k` failing (0:
    * none), then a fault-free one. Returns the faulted run's count of
    * mutating calls. */
  private def compaction(k: Int): Int = {
    val root = tempDir("compact-sweep").toFile.getAbsolutePath
    Merge.writePartitioned(fragmented, s"$root/base", conf.dateCol)
    FaultFs.arm(k)
    val (calls, failed) = try {
      try Merge.compactPartitions(spark, s"faultfs:$root/base")
      catch { case _: Exception if k > 0 => () } // the fault fails the compaction
      (FaultFs.calls, FaultFs.failed)
    } finally FaultFs.arm(0)
    val at = s"k=$k (${failed.getOrElse("no call failed")})"
    Merge.compactPartitions(spark, s"faultfs:$root/base")
    val names = new File(s"$root/base").list().toSeq
    assert(!names.contains(".merge-tmp"), s"$at: $names")
    assert(!names.exists(_.startsWith(".compact-bak-")), s"$at: $names")
    Seq("2020-01", "2020-02").foreach { m =>
      val files = new File(s"$root/base/pmonth=$m").list().count(_.endsWith(".parquet"))
      assert(files <= 8, s"$at: pmonth=$m holds $files files")
    }
    assert(table(spark.read.parquet(s"$root/base")) === table(fragmented), at)
    calls
  }

  test("fault sweep, compaction: a failed call at any step converges on re-run") {
    // the two months' writes race to create `.merge-tmp` (a recursive
    // mkdirs creates a missing parent), so a run may make one call more
    val ns = Seq(compaction(0), compaction(0), compaction(0))
    info(s"N = ${ns.mkString(", ")} mutating calls in three fault-free compactions")
    assert(ns.min > 0)
    assert(ns.max - ns.min <= 1, "the count of a fault-free run repeats, but for the race")
    (1 to ns.max).foreach(compaction)
  }
}

/** The local filesystem under its own `faultfs:` scheme, for fault
  * injection. It keeps HDFS's rename contract (a missing source is
  * reported as `false`, not thrown), counts its mutating calls (create,
  * rename, delete, mkdirs), throws an `IOException` on the one that
  * [[FaultFs.arm]] names, and hands each call to [[FaultFs.before]]
  * first. */
class FaultFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faultfs:///")

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFs.tick(s"create $f")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFs.tick(s"create $f")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    FaultFs.tick(s"create $f")
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.tick(s"rename $src")
    exists(src) && super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultFs.tick(s"delete $f")
    super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = {
    FaultFs.tick(s"mkdirs $f")
    super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FaultFs.tick(s"mkdirs $f")
    super.mkdirs(f, permission)
  }
}

object FaultFs {
  private val count = new AtomicInteger
  @volatile private var failAt = 0
  @volatile private var failedCall: Option[String] = None

  /** Runs before every mutating call, given its description (`create
    * <path>`, `rename <src>`, …): a spec gates or fails calls by path
    * with it. Reset it when done. */
  @volatile var before: String => Unit = _ => ()

  /** Reset the count; the `k`-th mutating call from now on throws
    * (0: none does). */
  def arm(k: Int): Unit = { failAt = 0; count.set(0); failedCall = None; failAt = k }

  /** Mutating calls since the last [[arm]]. */
  def calls: Int = count.get

  /** The call the armed fault failed, once it has. */
  def failed: Option[String] = failedCall

  private[graft] def tick(what: String): Unit = {
    before(what)
    if (count.incrementAndGet() == failAt) {
      failedCall = Some(what)
      throw new IOException(s"injected fault at mutating call $failAt: $what")
    }
  }
}
