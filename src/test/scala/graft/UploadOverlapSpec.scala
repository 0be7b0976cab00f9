package graft

import java.io.{File, IOException}
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.config.PipelineConf
import graft.merge.Merge
import graft.schema.SchemaLoader.FieldSpec
import graft.streaming.StreamPipeline
import graft.streaming.StreamPipeline.StreamDirs

/** The three writes of one upload — the cleaned CSV, staging and the
  * merge — run at once, and a failed one fails the batch before its
  * offset commits: the restart replays it, and nothing is dead-lettered.
  * Every dir but the checkpoint lives on [[FaultFs]], whose
  * [[FaultFs.before]] hook gates or fails the writes by path. */
class UploadOverlapSpec extends SparkSpec {
  import spark.implicits._

  private val fields = Seq(
    FieldSpec("PolicyNumber", "STRING", "NULLABLE"),
    FieldSpec("PolicyExpiryDate", "DATE", "NULLABLE"),
    FieldSpec("Amount", "FLOAT", "NULLABLE"))

  private val conf = PipelineConf(
    name = "RenewalList.CSV", jsonfile = "", dateCol = "PolicyExpiryDate",
    convertFuncs = Map.empty, tableNew = "", tableOld = "", uri1 = None, uri2 = None)

  spark.sparkContext.hadoopConfiguration
    .set("fs.faultfs.impl", classOf[FaultFs].getName)

  private def rows(rs: (String, String, Double)*): DataFrame =
    rs.toDF("PolicyNumber", "PolicyExpiryDate", "Amount")
      .withColumn("PolicyExpiryDate", to_date($"PolicyExpiryDate"))

  private val seed = rows(("P1", "2020-01-05", 1.0), ("P2", "2020-02-01", 2.0),
    ("P3", "2020-02-20", 3.0))

  /** A seeded base of either layout and its dirs, all on `faultfs:`. */
  private def setup(prefix: String, partitioned: Boolean): (String, StreamDirs) = {
    val root = tempDir(prefix).toFile.getAbsolutePath
    if (partitioned) Merge.writePartitioned(seed, s"$root/base", conf.dateCol)
    else seed.write.parquet(s"$root/base")
    new File(s"$root/upload").mkdirs()
    (root, StreamDirs(s"faultfs:$root/upload", s"faultfs:$root/base",
      s"faultfs:$root/error", s"faultfs:$root/notify", s"$root/ckpt",
      partitionedBase = partitioned))
  }

  private def upload(root: String, name: String, rows: String*): Unit =
    Files.write(new File(s"$root/upload", name).toPath,
      ("PolicyNumber,PolicyExpiryDate,Amount\n" + rows.mkString("\n")).getBytes("UTF-8"))

  private def run(dirs: StreamDirs): Unit =
    StreamPipeline.run(spark, fields, conf, dirs).awaitTermination(120000)

  private def list(dir: String): Set[String] =
    Option(new File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  private def messages(root: String): Set[String] = list(s"$root/notify").filter(_.endsWith(".msg"))

  private def baseRows(root: String): Set[(String, Double)] =
    spark.read.parquet(s"$root/base").collect()
      .map(r => r.getAs[String]("PolicyNumber") -> r.getAs[Double]("Amount")).toSet

  test("an upload's cleaned CSV and staging writes run at once") {
    val (root, dirs) = setup("overlap", partitioned = true)
    upload(root, "u0.csv", "P4,2020-02-15,4.0", "P5,2020-03-01,5.0")
    // each write's first file create waits, up to 30 s, until the other
    // write has created its first file too: serial writes time out, and
    // the failed batch stops the query. Only two writes are gated, so
    // the two task slots of the test session cannot starve.
    val targets = Seq(s"$root/base_cleaned/", s"$root/base_update.tmp/")
    val gate = new CountDownLatch(2)
    val passed = ConcurrentHashMap.newKeySet[String]()
    FaultFs.before = what => targets
      .find(t => what.startsWith("create ") && what.contains(t) && passed.add(t))
      .foreach { t =>
        gate.countDown()
        if (!gate.await(30, TimeUnit.SECONDS))
          throw new IOException(s"$t: the other write never started")
      }
    try run(dirs) finally FaultFs.before = _ => ()
    assert(list(s"$root/error").isEmpty, "the upload was dead-lettered")
    assert(messages(root) === Set("batch-0.msg"))
    assert(baseRows(root) === Set("P1" -> 1.0, "P2" -> 2.0, "P4" -> 4.0, "P5" -> 5.0))
    assert(passed.size === 2)
  }

  for {
    partitioned <- Seq(false, true)
    (write, target) <- Seq("staging" -> "base_update.tmp/", "CSV" -> "base_cleaned/")
  } {
    val layout = if (partitioned) "partitioned" else "whole-table"
    test(s"$layout base: a failed $write write is retried by the restart") {
      val (root, dirs) = setup(s"load-fails-$layout", partitioned)
      upload(root, "u0.csv", "P4,2020-02-15,4.0", "P5,2020-03-01,5.0")
      // the write fails by path, so the merge, running beside it, may
      // publish: the replay re-derives the same base
      FaultFs.before = what =>
        if (what.startsWith("create ") && what.contains(s"$root/$target"))
          throw new IOException(s"$write refused: $what")
      try intercept[StreamingQueryException](run(dirs))
      finally FaultFs.before = _ => ()
      assert(list(s"$root/upload") === Set("u0.csv"))
      assert(list(s"$root/error").isEmpty, "the upload was dead-lettered")
      assert(messages(root).isEmpty)

      run(dirs)
      val want = Merge.merge(seed, rows(("P4", "2020-02-15", 4.0), ("P5", "2020-03-01", 5.0)),
        conf.dateCol).collect().map(r => r.getString(0) -> r.getDouble(2)).toSet
      assert(baseRows(root) === want)
      assert(messages(root) === Set("batch-0.msg"))
      assert(!new File(s"$root/base/.merge-tmp").exists())
      assert(!new File(s"$root/base.tmp").exists())
    }
  }
}
