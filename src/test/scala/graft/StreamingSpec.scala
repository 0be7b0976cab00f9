package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.config.PipelineConf
import graft.schema.SchemaLoader.FieldSpec
import graft.streaming.StreamPipeline
import graft.streaming.StreamPipeline.StreamDirs

/** End-to-end streaming pipeline: file arrival -> clean -> merge -> notify,
  * with a poisoned file landing in the dead-letter dir (ST1/ST3/ST4/ST5/ST6). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val fields = Seq(
    FieldSpec("PolicyNumber", "STRING", "NULLABLE"),
    FieldSpec("PolicyExpiryDate", "DATE", "NULLABLE"),
    FieldSpec("Amount", "FLOAT", "NULLABLE"))

  private val conf = PipelineConf(
    name = "RenewalList.CSV", jsonfile = "", dateCol = "PolicyExpiryDate",
    convertFuncs = Map("PolicyNumber" -> "strip_excel"),
    tableNew = "", tableOld = "", uri1 = None, uri2 = None)

  private def baseDf(rows: (String, String, Double)*) =
    rows.toDF("PolicyNumber", "PolicyExpiryDate", "Amount")
      .withColumn("PolicyExpiryDate", to_date($"PolicyExpiryDate"))

  test("e2e: good file merges (staging wins overlap), bad file dead-letters, notify emitted") {
    val root = tempDir("stream-spec").toFile.getAbsolutePath
    val dirs = StreamDirs(
      uploadDir = s"$root/upload", basePath = s"$root/base",
      errorDir = s"$root/error", notifyDir = s"$root/notify",
      checkpointDir = s"$root/ckpt")
    new java.io.File(dirs.uploadDir).mkdirs()

    // seed base table: one old row, one row inside the coming overlap
    baseDf(("P1", "2020-01-01", 10.0), ("P2", "2020-02-01", 20.0))
      .write.parquet(dirs.basePath)

    // good upload: corrects P2, adds P3 (cutoff = 2020-02-01)
    Files.write(new java.io.File(dirs.uploadDir, "RenewalList.CSV").toPath,
      ("PolicyNumber,PolicyExpiryDate,Amount\n" +
        "\"=\"\"P2\"\"\",2020-02-01,22.0\n" +
        "P3,2020-03-01,30.0\n").getBytes("UTF-8"))
    // poisoned upload: header mismatch -> every row cleans to null date
    Files.write(new java.io.File(dirs.uploadDir, "garbage.csv").toPath,
      "a,b,c\nx,y,z\n1,2,3\n".getBytes("UTF-8"))

    val q = StreamPipeline.run(spark, fields, conf, dirs)
    q.awaitTermination(120000)

    val base = spark.read.parquet(dirs.basePath)
      .collect()
      .map(r => (r.getAs[String]("PolicyNumber"),
        r.getAs[java.sql.Date]("PolicyExpiryDate").toString,
        r.getAs[Double]("Amount"))).toSet
    // P1 kept (pre-cutoff), P2 replaced by staging's 22.0, P3 appended;
    // strip_excel ran on the quoted ="P2" artifact
    assert(base === Set(
      ("P1", "2020-01-01", 10.0),
      ("P2", "2020-02-01", 22.0),
      ("P3", "2020-03-01", 30.0)))

    // ST5: poisoned file moved to the dead-letter dir, gone from upload
    val errFiles = new java.io.File(dirs.errorDir).list().toSeq
    assert(errFiles === Seq("garbage.csv"))
    assert(!new java.io.File(dirs.uploadDir, "garbage.csv").exists())
    assert(new java.io.File(dirs.uploadDir, "RenewalList.CSV").exists())

    // ST6: notification message present and base64-decodable (S10)
    val msgs = new java.io.File(dirs.notifyDir).list().toSeq.filter(_.endsWith(".msg"))
    assert(msgs.size === 1)
    val decoded = StreamPipeline.decodeMessage(
      spark.read.json(dirs.notifyDir)).select("payload").as[String].head()
    assert(decoded === "RenewalList.CSV")

    // ST6 decoupled hop: the second stage consumes the REAL message file
    // written above and fires from it alone
    val fired = new java.util.concurrent.CopyOnWriteArrayList[String]()
    StreamPipeline.runNotifyStage(spark, dirs.notifyDir, s"$root/nckpt") {
      name => fired.add(name)
    }.awaitTermination(120000)
    assert(fired.toArray.toSeq === Seq("RenewalList.CSV"))

    // S5: staging table_new persisted past the batch and queryable —
    // holds exactly the last GOOD batch (the poisoned batch never stages)
    val staging = spark.read.parquet(s"${dirs.basePath}_update")
      .collect()
      .map(r => (r.getAs[String]("PolicyNumber"),
        r.getAs[java.sql.Date]("PolicyExpiryDate").toString,
        r.getAs[Double]("Amount"))).toSet
    assert(staging === Set(("P2", "2020-02-01", 22.0), ("P3", "2020-03-01", 30.0)))

    // S4: durable cleaned CSV artifact in the cleaned "bucket"
    val cleanedBack = spark.read.option("header", true)
      .csv(s"${dirs.basePath}_cleaned/RenewalList.CSV")
    assert(cleanedBack.count() === 2)
    assert(cleanedBack.columns.toSeq ===
      Seq("PolicyNumber", "PolicyExpiryDate", "Amount"))
  }

  test("S5: updateTable retries a merge from the persisted staging table") {
    val root = tempDir("stream-spec3").toFile.getAbsolutePath
    val basePath = s"$root/base"
    val stagingPath = s"$root/base_update"
    baseDf(("P1", "2020-01-01", 1.0), ("P2", "2020-02-01", 2.0))
      .write.parquet(basePath)

    // load step committed staging (WRITE_TRUNCATE)
    graft.merge.Merge.overwriteAtomic(
      baseDf(("P2", "2020-02-01", 22.0)), stagingPath)

    def baseRows() = spark.read.parquet(basePath).collect()
      .map(r => (r.getAs[String]("PolicyNumber"), r.getAs[Double]("Amount")))
      .toSet

    // merge "fails" here — base untouched, staging survives and is queryable
    assert(spark.read.parquet(stagingPath).count() === 1)
    assert(baseRows() === Set(("P1", 1.0), ("P2", 2.0)))

    // retry the merge alone, from the persisted artifact
    graft.merge.Merge.updateTable(spark, basePath, spark.read.parquet(stagingPath), "PolicyExpiryDate")
    assert(baseRows() === Set(("P1", 1.0), ("P2", 22.0)))

    // retry again (double-delivery) — idempotent, staging still present
    graft.merge.Merge.updateTable(spark, basePath, spark.read.parquet(stagingPath), "PolicyExpiryDate")
    assert(baseRows() === Set(("P1", 1.0), ("P2", 22.0)))
    assert(spark.read.parquet(stagingPath).count() === 1)
  }

  test("per-batch checkpoints are released after every upload") {
    val root = tempDir("stream-release").toFile.getAbsolutePath
    val dirs = StreamDirs(
      uploadDir = s"$root/upload", basePath = s"$root/base",
      errorDir = s"$root/error", notifyDir = s"$root/notify",
      checkpointDir = s"$root/ckpt")
    new java.io.File(dirs.uploadDir).mkdirs()
    baseDf(("P1", "2020-01-01", 10.0)).write.parquet(dirs.basePath)
    (1 to 3).foreach { i =>
      Files.write(new java.io.File(dirs.uploadDir, s"upload-$i.csv").toPath,
        (s"PolicyNumber,PolicyExpiryDate,Amount\n" +
          s"P$i,2020-0${i + 1}-01,$i.0\n").getBytes("UTF-8"))
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet
    StreamPipeline.run(spark, fields, conf, dirs).awaitTermination(120000)
    assert(new java.io.File(dirs.notifyDir).list()
      .count(_.endsWith(".msg")) === 3) // every upload merged
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("deadLetter fails loudly when the file cannot be moved") {
    val root = tempDir("stream-dead").toFile.getAbsolutePath
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultFs].getName)
    // a source that no longer exists: rename reports false (HDFS's
    // contract, kept by FaultFs), and a silent skip would strand a
    // poisoned file behind a committed offset
    assertThrows[java.io.IOException] {
      StreamPipeline.deadLetter(spark, Seq(s"faultfs:$root/upload/gone.csv"),
        s"faultfs:$root/error")
    }
  }

  test("deadLetter moves a file whose name the stream URL-encodes") {
    val root = tempDir("stream-dead-enc").toFile
    val bad = new java.io.File(root, "bad upload%.csv")
    Files.write(bad.toPath, "a,b\n".getBytes("UTF-8"))
    // the stream hands deadLetter _metadata.file_path: "bad%20upload%25.csv"
    StreamPipeline.deadLetter(spark, Seq(bad.toURI.toString), s"$root/error")
    assert(!bad.exists())
    assert(new java.io.File(s"$root/error", bad.getName).exists())
  }

  test("ST6: notify stage is message-triggered and effectively-once") {
    val root = tempDir("stream-notify").toFile.getAbsolutePath
    val notifyDir = s"$root/notify"
    new java.io.File(notifyDir).mkdirs()
    // the message IS the trigger: no first stage runs in this test
    val payload = java.util.Base64.getEncoder
      .encodeToString("RenewalList.CSV".getBytes("UTF-8"))
    Files.write(new java.io.File(notifyDir, "batch-7.msg").toPath,
      s"""{"payload":"$payload"}""".getBytes("UTF-8"))

    val fired = new java.util.concurrent.CopyOnWriteArrayList[String]()
    StreamPipeline.runNotifyStage(spark, notifyDir, s"$root/nckpt") {
      name => fired.add(name)
    }.awaitTermination(120000)
    assert(fired.toArray.toSeq === Seq("RenewalList.CSV"))

    // restart with the same checkpoint: message already acked — no refire
    StreamPipeline.runNotifyStage(spark, notifyDir, s"$root/nckpt") {
      name => fired.add(name)
    }.awaitTermination(120000)
    assert(fired.size === 1)
  }

  test("partitioned base: streamed merge + in-pipeline compaction") {
    val root = tempDir("stream-part").toFile.getAbsolutePath
    val dirs = StreamDirs(s"$root/upload", s"$root/base", s"$root/error",
      s"$root/notify", s"$root/ckpt",
      partitionedBase = true, compactEveryBatches = 1)
    new java.io.File(dirs.uploadDir).mkdirs()
    // seed a deliberately fragmented January (12 files) + February
    val seed = baseDf((1 to 24).map(d => (f"P$d%02d", f"2020-01-$d%02d", d * 1.0)) :+
      (("PF", "2020-02-01", 99.0)): _*)
    seed.repartition(12).withColumn("pmonth",
        org.apache.spark.sql.functions.date_format($"PolicyExpiryDate", "yyyy-MM"))
      .write.partitionBy("pmonth").parquet(dirs.basePath)
    def janFiles() =
      new java.io.File(s"${dirs.basePath}/pmonth=2020-01").listFiles()
        .count(_.getName.endsWith(".parquet"))
    assert(janFiles() > 8)

    // upload cuts into February: staging wins the overlap
    Files.write(new java.io.File(dirs.uploadDir, "RenewalList.CSV").toPath,
      ("PolicyNumber,PolicyExpiryDate,Amount\n" +
        "PF,2020-02-01,42.0\nPG,2020-03-01,7.0\n").getBytes("UTF-8"))
    StreamPipeline.run(spark, fields, conf, dirs).awaitTermination(120000)

    val base = spark.read.parquet(dirs.basePath).drop("pmonth")
      .collect().map(r => (r.getAs[String]("PolicyNumber"),
        r.getAs[Double]("Amount"))).toSet
    assert(base.contains("PF" -> 42.0) && base.contains("PG" -> 7.0))
    assert(base.size === 26) // 24 January + replaced PF + new PG
    // compaction ran inside the pipeline: January defragmented
    assert(janFiles() <= 8)
  }

  test("multiLine: quoted embedded newlines survive the stream (allow_quoted_newlines)") {
    val root = tempDir("stream-multiline").toFile.getAbsolutePath
    val dirs = StreamDirs(s"$root/upload", s"$root/base", s"$root/error",
      s"$root/notify", s"$root/ckpt")
    new java.io.File(dirs.uploadDir).mkdirs()
    baseDf(("P1", "2020-01-01", 1.0)).write.parquet(dirs.basePath)
    Files.write(new java.io.File(dirs.uploadDir, "u.csv").toPath,
      "PolicyNumber,PolicyExpiryDate,Amount\n\"P0\n01\",2020-02-01,2.0\n"
        .getBytes("UTF-8"))
    StreamPipeline.run(spark, fields, conf, dirs).awaitTermination(120000)
    val base = spark.read.parquet(dirs.basePath).collect()
      .map(r => r.getAs[String]("PolicyNumber") -> r.getAs[Double]("Amount")).toSet
    assert(base === Set("P1" -> 1.0, "P0\n01" -> 2.0))
  }

  test("partitioned base: the first upload creates a missing base") {
    // both layouts: the partitioned base and the whole-table one
    Seq(true, false).foreach { partitioned =>
      val root = tempDir("stream-first").toFile.getAbsolutePath
      val dirs = StreamDirs(s"$root/upload", s"$root/base", s"$root/error",
        s"$root/notify", s"$root/ckpt", partitionedBase = partitioned)
      new java.io.File(dirs.uploadDir).mkdirs()
      Files.write(new java.io.File(dirs.uploadDir, "u.csv").toPath,
        ("PolicyNumber,PolicyExpiryDate,Amount\n" +
          "P1,2020-01-05,1.0\nP2,2020-02-01,2.0\n").getBytes("UTF-8"))
      StreamPipeline.run(spark, fields, conf, dirs).awaitTermination(120000)
      val rows = spark.read.parquet(dirs.basePath).collect()
      if (partitioned)
        assert(rows.map(r => (r.getAs[String]("PolicyNumber"),
          r.getAs[String]("pmonth"))).toSet === Set("P1" -> "2020-01", "P2" -> "2020-02"))
      else
        assert(rows.map(r => (r.getAs[String]("PolicyNumber"),
          r.getAs[java.sql.Date]("PolicyExpiryDate").toString)).toSet ===
          Set("P1" -> "2020-01-05", "P2" -> "2020-02-01"))
      assert(new java.io.File(dirs.notifyDir).list()
        .count(_.endsWith(".msg")) === 1) // the merge did not fail
    }
  }

  test("ST6: a corrupt message never reaches onMessage; notify leaves no temp file") {
    val root = tempDir("stream-corrupt").toFile.getAbsolutePath
    val dirs = StreamDirs(s"$root/upload", s"$root/base", s"$root/error",
      s"$root/notify", s"$root/ckpt")
    new java.io.File(dirs.uploadDir).mkdirs()
    baseDf(("P1", "2020-01-01", 1.0)).write.parquet(dirs.basePath)
    Files.write(new java.io.File(dirs.uploadDir, "u.csv").toPath,
      "PolicyNumber,PolicyExpiryDate,Amount\nP2,2020-02-01,2.0\n".getBytes("UTF-8"))
    StreamPipeline.run(spark, fields, conf, dirs).awaitTermination(120000)
    assert(new java.io.File(dirs.notifyDir).list().toSeq
      .filterNot(_.endsWith(".crc")) === Seq("batch-0.msg"))
    // a message caught half-written: no payload field to decode
    Files.write(new java.io.File(dirs.notifyDir, "batch-9.msg").toPath,
      "{\"payl".getBytes("UTF-8"))
    val fired = new java.util.concurrent.CopyOnWriteArrayList[String]()
    StreamPipeline.runNotifyStage(spark, dirs.notifyDir, s"$root/nckpt") {
      name => fired.add(name)
    }.awaitTermination(120000)
    assert(fired.toArray.toSeq === Seq("RenewalList.CSV"))
  }

  test("ST5: a batch whose one pass throws is still dead-lettered") {
    val root = tempDir("stream-pass-fails").toFile.getAbsolutePath
    val dirs = StreamDirs(s"$root/upload", s"$root/base", s"$root/error",
      s"$root/notify", s"$root/ckpt", partitionedBase = true)
    new java.io.File(dirs.uploadDir).mkdirs()
    Files.write(new java.io.File(dirs.uploadDir, "u.csv").toPath,
      "PolicyNumber,PolicyExpiryDate,Amount\nP1,2020-01-05,1.0\n".getBytes("UTF-8"))
    // the clean step throws, so the pass yields no file list
    val broken = conf.copy(convertFuncs = Map("PolicyNumber" -> "no_such_converter"))
    StreamPipeline.run(spark, fields, broken, dirs).awaitTermination(120000)
    assert(new java.io.File(dirs.errorDir).list().toSeq === Seq("u.csv"))
    assert(!new java.io.File(dirs.basePath).exists())
  }

  /** Spark jobs started while `body` runs. The listener bus is
    * asynchronous but ordered: a marker job run after `body` arrives
    * after every job `body` started. */
  private def sparkJobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.marker"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .getOrElse(""))
    }
    def jobsBefore(marker: String): Int = {
      sc.setLocalProperty(key, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      Iterator.continually(Option(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
          .getOrElse(fail(s"marker job $marker never seen")))
        .takeWhile(_ != marker).size
    }
    sc.addSparkListener(listener)
    try { jobsBefore("before"); body; jobsBefore("after") }
    finally sc.removeSparkListener(listener)
  }

  test("one good upload into a partitioned base reads it in one pass: 4 Spark jobs") {
    val root = tempDir("stream-jobs").toFile.getAbsolutePath
    val dirs = StreamDirs(s"$root/upload", s"$root/base", s"$root/error",
      s"$root/notify", s"$root/ckpt", partitionedBase = true)
    new java.io.File(dirs.uploadDir).mkdirs()
    graft.merge.Merge.writePartitioned(baseDf(("P1", "2020-01-01", 1.0),
      ("P2", "2020-02-01", 2.0), ("P3", "2020-03-01", 3.0)), dirs.basePath,
      conf.dateCol)
    Files.write(new java.io.File(dirs.uploadDir, "u.csv").toPath,
      ("PolicyNumber,PolicyExpiryDate,Amount\n" +
        "P4,2020-02-15,4.0\nP5,2020-02-20,5.0\nbad,not-a-date,0.0\n").getBytes("UTF-8"))
    // the parse that checkpoints the batch and yields its statistics,
    // the cleaned CSV, the staging table, and the partitioned write into
    // `.merge-tmp`, which reads the cutoff month's surviving base rows
    val jobs = sparkJobs {
      StreamPipeline.run(spark, fields, conf, dirs).awaitTermination(120000)
    }
    val base = spark.read.parquet(dirs.basePath).collect()
      .map(r => r.getAs[String]("PolicyNumber")).toSet
    assert(base === Set("P1", "P2", "P4", "P5")) // February cut at the 15th
    assert(jobs <= 4, s"$jobs Spark jobs for one upload")
  }

  test("one good upload into an unpartitioned base: no cutoff or inference job, 6 Spark jobs") {
    val root = tempDir("stream-jobs-whole").toFile.getAbsolutePath
    val dirs = StreamDirs(s"$root/upload", s"$root/base", s"$root/error",
      s"$root/notify", s"$root/ckpt")
    new java.io.File(dirs.uploadDir).mkdirs()
    baseDf(("P1", "2020-01-01", 1.0), ("P2", "2020-02-01", 2.0),
      ("P3", "2020-03-01", 3.0)).write.parquet(dirs.basePath)
    Files.write(new java.io.File(dirs.uploadDir, "u.csv").toPath,
      ("PolicyNumber,PolicyExpiryDate,Amount\n" +
        "P4,2020-02-15,4.0\nP5,2020-02-20,5.0\nbad,not-a-date,0.0\n").getBytes("UTF-8"))
    // the parse that checkpoints the batch and yields its statistics,
    // the cleaned CSV, the staging table, then the ordered rewrite: two
    // range-boundary sampling jobs and the write
    val jobs = sparkJobs {
      StreamPipeline.run(spark, fields, conf, dirs).awaitTermination(120000)
    }
    val base = spark.read.parquet(dirs.basePath).collect()
      .map(r => r.getAs[String]("PolicyNumber")).toSet
    assert(base === Set("P1", "P2", "P4", "P5")) // cut at February 15th
    assert(jobs <= 6, s"$jobs Spark jobs for one upload")
  }

  test("ST3: restart with same checkpoint reprocesses nothing") {
    val root = tempDir("stream-spec2").toFile.getAbsolutePath
    val dirs = StreamDirs(s"$root/upload", s"$root/base", s"$root/error",
      s"$root/notify", s"$root/ckpt")
    new java.io.File(dirs.uploadDir).mkdirs()
    baseDf(("P1", "2020-01-01", 1.0)).write.parquet(dirs.basePath)
    Files.write(new java.io.File(dirs.uploadDir, "u1.csv").toPath,
      "PolicyNumber,PolicyExpiryDate,Amount\nP9,2020-09-01,9.0\n".getBytes("UTF-8"))

    StreamPipeline.run(spark, fields, conf, dirs).awaitTermination(120000)
    val after1 = spark.read.parquet(dirs.basePath).count()
    // second run, same checkpoint, no new files -> no new batches
    StreamPipeline.run(spark, fields, conf, dirs).awaitTermination(120000)
    val after2 = spark.read.parquet(dirs.basePath).count()
    assert(after1 === 2 && after2 === 2)
    assert(new java.io.File(dirs.notifyDir).list()
      .count(_.endsWith(".msg")) === 1)
  }

  private def messages(dirs: StreamDirs): Seq[String] =
    Option(new java.io.File(dirs.notifyDir).list()).map(_.toSeq).getOrElse(Nil)
      .filter(_.endsWith(".msg")).sorted

  private def stagedRows(dirs: StreamDirs) =
    spark.read.parquet(s"${dirs.basePath}_update").collect()
      .map(r => r.getAs[String]("PolicyNumber") -> r.getAs[Double]("Amount")).toSet

  test("ST5: a replayed batch with no dated row never stages, merges or notifies") {
    val root = tempDir("stream-replay-empty").toFile.getAbsolutePath
    val dirs = StreamDirs(s"$root/upload", s"$root/base", s"$root/error",
      s"$root/notify", s"$root/ckpt")
    new java.io.File(dirs.uploadDir).mkdirs()
    baseDf(("P1", "2020-01-01", 1.0)).write.parquet(dirs.basePath)
    val good = new java.io.File(dirs.uploadDir, "u0.csv")
    Files.write(good.toPath,
      "PolicyNumber,PolicyExpiryDate,Amount\nP2,2020-02-01,2.0\n".getBytes("UTF-8"))
    val poisoned = new java.io.File(dirs.uploadDir, "u1.csv")
    Files.write(poisoned.toPath, "a,b,c\nx,y,z\n".getBytes("UTF-8"))
    poisoned.setLastModified(good.lastModified() + 1000) // batch 1
    StreamPipeline.run(spark, fields, conf, dirs).awaitTermination(120000)
    assert(messages(dirs) === Seq("batch-0.msg"))
    // a crash after the dead-letter's move, before batch 1's offset
    // commits: the restart replays batch 1, whose file is gone
    Seq("1", ".1.crc").foreach(f => new java.io.File(s"${dirs.checkpointDir}/commits", f).delete())
    StreamPipeline.run(spark, fields, conf, dirs).awaitTermination(120000)
    assert(messages(dirs) === Seq("batch-0.msg"))
    assert(stagedRows(dirs) === Set("P2" -> 2.0)) // still the good batch
    assert(new java.io.File(dirs.errorDir).list().toSeq === Seq("u1.csv"))
    assert(spark.read.parquet(dirs.basePath).count() === 2)
  }

  test("ST5: a failed merge fails its batch before the offset commits; the restart retries it") {
    val root = tempDir("stream-merge-fails").toFile.getAbsolutePath
    val dirs = StreamDirs(s"$root/upload", s"$root/base", s"$root/error",
      s"$root/notify", s"$root/ckpt", partitionedBase = true)
    new java.io.File(dirs.uploadDir).mkdirs()
    val seed = baseDf(("P1", "2020-01-01", 1.0), ("P2", "2020-02-01", 2.0))
    // the base's columns differ from the upload's: the merge throws
    graft.merge.Merge.writePartitioned(seed.withColumn("extra", lit(1)),
      dirs.basePath, conf.dateCol)
    Files.write(new java.io.File(dirs.uploadDir, "u.csv").toPath,
      "PolicyNumber,PolicyExpiryDate,Amount\nP2,2020-02-01,22.0\n".getBytes("UTF-8"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamPipeline.run(spark, fields, conf, dirs).awaitTermination(120000)
    }
    assert(new java.io.File(dirs.uploadDir, "u.csv").exists())
    assert(!new java.io.File(dirs.errorDir, "u.csv").exists())
    assert(messages(dirs).isEmpty)
    assert(stagedRows(dirs) === Set("P2" -> 22.0))

    // the operator repairs the base; the restart replays the batch
    def baseRows() = spark.read.parquet(dirs.basePath).collect()
      .map(r => r.getAs[String]("PolicyNumber") -> r.getAs[Double]("Amount")).toSet
    graft.merge.Merge.writePartitioned(seed, dirs.basePath, conf.dateCol)
    StreamPipeline.run(spark, fields, conf, dirs).awaitTermination(120000)
    assert(baseRows() === Set("P1" -> 1.0, "P2" -> 22.0))
    assert(messages(dirs) === Seq("batch-0.msg"))
    // the batch is committed now: a second restart changes nothing
    StreamPipeline.run(spark, fields, conf, dirs).awaitTermination(120000)
    assert(baseRows() === Set("P1" -> 1.0, "P2" -> 22.0))
    assert(messages(dirs) === Seq("batch-0.msg"))
  }
}
