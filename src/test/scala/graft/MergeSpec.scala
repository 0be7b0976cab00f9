package graft

import java.nio.file.Files
import org.scalacheck.Gen
import graft.merge.Merge

class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: Seq[(String, Int)]) =
    rows.toDF("d", "v").withColumn("d",
      org.apache.spark.sql.functions.to_date($"d"))

  test("A2/ST4: overlap rows are REPLACED by staging, disjoint base kept") {
    val base = df(Seq("2020-01-01" -> 1, "2020-02-01" -> 2, "2020-03-01" -> 3))
    val staging = df(Seq("2020-02-01" -> 20, "2020-04-01" -> 40))
    val out = Merge.merge(base, staging, "d")
      .collect().map(r => r.getDate(0).toString -> r.getInt(1)).toSeq
    // cutoff = 2020-02-01: base keeps only January; staging wins overlap
    assert(out === Seq("2020-01-01" -> 1, "2020-02-01" -> 20, "2020-04-01" -> 40))
  }

  test("A2: empty staging leaves base unchanged") {
    val base = df(Seq("2020-01-01" -> 1))
    val out = Merge.merge(base, base.filter($"v" > 99), "d")
    assert(out.collect().map(_.getInt(1)).toSeq === Seq(1))
  }

  test("property: merge is idempotent — merge(merge(b,s),s) == merge(b,s)") {
    val day = Gen.chooseNum(1, 28)
    val rows = Gen.listOfN(12, Gen.zip(day, Gen.chooseNum(0, 100)))
      .map(_.map { case (d, v) => (f"2020-01-$d%02d", v) })
    forAllSamples(Gen.zip(rows, rows), 20) { case (b, s) =>
      if (s.nonEmpty) {
        val once = Merge.merge(df(b), df(s), "d")
        val twice = Merge.merge(once, df(s), "d")
        val key = (r: org.apache.spark.sql.Row) =>
          (r.getDate(0).toString, r.getInt(1))
        assert(twice.collect().map(key).sorted.toSeq ===
          once.collect().map(key).sorted.toSeq)
      }
    }
  }

  test("S7: updateTable rewrites its own input atomically, keeps .bak") {
    val dir = tempDir("merge-spec").toFile.getAbsolutePath
    val basePath = s"$dir/base"
    df(Seq("2020-01-01" -> 1, "2020-02-01" -> 2)).write.parquet(basePath)
    val staging = df(Seq("2020-02-01" -> 22))
    Merge.updateTable(spark, basePath, staging, "d")
    val out = spark.read.parquet(basePath)
      .collect().map(r => r.getDate(0).toString -> r.getInt(1)).toSeq.sorted
    assert(out === Seq("2020-01-01" -> 1, "2020-02-01" -> 22))
    // previous generation preserved for rollback
    assert(new java.io.File(s"$basePath.bak").exists())
    // second update over the rewritten base still works (no stale handles)
    Merge.updateTable(spark, basePath, df(Seq("2020-01-15" -> 9)), "d")
    val out2 = spark.read.parquet(basePath)
      .collect().map(r => r.getDate(0).toString -> r.getInt(1)).toSeq.sorted
    assert(out2 === Seq("2020-01-01" -> 1, "2020-01-15" -> 9))
  }

  test("partitioned merge: same semantics as merge(), old partitions untouched") {
    val dir = tempDir("merge-part").toFile.getAbsolutePath
    val basePath = s"$dir/base"
    val base = df(Seq(
      "2020-01-01" -> 1, "2020-01-20" -> 2,
      "2020-02-01" -> 3, "2020-02-10" -> 4,
      "2020-03-01" -> 5))
    Merge.writePartitioned(base, basePath, "d")

    def partFiles(month: String) = {
      val d = new java.io.File(s"$basePath/pmonth=$month")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toSeq.sorted
    }
    val janBefore = partFiles("2020-01")

    // staging cuts into February: cutoff = 2020-02-05
    val staging = df(Seq("2020-02-05" -> 40, "2020-03-15" -> 50))
    Merge.updateTablePartitioned(spark, basePath, staging, "d")

    // semantics == the unpartitioned merge
    val got = spark.read.parquet(basePath).drop("pmonth")
      .collect().map(r => r.getDate(0).toString -> r.getInt(1)).toSeq.sorted
    val want = Merge.merge(base, staging, "d")
      .collect().map(r => r.getDate(0).toString -> r.getInt(1)).toSeq.sorted
    assert(got === want)
    assert(got === Seq("2020-01-01" -> 1, "2020-01-20" -> 2,
      "2020-02-01" -> 3, "2020-02-05" -> 40, "2020-03-15" -> 50))

    // January's partition files were not rewritten (same names + mtimes)
    assert(partFiles("2020-01") === janBefore)
  }

  test("partitioned merge deletes overlap partitions staging does not cover") {
    val dir = tempDir("merge-part-stale").toFile.getAbsolutePath
    val basePath = s"$dir/base"
    // March is entirely on/after the cutoff and staging delivers no March
    // rows: dynamic overwrite alone would leave pmonth=2020-03 untouched
    // and its rows would wrongly survive.
    val base = df(Seq(
      "2020-01-01" -> 1, "2020-02-01" -> 3, "2020-02-10" -> 4,
      "2020-03-01" -> 5, "2020-03-20" -> 6))
    Merge.writePartitioned(base, basePath, "d")
    val staging = df(Seq("2020-02-05" -> 40))
    Merge.updateTablePartitioned(spark, basePath, staging, "d")
    val got = spark.read.parquet(basePath).drop("pmonth")
      .collect().map(r => r.getDate(0).toString -> r.getInt(1)).toSeq.sorted
    val want = Merge.merge(base, staging, "d")
      .collect().map(r => r.getDate(0).toString -> r.getInt(1)).toSeq.sorted
    assert(got === want)
    assert(got === Seq("2020-01-01" -> 1, "2020-02-01" -> 3, "2020-02-05" -> 40))
    assert(!new java.io.File(s"$basePath/pmonth=2020-03").exists())
  }

  test("compaction: fragmented partitions rewritten, healthy ones untouched, rows identical") {
    val dir = tempDir("merge-compact").toFile.getAbsolutePath
    val basePath = s"$dir/base"
    // January fragmented into many files; February written compact
    val jan = (1 to 24).map(d => (f"2020-01-$d%02d", d))
    val feb = Seq("2020-02-01" -> 100)
    df(jan).repartition(12)
      .withColumn("pmonth",
        org.apache.spark.sql.functions.date_format(
          org.apache.spark.sql.functions.col("d"), "yyyy-MM"))
      .write.partitionBy("pmonth").parquet(basePath)
    df(feb).coalesce(1)
      .withColumn("pmonth",
        org.apache.spark.sql.functions.date_format(
          org.apache.spark.sql.functions.col("d"), "yyyy-MM"))
      .write.mode("append").partitionBy("pmonth").parquet(basePath)

    def files(month: String) =
      new java.io.File(s"$basePath/pmonth=$month").listFiles()
        .filter(_.getName.endsWith(".parquet"))
    val febBefore = files("2020-02").map(f => f.getName -> f.lastModified()).toSeq
    assert(files("2020-01").length > 4)

    val before = spark.read.parquet(basePath).drop("pmonth")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1))).toSeq.sorted

    val n = Merge.compactPartitions(spark, basePath, maxFiles = 4)
    assert(n === 1)
    assert(files("2020-01").length <= 4)
    // healthy partition untouched (same names + mtimes); no stray dirs
    assert(files("2020-02").map(f => f.getName -> f.lastModified()).toSeq === febBefore)
    assert(!new java.io.File(basePath).list().exists(_.contains("compact")))
    // data identical
    val after = spark.read.parquet(basePath).drop("pmonth")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1))).toSeq.sorted
    assert(after === before)
    // idempotent: second run finds nothing to do
    assert(Merge.compactPartitions(spark, basePath, maxFiles = 4) === 0)
    // a partition already AT its byte-sized target file count is skipped
    // even when that count exceeds maxFiles (no perpetual re-rewrite of
    // large healthy partitions): with targetBytes tiny, n >= current
    // files, so nothing is rewritten
    val febFiles = files("2020-02").map(f => f.getName -> f.lastModified()).toSeq
    assert(Merge.compactPartitions(spark, basePath,
      maxFiles = 0, targetBytes = 1L) === 0)
    assert(files("2020-02").map(f => f.getName -> f.lastModified()).toSeq === febFiles)
  }

  test("compaction recovery heals every crash point, loses no data") {
    val dir = tempDir("merge-recover").toFile.getAbsolutePath
    val basePath = s"$dir/base"
    val rows = (1 to 10).map(d => (f"2020-01-$d%02d", d))
    Merge.writePartitioned(df(rows), basePath, "d")
    def baseRows() = spark.read.parquet(basePath).drop("pmonth")
      .collect().map(r => r.getDate(0).toString -> r.getInt(1)).toSeq.sorted
    val want = baseRows()
    val live = new java.io.File(s"$basePath/pmonth=2020-01")
    val bak = new java.io.File(s"$basePath/.compact-bak-2020-01")
    val tmp = new java.io.File(s"$basePath/.merge-tmp/pmonth=2020-01")
    def heal(): Int = {
      val root = new org.apache.hadoop.fs.Path(basePath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Merge.heal(fs, root, "pmonth", Merge.childNames(fs, root))
    }

    // crash BETWEEN the renames: partition displaced to bak, tmp written
    // but unpublished — the month is invisible until recovery runs
    df(rows).coalesce(1).write.parquet(tmp.getAbsolutePath)
    assert(live.renameTo(bak))
    assert(!live.exists())
    assert(heal() === 1)
    assert(live.exists() && !bak.exists() && !tmp.exists())
    assert(baseRows() === want)

    // crash AFTER publish, before the backup delete: live present,
    // stale bak + tmp left behind — recovery just cleans them up
    df(rows).coalesce(1).write.parquet(bak.getAbsolutePath)
    df(rows).coalesce(1).write.parquet(tmp.getAbsolutePath)
    assert(heal() === 0)
    assert(live.exists() && !bak.exists() && !tmp.exists())
    assert(baseRows() === want)

    // compactPartitions self-heals: seed the dangerous state again and
    // call the compactor directly — it must restore, then compact as usual
    assert(live.renameTo(bak))
    Merge.compactPartitions(spark, basePath, maxFiles = 4)
    assert(live.exists() && !bak.exists())
    assert(baseRows() === want)
  }

  test("updateTable heals a rewrite that died between its renames") {
    val dir = tempDir("merge-heal").toFile.getAbsolutePath
    val basePath = s"$dir/base"
    df(Seq("2020-01-01" -> 1, "2020-02-01" -> 2)).write.parquet(basePath)
    // crash BETWEEN overwriteAtomic's renames: the base displaced to
    // .bak, a complete next generation left unpublished in .tmp
    df(Seq("2020-03-01" -> 3)).write.parquet(s"$basePath.tmp")
    assert(new java.io.File(basePath)
      .renameTo(new java.io.File(s"$basePath.bak")))
    Merge.updateTable(spark, basePath, df(Seq("2020-02-01" -> 22)), "d")
    val out = spark.read.parquet(basePath)
      .collect().map(r => r.getDate(0).toString -> r.getInt(1)).toSeq.sorted
    assert(out === Seq("2020-01-01" -> 1, "2020-02-01" -> 22))
    assert(!new java.io.File(s"$basePath.tmp").exists())
  }

  test("updateTable on a missing base creates it") {
    val dir = tempDir("merge-first").toFile.getAbsolutePath
    val basePath = s"$dir/base"
    Merge.updateTable(spark, basePath, df(Seq("2020-02-01" -> 2, "2020-01-01" -> 1)), "d")
    val out = spark.read.parquet(basePath)
      .collect().map(r => r.getDate(0).toString -> r.getInt(1)).toSeq
    assert(out === Seq("2020-01-01" -> 1, "2020-02-01" -> 2)) // ordered by date
  }

  test("updateTable merges into a base that is one parquet file") {
    val dir = tempDir("merge-file").toFile.getAbsolutePath
    df(Seq("2020-01-01" -> 1, "2020-02-01" -> 2)).coalesce(1).write.parquet(s"$dir/w")
    val part = new java.io.File(s"$dir/w").listFiles().find(_.getName.endsWith(".parquet")).get
    val basePath = s"$dir/base.parquet"
    assert(part.renameTo(new java.io.File(basePath)))
    Merge.updateTable(spark, basePath, df(Seq("2020-02-01" -> 22)), "d")
    val out = spark.read.parquet(basePath)
      .collect().map(r => r.getDate(0).toString -> r.getInt(1)).toSeq.sorted
    assert(out === Seq("2020-01-01" -> 1, "2020-02-01" -> 22))
  }

  test("partitioned merge heals a compaction that died between its renames") {
    val dir = tempDir("merge-heal-compact").toFile.getAbsolutePath
    val basePath = s"$dir/base"
    val rows = (1 to 10).map(d => (f"2020-01-$d%02d", d)) :+ ("2020-02-01" -> 99)
    Merge.writePartitioned(df(rows), basePath, "d")
    // crash between compaction's renames: January displaced to its
    // backup, a complete rewrite left unpublished
    df(rows.take(10)).coalesce(1).write.parquet(s"$basePath/.merge-tmp/pmonth=2020-01")
    assert(new java.io.File(s"$basePath/pmonth=2020-01")
      .renameTo(new java.io.File(s"$basePath/.compact-bak-2020-01")))
    // the cutoff (January 5th) falls inside the displaced month
    Merge.updateTablePartitioned(spark, basePath, df(Seq("2020-01-05" -> 50)), "d")
    val got = spark.read.parquet(basePath).drop("pmonth")
      .collect().map(r => r.getDate(0).toString -> r.getInt(1)).toSeq.sorted
    assert(got === (1 to 4).map(d => (f"2020-01-$d%02d", d)) :+ ("2020-01-05" -> 50))
    assert(!new java.io.File(basePath).list().exists(_.startsWith(".compact-")))
    assert(!new java.io.File(s"$basePath/.merge-tmp").exists())
  }

  test("a base whose columns differ from the batch's fails the merge, both layouts") {
    val dir = tempDir("merge-columns").toFile.getAbsolutePath
    val wide = df(Seq("2020-01-01" -> 1)).withColumn("extra", $"v" * 2)
    wide.write.parquet(s"$dir/whole")
    Merge.writePartitioned(wide, s"$dir/part", "d")
    val batch = df(Seq("2020-01-05" -> 5))
    intercept[org.apache.spark.sql.AnalysisException](
      Merge.updateTable(spark, s"$dir/whole", batch, "d"))
    intercept[org.apache.spark.sql.AnalysisException](
      Merge.updateTablePartitioned(spark, s"$dir/part", batch, "d"))
    // neither base was touched: the extra column is still there
    assert(spark.read.parquet(s"$dir/whole").columns.contains("extra"))
    assert(spark.read.parquet(s"$dir/part").columns.contains("extra"))
  }

  test("compacting one partition leaves other partitions' files untouched") {
    // the reader contract: compaction of A never touches B, so readers
    // of other partitions are safe while a partition is being swapped
    val dir = tempDir("merge-reader").toFile.getAbsolutePath
    val basePath = s"$dir/base"
    val fn = org.apache.spark.sql.functions
    df((1 to 24).map(d => (f"2020-01-$d%02d", d))).repartition(12)
      .withColumn("pmonth", fn.date_format(fn.col("d"), "yyyy-MM"))
      .write.partitionBy("pmonth").parquet(basePath)
    df(Seq("2020-02-01" -> 1, "2020-02-02" -> 2)).coalesce(1)
      .withColumn("pmonth", fn.date_format(fn.col("d"), "yyyy-MM"))
      .write.mode("append").partitionBy("pmonth").parquet(basePath)
    def feb() = new java.io.File(s"$basePath/pmonth=2020-02").listFiles()
      .map(f => f.getName -> f.lastModified()).toSeq.sorted
    val febBefore = feb()
    assert(Merge.compactPartitions(spark, basePath, maxFiles = 4) === 1)
    assert(feb() === febBefore)
  }

  test("property: partitioned merge over random batch sequences equals folded merge()") {
    // the disk-layout variant must be indistinguishable from the
    // in-memory semantics under ANY batch shape: random dates spanning
    // months, random overlap, empty batches, batches that wipe whole
    // months — the shapes that exercise dynamic overwrite, stale-month
    // deletion, and cutoff-month row splitting together
    val day = Gen.chooseNum(1, 28)
    val month = Gen.chooseNum(1, 4)
    val row = Gen.zip(month, day, Gen.chooseNum(0, 99))
      .map { case (m, d, v) => (f"2021-$m%02d-$d%02d", v) }
    // batch sizes 0..8: size-0 batches exercise the None-cutoff no-op
    // path of the partitioned merge, not just the overwrite machinery
    val batches = Gen.listOfN(3,
      Gen.chooseNum(0, 8).flatMap(n => Gen.listOfN(n, row)))
    val initial = Gen.nonEmptyListOf(row).map(_.take(12))
    forAllSamples(Gen.zip(initial, batches), 10) { case (init, bs) =>
      val dir = tempDir("merge-prop").toFile.getAbsolutePath
      val basePath = s"$dir/base"
      Merge.writePartitioned(df(init), basePath, "d")
      var expected = df(init)
      val releases = scala.collection.mutable.Buffer[() => Unit]()
      bs.foreach { b =>
        Merge.updateTablePartitioned(spark, basePath, df(b), "d")
        // fold eagerly (keeps plans small) via the RELEASABLE
        // checkpoint — raw Dataset.localCheckpoint blocks can't be
        // freed and would accumulate across the shared test JVM
        val (ck, rel) =
          graft.util.Checkpoints.checkpointTracked(
            Merge.merge(expected, df(b), "d"))
        expected = ck
        releases += rel
      }
      val got = spark.read.parquet(basePath).drop("pmonth")
        .collect().map(r => r.getDate(0).toString -> r.getInt(1))
        .toSeq.sorted
      val want = expected
        .collect().map(r => r.getDate(0).toString -> r.getInt(1))
        .toSeq.sorted
      releases.foreach(_())
      assert(got === want)
    }
  }

  test("partitioned merge from persisted staging is retryable and idempotent") {
    val dir = tempDir("merge-part-retry").toFile.getAbsolutePath
    val basePath = s"$dir/base"
    val stagingPath = s"$dir/base_update"
    Merge.writePartitioned(
      df(Seq("2020-01-01" -> 1, "2020-02-01" -> 2)), basePath, "d")
    Merge.overwriteAtomic(df(Seq("2020-02-01" -> 22)), stagingPath)

    def baseRows() = spark.read.parquet(basePath).drop("pmonth")
      .collect().map(r => r.getDate(0).toString -> r.getInt(1)).toSeq.sorted

    Merge.updateTablePartitioned(spark, basePath, spark.read.parquet(stagingPath), "d")
    assert(baseRows() === Seq("2020-01-01" -> 1, "2020-02-01" -> 22))
    // double delivery — idempotent
    Merge.updateTablePartitioned(spark, basePath, spark.read.parquet(stagingPath), "d")
    assert(baseRows() === Seq("2020-01-01" -> 1, "2020-02-01" -> 22))
  }

  test("streamed merge equals replaying updateFromStagingPartitioned from staging") {
    import org.apache.spark.sql.functions.{col, to_date}
    val dir = tempDir("merge-streamed").toFile.getAbsolutePath
    val dirs = graft.streaming.StreamPipeline.StreamDirs(s"$dir/upload",
      s"$dir/streamed", s"$dir/error", s"$dir/notify", s"$dir/ckpt",
      partitionedBase = true)
    val replayed = s"$dir/replayed"
    val fields = Seq(graft.schema.SchemaLoader.FieldSpec("d", "DATE", "NULLABLE"),
      graft.schema.SchemaLoader.FieldSpec("v", "INTEGER", "NULLABLE"))
    val conf = graft.config.PipelineConf(name = "t", jsonfile = "",
      dateCol = "d", convertFuncs = Map.empty, tableNew = "", tableOld = "",
      uri1 = None, uri2 = None)
    val base = Seq("2020-01-10" -> 1L, "2020-01-20" -> 2L, "2020-02-01" -> 3L,
      "2020-02-10" -> 4L, "2020-02-20" -> 5L, "2020-04-05" -> 6L,
      "2020-06-01" -> 7L).toDF("d", "v").withColumn("d", to_date(col("d")))
    Merge.writePartitioned(base, dirs.basePath, "d")
    Merge.writePartitioned(base, replayed, "d")
    new java.io.File(dirs.uploadDir).mkdirs()

    def table(path: String) = spark.read.parquet(path).collect()
      .map(r => (r.getAs[String]("pmonth"), r.getAs[java.sql.Date]("d").toString,
        r.getAs[Long]("v"))).toSeq.sorted
    def months(path: String) =
      new java.io.File(path).list().filter(_.startsWith("pmonth=")).toSeq.sorted
    Seq(
      // cut month in the base (June 1st survives), July new
      Seq("2020-06-15" -> 10, "2020-07-01" -> 11),
      // cut month absent; April, June and July lie after it and go
      Seq("2020-03-10" -> 12, "2020-03-20" -> 13),
      // cut month in the base (February 1st and 10th survive), March goes
      Seq("2020-02-15" -> 14)
    ).zipWithIndex.foreach { case (rows, i) =>
      Files.write(new java.io.File(dirs.uploadDir, s"u$i.csv").toPath,
        ("d,v\n" + rows.map { case (d, v) => s"$d,$v" }.mkString("\n"))
          .getBytes("UTF-8"))
      graft.streaming.StreamPipeline.run(spark, fields, conf, dirs)
        .awaitTermination(120000)
      assert(new java.io.File(dirs.notifyDir).list()
        .count(_.endsWith(".msg")) === i + 1) // merged, not merge-failed
      Merge.updateTablePartitioned(spark, replayed,
        spark.read.parquet(s"${dirs.basePath}_update"), "d")
      assert(table(dirs.basePath) === table(replayed))
      assert(months(dirs.basePath) === months(replayed))
    }
    assert(table(dirs.basePath).map(r => (r._2, r._3)) === Seq(
      "2020-01-10" -> 1L, "2020-01-20" -> 2L, "2020-02-01" -> 3L,
      "2020-02-10" -> 4L, "2020-02-15" -> 14L))
  }
}
