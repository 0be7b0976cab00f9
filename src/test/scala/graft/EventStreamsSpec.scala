package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Events
import graft.streaming.EventStreams

/** Streaming/batch agreement for the event analytics: the watermarked
  * streaming operators must produce exactly the batch answer on every
  * window/session the watermark has finalized. (Windows and sessions
  * still open when a bounded replay ends are unemitted by design —
  * append mode emits on watermark passage — so the comparison domain is
  * "finalized by the end-of-stream watermark".) */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def eventsDf = Tables(spark, dir, "events")

  /** Raw file schema as the engine's batch reader would scan it —
    * [[Tables]] sets the layout-tolerance confs (nanosAsLong, NTZ-off);
    * the ts normalization happens post-read via [[Tables.adaptEventsTs]],
    * exactly as in Tables.apply, whatever layout the testdata has. */
  private def rawSchema = {
    Tables(spark, dir, "events") // ensures layout confs are set
    spark.read.parquet(s"$dir/events.parquet").schema
  }

  /** FileStreamSource wants a directory; stage the parquet into one. */
  private def stageSourceDir(): String = {
    val d = tempDir("evt-src")
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("events.parquet"))
    d.toFile.getAbsolutePath
  }

  test("streaming windowed counts == batch on watermark-finalized windows") {
    val src = spark.readStream
      .schema(rawSchema)
      .parquet(stageSourceDir())
      .transform(Tables.adaptEventsTs)
    val out = tempDir("evt-win").toFile.getAbsolutePath
    val q = EventStreams.windowedCounts(src)
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("append")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table("win_counts")
      .select($"ws", $"event_type", $"n_events")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val batch = Events.qEventsWindow(spark, dir)
      .select($"ws", $"event_type", $"n_events")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet

    assert(streamed.nonEmpty)
    // every emitted window matches batch exactly
    assert(streamed.subsetOf(batch))
    // and everything older than maxTs - watermark(2h) - window(1h) was emitted
    val maxTs = eventsDf.agg(max($"ts")).as[java.sql.Timestamp].head()
    val cutoff = maxTs.getTime - (3L * 3600 * 1000)
    val mustEmit = batch.filter(_._1.getTime < cutoff)
    assert(mustEmit.subsetOf(streamed))
  }

  test("streaming dedup: a fully re-delivered file emits no duplicates") {
    // stage the SAME parquet twice — an exact at-least-once re-delivery
    val srcDir = tempDir("evt-dup")
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events_a.parquet"))
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events_b.parquet"))
    val src = spark.readStream
      .schema(rawSchema)
      .parquet(srcDir.toFile.getAbsolutePath)
      .transform(Tables.adaptEventsTs)
    val out = tempDir("evt-dup-out").toFile.getAbsolutePath
    val q = graft.streaming.EventStreams.dedupEvents(src)
      .writeStream.format("memory").queryName("dedup_events")
      .outputMode("append")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table("dedup_events")
    assert(streamed.count() === eventsDf.count())
    assert(streamed.select("event_id").distinct().count() === eventsDf.count())
  }

  test("stream-stream proximity join == batch range join (inner join: complete on bounded replay)") {
    def src() = spark.readStream
      .schema(rawSchema)
      .parquet(stageSourceDir())
      .transform(Tables.adaptEventsTs)
    val errors = src().filter($"event_type" === "error")
    val clicks = src().filter($"event_type" === "click")
      .withColumnRenamed("ts", "cts")
    val out = tempDir("evt-prox").toFile.getAbsolutePath
    val q = graft.streaming.EventStreams.proximityJoin(errors, clicks)
      .writeStream.format("memory").queryName("prox")
      .outputMode("append")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table("prox")
      .select($"user_id", $"event_id", $"click_id", $"dt_us")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = graft.operators.RangeJoin.qRangeJoin(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    // inner stream-stream joins emit matches as soon as both sides are
    // buffered — nothing waits on the watermark, so the bounded replay
    // must reproduce the batch answer EXACTLY
    assert(streamed === batch)
  }

  test("streaming funnel: completions == batch matches on the " +
    "watermark-finalized region; exact under cross-batch disorder") {
    import org.apache.spark.sql.Dataset
    import graft.operators.Events
    val steps = Events.funnelSteps

    def matchedSet(ev: org.apache.spark.sql.DataFrame) =
      Events.funnel(ev).collect().flatMap { r =>
        steps.indices.flatMap { i =>
          Option(r.getTimestamp(2 + i)).map(t =>
            (r.getLong(0), i + 1, t.getTime * 1000 +
              (t.getNanos % 1000000) / 1000))
        }
      }.toSet

    def runStream(srcDir: String, name: String): Set[(Long, Int, Long)] = {
      val out = tempDir(s"evt-fun-$name")
        .toFile.getAbsolutePath
      // schema of the files THIS TEST wrote (engine-facing, so the
      // test is agnostic to the testdata's physical ts layout)
      val schema = spark.read.parquet(srcDir).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1) // one file per batch: the
        // cross-batch arrival order is the thing under test
        .parquet(srcDir)
        .transform(Tables.adaptEventsTs)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[EventStreams.Event]
      val q = EventStreams.funnelStream(src)
        .writeStream.format("memory").queryName(s"funnel_$name")
        .outputMode("append")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(s"funnel_$name")
        .collect().map(r => (r.getLong(0), r.getInt(1),
          r.getTimestamp(3).getTime * 1000 +
            (r.getTimestamp(3).getNanos % 1000000) / 1000)).toSet
    }

    // PART 1: the real corpus in two time-ordered slices
    val ev = eventsDf
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)")).head.getDouble(0)
    val srcDir = tempDir("evt-fun-src")
    ev.filter(unix_micros($"ts") <= mid).coalesce(1)
      .write.parquet(srcDir.resolve("a").toString)
    ev.filter(unix_micros($"ts") > mid).coalesce(1)
      .write.parquet(srcDir.resolve("b").toString)
    val streamed = runStream(s"$srcDir/*", "real")
    val batch = matchedSet(ev)
    // every emitted completion is a batch match...
    assert(streamed.nonEmpty && streamed.subsetOf(batch))
    // ...and everything the final watermark finalized was emitted
    val maxUs = ev.agg(max(unix_micros($"ts"))).head.getLong(0)
    val wmUs = maxUs - 2L * 3600 * 1000000 - 1000
    val mustEmit = batch.filter(_._3 < wmUs)
    assert(mustEmit.nonEmpty && mustEmit.subsetOf(streamed))

    // PART 2: cross-batch DISORDER inside the watermark window — file A
    // delivers signup@10m and view@200m, file B (the NEXT batch)
    // delivers click@150m, which precedes the already-arrived view in
    // EVENT time. The watermark after batch A (200m − 2h) has not
    // finalized any of them, so the fold waits and replays the true
    // order: click@150 is ignored (depth 1 expects view), view@200
    // matches — exactly the batch verdict on the union.
    def mkEvents(rows: Seq[(Long, Long, Int, String)]) = {
      import spark.implicits._
      rows.map { case (u, id, minute, tpe) =>
        (id, new java.sql.Timestamp(minute * 60000L), u, tpe, 0.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
    }
    val disDir = tempDir("evt-fun-dis")
    mkEvents(Seq((1L, 1L, 10, "signup"), (1L, 2L, 200, "view")))
      .coalesce(1).write.parquet(disDir.resolve("a").toString)
    mkEvents(Seq((1L, 3L, 150, "click"), (1L, 4L, 400, "purchase"),
        // a second user far in the future pushes the watermark past
        // every user-1 event so the fold finalizes them
        (9L, 5L, 2000, "view")))
      .coalesce(1).write.parquet(disDir.resolve("b").toString)
    val disStreamed = runStream(s"$disDir/*", "dis")
    val disBatch = matchedSet(mkEvents(Seq(
      (1L, 1L, 10, "signup"), (1L, 2L, 200, "view"),
      (1L, 3L, 150, "click"), (1L, 4L, 400, "purchase"),
      (9L, 5L, 2000, "view"))))
    // user 1 fully finalized (2000m − 2h > 400m): the disordered click
    // must NOT have advanced the funnel out of order
    val u1 = disStreamed.filter(_._1 == 1L)
    assert(u1 === disBatch.filter(t => t._1 == 1L && t._3 < (2000 - 120 - 1) * 60000000L))
    assert(u1.map(_._2) === Set(1, 2)) // signup, view — no click/purchase
  }

  test("streaming attribution == batch on the finalized region; " +
    "late click still wins under cross-batch disorder") {
    def attrKey(id: Long, clickUs: Option[Long], attributed: Int) =
      (id, clickUs.getOrElse(-1L), attributed)
    def batchSet(ev: org.apache.spark.sql.DataFrame) =
      Events.attribution(ev).collect().map { r =>
        (r.getLong(0),
          Option(r.getTimestamp(4)).map(t => t.getTime * 1000 +
            (t.getNanos % 1000000) / 1000).getOrElse(-1L),
          r.getInt(5),
          r.getTimestamp(2).getTime * 1000 +
            (r.getTimestamp(2).getNanos % 1000000) / 1000)
      }.toSet

    def runStream(srcDir: String, name: String) = {
      val out = tempDir(s"evt-attr-$name")
        .toFile.getAbsolutePath
      val schema = spark.read.parquet(srcDir).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .transform(Tables.adaptEventsTs)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[EventStreams.Event]
      val q = EventStreams.attributionStream(src)
        .writeStream.format("memory").queryName(s"attr_$name")
        .outputMode("append")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(s"attr_$name").collect().map { r =>
        (r.getLong(0),
          Option(r.getTimestamp(4)).map(t => t.getTime * 1000 +
            (t.getNanos % 1000000) / 1000).getOrElse(-1L),
          r.getInt(5),
          r.getTimestamp(2).getTime * 1000 +
            (r.getTimestamp(2).getNanos % 1000000) / 1000)
      }.toSet
    }

    // PART 1: real corpus, two time-ordered slices
    val ev = eventsDf
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)")).head.getDouble(0)
    val srcDir = tempDir("evt-attr-src")
    ev.filter(unix_micros($"ts") <= mid).coalesce(1)
      .write.parquet(srcDir.resolve("a").toString)
    ev.filter(unix_micros($"ts") > mid).coalesce(1)
      .write.parquet(srcDir.resolve("b").toString)
    val streamed = runStream(s"$srcDir/*", "real")
    val batch = batchSet(ev)
    assert(streamed.nonEmpty && streamed.subsetOf(batch))
    val maxUs = ev.agg(max(unix_micros($"ts"))).head.getLong(0)
    val wmUs = maxUs - 2L * 3600 * 1000000 - 1000
    val mustEmit = batch.filter(_._4 < wmUs)
    assert(mustEmit.nonEmpty && mustEmit.subsetOf(streamed))

    // PART 2: the attributing click arrives one BATCH after the
    // purchase (event-time order: click@100m, purchase@110m; arrival
    // order reversed). Both inside the watermark window after batch A,
    // so the fold must wait, replay event-time order, and attribute.
    def mkEvents(rows: Seq[(Long, Long, Int, String)]) = {
      rows.map { case (u, id, minute, tpe) =>
        (id, new java.sql.Timestamp(minute * 60000L), u, tpe, 1.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
    }
    val disDir = tempDir("evt-attr-dis")
    mkEvents(Seq((1L, 1L, 110, "purchase")))
      .coalesce(1).write.parquet(disDir.resolve("a").toString)
    mkEvents(Seq((1L, 2L, 100, "click"),
        (9L, 5L, 2000, "view"))) // watermark pusher
      .coalesce(1).write.parquet(disDir.resolve("b").toString)
    val disStreamed = runStream(s"$disDir/*", "dis")
    // purchase 1 attributed to click@100m (within 30 min), exactly once
    assert(disStreamed === Set((1L, 100L * 60000000, 1, 110L * 60000000)))
  }

  test("streaming anomaly monitor: view over the streamed hourly store " +
    "== batch anomaly on finalized hours") {
    import graft.operators.Events
    val store = tempDir("evt-anom-store")
      .toFile.getAbsolutePath
    val ck = tempDir("evt-anom-ck").toFile.getAbsolutePath
    val src = spark.readStream.schema(rawSchema)
      .parquet(stageSourceDir())
      .transform(Tables.adaptEventsTs)
    EventStreams.runHourlyCountStream(spark, src, store, ck)
      .awaitTermination()

    def key(r: org.apache.spark.sql.Row) = (r.getString(0),
      r.getTimestamp(1).toString, r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3))
    val streamed = EventStreams.anomalyView(spark, store)
      .collect().map(key).toSet
    val batchAll = Events.qEventAnomaly(spark, dir).collect().map(key).toSet
    // the view rows ARE batch rows (baselines complete by construction)
    assert(streamed.nonEmpty && streamed.subsetOf(batchAll))
    // and every hour old enough to be finalized is present and scored
    val maxTs = eventsDf.agg(max($"ts")).head.getTimestamp(0)
    val cutoff = maxTs.getTime - 3L * 3600 * 1000
    val mustHave = batchAll.filter(r =>
      java.sql.Timestamp.valueOf(r._2).getTime < cutoff)
    assert(mustHave.nonEmpty && mustHave.subsetOf(streamed))
  }

  test("streaming transitions: pair records == batch lag pairs on the " +
    "finalized region") {
    import graft.operators.Events
    val ev = eventsDf
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)")).head.getDouble(0)
    val srcDir = tempDir("evt-trans-src")
    ev.filter(unix_micros($"ts") <= mid).coalesce(1)
      .write.parquet(srcDir.resolve("a").toString)
    ev.filter(unix_micros($"ts") > mid).coalesce(1)
      .write.parquet(srcDir.resolve("b").toString)

    val out = tempDir("evt-trans-out").toFile.getAbsolutePath
    val schema = spark.read.parquet(s"$srcDir/*").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
      .transform(Tables.adaptEventsTs)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStreams.Event]
    val q = EventStreams.transitionStream(src)
      .writeStream.format("memory").queryName("transitions")
      .outputMode("append")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    def countMap(rows: Seq[(Long, String, String)]) =
      rows.groupBy(identity).map { case (k, v) => k -> v.size }
    val streamed = countMap(spark.table("transitions")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq)

    // batch lag pairs with the TO-event inside the finalized region —
    // a strict under-approximation of what the stream must have emitted
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy($"ts", $"event_id")
    val maxUs = ev.agg(max(unix_micros($"ts"))).head.getLong(0)
    val wmUs = maxUs - 2L * 3600 * 1000000 - 1000
    val batchPairs = ev
      .withColumn("from_type", lag($"event_type", 1).over(w))
      .filter($"from_type".isNotNull)
      .select($"user_id", $"from_type", $"event_type", unix_micros($"ts").as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val batchAll = countMap(batchPairs.map(t => (t._1, t._2, t._3)).toSeq)
    val mustEmit = countMap(batchPairs.filter(_._4 < wmUs)
      .map(t => (t._1, t._2, t._3)).toSeq)

    // streamed multiset sits between the finalized under-approximation
    // and the full batch answer
    mustEmit.foreach { case (k, n) =>
      assert(streamed.getOrElse(k, 0) >= n, s"missing finalized pairs $k")
    }
    streamed.foreach { case (k, n) =>
      assert(batchAll.getOrElse(k, 0) >= n, s"over-emitted $k")
    }
    assert(streamed.nonEmpty)
  }

  test("streaming sessionize == batch on watermark-finalized sessions") {
    val src = spark.readStream
      .schema(rawSchema)
      .parquet(stageSourceDir())
      .transform(Tables.adaptEventsTs)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStreams.Event]
    val out = tempDir("evt-sess").toFile.getAbsolutePath
    val q = EventStreams.sessionize(src)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table("sessions")
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().toSet
    val batch = Events.qSessionize(spark, dir)
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().toSet

    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch))
    // sessions that closed well before the end-of-stream watermark
    // (maxTs - 2h) must all have been emitted via gap or timeout
    val maxTs = eventsDf.agg(max($"ts")).as[java.sql.Timestamp].head()
    val gapMs = Events.sessionGapMicros / 1000
    val cutoff = maxTs.getTime - (2L * 3600 * 1000) - gapMs
    val mustEmit = batch.filter(_._3.getTime < cutoff)
    assert(mustEmit.subsetOf(streamed))
  }

  test("streaming session store: concurrency view == batch on days " +
      "where every contributing session is finalized") {
    val src = spark.readStream
      .schema(rawSchema)
      .parquet(stageSourceDir())
      .transform(Tables.adaptEventsTs)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStreams.Event]
    val out = tempDir("evt-store").toFile.getAbsolutePath
    EventStreams.runSessionStream(spark, src,
      s"$out/store", s"$out/ckpt").awaitTermination()

    val view = EventStreams.concurrencyView(spark, s"$out/store")
      .as[(java.sql.Timestamp, Long)].collect().toMap
    assert(view.nonEmpty)

    // batch concurrency over ALL sessions; comparison domain = days
    // strictly before the earliest session the stream could still be
    // holding open (earliest unfinalized start), so every boundary the
    // batch side sees on those days is in the store too
    val batchSessions = Events.qSessionize(spark, dir)
    val maxTs = eventsDf.agg(max($"ts")).as[java.sql.Timestamp].head()
    val gapMs = Events.sessionGapMicros / 1000
    val wmCutoff = maxTs.getTime - (2L * 3600 * 1000) - gapMs
    val unfinalized = batchSessions
      .filter($"session_end" >= new java.sql.Timestamp(wmCutoff))
    val earliestOpenStart = unfinalized.agg(min($"session_start"))
      .as[java.sql.Timestamp].head()
    val dayCut = java.time.Instant.ofEpochMilli(earliestOpenStart.getTime)
      .truncatedTo(java.time.temporal.ChronoUnit.DAYS)
    val batchPeaks = graft.operators.Concurrency
      .peakConcurrency(batchSessions)
      .as[(java.sql.Timestamp, Long)].collect().toMap
    val closedDays = batchPeaks.keySet
      .filter(_.getTime < dayCut.toEpochMilli)
    assert(closedDays.nonEmpty)
    closedDays.foreach { d =>
      assert(view.get(d) === batchPeaks.get(d),
        s"day $d: view=${view.get(d)} batch=${batchPeaks.get(d)}")
    }
  }
}
