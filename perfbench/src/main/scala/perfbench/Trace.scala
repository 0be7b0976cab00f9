package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch microseconds with nanoTime resolution, so
  * benchmark spans and Spark's epoch-millisecond job times share one axis. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def us(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L
}

/** Spans recorded by the benchmark around its calls into the program.
  * They stay in memory and are written out once at the end of the run.
  * With tracing off only operations are recorded. */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var op = 0L

  /** One timed operation; the body reports whether its answer was right
    * plus any per-operation facts. Exceptions count as failures. */
  def operation(kind: String)(body: => (Boolean, Map[String, Any])): Boolean = {
    op += 1
    val id = newId()
    stack = List(id)
    val t0 = Clock.us()
    val (ok, info, err) =
      try { val (k, i) = body; (k, i, "") }
      catch { case e: Throwable => (false, Map.empty[String, Any], e.toString) }
    val t1 = Clock.us()
    stack = Nil
    val rec = Map[String, Any]("op" -> op, "kind" -> kind, "start_us" -> t0,
      "end_us" -> t1, "ok" -> ok, "error" -> err) ++ info
    synchronized {
      ops += rec
      if (on) spans += Map("id" -> id, "parent" -> 0L, "op" -> op,
        "name" -> s"op.$kind", "start_us" -> t0, "end_us" -> t1)
    }
    ok
  }

  /** A span around one benchmark call into a layer function. */
  def span[T](name: String)(body: => T): T =
    if (!on) body else {
      val id = newId()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = Clock.us()
      try body
      finally {
        val t1 = Clock.us()
        stack = stack.tail
        synchronized {
          spans += Map("id" -> id, "parent" -> parent, "op" -> op,
            "name" -> name, "start_us" -> t0, "end_us" -> t1)
        }
      }
    }

  /** A count recorded at the current span boundary. */
  def count(name: String, value: Double): Unit =
    if (on) synchronized {
      spans += Map("id" -> newId(), "parent" -> stack.headOption.getOrElse(0L),
        "op" -> op, "name" -> name, "value" -> value,
        "start_us" -> Clock.us(), "end_us" -> Clock.us())
    }

  private def newId(): Long = synchronized { nextId += 1; nextId }

  def opRecords: Seq[Map[String, Any]] = synchronized(ops.toList)
  def spanRecords: Seq[Map[String, Any]] = synchronized(spans.toList)
}

/** Per-job record from Spark's public listener API: start/end, the
  * call site of the result stage (attributed to a layer offline), and
  * task metrics summed over the job's stages. */
final class JobListener extends SparkListener {
  private final class Job(val id: Int, val startMs: Long, val callSite: String,
                          val execution: String) {
    var endMs = 0L
    var tasks = 0L; var runMs = 0L; var gcMs = 0L
    var inBytes = 0L; var outBytes = 0L; var outRecords = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var serialMs = 0L; var stages = 0L; var ok = true
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  /** SQL execution id -> (call site of the thread that started it, the
    * table paths its plan reads or writes, the path it writes). Jobs of
    * adaptive query stages run on a pool thread whose own call site has
    * no program frames, and a streaming batch overrides every call site
    * with the query's; the execution's call site and paths still say
    * which program step a job serves. */
  private val executions = mutable.HashMap.empty[String, (String, Seq[String], String)]
  private val pathRe = "file:[^\\s,\\]\\)]+".r

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      val plan = s.physicalPlanDescription
      val paths = pathRe.findAllIn(plan).toSeq.distinct
      // the output path is the first path after the write command's
      // entry in the plan's details (the tree above it lists the scans)
      val at = plan.lastIndexOf("InsertIntoHadoopFsRelationCommand")
      val write = if (at < 0) "" else pathRe.findFirstIn(plan.substring(at)).getOrElse("")
      synchronized { executions(s.executionId.toString) = (s.details, paths, write) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, e.time, site, execution)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
      j.stages += 1
      if (si.numTasks == 1)
        for (s <- si.submissionTime; c <- si.completionTime) j.serialMs += c - s
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.inBytes += m.inputMetrics.bytesRead
        j.outBytes += m.outputMetrics.bytesWritten
        j.outRecords += m.outputMetrics.recordsWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def records: Seq[Map[String, Any]] = synchronized {
    jobs.values.toList.map { j =>
      val (site, paths, write) = executions.getOrElse(j.execution, ("", Nil, ""))
      Map[String, Any](
      "job" -> j.id, "start_us" -> j.startMs * 1000L, "end_us" -> j.endMs * 1000L,
      "call_site" -> j.callSite, "exec_site" -> site, "exec_paths" -> paths,
      "exec_write" -> write, "tasks" -> j.tasks, "run_ms" -> j.runMs,
      "gc_ms" -> j.gcMs, "in_bytes" -> j.inBytes, "out_bytes" -> j.outBytes,
      "out_records" -> j.outRecords, "shuffle_read" -> j.shuffleRead,
      "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill,
      "serial_ms" -> j.serialMs, "stages" -> j.stages, "ok" -> j.ok)
    }
  }
}

/** Micro-batch phases from the public StreamingQueryListener API. */
final class StreamListener extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    synchronized {
      batches += Map("batch" -> p.batchId, "start_us" -> startUs,
        "end_us" -> (startUs + d("triggerExecution") * 1000L),
        "rows" -> p.numInputRows, "trigger_ms" -> d("triggerExecution"),
        "add_batch_ms" -> d("addBatch"))
    }
  }
  def records: Seq[Map[String, Any]] = synchronized(batches.toList)
}
