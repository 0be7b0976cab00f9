package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbenchshim.Consume

/** Effective cores from a fixed spin: one thread's time for a fixed
  * amount of integer work against N threads doing the same work each.
  * A co-tenant stealing CPU shows up as fewer effective cores. */
object HostProbe {
  @volatile private var sink = 0L
  private def spin(n: Long): Unit = {
    var x = 0L; var i = 0L
    while (i < n) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    sink += x
  }
  def apply(threads: Int, n: Long = 60000000L): Map[String, Any] = {
    spin(n / 10)
    val t0 = System.nanoTime(); spin(n)
    val single = (System.nanoTime() - t0) / 1e9
    val ts = (1 to threads).map(_ => new Thread(() => spin(n)))
    val t1 = System.nanoTime()
    ts.foreach(_.start()); ts.foreach(_.join())
    val multi = (System.nanoTime() - t1) / 1e9
    Map("threads" -> threads, "single_s" -> single, "multi_s" -> multi,
      "effective_cores" -> threads * single / multi)
  }
}

/** JVM side of the benchmark: runs one workload on local[nproc] with one
  * closed-loop client — timed operations until `seconds` have passed and
  * at least the workload's minOps have run — and writes everything it
  * observed to a JSON file; run.py turns that into metrics.
  *
  * The least count exists because the program is still warming up after
  * the untimed operations (each upload or cycle is faster than the one
  * before), so a run's median depends on how many operations it times;
  * on hosts where minOps operations outlast `seconds`, every run times
  * the same number.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <outFile>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, work, out) = args
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new JobListener
    spark.sparkContext.addSparkListener(jobs)
    val batches = new StreamListener
    spark.streams.addListener(batches)
    val tracer = new Tracer(traceS == "1")
    val readyUs = Clock.us()

    val host0 = HostProbe(cpus)
    val wl: Workload = workload match {
      case "upload_stream" => new UploadStream(spark, data, work, tracer)
      case "update_refresh" => new UpdateRefresh(spark, data, work, seedS.toLong, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val p0 = System.nanoTime(); wl.prepare()
    val prepareS = (System.nanoTime() - p0) / 1e9
    val w0 = System.nanoTime(); wl.warm()
    val warmS = (System.nanoTime() - w0) / 1e9

    val measureStartUs = Clock.us()
    val deadline = measureStartUs + secondsS.toLong * 1000000L
    var timed = 0
    while (wl.hasNext && (Clock.us() < deadline || timed < wl.minOps)) { wl.op(); timed += 1 }
    val measureEndUs = Clock.us()

    val storage = spark.sparkContext.getRDDStorageInfo
    val cachedBytes = storage.map(i => i.memSize + i.diskSize).sum
    val pinnedBytes = graft.util.SessionCache.pinnedBytes(spark)
    val checks = wl.finish()
    val host1 = HostProbe(cpus)
    Consume.drainListeners(spark.sparkContext)

    val result = Map[String, Any](
      "workload" -> workload, "cpus" -> cpus, "trace" -> tracer.on,
      "jvm_start_us" -> jvmStartUs, "jvm_s" -> (readyUs - jvmStartUs) / 1e6,
      "prepare_s" -> prepareS, "warm_s" -> warmS,
      "measure_start_us" -> measureStartUs, "measure_end_us" -> measureEndUs,
      "host" -> Map("start" -> host0, "end" -> host1),
      "cached_bytes" -> cachedBytes, "pinned_bytes" -> pinnedBytes,
      "ops" -> tracer.opRecords, "spans" -> tracer.spanRecords,
      "jobs" -> jobs.records, "batches" -> batches.records,
      "checks" -> checks)
    Files.write(Paths.get(out),
      org.json4s.jackson.Serialization.write(result)(org.json4s.DefaultFormats).getBytes(UTF_8))
    spark.stop()
  }
}
