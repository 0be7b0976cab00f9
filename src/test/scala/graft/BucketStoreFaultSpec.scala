package graft

import java.io.File
import org.apache.spark.sql.DataFrame
import graft.streaming.{CdcStore, CurationStream}

/** Fault sweep of one bucket-store merge: every mutating filesystem call
  * of the merge fails once, in turn, and a fault-free re-run (the
  * replay of the batch) must converge on the rows of a fault-free merge
  * and leave no staged dir (`.merge-tmp`) or backup (`.compact-bak-*`)
  * behind. The store lives on [[FaultFs]]; each merge runs into a
  * missing store and into one holding a batch whose buckets the merged
  * batch partly shares, so both a fresh and a replaced bucket are
  * swapped in. Each failure message names the call that failed. */
class BucketStoreFaultSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.faultfs.impl", classOf[FaultFs].getName)

  /** One scenario: seed the store (or not), merge with call `k` failing
    * (0: none), merge again fault-free. Returns the faulted merge's
    * count of mutating calls and the store's rows. */
  private def scenario(merge: (DataFrame, String) => Unit, seed: Option[DataFrame],
                       batch: DataFrame, k: Int): (Int, Seq[String]) = {
    val root = tempDir("bucket-fault").toFile.getAbsolutePath
    seed.foreach(merge(_, s"$root/store"))
    FaultFs.arm(k)
    val (calls, failed) = try {
      try merge(batch, s"faultfs:$root/store")
      catch { case _: Exception if k > 0 => () } // the fault fails the merge
      (FaultFs.calls, FaultFs.failed)
    } finally FaultFs.arm(0)
    val at = s"k=$k (${failed.getOrElse("no call failed")}), seeded=${seed.nonEmpty}"
    merge(batch, s"faultfs:$root/store")
    val names = new File(s"$root/store").list().toSeq
    assert(!names.contains(".merge-tmp"), s"$at: $names")
    assert(!names.exists(_.startsWith(".compact-bak-")), s"$at: $names")
    (calls, spark.read.parquet(s"$root/store").collect().map(_.toString).toSeq.sorted)
  }

  private def sweep(merge: (DataFrame, String) => Unit, seed: DataFrame,
                    batch: DataFrame): Unit =
    Seq(None, Some(seed)).foreach { s =>
      val (n, want) = scenario(merge, s, batch, 0)
      info(s"N = $n mutating calls in one fault-free merge, seeded=${s.nonEmpty}")
      assert(n > 0)
      (1 to n).foreach { k =>
        val (_, got) = scenario(merge, s, batch, k)
        assert(got === want, s"k=$k, seeded=${s.nonEmpty}")
      }
    }

  test("fault sweep, BucketedMonoidStore (CDC latest state): a failed call " +
    "at any step converges on re-run") {
    def changes(rs: (Long, Long, String, Long)*) =
      rs.map { case (key, seq, op, v) => (key, seq, 0L, op, v) }
        .toDF("key", "seq", "tie", "op", "value")
    sweep((b, p) => CdcStore.mergeCdcBatch(spark, b, p),
      changes((1L, 1L, "U", 10L), (2L, 1L, "U", 20L)),
      changes((2L, 2L, "U", 21L), (3L, 1L, "U", 30L), (1L, 0L, "D", 0L)))
  }

  test("fault sweep, partitioned curated store: a failed call at any step " +
    "converges on re-run") {
    def docs(rs: (Long, String)*) = rs.toDF("doc_id", "scrubbed")
    sweep((b, p) => CurationStream.mergeCuratedBatchPartitioned(spark, b, p),
      docs(3L -> "the first document", 4L -> "a second document"),
      docs(1L -> "the first document", 5L -> "a third document"))
  }
}
