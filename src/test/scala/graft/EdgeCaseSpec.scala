package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** Edge cases for the session-5 wave that the oracle corpus can't
  * reach: empty batches through the text-stats store, an all-
  * single-event churn population, a one-type co-engagement frame,
  * and a single-dimension embedding space. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  test("text-stats store: an empty batch is absorbed as a no-op") {
    val tmp = tempDir("ts-empty")
      .toFile.getAbsolutePath
    val docs = Seq((1L, "alpha beta alpha", "s1"))
      .toDF("doc_id", "text", "source")
    graft.streaming.TextStatsStore.appendTextBatch(spark, docs, tmp, 0L)
    val before = graft.streaming.TextStatsStore.chaoView(spark, tmp)
      .collect().map(_.toString).toSeq.sorted
    // empty delta: zero rows in, views unchanged
    graft.streaming.TextStatsStore.appendTextBatch(spark,
      docs.filter(lit(false)), tmp, 1L)
    val after = graft.streaming.TextStatsStore.chaoView(spark, tmp)
      .collect().map(_.toString).toSeq.sorted
    assert(after === before)
    assert(graft.streaming.TextStatsStore.textrankView(spark, tmp)
      .count() > 0)
  }

  test("churn risk: all-single-event population lands wholly in unknown") {
    val ts = Timestamp.valueOf("2024-03-01 00:00:00")
    val ev = (1L to 25L).map(u => (u, ts)).toDF("user_id", "ts")
    val out = graft.operators.ChurnRisk.churnRisk(ev).collect()
    assert(out.length === 1)
    assert(out.head.getString(0) === "unknown")
    assert(out.head.getLong(1) === 25L)
    assert(out.head.getLong(2) === 1000000L) // share = 1
  }

  test("coengagement: a single-type corpus yields all-zero partners") {
    val ev = (1L to 10L).map(u => (u, "view"))
      .toDF("user_id", "event_type")
    val out = graft.operators.CoEngagement.coEngagement(ev).collect()
    assert(out.length === 10) // all pairs still emitted
    out.foreach { r =>
      val touchesView = r.getString(0) == "view" || r.getString(1) == "view"
      if (!touchesView) {
        assert(r.getLong(r.fieldIndex("n_x")) === 0L)
        assert(r.getLong(r.fieldIndex("jaccard_micro")) === 0L)
      }
      assert(r.getLong(r.fieldIndex("n_both")) === 0L ||
        (r.getString(0) == "view" && r.getString(1) == "view"))
    }
  }

  test("embed geometry: single-dimension space pins dims and PR to 1") {
    val df = Seq((1L, Array(1f)), (2L, Array(3f)), (3L, Array(5f)))
      .toDF("vec_id", "embedding")
    val r = graft.ext.EmbedGeometry.embedGeometry(df).collect().head
    assert(r.getLong(r.fieldIndex("dims")) === 1L)
    assert(r.getLong(r.fieldIndex("eff_dim_micro")) === 1000000L)
    assert(r.getInt(r.fieldIndex("top_var_dim")) === 0)
  }
}
