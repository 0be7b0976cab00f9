package graft

import org.apache.spark.sql.functions._
import graft.operators.{LinkPredict, PageRank}
import graft.streaming.LinkPredictStore

/** Streaming link-prediction store: the served candidate readout is
  * row-identical to the batch operator over the absorbed edge set —
  * under edge slicing (a center's neighbors split across batches: the
  * bottom-S KMV closure and the degree sum are what's under test),
  * redelivery, and compaction. */
class LinkPredictStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def und = PageRank.coPurchaseEdgesMemo(spark, dir)
    .filter(col("src") < col("dst"))
    .select(col("src").as("u"), col("dst").as("v"))

  test("served candidates == batch linkPredict under slicing, replay, " +
    "compaction") {
    val tmp = tempDir("lpstore")
      .toFile.getAbsolutePath
    val edges = und.localCheckpoint()
    // three edge-disjoint batches splitting most centers' neighbor
    // sets across dirs — the merge must re-rank to the global bottom-S
    // and sum degrees across deltas
    val parts = (0 until 3).map(i =>
      edges.filter(abs(hash(col("u"), col("v"))) % 3 === i)
        .localCheckpoint())
    parts.zipWithIndex.foreach { case (p, i) =>
      LinkPredictStore.appendEdgeBatch(spark, p, s"$tmp/store", i.toLong)
    }
    def served: Seq[String] =
      LinkPredictStore.linkPredictView(spark, s"$tmp/store", edges)
        .collect().map(_.toString).toSeq
    val batch = LinkPredict.linkPredict(edges)
      .collect().map(_.toString).toSeq
    assert(served === batch)
    // the maintained state really is bottom-S + full degree: a hub's
    // sample is capped while its degree is not
    val st = LinkPredictStore.store(s"$tmp/store").merged(spark)
      .select(col("d"), size(col("sample")).as("ns"))
    assert(st.filter(col("ns") > LinkPredict.lpSample).count() === 0L)
    assert(st.filter(col("d") > LinkPredict.lpSample).count() > 0L)
    // replay of the newest batch: same dir rewritten, nothing changes
    LinkPredictStore.appendEdgeBatch(spark, parts(2), s"$tmp/store", 2L)
    assert(served === batch)
    // compaction folds committed deltas; the view is unchanged
    LinkPredictStore.store(s"$tmp/store").compact(spark, 2L)
    assert(served === batch)
  }

  test("exact for small degrees: a d <= S center keeps every neighbor") {
    import spark.implicits._
    val tmp = tempDir("lpstore2")
      .toFile.getAbsolutePath
    // star around node 1 with 5 leaves, delivered one edge per batch
    val edges = (2L to 6L).map(v => (1L, v))
    edges.zipWithIndex.foreach { case ((u, v), i) =>
      LinkPredictStore.appendEdgeBatch(spark,
        Seq((u, v)).toDF("u", "v"), s"$tmp/store", i.toLong)
    }
    val center = LinkPredictStore.store(s"$tmp/store").merged(spark)
      .filter(col("z") === 1L).head()
    assert(center.getAs[Long]("d") === 5L)
    assert(center.getAs[Seq[Any]]("sample").size === 5)
    // the served scores equal the batch operator on the full star
    val full = edges.toDF("u", "v").localCheckpoint()
    assert(LinkPredictStore.linkPredictView(spark, s"$tmp/store", full)
      .collect().map(_.toString).toSeq ===
      LinkPredict.linkPredict(full).collect().map(_.toString).toSeq)
  }
}
