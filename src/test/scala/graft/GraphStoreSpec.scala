package graft

import org.apache.spark.sql.functions._
import graft.operators.{ConnectedComponents, PageRank, Triangles}
import graft.streaming.GraphStore

/** Streaming graph store: every live readout (edges, degrees,
  * pagerank, triangles, components) is row-identical to the batch
  * graph family over the absorbed fact log — under order-disjoint
  * slicing (co-occurrence pairs split across batches: the edge-weight
  * SUM monoid is what's under test), redelivery, and compaction. */
class GraphStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def li = Tables(spark, dir, "lineitem")
    .select("l_orderkey", "l_partkey")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("live graph readouts == batch family under slicing, replay, " +
    "compaction") {
    val tmp = tempDir("graphstore")
      .toFile.getAbsolutePath
    val fact = li.localCheckpoint()
    // three ORDER-disjoint batches (all lines of an order together —
    // the store's contract; co-occurring pairs still straddle batches
    // through shared parts, so edge-weight folding is exercised)
    (0 until 3).foreach { i =>
      GraphStore.appendFactBatch(spark,
        fact.filter(pmod(col("l_orderkey"), lit(3)) === i), tmp, i.toLong)
    }

    // edge table == the batch co-purchase build
    val batchEdges = rows(PageRank.coPurchaseEdges(fact))
    assert(rows(GraphStore.edges(spark, tmp)) === batchEdges)

    // node set == distinct part keys (isolated nodes included)
    assert(rows(GraphStore.nodes(spark, tmp)) ===
      rows(fact.select(col("l_partkey").as("node")).distinct()))

    // degree view == distinct-neighbor counts over the batch edges
    val und = Triangles.undirectedEdges(fact).localCheckpoint()
    val batchDeg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    assert(rows(GraphStore.degreeView(spark, tmp)) === rows(batchDeg))

    // pagerank: integer fixed-point — bit-identical to the batch
    // operator (the q_pagerank formulation)
    val livePr = rows(GraphStore.pagerankView(spark, tmp))
    assert(livePr === rows(PageRank.pagerank(fact)))

    // triangles: the q_triangles one-row stats
    val liveTri = rows(GraphStore.trianglesView(spark, tmp))
    assert(liveTri === rows(Triangles.triangleStats(fact)))

    // components: the q_dup_clusters cluster step's view
    val liveCc = rows(GraphStore.componentsView(spark, tmp))
    assert(liveCc === rows(ConnectedComponents.components(und, "u", "v")))

    // round-16 session close: the REST of the graph deck, live —
    // label propagation, HITS, and the support-pair k-core (its own
    // basket-distinct monoid; threshold applied over summed counts)
    assert(rows(GraphStore.labelPropView(spark, tmp)) ===
      rows(graft.operators.LabelProp.labelPropagate(fact)))
    assert(rows(GraphStore.hitsView(spark, tmp)) ===
      rows(graft.operators.Hits.hits(fact)))
    val batchPairs = graft.operators.ItemCf.supportPairs(
      fact.select(col("l_orderkey").as("ok"),
        col("l_partkey").as("item")).distinct())
    val batchKcore = graft.operators.KCore.kcore(
      batchPairs.select(col("item").as("src"), col("item2").as("dst"))
        .unionAll(batchPairs.select(col("item2").as("src"),
          col("item").as("dst"))))
      .select(col("node").as("p_partkey"), col("deg"))
    assert(rows(GraphStore.kcoreView(spark, tmp)) === rows(batchKcore))

    // REPLAY: the newest batch redelivered — same dir overwritten,
    // every readout unchanged (the SUM monoid's layout safety)
    GraphStore.appendFactBatch(spark,
      fact.filter(pmod(col("l_orderkey"), lit(3)) === 2), tmp, 2L)
    assert(rows(GraphStore.edges(spark, tmp)) === batchEdges)
    assert(rows(GraphStore.pagerankView(spark, tmp)) === livePr)

    // COMPACTION: fold committed deltas on all tables; views unchanged
    GraphStore.edgeStore(tmp).compact(spark, 2L)
    GraphStore.nodeStore(tmp).compact(spark, 2L)
    GraphStore.supportStore(tmp).compact(spark, 2L)
    assert(rows(GraphStore.edges(spark, tmp)) === batchEdges)
    assert(rows(GraphStore.pagerankView(spark, tmp)) === livePr)
    assert(rows(GraphStore.trianglesView(spark, tmp)) === liveTri)
    assert(rows(GraphStore.componentsView(spark, tmp)) === liveCc)
    assert(rows(GraphStore.kcoreView(spark, tmp)) === rows(batchKcore))
  }

  test("runFactStream end to end: file-triggered batches + compaction " +
    "cadence converge to the batch graph") {
    val tmp = tempDir("graphstream")
      .toFile.getAbsolutePath
    val fact = li.localCheckpoint()
    // order-disjoint files (the store's contract), one per upload
    (0 until 4).foreach { i =>
      fact.filter(pmod(col("l_orderkey"), lit(4)) === i)
        .coalesce(1).write.parquet(s"$tmp/src/up$i")
    }
    GraphStore.runFactStream(spark, s"$tmp/src/*", s"$tmp/store",
        s"$tmp/ckpt", fact.schema, compactEvery = 2)
      .awaitTermination()
    assert(rows(GraphStore.edges(spark, s"$tmp/store")) ===
      rows(PageRank.coPurchaseEdges(fact)))
    assert(rows(GraphStore.trianglesView(spark, s"$tmp/store")) ===
      rows(Triangles.triangleStats(fact)))
    // the cadenced fold ran: a batch=-1 base exists on the edge table
    assert(new java.io.File(s"$tmp/store/edges/batch=-1").exists,
      "compaction cadence never fired")
  }

  test("round-17 disjointness guard: a split order's late fragment is " +
    "quarantined and counted; the clean part of the same batch absorbs") {
    import org.apache.spark.sql.expressions.Window
    val tmp = tempDir("graphstore3")
      .toFile.getAbsolutePath
    val fact = li.localCheckpoint()
    // two multi-line orders: one gets SPLIT (its first line held back
    // to batch 1 — the contract violation), one fully HELD OUT to
    // batch 1 (the clean co-rider that must still absorb)
    val oks = fact.groupBy("l_orderkey").count()
      .filter(col("count") >= 2).orderBy("l_orderkey")
      .limit(2).collect().map(_.getLong(0))
    val (splitOk, holdOk) = (oks(0), oks(1))
    val numbered = fact.withColumn("rn", row_number().over(
      Window.partitionBy("l_orderkey").orderBy("l_partkey")))
    val frag = numbered
      .filter(col("l_orderkey") === splitOk && col("rn") === 1)
      .drop("rn").localCheckpoint()
    val held = fact.filter(col("l_orderkey") === holdOk).localCheckpoint()
    val batch0 = numbered
      .filter(!(col("l_orderkey") === splitOk && col("rn") === 1))
      .filter(col("l_orderkey") =!= holdOk)
      .drop("rn").localCheckpoint()
    GraphStore.appendFactBatch(spark, batch0, tmp, 0L)
    assert(GraphStore.violationCount(spark, tmp) === 0L)
    GraphStore.appendFactBatch(spark, frag.unionAll(held), tmp, 1L)
    // the fragment was detected and quarantined, line for line...
    assert(GraphStore.violationCount(spark, tmp) === frag.count())
    assert(rows(GraphStore.violationsView(spark, tmp)
      .select("l_orderkey", "l_partkey")) === rows(frag))
    // ...the clean co-rider absorbed, so every view equals the batch
    // family over exactly (feed minus the quarantined fragment)...
    val absorbed = batch0.unionAll(held).localCheckpoint()
    assert(rows(GraphStore.edges(spark, tmp)) ===
      rows(PageRank.coPurchaseEdges(absorbed)))
    assert(rows(GraphStore.nodes(spark, tmp)) ===
      rows(absorbed.select(col("l_partkey").as("node")).distinct()))
    assert(rows(GraphStore.pagerankView(spark, tmp)) ===
      rows(PageRank.pagerank(absorbed)))
    // ...the seen-order table never double-counts a key...
    assert(GraphStore.orderStore(tmp).merged(spark)
      .agg(max(col("nb"))).head().getLong(0) === 1L)
    // ...and redelivering the offending batch is idempotent: same
    // quarantine dir overwritten, same views
    GraphStore.appendFactBatch(spark, frag.unionAll(held), tmp, 1L)
    assert(GraphStore.violationCount(spark, tmp) === frag.count())
    assert(rows(GraphStore.edges(spark, tmp)) ===
      rows(PageRank.coPurchaseEdges(absorbed)))
  }

  test("store state is the reduced co-occurrence table, not fact " +
    "history: one row per ordered pair after compaction") {
    val tmp = tempDir("graphstore2")
      .toFile.getAbsolutePath
    val fact = li.localCheckpoint()
    (0 until 3).foreach { i =>
      GraphStore.appendFactBatch(spark,
        fact.filter(pmod(col("l_orderkey"), lit(3)) === i), tmp, i.toLong)
    }
    GraphStore.edgeStore(tmp).compact(spark, 2L)
    val st = spark.read.parquet(s"$tmp/edges")
    val pairs = st.select("src", "dst").distinct().count()
    // batch=-1 base holds every pre-fold pair exactly once; only the
    // uncompacted tail (none here) may duplicate a pair
    assert(st.count() === pairs)
    // and the store never holds a (src, dst) the fact log can't justify
    assert(st.filter(col("src") === col("dst")).count() === 0L)
  }
}
