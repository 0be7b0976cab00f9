package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ext.TextOps
import graft.streaming.CurationStream

/** The streaming curation ingest must CONVERGE to the batch pipeline's
  * output — same store whatever the slicing, order, or redelivery. */
class CurationStreamSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def storeRows(path: String) =
    spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted

  test("curation and packing streams run CONCURRENTLY on one session, both correct") {
    import org.apache.spark.sql.functions._
    val tmp = tempDir("curation-conc").toFile.getAbsolutePath
    val upload = s"$tmp/upload"
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$upload/a")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$upload/b")

    // both streams over the same uploads, concurrently — the shape the
    // targeted (non-global) checkpoint release exists for: neither
    // stream's cleanup may touch the other's in-flight blocks
    val q1 = CurationStream.runCurationStream(
      spark, s"$upload/*", s"$tmp/store", s"$tmp/ck1", docs.schema)
    val q2 = CurationStream.runPackingStream(
      spark, s"$upload/*", s"$tmp/packed", s"$tmp/ck2", docs.schema)
    q1.awaitTermination()
    q2.awaitTermination()

    val store = storeRows(s"$tmp/store")
    val want = TextOps.dedupScrubbed(TextOps.gateAndScrub(docs))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    assert(store === want)

    val packed = spark.read.parquet(s"$tmp/packed")
      .select("n_chunk_tokens", "cum_tokens")
      .collect().sortBy(_.getAs[Long]("cum_tokens"))
    var prev = 0L
    packed.foreach { r =>
      assert(r.getAs[Long]("cum_tokens") ===
        prev + r.getAs[Long]("n_chunk_tokens"))
      prev = r.getAs[Long]("cum_tokens")
    }
    assert(packed.length ===
      TextOps.chunkTokens(TextOps.gateAndScrub(docs), col("scrubbed"))
        .count())
  }

  test("partitioned store: converges identically, untouched buckets byte-stable") {
    import org.apache.spark.sql.functions._
    val tmp = tempDir("curation-part").toFile.getAbsolutePath
    val store = s"$tmp/store"
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val scrubbedAll = graft.ext.TextOps.gateAndScrub(docs)

    // batch 1: most of the corpus
    CurationStream.mergeCuratedBatchPartitioned(
      spark, scrubbedAll.filter(col("doc_id") % 7 =!= 0), store)
    // snapshot per-bucket file listings
    def bucketFiles() = new java.io.File(store).listFiles()
      .filter(_.getName.startsWith("bucket="))
      .map(d => d.getName ->
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified()).toSeq.sorted)
      .toMap
    val before = bucketFiles()

    // batch 2: the rest — touches only ITS keys' buckets (derived from
    // the SAME expression the merge uses)
    val batch2 = scrubbedAll.filter(col("doc_id") % 7 === 0)
    val touched2 = batch2.select(CurationStream.bucketOf.as("b"))
      .distinct().collect().map(r => s"bucket=${r.getLong(0)}").toSet
    CurationStream.mergeCuratedBatchPartitioned(spark, batch2, store)
    assert(touched2.size < CurationStream.storeBuckets) // test is meaningful
    val after = bucketFiles()
    before.keys.filterNot(touched2).foreach { b =>
      assert(after(b) === before(b), s"untouched $b was rewritten")
    }

    // final store == the batch pipeline's dedup output
    val got = spark.read.parquet(store).select("doc_id", "scrubbed")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    val want = graft.ext.TextOps.dedupScrubbed(scrubbedAll)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    assert(got === want)

    // redelivery of batch 2 changes nothing
    CurationStream.mergeCuratedBatchPartitioned(spark, batch2, store)
    val again = spark.read.parquet(store).select("doc_id", "scrubbed")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    assert(again === want)
  }

  test("incremental packing: one continuous token stream across batches, idempotent replay") {
    import org.apache.spark.sql.functions._
    val tmp = tempDir("pack-stream").toFile.getAbsolutePath
    val upload = s"$tmp/upload"
    val packed = s"$tmp/packed"
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$upload/a")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$upload/b")

    CurationStream.runPackingStream(
      spark, s"$upload/*", packed, s"$tmp/ckpt", docs.schema)
      .awaitTermination()

    val out = spark.read.parquet(packed)
      .select("doc_id", "chunk_id", "n_chunk_tokens", "cum_tokens",
        "pack_id")
      .collect().sortBy(_.getAs[Long]("cum_tokens"))
    assert(out.nonEmpty)
    // ONE continuous stream: cum is a gapless prefix sum across batch
    // boundaries, and pack ids are the start-offset bins of it
    var prev = 0L
    out.foreach { r =>
      val n = r.getAs[Long]("n_chunk_tokens")
      val cum = r.getAs[Long]("cum_tokens")
      assert(cum === prev + n, "token stream has a gap or overlap")
      assert(r.getAs[Long]("pack_id") === (cum - n) / TextOps.packContext)
      prev = cum
    }
    // every gate-passing doc's chunks are present exactly once
    val gatedDocs = TextOps.gateAndScrub(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val packedDocs = out.map(_.getAs[Long]("doc_id"))
    assert(packedDocs.toSet === gatedDocs)
    assert(packedDocs.length ===
      TextOps.chunkTokens(TextOps.gateAndScrub(docs), col("scrubbed"))
        .count())

    // replaying the LAST batch reproduces its output bit-for-bit (the
    // offset comes from earlier batches' markers, not mutable state —
    // and in a real stream only the latest uncommitted batch ever
    // replays). The file source does not guarantee which upload file
    // became which batch, so derive the input from what batch 1
    // actually contains.
    val before = spark.read.parquet(s"$packed/batch=1")
      .collect().map(_.toSeq).toSet
    val parity = spark.read.parquet(s"$packed/batch=1")
      .select("doc_id").head().getLong(0) % 2
    val batch1 = TextOps.chunkTokens(TextOps.gateAndScrub(
      docs.filter(col("doc_id") % 2 === parity)), col("scrubbed"))
    CurationStream.appendPackedBatch(spark, batch1, packed, 1L)
    val after = spark.read.parquet(s"$packed/batch=1")
      .collect().map(_.toSeq).toSet
    assert(after === before)

    // fail-loud contract: packing with a batch id EARLIER than existing
    // dirs means the store belongs to a different stream lineage
    // (checkpoint reset without clearing the store) — refused, never
    // silently mis-offset
    intercept[IllegalStateException] {
      CurationStream.appendPackedBatch(spark, batch1, packed, 0L)
    }
  }

  test("near-dup pair view converges under slicing, redelivery and displacement") {
    import spark.implicits._
    // controlled corpus: 12 long base docs over a 20-word vocabulary
    // (gates pass: >100 chars, no punct, 'the' every 10th word), a
    // near-dup partner for every 3rd base (different FIRST word →
    // different exact-dup key, ~all shingles shared → jacc ≈ 0.95),
    // and a DISPLACER: doc_id 5 carries base 103's exact text, so once
    // delivered it dethrones 103 as that key's min-id survivor
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima",
      "mike", "november", "oscar", "papa", "quebec", "romeo", "sierra",
      "tango")
    def text(seed: Int): String = {
      val rnd = new scala.util.Random(seed)
      (0 until 120).map(i =>
        if (i % 10 == 5) "the" else vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    val bases = (0 until 12).map(i => (100L + i, text(i)))
    val partners = bases.zipWithIndex.collect {
      case ((id, t), i) if i % 3 == 0 =>
        (1000L + id, "zulu " + t.split(" ", 2)(1))
    }
    val displacer = (5L, bases(3)._2) // same text as 103, smaller id
    val all = bases ++ partners :+ displacer

    var lastClustersDir: String = null
    def run(slices: Seq[Seq[(Long, String)]], tag: String,
            partitioned: Boolean = false)
        : (Set[(Long, Long)], Set[Long]) = {
      val tmp = tempDir(s"neardup-$tag")
        .toFile.getAbsolutePath
      val upload = s"$tmp/upload"
      slices.zipWithIndex.foreach { case (docs, i) =>
        docs.toDF("doc_id", "text").coalesce(1)
          .write.parquet(s"$upload/f$i")
      }
      val schema = slices.head.toDF("doc_id", "text").schema
      val q = CurationStream.runNearDupStream(spark, s"$upload/*",
        s"$tmp/store", s"$tmp/sigs", s"$tmp/pairs", s"$tmp/ck", schema,
        partitionedStore = partitioned,
        clustersPath = Some(s"$tmp/clusters"))
      q.awaitTermination()
      lastClustersDir = s"$tmp/clusters"
      if (partitioned) // the sig store really took the bucket layout
        assert(new java.io.File(s"$tmp/sigs").listFiles()
          .exists(_.getName.startsWith("bucket=")))
      val pairs = spark.read.parquet(s"$tmp/pairs")
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sigIds = spark.read.parquet(s"$tmp/sigs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val storeIds = spark.read.parquet(s"$tmp/store")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(sigIds === storeIds,
        "signature index must cover exactly the store's survivors")
      (pairs, storeIds)
    }

    // slicing A: evens, odds, displacer last (dethrones an already-
    // indexed, already-paired survivor). slicing B: everything in one
    // file, then a REDELIVERY of four docs alongside the displacer.
    val rest = all.filterNot(_._1 == 5L)
    val (pa, sa) = run(Seq(rest.filter(_._1 % 2 == 0),
      rest.filter(_._1 % 2 == 1), Seq(displacer)), "a")
    val (pb, sb) = run(Seq(rest, rest.take(4) :+ displacer), "b")
    // the 100 TB layout (bucket-partitioned store AND sig index,
    // touched-bucket swaps) must converge identically
    val (pc, sc) = run(Seq(rest.filter(_._1 % 2 == 0),
      rest.filter(_._1 % 2 == 1), Seq(displacer)), "c", partitioned = true)

    // independent reference: brute-force exact Jaccard >= 0.5 over the
    // final batch-curated corpus (plain Scala, no LSH, no engine code)
    val batchStore = TextOps.dedupScrubbed(
        TextOps.gateAndScrub(all.toDF("doc_id", "text")))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val ref = (for {
      (a, ta) <- batchStore; (b, tb) <- batchStore if a < b
      j = sh(ta).intersect(sh(tb)).size.toDouble /
        sh(ta).union(sh(tb)).size if j >= 0.5
    } yield (a, b)).toSet
    assert(ref.nonEmpty)
    assert(sa === batchStore.map(_._1).toSet && sb === sa && sc === sa)
    assert(pa === ref, "slicing A must converge to the exact pair set")
    assert(pb === ref, "slicing B must converge to the exact pair set")
    assert(pc === ref, "partitioned layout must converge identically")
    // the dethroned survivor is fully retired; its successor took over
    assert(!sa.contains(103L))
    assert(pa.forall(p => p._1 != 103L && p._2 != 103L))
    assert(pa.contains((5L, 1103L)))

    // the live cluster view (recomputed from the converged pair view)
    // equals driver-side union-find over the reference pair set
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    ref.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    val gotClusters = spark.read.parquet(lastClustersDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(gotClusters.map { case (k, v) => k -> v._1 } === want)
    gotClusters.foreach { case (doc, (cid, canon)) =>
      assert(canon === (cid == doc))
    }
  }

  test("near-dup view hot bucket: cool-era pairs retained, no explosion, containment holds") {
    import spark.implicits._
    // 125 mutually-near-identical docs (distinct first words → distinct
    // exact-dup keys → all survive) — their band buckets coincide, so
    // the index bucket runs HOT after the second batch. The documented
    // contract: pairs found while the bucket was cool are retained, a
    // hot bucket stops proposing (no O(bucket²) explosion), and the
    // view stays inside the brute-force reference.
    val common = (0 until 110).map(i =>
      if (i % 10 == 5) "the" else s"tok${i % 17}").mkString(" ")
    val docs = (0 until 125).map(i => (10L + i, s"w$i " + common))
    val cool = docs.take(10)
    val rest = docs.drop(10)

    val tmp = tempDir("neardup-hot").toFile.getAbsolutePath
    cool.toDF("doc_id", "text").coalesce(1).write.parquet(s"$tmp/upload/f0")
    rest.toDF("doc_id", "text").coalesce(1).write.parquet(s"$tmp/upload/f1")
    val q = CurationStream.runNearDupStream(spark, s"$tmp/upload/*",
      s"$tmp/store", s"$tmp/sigs", s"$tmp/pairs", s"$tmp/ck",
      cool.toDF("doc_id", "text").schema)
    q.awaitTermination()

    val pairs = spark.read.parquet(s"$tmp/pairs")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val coolIds = cool.map(_._1).toSet
    val coolPairs = for {
      a <- coolIds; b <- coolIds if a < b
    } yield (a, b)
    // every cool-era pair survives the bucket going hot
    assert(coolPairs.subsetOf(pairs))
    // the hot bucket stopped proposing: nowhere near the 7 750 pairs a
    // quadratic blowup would produce (second batch may add SOME pairs
    // in bands that stayed cool; the bound is what matters)
    assert(pairs.size < 1000, s"${pairs.size} pairs — cap not applied?")
    // containment: everything reported is a genuine >= 0.5 pair (all
    // docs here are mutual near-dups, so membership in the id set is
    // the reference check)
    val ids = docs.map(_._1).toSet
    assert(pairs.forall(p => ids.contains(p._1) && ids.contains(p._2)))
  }

  test("scoring stream: per-batch model inference equals batch scoring, replay idempotent") {
    import graft.ext.CorpusOps
    val tmp = tempDir("scoring-stream").toFile.getAbsolutePath
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text", "lang")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$tmp/upload/part0")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$tmp/upload/part1")

    // model trained OFFLINE on the full trusted corpus, before streaming
    val model = CorpusOps.trainLmModel(docs)
    CurationStream.runScoringStream(
      spark, s"$tmp/upload/*", s"$tmp/scores", s"$tmp/ckpt",
      docs.schema, model).awaitTermination()

    val cols = Seq("doc_id", "n_tokens", "score", "keep",
      "n_bigrams", "oov_bigrams", "nll_micro")
    val streamed = spark.read.parquet(s"$tmp/scores")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val batch = CorpusOps.classify(docs)
      .join(CorpusOps.lmScoreWith(docs, model), Seq("doc_id"))
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(streamed === batch && streamed.size === docs.count())

    // full redelivery (fresh checkpoint): batches overwrite their own
    // dirs — the score table is unchanged, not doubled
    CurationStream.runScoringStream(
      spark, s"$tmp/upload/*", s"$tmp/scores", s"$tmp/ckpt2",
      docs.schema, model).awaitTermination()
    val replayed = spark.read.parquet(s"$tmp/scores")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(replayed === batch)

    // trained-weights serving: the stream scores every batch with the
    // perceptron's weights (the train -> serve loop's streaming tail)
    val clf = CorpusOps.trainClassifier(docs)
    CurationStream.runScoringStream(
      spark, s"$tmp/upload/*", s"$tmp/scores2", s"$tmp/ckpt3",
      docs.schema, model, clfWeights = Some(clf.weights)).awaitTermination()
    val trainedCols = Seq("doc_id", "score", "pred")
    val streamedTrained = spark.read.parquet(s"$tmp/scores2")
      .select(trainedCols.map(col): _*).collect().map(_.toSeq).toSet
    val batchTrained = CorpusOps.classifyWith(docs, clf.weights)
      .select(trainedCols.map(col): _*).collect().map(_.toSeq).toSet
    assert(streamedTrained === batchTrained)

    // DSIR serving: the offline-trained λ table scores every batch;
    // streamed weights equal the batch weights doc-for-doc
    val dsirModel = CorpusOps.trainDsir(docs)
    CurationStream.runScoringStream(
      spark, s"$tmp/upload/*", s"$tmp/scores3", s"$tmp/ckpt4",
      docs.schema, model, dsir = Some(dsirModel)).awaitTermination()
    val dsirCols = Seq("doc_id", "n_feats", "logw_micro")
    val streamedDsir = spark.read.parquet(s"$tmp/scores3")
      .select(dsirCols.map(col): _*).collect().map(_.toSeq).toSet
    val batchDsir = CorpusOps.dsirWeightsWith(docs, dsirModel)
      .select(dsirCols.map(col): _*).collect().map(_.toSeq).toSet
    assert(streamedDsir === batchDsir)
  }

  test("novelty-gated curation stream: yesterday's corpus never re-enters the store") {
    import graft.operators.BloomProbe
    val tmp = tempDir("novelty-stream").toFile.getAbsolutePath
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val yesterday = docs.filter(col("doc_id") < 50)
    val bf = BloomProbe.buildFilter(
      yesterday.select(md5(col("text").cast("binary")).as("fp")), "fp",
      expectedKeys = 100, fpRate = 0.001)
    docs.coalesce(1).write.parquet(s"$tmp/upload/all")

    CurationStream.runCurationStream(
      spark, s"$tmp/upload/*", s"$tmp/store", s"$tmp/ckpt",
      docs.schema, noveltyFilter = Some(bf)).awaitTermination()

    val stored = spark.read.parquet(s"$tmp/store")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // no stored doc carries a text fingerprint from yesterday's set
    val yFps = yesterday.select(md5(col("text").cast("binary")))
      .collect().map(_.getString(0)).toSet
    val storedFps = docs.filter(col("doc_id").isInCollection(stored))
      .select(md5(col("text").cast("binary")))
      .collect().map(_.getString(0)).toSet
    assert(storedFps.intersect(yFps).isEmpty)
    // and the novel survivors match the batch prefilter + curation
    val batchEquivalent = graft.ext.TextOps.dedupScrubbed(
        graft.ext.TextOps.gateAndScrub(BloomProbe.filterNovel(
          docs.withColumn("fp", md5(col("text").cast("binary"))), "fp", bf)
          .drop("fp")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stored === batchEquivalent)
  }

  test("line-stats stream: incremental docfreq equals batch stats; clean view " +
    "converges with retroactive displacement; redelivery is a value no-op") {
    import graft.ext.CorpusOps
    val tmp = tempDir("linestats-stream").toFile.getAbsolutePath
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    // adversarial slicing: odd docs first, then even — duplicate groups
    // (the planted near-dup pairs share lines) split across batches
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$tmp/upload/part0")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$tmp/upload/part1")

    CurationStream.runLineStatsStream(
      spark, s"$tmp/upload/*", s"$tmp/stats", s"$tmp/ckpt",
      docs.schema).awaitTermination()

    def statRows(p: String) = spark.read.parquet(p)
      .select("lh", "mn", "mx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = statRows(s"$tmp/stats")
    val batchStats = CorpusOps.lineStats(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batchStats)

    // the clean-corpus view over the streamed stats equals the batch
    // operator — including docs from batch 0 whose lines only became
    // boilerplate when batch 1 delivered their duplicates (displacement)
    val viewRows = CurationStream.cleanCorpusView(spark, docs, s"$tmp/stats")
      .collect().map(_.toSeq).toSet
    val batchRows = CorpusOps.boilerplate(docs).collect().map(_.toSeq).toSet
    assert(viewRows === batchRows)
    val crossBatchCommon = CorpusOps.lineStats(docs)
      .filter(col("mn") =!= col("mx"))
      .filter(col("mn") % 2 === 1 && col("mx") % 2 === 0).count()
    assert(crossBatchCommon > 0, // the displacement case actually occurred
      "corpus plants no cross-slice duplicate lines; slicing needs rework")

    // full redelivery with a fresh checkpoint: min/max idempotence makes
    // the merged VALUES identical
    CurationStream.runLineStatsStream(
      spark, s"$tmp/upload/*", s"$tmp/stats", s"$tmp/ckpt2",
      docs.schema).awaitTermination()
    assert(statRows(s"$tmp/stats") === batchStats)
  }

  test("stream-fed store equals the batch gate+scrub+dedup output") {
    val tmp = tempDir("curation-stream").toFile.getAbsolutePath
    val upload = s"$tmp/upload"
    val store = s"$tmp/store"
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val schema = docs.schema

    // the corpus arrives in three arbitrary slices, one file each —
    // note the slicing SPLITS dedup groups across batches
    docs.filter(col("doc_id") % 3 === 0).coalesce(1)
      .write.parquet(s"$upload/part0")
    docs.filter(col("doc_id") % 3 === 1).coalesce(1)
      .write.parquet(s"$upload/part1")
    docs.filter(col("doc_id") % 3 === 2).coalesce(1)
      .write.parquet(s"$upload/part2")

    CurationStream.runCurationStream(
      spark, s"$upload/*", store, s"$tmp/ckpt", schema)
      .awaitTermination()

    val batch = TextOps.dedupScrubbed(TextOps.gateAndScrub(docs))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    assert(batch.nonEmpty)
    assert(storeRows(store) === batch)

    // redelivery of the WHOLE corpus (fresh checkpoint = every file
    // re-processed): the merge is idempotent, the store is unchanged
    CurationStream.runCurationStream(
      spark, s"$upload/*", store, s"$tmp/ckpt2", schema)
      .awaitTermination()
    assert(storeRows(store) === batch)

    // chunks derived from the streamed store equal the batch pipeline's
    // (same chunkTokens operator both sides)
    val streamedChunks = TextOps.chunkTokens(
        spark.read.parquet(store), col("scrubbed"))
      .select("doc_id", "chunk_id", "chunk_text")
      .collect().map(_.toSeq).toSet
    val batchChunks = TextOps.curateChunks(spark, dir)
      .select("doc_id", "chunk_id", "chunk_text")
      .collect().map(_.toSeq).toSet
    assert(streamedChunks === batchChunks)
  }

  test("novelty stream: cross-batch and within-batch duplicate texts " +
    "dropped, every distinct text emitted exactly once with its min-id " +
    "rep, bit store bounded; redelivery emits nothing new") {
    val tmp = tempDir("novelty-stream").toFile.getAbsolutePath
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val cutoff = docs.agg(max("doc_id")).head().getLong(0) / 2
    // slice 0 ⊂ slice 1: every lower-half text RECURS in the full-corpus
    // file, and the corpus's natural exact duplicates exercise the
    // within-batch path — whichever file order the source picks, each
    // distinct text must surface exactly once, under its global min id
    docs.filter(col("doc_id") <= cutoff).coalesce(1)
      .write.parquet(s"$tmp/upload/part0")
    docs.coalesce(1).write.parquet(s"$tmp/upload/part1")

    CurationStream.runNoveltyStream(
      spark, s"$tmp/upload/*", s"$tmp/novel", s"$tmp/bits", s"$tmp/ckpt",
      docs.schema).awaitTermination()

    def emitted() = spark.read.parquet(s"$tmp/novel")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val got = emitted()
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1))
    val minRep = texts.groupBy(_._2).map { case (t, rows) =>
      t -> rows.map(_._1).min }
    // exactly once, min-id representative, nothing else
    assert(got.map(_._2).distinct.length === got.length)
    assert(got.map(_._2).toSet === minRep.keySet)
    got.foreach { case (id, t) => assert(id === minRep(t), s"rep for $t") }

    // the store is positions, not keys: bounded by 3·distinct and m
    val bits = spark.read.parquet(s"$tmp/bits").select("bit").collect()
      .map(_.getLong(0))
    assert(bits.length === bits.distinct.length)
    assert(bits.length <= 3 * minRep.size)
    assert(bits.forall(b => b >= 0 &&
      b < graft.operators.BloomProbe.detBloomBits))

    // full redelivery, fresh checkpoint: markers + idempotent bit union
    // make it a value no-op
    CurationStream.runNoveltyStream(
      spark, s"$tmp/upload/*", s"$tmp/novel", s"$tmp/bits", s"$tmp/ckpt2",
      docs.schema).awaitTermination()
    assert(emitted().sortBy(_._1).toSeq === got.sortBy(_._1).toSeq)
  }

  test("substr-stats stream: clean view equals batch substrDedup over " +
    "the union corpus; cross-batch duplicates found; replay a no-op") {
    val tmp = tempDir("substr-stream").toFile.getAbsolutePath
    val statsPath = s"$tmp/winstats"
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    // the twin slice duplicates every third doc under new ids — spans
    // shared ACROSS batches, which only the accumulated store can see
    val twin = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val all = docs.unionByName(twin)
    docs.coalesce(1).write.parquet(s"$tmp/upload/a")
    twin.coalesce(1).write.parquet(s"$tmp/upload/b")
    CurationStream.runSubstrStatsStream(spark, s"$tmp/upload/*",
      statsPath, s"$tmp/ckpt", docs.schema).awaitTermination()

    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_dup_tokens"), r.getAs[String]("clean_text"))
    def view() = CurationStream.substrCleanView(spark, all, statsPath)
      .collect().map(key).sortBy(_._1)
    val got = view()
    val want = graft.ext.TextOps.substrDedup(all)
      .collect().map(key).sortBy(_._1)
    assert(got === want)
    // non-vacuous: the planted cross-batch duplicates are found (every
    // twin doc long enough to hold a window is fully covered)
    val k = graft.ext.TextOps.substrK
    val longTwins = want.filter(r => r._1 >= 10000 && r._2 >= k)
    assert(longTwins.nonEmpty)
    longTwins.foreach(r => assert(r._3 === r._2, s"doc ${r._1}"))
    // redelivery of slice A directly: min/max monoid makes it a no-op
    CurationStream.mergeWindowStatsBatch(spark, docs, statsPath)
    assert(view() === want)
  }

  test("ANN index stream: streamed store equals the one-shot batch " +
    "assignment, serving from it equals serving the batch artifacts, " +
    "staleness rises to the refit trigger, replay idempotent") {
    import graft.ext.Similarity
    val tmp = tempDir("ann-stream").toFile.getAbsolutePath
    val annPath = s"$tmp/ann"
    val emb = Tables(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    // frozen artifacts: centroids + PQ codebooks fit on the INITIAL
    // corpus (vec_id < 20 — enough points for k=16), exactly the
    // deployment posture the stream maintains between refits
    val fitSet = emb.filter(col("vec_id") < 20)
    val model = Similarity.trainPq(fitSet)
    val centroids = Similarity.buildIvfIndex(spark, dir).centroids
    CurationStream.initAnnStore(spark, fitSet, annPath, centroids, model)
    assert(CurationStream.annStaleness(spark, annPath) === 0.0)
    assert(!CurationStream.annNeedsRefit(spark, annPath))

    // stream the REST of the corpus in two slices (one file per batch)
    val rest = emb.filter(col("vec_id") >= 20)
    rest.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$tmp/upload/a")
    rest.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$tmp/upload/b")
    CurationStream.runAnnIndexStream(spark, s"$tmp/upload/*", annPath,
      s"$tmp/ckpt", rest.schema, centroids, model).awaitTermination()

    // streamed store == the one-shot batch assignment of the FULL
    // corpus under the same frozen artifacts (cell, code, and vector
    // bytes all equal)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("vec_id"), r.getAs[Number]("bucket").longValue(),
        r.getAs[Int]("code"), r.getAs[Seq[Float]]("embedding"))
    val got = spark.read.parquet(annPath)
      .select("vec_id", "bucket", "code", "embedding")
      .collect().map(key).sortBy(_._1)
    val want = Similarity.ivfAssign(emb, centroids)
      .join(Similarity.pqEncode(emb, model), "vec_id")
      .select(col("vec_id"), col("cell").cast("long").as("bucket"),
        col("code"), col("embedding"))
      .collect().map(key).sortBy(_._1)
    assert(got === want)

    // serving equivalence: ivfPqQuery over the streamed store equals
    // ivfPqQuery over batch-built artifacts, for a query vector
    val qv = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val (cellCodes, storeEmb) = CurationStream.annStoreIndex(spark, annPath)
    val servedStream = Similarity
      .ivfPqQuery(cellCodes, storeEmb, model, centroids, qv)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batchCellCodes = Similarity.ivfAssign(emb, centroids)
      .select(col("cell"), col("vec_id"))
      .join(Similarity.pqEncode(emb, model), "vec_id")
    val servedBatch = Similarity
      .ivfPqQuery(batchCellCodes, emb, model, centroids, qv)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(servedStream === servedBatch)

    // staleness: the streamed majority (> annRefitFraction of the
    // store) trips the refit trigger
    val stale = CurationStream.annStaleness(spark, annPath)
    val total = spark.read.parquet(annPath).count().toDouble
    assert(math.abs(stale - (total - 20) / total) < 1e-9)
    assert(CurationStream.annNeedsRefit(spark, annPath))

    // replay: re-appending a delivered slice is a value no-op
    CurationStream.appendAnnBatch(spark,
      rest.filter(col("vec_id") % 2 === 0), annPath, centroids, model)
    val again = spark.read.parquet(annPath)
      .select("vec_id", "bucket", "code", "embedding")
      .collect().map(key).sortBy(_._1)
    assert(again === want)
  }

  test("cohort store: streamed retention view == batch matrix under " +
    "event-sliced arrival; redelivery a no-op") {
    import graft.operators.Events
    import graft.streaming.CohortStore
    val tmp = tempDir("cohort-store").toFile.getAbsolutePath
    val root = s"$tmp/store"
    val ev = Tables(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    // slice by EVENT id, not user: a user's first-ever event can arrive
    // in any batch, so the equality below needs the min-monoid to
    // actually converge (first-seen-in-stream ≠ first-seen-in-corpus)
    (0 until 3).foreach(i => ev.filter(col("event_id") % 3 === i)
      .coalesce(1).write.parquet(s"$tmp/upload/$i"))
    CohortStore.runCohortStream(spark, s"$tmp/upload/*", root,
      s"$tmp/ckpt", ev.schema).awaitTermination()

    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2))
    val got = CohortStore.retentionView(spark, root).collect().map(key).toSet
    val want = Events.cohortRetention(ev).collect().map(key).toSet
    assert(got === want)
    // non-vacuous: one slice alone yields a DIFFERENT matrix
    assert(Events.cohortRetention(ev.filter(col("event_id") % 3 === 0))
      .collect().map(key).toSet !== want)
    // redelivering a whole slice is a value no-op (min + set union)
    CohortStore.mergeCohortBatch(spark,
      ev.filter(col("event_id") % 3 === 1), root)
    assert(CohortStore.retentionView(spark, root)
      .collect().map(key).toSet === want)
  }

  test("ANN refit end-to-end: retrained on the live store, atomic swap, " +
    "staleness reset, serving continuity; exhaustive recall preserved, " +
    "cells rebalanced") {
    import graft.ext.Similarity
    val tmp = tempDir("ann-refit").toFile.getAbsolutePath
    val annPath = s"$tmp/ann"
    val emb = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
    // frozen artifacts deliberately fit on a tiny 20-vector bootstrap —
    // the maximally-stale posture the refit trigger exists for
    val fitSet = emb.filter(col("vec_id") < 20)
    val model0 = Similarity.trainPq(fitSet)
    val centroids0 = Similarity.fitCentroids(fitSet)
    CurationStream.initAnnStore(spark, fitSet, annPath, centroids0, model0)
    CurationStream.appendAnnBatch(spark, emb.filter(col("vec_id") >= 20),
      annPath, centroids0, model0)
    assert(CurationStream.annNeedsRefit(spark, annPath))

    // driver-side brute ground truth (sf0.001: ~500 × 64 floats)
    val all = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dotf(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    def bruteTop(q: Long): Set[Long] = all.toSeq
      .map { case (id, v) => (id, dotf(all(q), v)) }
      .sortBy(r => (-r._2, r._1)).take(10).map(_._1).toSet
    def served(q: Long, cents: Array[Array[Double]],
               m: Similarity.PqModel, np: Int = 4,
               rr: Int = 50): Seq[(Long, Double)] = {
      val (cellCodes, storeEmb) = CurationStream.annStoreIndex(spark, annPath)
      Similarity.ivfPqQuery(cellCodes, storeEmb, m, cents, all(q),
        nprobe = np, rerank = rr)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val probes = all.keySet.toSeq.sorted.take(5)
    def cellSizes(): Seq[Long] = spark.read.parquet(annPath)
      .groupBy("bucket").count().collect().map(_.getAs[Long]("count")).toSeq
    // "Recall no worse" must be claimed where recall is PROVABLE: the
    // testdata embeddings are structureless random unit vectors, so
    // partial-probe recall is a hypergeometric draw under ANY
    // centroids (measured both ways in round 9 — noise either
    // direction). The deterministic operating point is the exhaustive
    // probe (every cell, rerank = corpus): there the index must equal
    // the brute top-10 EXACTLY — first under the frozen artifacts...
    def exhaustive(cents: Array[Array[Double]], m: Similarity.PqModel)
        : Map[Long, Set[Long]] =
      probes.map(q => q -> served(q, cents, m, cents.length, all.size)
        .map(_._1).toSet).toMap
    exhaustive(centroids0, model0).foreach { case (q, s) =>
      assert(s === bruteTop(q), s"frozen exhaustive probe wrong for $q")
    }
    val maxCellFrozen = cellSizes().max

    val (centroids1, model1) = CurationStream.refitAnnStore(spark, annPath)
    // swap published: staleness reset, trigger cleared, store complete
    assert(CurationStream.annStaleness(spark, annPath) === 0.0)
    assert(!CurationStream.annNeedsRefit(spark, annPath))
    assert(spark.read.parquet(annPath).select("vec_id")
      .collect().map(_.getLong(0)).toSet === all.keySet)
    // serving continuity across the boundary: full k answered, every
    // returned cosine is the exact re-ranked dot (value-verified
    // against the driver-side brute computation)
    probes.foreach { q =>
      val s = served(q, centroids1, model1)
      assert(s.size === 10)
      s.foreach { case (id, c) => assert(math.abs(c - dotf(all(q), all(id))) < 1e-5) }
    }
    // ...and equally after the swap: recall at the exhaustive point is
    // identical (100%) — the refit lost nothing
    exhaustive(centroids1, model1).foreach { case (q, s) =>
      assert(s === bruteTop(q), s"refit exhaustive probe wrong for $q")
    }
    // and the refit delivers its DOCUMENTED purpose — rebalance: the
    // frozen 20-point centroids left the streamed mass piled into a
    // few cells (max cell ≈ 28% of the store); retraining on the live
    // corpus pulls the max cell sharply toward n/k, making probe cost
    // predictable again
    assert(cellSizes().max < maxCellFrozen)
    // a second refit is idempotent on membership (artifacts retrain on
    // the identical corpus; the swap machinery round-trips)
    CurationStream.refitAnnStore(spark, annPath)
    assert(spark.read.parquet(annPath).select("vec_id")
      .collect().map(_.getLong(0)).toSet === all.keySet)

    // CRASH WINDOW between the two swap renames: the live store is
    // displaced to .bak and nothing was published. Every
    // reader/mutator must HEAL this (restore the complete old store)
    // before trusting fs state — without it, the next append would
    // silently recreate a one-batch store and a later refit's
    // bak-delete would destroy the old corpus.
    val fs = new org.apache.hadoop.fs.Path(annPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(annPath),
      new org.apache.hadoop.fs.Path(annPath + ".bak")))
    assert(CurationStream.annStaleness(spark, annPath) === 0.0) // healed
    assert(fs.exists(new org.apache.hadoop.fs.Path(annPath)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(annPath + ".bak")))
    assert(spark.read.parquet(annPath).select("vec_id")
      .collect().map(_.getLong(0)).toSet === all.keySet)
    // post-publish debris (bak present AND live present) is deleted
    fs.mkdirs(new org.apache.hadoop.fs.Path(annPath + ".bak"))
    val annRoot = new org.apache.hadoop.fs.Path(annPath)
    graft.merge.Merge.heal(fs, annRoot, "bucket", graft.merge.Merge.childNames(fs, annRoot))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(annPath + ".bak")))
  }

  test("simple store: a republish that died between its renames keeps " +
    "the full store") {
    val tmp = tempDir("curation-heal").toFile.getAbsolutePath
    val store = s"$tmp/store"
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val scrubbedAll = TextOps.gateAndScrub(docs)
    CurationStream.mergeCuratedBatch(
      spark, scrubbedAll.filter(col("doc_id") % 7 =!= 0), store)
    // crash BETWEEN overwriteAtomic's renames: the store displaced to
    // .bak, a complete next generation left unpublished in .tmp
    spark.read.parquet(store).write.parquet(s"$store.tmp")
    assert(new java.io.File(store).renameTo(new java.io.File(s"$store.bak")))
    // the next batch must merge into the restored corpus, not
    // republish a store built from this batch alone
    CurationStream.mergeCuratedBatch(
      spark, scrubbedAll.filter(col("doc_id") % 7 === 0), store)
    val want = TextOps.dedupScrubbed(scrubbedAll)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    assert(storeRows(store) === want)
  }

  test("threshold stream: rolling exact threshold equals batch " +
    "scoreThreshold after each absorbed prefix; replay a no-op") {
    import graft.ext.CorpusOps
    val tmp = tempDir("thresh-stream").toFile.getAbsolutePath
    val histPath = s"$tmp/hist"
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val sliceA = docs.filter(col("doc_id") % 3 === 0)
    val sliceB = docs.filter(col("doc_id") % 3 =!= 0)
    sliceA.coalesce(1).write.parquet(s"$tmp/upload/a")
    sliceB.coalesce(1).write.parquet(s"$tmp/upload/b")

    def one(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect()
      assert(r.length === 1)
      (r(0).getAs[Long]("n_docs"), r(0).getAs[Long]("k"),
        r(0).getAs[Long]("threshold"), r(0).getAs[Long]("n_kept"))
    }
    def batchWant(d: org.apache.spark.sql.DataFrame) =
      one(CorpusOps.scoreThreshold(
        CorpusOps.classify(d).select(col("doc_id"), col("score"))))

    CurationStream.runThresholdStream(spark, s"$tmp/upload/*",
      histPath, s"$tmp/ckpt", docs.schema).awaitTermination()
    // the rolling view over the full absorbed corpus is EXACT — same
    // (n, k, threshold, n_kept) as one-shot batch calibration
    assert(one(CurationStream.thresholdView(spark, histPath))
      === batchWant(docs))
    // non-vacuous split: each slice alone calibrates differently,
    // so the equality above needed BOTH batches' histograms
    assert(batchWant(sliceA) !== batchWant(docs))
    // redelivery: rewriting a batch partition is a value no-op
    // (locate sliceA's batch id by its doc count — file→batch order
    // is the stream's business, not the test's)
    val idA = spark.read.parquet(histPath)
      .groupBy(col("batch")).agg(sum(col("c")).as("n"))
      .filter(col("n") === sliceA.count())
      .collect().map(_.getAs[Number]("batch").longValue()).head
    CurationStream.appendScoreHistBatch(spark, sliceA, histPath, idA)
    assert(one(CurationStream.thresholdView(spark, histPath))
      === batchWant(docs))

    // GATE WIRING (r8 ask #6): the clean view gated on the LIVE
    // stream-calibrated threshold keeps exactly the docs the batch
    // gate keeps — scoreThreshold on the union corpus, filter ≥ —
    // ties included, and the kept count is the view's own n_kept
    val gated = CurationStream.gatedCorpusView(spark, docs, histPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val (_, _, tBatch, nKept) = batchWant(docs)
    val batchGate = CorpusOps.classify(docs)
      .filter(col("score") >= tBatch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gated === batchGate)
    assert(gated.size.toLong === nKept)
    // non-vacuous: the gate rejects someone
    assert(gated.size < docs.count())
  }
}
