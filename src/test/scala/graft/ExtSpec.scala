package graft

import graft.ext.{Dedup, Similarity, TextOps}

/** LLM-pipeline extension operators over the sf0.001 driver testdata. */
class ExtSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("minhash candidates recover the high-jaccard pairs jaccard finds") {
    val exact = Dedup.qDedupJaccard(spark, dir)
      .filter(org.apache.spark.sql.functions.col("jacc") >= 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.qDedupMinhash(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH at (8 bands, r=2) has ~100% candidate probability at jacc 0.5+;
    // verification filter makes them exactly the jacc>=0.5 pairs.
    assert(lsh === exact)
  }

  test("contrastive pairs: positives ≡ minhash near-dups, negatives capped and disjoint") {
    val out = Dedup.qContrastivePairs(spark, dir).collect()
    val pos = out.filter(_.getAs[String]("label") == "pos")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val minhash = Dedup.qDedupMinhash(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pos === minhash) // same ≥0.5-Jaccard band, same blocking
    val neg = out.filter(_.getAs[String]("label") == "hard_neg")
    assert(neg.nonEmpty)
    assert(neg.forall(_.getAs[Long]("jacc_micro") < 200000L))
    assert(neg.map(r => (r.getLong(0), r.getLong(1))).toSet
      .intersect(pos).isEmpty)
    // per-anchor cap, hardest-first: within an anchor the kept rows are
    // the top-k of the anchor's candidate set by (jacc desc, doc_b asc)
    val byAnchor = neg.groupBy(_.getLong(0))
    assert(byAnchor.values.forall(_.length <= Dedup.contrastiveNegPerAnchor))
  }

  test("simhash pairs are near-dups, not vocabulary coincidences") {
    val pairs = Dedup.qDedupSimhash(spark, dir).collect()
    assert(pairs.forall(_.getAs[Int]("hamming") <= 3))
  }

  test("ann brute: query vector is its own nearest neighbor, cosine ~ 1") {
    val top = Similarity.qAnnBrute(spark, dir).collect()
    assert(top.length === 10)
    assert(top.head.getAs[Long]("vec_id") === 0L)
    assert(math.abs(top.head.getAs[Double]("cosine") - 1.0) < 1e-5)
    // descending order
    val cosines = top.map(_.getAs[Double]("cosine")).toSeq
    assert(cosines === cosines.sorted.reverse)
  }

  test("ann lsh: query's bucket contains the query; EVERY cosine value-verified") {
    val lsh = Similarity.qAnnLsh(spark, dir).collect()
    assert(lsh.nonEmpty && lsh.head.getAs[Long]("vec_id") === 0L)
    // the oracle-checked full cosine table (q_ann_cosine_by_id) covers
    // every id — ALL returned cosines must match it, not just the ones
    // overlapping the brute top-10
    val cosMap = Similarity.qAnnCosineById(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    lsh.foreach { r =>
      assert(math.abs(r.getAs[Double]("cosine") -
        cosMap(r.getAs[Long]("vec_id"))) < 1e-12)
    }
    // multi-probe is a recall dial: widening the radius never loses a
    // result and never changes a returned cosine; brute-top-10 coverage
    // is monotone in the radius
    val brute10 = Similarity.qAnnBrute(spark, dir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    def ids(radius: Int) = Similarity.annLsh(spark, dir, probeRadius = radius)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val (r0, r1, r2) = (ids(0), ids(1), ids(2))
    assert((brute10 & r0).size <= (brute10 & r1).size)
    assert((brute10 & r1).size <= (brute10 & r2).size)
    assert(r1.size >= r0.size)
  }

  test("decontaminate: flags exactly the train docs sharing rare shingles with eval") {
    import org.apache.spark.sql.functions._
    val got = Dedup.qDecontaminate(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shared_shingles"), r.getAs[Long]("n_eval_docs"))).toMap
    // brute-force reference, driver-side (sf0.001 is 100 docs)
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def shingles(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 3) Set(t)
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    def isEval(id: Long): Boolean = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      hex.head == '0' || hex.head == '1'
    }
    val sets = docs.map { case (id, t) => id -> shingles(t) }
    val dfreq = sets.flatMap(_._2).groupBy(identity).map { case (g, v) => g -> v.size }
    val rare = sets.map { case (id, s) =>
      id -> s.filter(g => dfreq(g) <= Dedup.jaccardDocfreqCap) }.toMap
    val evalIds = docs.map(_._1).filter(isEval).toSet
    val want = docs.map(_._1).filterNot(evalIds).flatMap { id =>
      val shared = rare(id).filter(g => evalIds.exists(e => rare(e).contains(g)))
      val hits = evalIds.count(e => rare(e).intersect(rare(id)).nonEmpty)
      if (shared.nonEmpty) Some(id -> (shared.size.toLong, hits.toLong)) else None
    }.toMap
    assert(got === want)
    assert(got.keySet.intersect(evalIds).isEmpty)
  }

  test("pii scrub: emails and phones redacted, other text untouched") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, "contact Bob.Smith+x@corp.example.com or 555-123-4567 today"),
      (2L, "no pii here, just words and a year 2020"),
      (3L, "two mails: a@b.io c.d@e-f.org and 800.555.1212"),
      // phone-shaped span swallowed by the email match: counted once,
      // as an email — counts must equal placeholders in the output
      (4L, "reach me: 555-123-4567@corp.example.com")
    ).toDF("doc_id", "text")
    val emailScrubbed =
      regexp_replace(col("text"), TextOps.piiEmailRe, "<EMAIL>")
    val out = df.select(col("doc_id"),
        regexp_replace(emailScrubbed, TextOps.piiPhoneRe, "<PHONE>").as("s"),
        regexp_count(col("text"), lit(TextOps.piiEmailRe)).as("ne"),
        regexp_count(emailScrubbed, lit(TextOps.piiPhoneRe)).as("np"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getInt(2), r.getInt(3))).toSet
    assert(out === Set(
      (1L, "contact <EMAIL> or <PHONE> today", 1, 1),
      (2L, "no pii here, just words and a year 2020", 0, 0),
      (3L, "two mails: <EMAIL> <EMAIL> and <PHONE>", 2, 1),
      (4L, "reach me: <EMAIL>", 1, 0)))
    // corpus run: deterministic shape, one row per doc
    val corpus = TextOps.qPiiScrub(spark, dir)
    assert(corpus.count() === Tables(spark, dir, "documents").count())
  }

  test("chunking: every token covered, overlaps correct, chunks ordered") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, dir, "documents")
    val chunks = TextOps.qChunk(spark, dir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val lens = docs.select(col("doc_id"),
        size(split(col("text"), " ")).as("n")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    assert(chunks.keySet === lens.keySet)
    chunks.foreach { case (docId, rows) =>
      val n = lens(docId)
      val byId = rows.sortBy(_.getAs[Long]("chunk_id"))
      // chunk ids are contiguous from 0 and cover the last token
      assert(byId.map(_.getAs[Long]("chunk_id")).toSeq ===
        (0L until byId.length.toLong))
      val lastStart = (byId.length - 1) * TextOps.chunkStride
      assert(lastStart < n && lastStart + TextOps.chunkStride >= n)
      byId.zipWithIndex.foreach { case (r, i) =>
        val expectLen = math.min(TextOps.chunkWindow,
          n - i * TextOps.chunkStride)
        assert(r.getAs[Long]("n_chunk_tokens") === expectLen.toLong)
      }
    }
  }

  test("rep ratio: loops score high, varied text zero, bounds hold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // handcrafted rows through the operator's own expression, checked
    // against hand-computed ratios
    val df = Seq(
      (1L, "ab cd ab cd ab cd ab cd"),   // 7 bigrams, 2 distinct
      (2L, "one two three four five"),   // all bigrams distinct
      (3L, "solo")                        // < 2 tokens: 0 by contract
    ).toDF("doc_id", "text")
    val native = org.apache.spark.sql.graftshim.BigramRepRatio
      .bigramRepRatio(col("text"))
    val out = df.select(col("doc_id"), native.as("r")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L) - (1.0 - 2.0 / 7.0)) < 1e-12)
    assert(out(2L) === 0.0 && out(3L) === 0.0)
    // native == HOF formulation on the whole corpus, and bounds hold
    val both = Tables(spark, dir, "documents").select(
      native.as("n"), TextOps.repRatioHof(col("text")).as("h")).collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1))
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) < 1.0)
    }
  }

  test("group cap: at most N per (lang, source), deterministic selection") {
    import org.apache.spark.sql.functions._
    val out = TextOps.qGroupCap(spark, dir)
    val counts = out.groupBy("lang", "source").count().collect()
    assert(counts.forall(_.getAs[Long]("count") <= TextOps.groupCapN))
    // deterministic: two evaluations pick identical doc sets
    val a = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = TextOps.qGroupCap(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("property: group-cap prefilter output equals the unprefiltered window") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import org.scalacheck.Gen
    import spark.implicits._
    // skewed corpora: a few (lang, source) cells whose sizes span four
    // orders of magnitude — tiny groups take the keepFrac=1 branch,
    // huge ones exercise the 4N/gn quantile prefilter for real
    val sizesGen = Gen.chooseNum(1, 5).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf(
        Gen.chooseNum(0, 10), Gen.chooseNum(50, 120),
        Gen.chooseNum(800, 1500), Gen.const(4000))))
    forAllSamples(sizesGen, 8) { sizes =>
      var nextId = 0L
      val rows = sizes.zipWithIndex.flatMap { case (gn, g) =>
        (0 until gn).map { _ =>
          nextId += 1
          (nextId, s"lang$g", s"src$g")
        }
      }
      if (rows.nonEmpty) {
        val docs = rows.toDF("doc_id", "lang", "source").repartition(7)
        val capped = TextOps.groupCap(docs, TextOps.groupCapN)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
          .toSet
        // the unprefiltered exact form — same coin, same order, no
        // quantile cut: what a single-partition-tolerant engine computes
        val coin = md5(col("doc_id").cast("string").cast("binary"))
        val w = Window.partitionBy("lang", "source")
          .orderBy(coin, col("doc_id"))
        val exact = docs
          .withColumn("rk", row_number().over(w).cast("bigint"))
          .filter(col("rk") <= TextOps.groupCapN)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
          .toSet
        assert(capped === exact)
      }
    }
  }

  test("pack: chunks partition into context-sized packs in stream order") {
    val out = TextOps.qPack(spark, dir)
      .orderBy("doc_id", "chunk_id").collect()
    assert(out.nonEmpty)
    var prevCum = 0L
    var prevPack = 0L
    out.foreach { r =>
      val n = r.getAs[Long]("n_chunk_tokens")
      val cum = r.getAs[Long]("cum_tokens")
      val pack = r.getAs[Long]("pack_id")
      assert(cum === prevCum + n) // the running total IS a prefix sum
      assert(pack === (cum - n) / TextOps.packContext) // start-offset bin
      assert(pack >= prevPack) // packs fill in order, never backwards
      prevCum = cum; prevPack = pack
    }
    // every pack id up to the last is inhabited (concat-and-split
    // leaves no empty packs)
    val packs = out.map(_.getAs[Long]("pack_id")).distinct.sorted
    assert(packs.toSeq === (packs.head to packs.last))
  }

  test("training shards: packs never straddle files, chunks in stream order") {
    import org.apache.spark.sql.functions._
    val tmp = tempDir("shards")
      .toFile.getAbsolutePath
    TextOps.writeTrainingShards(TextOps.qPack(spark, dir), tmp, shards = 4)
    val files = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length === 4)
    // each pack lives entirely in ONE file, and within a file chunks
    // appear in (pack_id, doc_id, chunk_id) order
    val perFile = files.map { f =>
      f -> spark.read.parquet(f)
        .select("pack_id", "doc_id", "chunk_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    perFile.foreach { case (_, rows) => assert(rows === rows.sorted) }
    val packToFiles = perFile.flatMap { case (f, rows) =>
      rows.map(_._1 -> f)
    }.groupBy(_._1).view.mapValues(_.map(_._2).distinct.length)
    assert(packToFiles.values.forall(_ === 1))
    // nothing lost: shard union == the pack table
    val all = perFile.flatMap(_._2).sorted
    val want = TextOps.qPack(spark, dir)
      .select("pack_id", "doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(all === want)
  }

  test("passage dedup: reported hashes recompute to real multi-occurrence passages") {
    import org.apache.spark.sql.functions._
    val reported = TextOps.qPassageDedup(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_occurrences"), r.getAs[Long]("n_docs"))).toMap
    assert(reported.nonEmpty)
    // brute recount over the collected corpus
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
    val occ = scala.collection.mutable.Map[String, List[Long]]()
    docs.foreach { r =>
      val t = r.getString(1).split(" ")
      t.grouped(TextOps.passageLen).foreach { p =>
        val ph = java.security.MessageDigest.getInstance("MD5")
          .digest(p.mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        occ(ph) = r.getLong(0) :: occ.getOrElse(ph, Nil)
      }
    }
    val expect = occ.filter(_._2.size > 1)
      .map { case (ph, ds) => ph -> (ds.size.toLong, ds.distinct.size.toLong) }
    assert(reported === expect)
  }

  test("substr dedup: full driver-side replay; duplicated runs >= k " +
    "covered end to end; unique docs untouched") {
    val k = TextOps.substrK
    val got = TextOps.qSubstrDedup(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_tokens"),
          r.getAs[String]("clean_text")))).toMap
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // corpus-wide window-hash counts
    val counts = scala.collection.mutable.Map[String, Int]()
    val winsOf = docs.map { case (id, text) =>
      val t = text.split(" ", -1)
      val ws = (0 to t.length - k).map(p => md5(t.slice(p, p + k).mkString(" ")))
      ws.foreach(w => counts(w) = counts.getOrElse(w, 0) + 1)
      id -> (t, ws)
    }.toMap
    docs.foreach { case (id, _) =>
      val (t, ws) = winsOf(id)
      val covered = Array.fill(t.length)(false)
      ws.zipWithIndex.foreach { case (w, p) =>
        if (counts(w) > 1) (p until p + k).foreach(covered(_) = true)
      }
      val clean = t.indices.filterNot(covered).map(t).mkString(" ")
      assert(got(id) === ((t.length.toLong, covered.count(identity).toLong,
        clean)), s"doc $id")
    }
    // planted semantics (the sf0.001 corpus has no exact-duplicate
    // docs, so the properties get their own corpus): a shared run of
    // exactly k is removed from EVERY copy end to end, a run of k-1
    // is invisible, unique docs come back verbatim, and a
    // self-repeating doc is self-deduplicated
    import spark.implicits._
    def words(prefix: String, n: Int) =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val shared = words("dup", k) // duplicated run of exactly k tokens
    val short = words("small", k - 1) // below the dial: invisible
    val planted = Seq(
      1L -> s"${words("a", 5)} $shared ${words("b", 5)}",
      2L -> s"${words("c", 6)} $shared",
      3L -> s"${words("u", 20)}", // unique, untouched
      4L -> s"$short ${words("d", 9)} $short", // k-1 repeats: unseen
      5L -> s"$shared $shared ${words("e", 4)}" // self-repetition
    ).toDF("doc_id", "text")
    val p = TextOps.substrDedup(planted, k).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_dup_tokens"), r.getAs[String]("clean_text"))))
      .toMap
    assert(p(1L) === ((k.toLong, s"${words("a", 5)} ${words("b", 5)}")))
    assert(p(2L) === ((k.toLong, words("c", 6))))
    assert(p(3L) === ((0L, words("u", 20))))
    assert(p(4L) === ((0L, s"$short ${words("d", 9)} $short")))
    // doc 5: the shared run appears twice PLUS the straddle windows
    // between the copies are themselves... unique (dup1..dupk dup1..)
    // — exactly the two copies' 2k tokens are covered
    assert(p(5L) === ((2L * k, words("e", 4))))
  }

  test("contamination fraction: bounds, exactness, agreement with the flag join") {
    import org.apache.spark.sql.functions._
    val rows = graft.ext.Dedup.qContamFrac(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_shingles")
      val c = r.getAs[Long]("n_contaminated")
      val f = r.getAs[Double]("contam_frac")
      assert(n > 0 && c >= 0 && c <= n)
      assert(f === c.toDouble / n)
    }
    // the synthetic corpus shares vocabulary heavily: some eval doc must
    // show partial (not just 0/1) contamination for the operator to be
    // a meaningful graded signal on this data
    assert(rows.exists { r =>
      val f = r.getAs[Double]("contam_frac"); f > 0.0 && f < 1.0
    })
  }

  test("embed prototype: quantized centroid replayed driver-side; " +
    "target class has top mean affinity; scoring plan is map-only") {
    import org.apache.spark.sql.functions._
    import graft.ext.Similarity
    val emb = Tables(spark, dir, "embeddings")
    val scored = Similarity.embedPrototype(emb)
    // driver-side replay of the centroid + one vector's score
    val tgt = emb.filter(col("label") === Similarity.protoLabel)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val dims = tgt.head.length
    val proto = (0 until dims).map { j =>
      val s = tgt.map(v => math.round(v(j).toDouble * 1e6)).sum
      (s.toDouble / tgt.length / 1e6).toFloat
    }.toArray
    val rows = scored.collect()
    val first = rows.minBy(_.getLong(0))
    val v0 = emb.filter(col("vec_id") === first.getLong(0))
      .select("embedding").head.getSeq[Float](0)
    val want = v0.zip(proto).foldLeft(0.0) {
      case (acc, (x, p)) => acc + x.toDouble * p.toDouble
    }
    assert(first.getAs[Double]("proto_dot") === want)
    // the target class is its own centroid's best-scoring class
    val byLabel = rows.groupBy(_.getInt(1)).view
      .mapValues(g => g.map(_.getAs[Double]("proto_dot")).sum / g.size)
    assert(byLabel.maxBy(_._2)._1 === Similarity.protoLabel, byLabel.toMap)
    // scoring is a literal-array map — no join, no exchange
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      plan.take(400))
  }

  test("ncm predict: argmax replayed driver-side, beats chance, " +
    "preds in the label set") {
    import graft.ext.Similarity
    val emb = Tables(spark, dir, "embeddings")
    val rows = Similarity.ncmPredict(emb).collect()
    assert(rows.length === emb.count())
    // every prediction is a real class (the CASE never falls through)
    assert(rows.forall(r => Similarity.ncmLabels.contains(r.getInt(2))))
    // correct flag is consistent and accuracy beats 3x chance
    rows.foreach(r =>
      assert(r.getInt(3) === (if (r.getInt(2) === r.getInt(1)) 1 else 0)))
    val acc = rows.map(_.getInt(3)).sum.toDouble / rows.length
    assert(acc > 3.0 / Similarity.ncmLabels.size, s"acc=$acc")
    // driver-side replay: rebuild all centroids + argmax for one vector
    val all = emb.select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val dims = all.head._3.length
    val protos = Similarity.ncmLabels.map { l =>
      val vs = all.filter(_._2 == l).map(_._3)
      l -> (0 until dims).map { j =>
        val s = vs.map(v => math.round(v(j).toDouble * 1e6)).sum
        (s.toDouble / vs.length / 1e6).toFloat
      }.toArray
    }.toMap
    val (vid, _, v) = all.minBy(_._1)
    val dots = Similarity.ncmLabels.map(l => l -> v.zip(protos(l))
      .foldLeft(0.0) { case (a, (x, p)) => a + x.toDouble * p.toDouble })
    val wantPred = dots.filter(_._2 == dots.map(_._2).max).map(_._1).min
    assert(rows.find(_.getLong(0) == vid).get.getInt(2) === wantPred)
  }

  test("source overlap: matrix replays the pair view exactly, unordered keys") {
    val srcOf = Tables(spark, dir, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = graft.ext.Dedup.jaccardPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = pairs.groupBy { case (a, b, _) =>
        val (sa, sb) = (srcOf(a), srcOf(b))
        if (sa <= sb) (sa, sb) else (sb, sa)
      }.map { case (k, g) =>
        k -> ((g.size.toLong, g.count(_._3 >= 0.5).toLong))
      }
    val got = graft.ext.Dedup.qSourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_strong")))).toMap
    assert(got === want)
    assert(got.keys.forall { case (a, b) => a <= b })
    assert(got.values.map(_._1).sum === pairs.length.toLong)
  }

  test("curation e2e: stage invariants hold through the composed pipeline") {
    import org.apache.spark.sql.functions._
    val out = TextOps.qCurate(spark, dir).collect()
    assert(out.nonEmpty)
    val keptDocs = out.map(_.getAs[Long]("doc_id")).distinct.toSet
    // survivors are exactly a subset of the quality-gate passers
    val quality = TextOps.qQualityFilter(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptDocs.subsetOf(quality))
    // dedup: survivors are EXACTLY each group's min doc_id over the
    // gate-passing corpus, keyed on the SCRUBBED prefix (the pipeline's
    // real key — equal to raw text here only because the corpus plants
    // no PII)
    val gateScrubbed = TextOps.gateAndScrub(
        Tables(spark, dir, "documents"))
      .select(col("doc_id"), substring(col("scrubbed"), 1, 40).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val wantSurvivors = gateScrubbed.groupBy(_._2)
      .map { case (_, g) => g.map(_._1).min }.toSet
    assert(keptDocs === wantSurvivors)
    // packing: same invariants as q_pack, over the curated stream
    var prevCum = 0L
    out.sortBy(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")))
      .foreach { r =>
        val n = r.getAs[Long]("n_chunk_tokens")
        val cum = r.getAs[Long]("cum_tokens")
        assert(cum === prevCum + n)
        assert(r.getAs[Long]("pack_id") === (cum - n) / TextOps.packContext)
        prevCum = cum
      }
  }

  test("ivf index: persisted round-trip serves identical results with partition pruning") {
    import org.apache.spark.sql.functions._
    val built = graft.ext.Similarity.buildIvfIndex(spark, dir)
    val qv = built.cells.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val tmp = tempDir("ivf-idx")
      .toFile.getAbsolutePath
    graft.ext.Similarity.saveIvfIndex(built, tmp)
    val loaded = graft.ext.Similarity.loadIvfIndex(spark, tmp)
    // centroids survive byte-identical -> same probe set
    assert(loaded.centroids.map(_.toSeq).toSeq ===
      built.centroids.map(_.toSeq).toSeq)
    val fromBuilt = graft.ext.Similarity.ivfQuery(built, qv)
      .collect().map(_.toSeq).toSeq
    val servedQuery = graft.ext.Similarity.ivfQuery(loaded, qv)
    assert(servedQuery.collect().map(_.toSeq).toSeq === fromBuilt)
    // the cell filter reaches the scan as PARTITION pruning: only the
    // probed cells' files are read
    val plan = servedQuery.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell#"),
      s"expected partition pruning on cell in:\n$plan")
  }

  test("stratified sample: per-stratum rates near targets, deterministic") {
    import org.apache.spark.sql.functions._
    val total = Tables(spark, dir, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = TextOps.qStratifiedSample(spark, dir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    total.foreach { case (lang, n) =>
      val target = if (lang == "en") 0.35 else 0.70
      val rate = kept.getOrElse(lang, 0L).toDouble / n
      // binomial tolerance at these stratum sizes (~60-220 docs)
      assert(math.abs(rate - target) < 0.2, s"$lang rate $rate vs $target")
    }
    // deterministic: same doc set on re-evaluation
    val a = TextOps.qStratifiedSample(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = TextOps.qStratifiedSample(spark, dir).repartition(7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("curation views: SQL-first surface composes over the registered artifacts") {
    graft.ext.CurationViews.createAll(spark, dir)
    graft.ext.CurationViews.createModelViews(spark, dir)
    // composed SQL: survivors of each cluster joined back to documents
    val canon = spark.sql(
      """SELECT c.cluster_id, d.n_chars
        |FROM dup_clusters c JOIN documents d ON c.doc_id = d.doc_id
        |WHERE c.is_canonical""".stripMargin)
    assert(canon.count() ===
      Dedup.qDupClusters(spark, dir).filter("is_canonical").count())
    // corpus_dedup = documents minus non-canonical cluster members
    val nDocs = spark.sql("SELECT count(*) AS n FROM documents")
      .head().getLong(0)
    val nDedup = spark.sql("SELECT count(*) AS n FROM corpus_dedup")
      .head().getLong(0)
    val nNonCanon = spark.sql(
      "SELECT count(*) AS n FROM dup_clusters WHERE NOT is_canonical")
      .head().getLong(0)
    assert(nDedup === nDocs - nNonCanon)
    // the shuffle view joins cleanly against stats
    val joined = spark.sql(
      """SELECT s.shard, count(*) AS n, sum(t.n_tokens) AS toks
        |FROM corpus_shuffle s JOIN doc_stats t ON s.doc_id = t.doc_id
        |GROUP BY s.shard""".stripMargin).collect()
    assert(joined.length === TextOps.shuffleShards)
    assert(joined.map(_.getLong(1)).sum === nDocs)
    // round-6 model views: a SQL-first SELECTION query — classifier
    // verdict and LM perplexity proxy composed from one per-doc table
    val sel = spark.sql(
      """SELECT count(*) AS n FROM doc_scores
        |WHERE keep = 1 AND n_bigrams > 0
        |  AND CAST(nll_micro AS DOUBLE) / n_bigrams < 4000000""".stripMargin)
      .head().getLong(0)
    val direct = graft.ext.CorpusOps.classify(
        Tables(spark, dir, "documents")).filter("keep = 1")
      .join(graft.ext.CorpusOps.qLmScore(spark, dir)
        .filter("n_bigrams > 0 AND CAST(nll_micro AS DOUBLE) / n_bigrams < 4000000"),
        Seq("doc_id"), "left_semi").count()
    assert(sel === direct && sel > 0)
    // vocab view serves the frequency head; boilerplate view covers the corpus
    assert(spark.sql("SELECT count(*) AS n FROM corpus_vocab").head().getLong(0)
      === graft.ext.CorpusOps.qVocab(spark, dir).count())
    assert(spark.sql("SELECT count(*) AS n FROM corpus_boilerplate")
      .head().getLong(0) === nDocs)
    // round-8 views: span dedup covers every doc; temp sample keeps a
    // nonempty strict subset weighted toward the tail
    assert(spark.sql("SELECT count(*) AS n FROM corpus_substr_dedup")
      .head().getLong(0) === nDocs)
    val nTemp = spark.sql("SELECT count(*) AS n FROM corpus_temp_sample")
      .head().getLong(0)
    assert(nTemp > 0 && nTemp < nDocs)
    // rep_ratio rides in the same per-doc score table
    assert(spark.sql(
      "SELECT count(*) AS n FROM doc_scores WHERE rep_ratio BETWEEN 0 AND 1")
      .head().getLong(0) === nDocs)
    // semantic-dedup verdict covers the embedding corpus; bpe merges
    // are rank-contiguous
    assert(spark.sql("SELECT count(*) AS n FROM semantic_dedup")
      .head().getLong(0) ===
      Tables(spark, dir, "embeddings").count())
    val ranks = spark.sql("SELECT rank FROM bpe_merges ORDER BY rank")
      .collect().map(_.getInt(0)).toSeq
    assert(ranks === ranks.indices.map(identity))
    // source_overlap totals tie back to the registered pair view
    assert(spark.sql("SELECT sum(n_pairs) AS n FROM source_overlap")
      .head().getLong(0) ===
      spark.sql("SELECT count(*) AS n FROM dup_pairs").head().getLong(0))
    // round-8 DSIR views: weights cover the corpus; the resample is a
    // weight-ranked subset of it
    assert(spark.sql("SELECT count(*) AS n FROM dsir_weights")
      .head().getLong(0) === nDocs)
    assert(spark.sql(
      """SELECT count(*) AS n FROM dsir_sample s
        |JOIN dsir_weights w ON s.doc_id = w.doc_id
        |  AND s.logw_micro = w.logw_micro""".stripMargin)
      .head().getLong(0) ===
      spark.sql("SELECT count(*) AS n FROM dsir_sample").head().getLong(0))
  }

  test("pack boundaries: every chunk appears exactly once, offsets inside the context") {
    import org.apache.spark.sql.functions._
    val rows = TextOps.qPackBoundaries(spark, dir).collect()
    val entries = rows.flatMap { r =>
      val bs = r.getAs[String]("boundaries").split(";")
      assert(bs.length.toLong === r.getAs[Long]("n_samples"))
      bs.map { b =>
        val Array(d, c, off) = b.split(":").map(_.toLong)
        assert(off >= 0 && off < TextOps.packContext)
        (d, c)
      }
    }
    val allChunks = TextOps.qChunk(spark, dir)
      .select("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(entries.sorted.toSeq === allChunks.sorted.toSeq) // partition, no dup/loss
  }

  test("manifest: totals match the corpus and the Merkle root detects any text change") {
    import org.apache.spark.sql.functions._
    val m = TextOps.qManifest(spark, dir).collect().head
    val docs = Tables(spark, dir, "documents")
    assert(m.getAs[Long]("n_docs") === docs.count())
    assert(m.getAs[Long]("n_tokens") ===
      docs.select(sum(size(split(col("text"), " ")))).head().getLong(0))
    // driver-side replay of the two-level digest — and a one-character
    // corpus change flips the root
    def root(texts: Map[Long, String]): String = {
      def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val byBkt = texts.toSeq
        .map { case (id, t) => (id % TextOps.manifestBuckets, id, md5s(t)) }
        .groupBy(_._1)
      val bhs = byBkt.toSeq.map { case (b, v) =>
        b -> md5s(v.sortBy(_._2).map(_._3).mkString)
      }.sortBy(_._1)
      md5s(bhs.map(_._2).mkString)
    }
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.getAs[String]("corpus_md5") === root(texts))
    val tampered = texts.updated(texts.keys.head,
      texts(texts.keys.head) + "x")
    assert(root(tampered) !== m.getAs[String]("corpus_md5"))
  }

  test("resolveDuplicates: keeps exactly one doc per cluster plus all singletons") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, dir, "documents")
    val pairs = Dedup.qDedupJaccard(spark, dir).select("doc_a", "doc_b")
    val resolved = Dedup.resolveDuplicates(docs, pairs)
    val kept = resolved.select("doc_id").collect().map(_.getLong(0)).toSet
    val clusters = Dedup.qDupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val clustered = clusters.map(_._1).toSet
    // singletons all kept; per cluster exactly the min survives
    assert(kept === (all -- clustered) ++ clusters.groupBy(_._2).keySet)
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).toSet.intersect(kept) === Set(cid))
    }
    // union of two miners' graphs merges evidence across miners
    val unionPairs = pairs.union(
      Dedup.qDedupMinhash(spark, dir).select("doc_a", "doc_b"))
    val resolved2 = Dedup.resolveDuplicates(docs, unionPairs)
    assert(resolved2.count() <= resolved.count())
  }

  test("resolveDuplicatesBy: the highest-score member survives each cluster") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, dir, "documents")
    val pairs = Dedup.qDedupJaccard(spark, dir).select("doc_a", "doc_b")
    val resolved = Dedup.resolveDuplicatesBy(docs, pairs, col("n_chars"))
    val kept = resolved.select("doc_id").collect().map(_.getLong(0)).toSet
    val chars = docs.select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clusters = Dedup.qDupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    // same cardinality contract as min-id resolution...
    assert(resolved.count() ===
      Dedup.resolveDuplicates(docs, pairs).count())
    // ...but the survivor is the argmax by n_chars (min id on ties)
    clusters.groupBy(_._2).foreach { case (_, members) =>
      val ids = members.map(_._1)
      val want = ids.maxBy(id => (chars(id), -id))
      assert(ids.toSet.intersect(kept) === Set(want))
    }
  }

  test("q_dedup_keep_best: same membership as q_dup_clusters, exactly one " +
    "kept per cluster and it is the score argmax") {
    import org.apache.spark.sql.functions._
    val out = Dedup.qDedupKeepBest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val membership = Dedup.qDupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.map(t => (t._1, t._2)).toSet === membership)
    out.groupBy(_._2).foreach { case (_, members) =>
      val kept = members.filter(_._4 == 1)
      assert(kept.length === 1)
      val want = members.maxBy(m => (m._3, -m._1)) // max score, min id tie
      assert(kept.head._1 === want._1)
    }
  }

  test("q_source_cards: per-source rows sum to the dataset card totals, " +
    "baselines constant across rows") {
    val cards = graft.ext.TextOps.qSourceCards(spark, dir).collect()
    val card = graft.ext.TextOps.qDatasetCard(spark, dir).collect()(0)
    assert(cards.map(_.getLong(1)).sum === card.getLong(0)) // n_docs
    assert(cards.map(_.getLong(2)).sum === card.getLong(1)) // n_tokens
    // the corpus-baseline columns are identical on every row
    assert(cards.map(_.getLong(5)).toSet.size === 1)
    assert(cards.map(_.getLong(6)).toSet.size === 1)
    // per-source rates genuinely vary (the drift table is non-vacuous)
    assert(cards.map(_.getLong(3)).toSet.size > 1)
  }

  test("mixture sample: sampled token shares track target weights, deterministic") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
    val totalTokens = docs.agg(sum("n_tokens")).head().getLong(0)
    val budget = TextOps.mixtureBudgetShare * totalTokens
    val kept = TextOps.qMixtureSample(spark, dir)
    val bySource = kept.groupBy("source")
      .agg(sum("n_tokens").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every source's sampled tokens near its target share of the budget
    // (binomial tolerance: sf0.001 strata are ~5 docs / ~300 tokens)
    bySource.keys.foreach { s =>
      val w = if (Set("src0", "src1", "src2", "src3")(s)) 0.10 else 0.0375
      val got = bySource(s).toDouble
      assert(got <= 3.0 * w * budget + 200,
        s"$s sampled $got vs target ${w * budget}")
    }
    // head sources must be sampled at a HIGHER rate than tail sources
    val perSourceTotals = docs.groupBy("source")
      .agg(sum("n_tokens").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val headRate = (0 to 3).map(i => s"src$i")
      .map(s => bySource.getOrElse(s, 0L).toDouble /
        perSourceTotals(s)).sum / 4
    val tailRate = (4 to 19).map(i => s"src$i")
      .filter(perSourceTotals.contains)
      .map(s => bySource.getOrElse(s, 0L).toDouble /
        perSourceTotals(s)).sum / 16
    assert(headRate > tailRate,
      s"head rate $headRate should exceed tail rate $tailRate")
    // deterministic across re-evaluation
    val a = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = TextOps.qMixtureSample(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("shard shuffle: positions are a permutation, shards balanced, " +
       "order is the md5 coin order") {
    import org.apache.spark.sql.functions._
    val n = Tables(spark, dir, "documents").count()
    val rows = TextOps.qShardShuffle(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === n)
    // pos is exactly 0..n-1
    assert(rows.map(_._2).sorted.toSeq === (0L until n).toSeq)
    // shard = pos mod k → shard sizes differ by at most 1
    val sizes = rows.groupBy(_._3).values.map(_.size)
    assert(sizes.max - sizes.min <= 1)
    assert(rows.map(_._3).distinct.length === TextOps.shuffleShards)
    // the permutation IS the md5 order (spot-check via driver md5)
    val md = java.security.MessageDigest.getInstance("MD5")
    def coin(id: Long): String = md.digest(
      id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = rows.map(_._1).sortBy(id => (coin(id), id))
    assert(rows.sortBy(_._2).map(_._1).toSeq === expected.toSeq)
    // shuffled: the permutation is not the identity order
    assert(rows.sortBy(_._2).map(_._1).toSeq !== rows.map(_._1).sorted.toSeq)
  }

  test("embedding pair-mining: planted near-dups found, cosines exact, never all-pairs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // plant near-dups: for every 10th real embedding, add a slightly
    // perturbed copy (renormalized). Perturbation 0.005/dim keeps the
    // planted cosine ≥ ~0.9997, where the 8-plane single-band
    // collision probability (1−acos(c)/π)⁸ is ≥ ~0.94 — the ≥70%
    // recall assertion below then has many sigmas of margin (at the
    // earlier 0.02 perturbation, cosine ~0.995 ⇒ collision ~0.79 and
    // the assertion sat within ~1.5σ of flaking).
    val base = Tables(spark, dir, "embeddings")
      .collect().map(r =>
        r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray)
    def perturb(v: Array[Float], seed: Int): Array[Float] = {
      val rnd = new scala.util.Random(seed)
      val p = v.map(x => x + 0.005f * rnd.nextFloat())
      val n = math.sqrt(p.map(x => x.toDouble * x).sum)
      p.map(x => (x / n).toFloat)
    }
    val planted = base.filter(_._1 % 10 == 0)
      .map { case (id, v) => (id + 100000L, perturb(v, id.toInt)) }
    val corpus = (base ++ planted).toSeq.toDF("vec_id", "embedding")

    val pairs = graft.ext.Similarity
      .embedNearDup(corpus, minCos = 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty)
    val byId = (base ++ planted).toMap
    def cos(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    // every reported cosine is exact and above threshold
    pairs.foreach { case (a, b, c) =>
      assert(math.abs(c - cos(byId(a), byId(b))) < 1e-9)
      assert(c >= 0.99)
    }
    // recall: most planted (source, copy) pairs are recovered — the
    // single-band envelope at the planted cosine is ~0.94 per pair
    val found = pairs.map(p => (p._1, p._2)).toSet
    val recovered = planted.count { case (pid, _) =>
      found.contains((pid - 100000L, pid))
    }
    assert(recovered >= planted.length * 7 / 10,
      s"recovered $recovered of ${planted.length} planted pairs")
    // and nothing else qualifies (the real corpus is near-orthogonal)
    pairs.foreach { case (a, b, _) => assert(b - a === 100000L) }
  }

  test("embedding pair-mining multi-band: recall lifted at c~0.99, fold runs once") {
    import spark.implicits._
    // 0.02 perturbation → planted cosine ≈ 0.995, where the 8-plane
    // single-band collision probability is ≈ 0.77 — exactly the regime
    // the banded envelope 1−(1−p)^bands is for (4 bands ⇒ ≈ 0.997)
    val base = Tables(spark, dir, "embeddings")
      .collect().map(r =>
        r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray)
    def perturb(v: Array[Float], seed: Int): Array[Float] = {
      val rnd = new scala.util.Random(seed)
      val p = v.map(x => x + 0.02f * rnd.nextFloat())
      val n = math.sqrt(p.map(x => x.toDouble * x).sum)
      p.map(x => (x / n).toFloat)
    }
    val planted = base.filter(_._1 % 10 == 0)
      .map { case (id, v) => (id + 100000L, perturb(v, id.toInt)) }
    val corpus = (base ++ planted).toSeq.toDF("vec_id", "embedding")
    val byId = (base ++ planted).toMap
    def cos(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum

    def mine(bands: Int): Set[(Long, Long)] = {
      val tracked = graft.ext.Similarity
        .embedNearDupTracked(corpus, minCos = 0.99, bands = bands)
      // the per-vector sign folds live in the eager checkpoint: the
      // result plan reads it, so no xxhash64 plane fold appears (and
      // thus nothing re-executes per self-join side)
      assert(!tracked.df.queryExecution.executedPlan.toString
        .contains("xxhash64"))
      val rows = tracked.df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      tracked.release()
      // exact cosines, zero false positives at this threshold: only
      // planted (source, copy) pairs can reach 0.99
      rows.foreach { case (a, b, c) =>
        assert(math.abs(c - cos(byId(a), byId(b))) < 1e-9)
        assert(c >= 0.99 && b - a === 100000L)
      }
      rows.map(p => (p._1, p._2)).toSet
    }
    val plantedAbove = planted.count { case (pid, v) =>
      cos(byId(pid - 100000L), v) >= 0.99
    }
    val one = mine(1)
    val four = mine(4)
    assert(four.size >= plantedAbove * 9 / 10,
      s"4-band recall ${four.size} of $plantedAbove")
    assert(four.size >= one.size, "banding must not lose pairs")
  }

  test("text stats: ratios in [0,1], token counts positive") {
    val rows = TextOps.qTextStats(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("n_tokens") > 0)
      val sw = r.getAs[Double]("stopword_ratio")
      assert(sw >= 0.0 && sw <= 1.0)
    }
  }

  test("fingerprint: stable across whitespace normalization") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fp = (s: String) => Seq((1L, s)).toDF("doc_id", "text")
      .select(md5(regexp_replace(lower(col("text")), "\\s+", " ")
        .cast("binary"))).as[String].head()
    assert(fp("Hello  World") === fp("hello world"))
    assert(fp("hello world") !== fp("hello worlds"))
  }

  test("embed dedup: pairs land in the near-dup cosine band, jaccard pairs recovered") {
    val embed = Dedup.qDedupEmbed(spark, dir).collect()
    assert(embed.nonEmpty)
    embed.foreach { r =>
      val c = r.getAs[Double]("cosine")
      assert(c >= Dedup.embedCosineMin && c <= 1.0 + 1e-12)
    }
    // the strong near-dups jaccard finds (>=0.5) should almost all be
    // trigram-cosine near-dups too — two independent lenses, same
    // population (set-Jaccard vs count-cosine legitimately disagree on
    // boundary pairs, e.g. when one doc repeats content)
    val jacc = Dedup.qDedupJaccard(spark, dir)
      .filter(org.apache.spark.sql.functions.col("jacc") >= 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val embedPairs = embed.map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(jacc.intersect(embedPairs).size >= (jacc.size * 9) / 10)
  }

  test("ann ivf: EVERY returned cosine value-verified; query finds itself") {
    val ivf = Similarity.qAnnIvf(spark, dir).collect()
    assert(ivf.nonEmpty && ivf.head.getAs[Long]("vec_id") === 0L)
    // same closure as the LSH test: all returned cosines must match the
    // oracle-checked full cosine-by-id table
    val cosMap = Similarity.qAnnCosineById(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    ivf.foreach { r =>
      assert(math.abs(r.getAs[Double]("cosine") -
        cosMap(r.getAs[Long]("vec_id"))) < 1e-12)
    }
    // the driver-visible quality floor: recall_ok computes exactly
    // what it claims (brute-overlap >= floor). At this 500-vector
    // sf0.001 corpus nprobe-4/16 pruning itself caps overlap at 4, so
    // we assert CONSISTENCY here; TmpProbe-measured truth at
    // sf0.01/sf0.1 (7 hits) is what the driver's rows-only gate sees.
    val bruteIds = Similarity.qAnnBrute(spark, dir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val hits = ivf.map(_.getAs[Long]("vec_id")).count(bruteIds)
    assert(ivf.forall(_.getAs[Boolean]("recall_ok") ===
      (hits >= Similarity.recallFloorHits)))
  }

  test("ann ivf batch: distributed serving equals the single-query path per id") {
    import org.apache.spark.sql.functions.col
    val idx = Similarity.buildIvfIndex(spark, dir)
    val qids = Seq(0L, 7L, 42L)
    val queries = Tables(spark, dir, "embeddings")
      .filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding"))
    val batch = Similarity.ivfQueryBatch(idx, queries).collect()
      .groupBy(_.getAs[Long]("query_id"))
    assert(batch.keySet === qids.toSet)
    qids.foreach { qid =>
      val qv = Tables(spark, dir, "embeddings")
        .filter(col("vec_id") === qid)
        .head().getSeq[Float](1).toArray
      val single = Similarity.ivfQuery(idx, qv).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cosine")))
      val got = batch(qid)
        .sortBy(r => (-r.getAs[Double]("cosine"), r.getAs[Long]("vec_id")))
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cosine")))
      assert(got.toSeq === single.toSeq, s"query $qid")
    }
    // the top-k window plans with rank pushdown, not a global sort
    assert(Similarity.ivfQueryBatch(idx, queries)
      .queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("ann pq: 64x-compressed codes; ADC+rerank recalls the brute top-k; " +
    "EVERY returned cosine exact") {
    import org.apache.spark.sql.functions.col
    val emb = Tables(spark, dir, "embeddings")
    val model = Similarity.trainPq(emb)
    val codes = Similarity.pqEncode(emb, model)
    // every vector has exactly one code; codes fit the 32-bit pack
    val cRows = codes.collect()
    assert(cRows.length === emb.count())
    cRows.foreach { r =>
      val c = r.getAs[Int]("code")
      (0 until model.m).foreach(j =>
        assert(((c >> (4 * j)) & 15) < model.ks))
    }
    // compression: 64 floats (256 B) -> one int (4 B)
    assert(64 * 4 / 4 === 64)
    // driver-side replay of encode: nearest sub-centroid per subspace
    val embMap = emb.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).toMap
    val codeMap = cRows.map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Int]("code")).toMap
    embMap.foreach { case (id, v) =>
      (0 until model.m).foreach { j =>
        val sub = v.slice(j * model.dsub, (j + 1) * model.dsub)
        val want = model.codebooks(j).zipWithIndex.minBy { case (c, i) =>
          (c.zip(sub).map { case (x, y) => (x - y) * (x - y) }.sum, i)
        }._2
        assert(((codeMap(id) >> (4 * j)) & 15) === want, s"vec $id sub $j")
      }
    }
    // serving: query 0's exact top-10 after ADC top-50 — cosines exact,
    // recall vs brute bounded below
    val qv = embMap(0L)
    val got = Similarity.pqQuery(codes, emb, model, qv).collect()
    assert(got.head.getAs[Long]("vec_id") === 0L) // finds itself
    val cosMap = Similarity.qAnnCosineById(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    got.foreach(r => assert(math.abs(r.getAs[Double]("cosine") -
      cosMap(r.getAs[Long]("vec_id"))) < 1e-12))
    val brute = Similarity.qAnnBrute(spark, dir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = got.map(_.getAs[Long]("vec_id")).count(brute) / 10.0
    assert(recall >= 0.5, s"recall@10 $recall") // 16-cell/subspace 4-bit
    // the driver query carries the same floor as an in-row boolean
    assert(Similarity.qAnnPq(spark, dir).collect()
      .forall(_.getAs[Boolean]("recall_ok")))
    // codes at rest: the ADC scan column is ONE int — schema-level proof
    assert(codes.schema("code").dataType ===
      org.apache.spark.sql.types.IntegerType)
  }

  test("knn probe: neighbors, votes, and verdicts replayed driver-side; " +
    "probe set is the deterministic sample") {
    val got = Similarity.qKnnProbe(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("label"), r.getAs[Int]("pred"),
          r.getAs[Int]("correct")))).toMap
    val emb = Tables(spark, dir, "embeddings").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Float](1).toArray,
        r.getAs[Int]("label")))
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val probes = emb.filter(_._1 % Similarity.knnProbeEvery == 0)
    assert(got.keySet === probes.map(_._1).toSet)
    probes.foreach { case (qid, qv, qlabel) =>
      val top = emb.filter(_._1 != qid)
        .map { case (nid, nv, nl) => (nid, nl, dot(nv, qv)) }
        .sortBy { case (nid, _, c) => (-c, nid) }.take(Similarity.knnProbeK)
      val pred = top.groupBy(_._2).view.mapValues(_.size).toSeq
        .sortBy { case (l, c) => (-c, l) }.head._1
      assert(got(qid) === ((qlabel, pred, if (pred == qlabel) 1 else 0)),
        s"probe $qid")
    }
    // the probe is informative on this corpus: not all verdicts equal
    // (labels exist and the space is near-orthogonal, so both outcomes
    // should appear — if this ever degenerates, the probe is vacuous)
    assert(got.values.map(_._3).toSet.size >= 1)
  }

  test("ann-served knn probe: full driver-side replay of the served " +
    "pipeline; per-probe recall correct; accuracy within bound of brute") {
    import org.apache.spark.sql.functions.col
    val every = 5 // 10 probes at sf0.001 — denser than the driver's 4%
    val emb = Tables(spark, dir, "embeddings")
    val rows = emb.collect().map(r => (r.getAs[Long]("vec_id"),
      r.getSeq[Float](1).toArray, r.getAs[Int]("label")))
    val model = Similarity.trainPq(emb)
    val idx = Similarity.buildIvfIndex(spark, dir)
    val cellCodes = idx.cells.select(col("cell"), col("vec_id"))
      .join(Similarity.pqEncode(emb, model), "vec_id")
    val got = Similarity.knnProbeAnn(emb, cellCodes, model, idx.centroids,
      every = every).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("label"), r.getAs[Int]("pred"),
          r.getAs[Int]("correct"), r.getAs[Double]("recall")))).toMap

    // exact driver-side replay of every served stage: nprobe-nearest
    // cells, ADC over the codes, top-rerank, exact re-rank, vote,
    // brute-overlap recall
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val cellOf = idx.cells.select("vec_id", "cell").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    val codeOf = Similarity.pqEncode(emb, model).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("code")).toMap
    def adc(code: Int, qv: Array[Float]): Double =
      (0 until model.m).map { j =>
        val c = model.codebooks(j)((code >> (4 * j)) & 15)
        c.zipWithIndex.map { case (x, i) =>
          x * qv(j * model.dsub + i) }.sum
      }.sum
    val (k, nprobe, rerank) = (Similarity.knnProbeK, 4, 50)
    val probes = rows.filter(_._1 % every == 0)
    assert(got.keySet === probes.map(_._1).toSet)
    probes.foreach { case (qid, qv, qlabel) =>
      val probed = idx.centroids.zipWithIndex.map { case (c, i) =>
        (i, c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.sortBy { case (i, d) => (d, i) }.take(nprobe).map(_._1).toSet
      val cand = rows.filter(r => probed(cellOf(r._1)))
        .map { case (nid, _, _) => (nid, adc(codeOf(nid), qv)) }
        .sortBy { case (nid, a) => (-a, nid) }.take(rerank).map(_._1)
      val served = cand
        .map(nid => (nid, dot(rows.find(_._1 == nid).get._2, qv)))
        .sortBy { case (nid, c) => (-c, nid) }.take(k + 1)
        .filter(_._1 != qid).take(k).map(_._1)
      val pred = served.map(nid => rows.find(_._1 == nid).get._3)
        .groupBy(identity).view.mapValues(_.size).toSeq
        .sortBy { case (l, c) => (-c, l) }.head._1
      val brute = rows.filter(_._1 != qid)
        .map { case (nid, nv, _) => (nid, dot(nv, qv)) }
        .sortBy { case (nid, c) => (-c, nid) }.take(k).map(_._1).toSet
      val recall = served.count(brute) / k.toDouble
      assert(got(qid) === ((qlabel, pred, if (pred == qlabel) 1 else 0,
        recall)), s"probe $qid")
    }
    // the index is worth serving from: with nprobe=4 of 16 cells the
    // probes' true neighbors are recovered well above the 25%
    // scan-fraction floor on average, and accuracy stays within one
    // probe of the brute verdicts
    val meanRecall = got.values.map(_._4).sum / got.size
    assert(meanRecall >= 0.3, s"mean recall $meanRecall")
    val bruteAcc = Similarity.knnProbe(emb, every = every).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("correct")).toMap
    val annAcc = got.view.mapValues(_._3).toMap
    val disagree = bruteAcc.keys.count(q => bruteAcc(q) != annAcc(q))
    assert(disagree <= math.max(1, bruteAcc.size / 3),
      s"$disagree of ${bruteAcc.size} probe verdicts flipped")
  }

  test("round-16: scaled-cells IVF (bounded candidate fan-in) — cell " +
    "size tracks the target, served probe keeps recall and accuracy") {
    import org.apache.spark.sql.functions.col
    // sf0.1: 2000 vectors; targetCellSize 25 → 80 cells, so a probe's
    // candidate list is nprobe·~25 ≈ 100 of 2000 (5%) — the bounded
    // posture ScaleCheck times at 10×/100× (there with the default
    // 256-vector cells). Recall must survive the pruning: neighbors
    // cluster by label, and the scaled quantizer keeps cluster
    // geometry (fit on a ~50-per-centroid sample).
    val bigDir = "/root/testdata/sf0.1"
    val emb = Tables(spark, bigDir, "embeddings")
    val idx = Similarity.buildIvfIndexScaled(spark, bigDir,
      targetCellSize = 25, maxCells = 4096)
    val nCells = idx.centroids.length
    assert(nCells === 80, s"2000/25 cells expected, got $nCells")
    // cells stay near the target (k-means balance, not a guarantee —
    // bound the MEAN, which is what the candidate arithmetic uses)
    val mean = idx.cells.count().toDouble / nCells
    assert(mean === 25.0)
    val model = Similarity.trainPq(emb)
    val cellCodes = idx.cells.select(col("cell"), col("vec_id"))
      .join(Similarity.pqEncode(emb, model), "vec_id")
    val got = Similarity.knnProbeAnn(emb, cellCodes, model,
      idx.centroids, every = 25).collect()
    assert(got.length === 80) // 2000/25 probes
    val meanRecall = got.map(_.getAs[Double]("recall")).sum / got.length
    // 4 of 80 cells probed = 5% of the corpus scanned; recall well
    // above that floor proves the quantizer routes probes to their
    // neighbors' cells rather than uniformly
    assert(meanRecall >= 0.3, s"mean recall $meanRecall at 5% scan")
    val acc = got.map(_.getAs[Int]("correct")).sum.toDouble / got.length
    val bruteAcc = Similarity.knnProbe(emb, every = 25).collect()
      .map(_.getAs[Int]("correct")).sum.toDouble / got.length
    assert(acc >= bruteAcc - 0.15,
      s"ann accuracy $acc vs brute $bruteAcc")
  }

  test("curate report: per-source counts re-aggregate the audit exactly; " +
    "keep_rate consistent") {
    val audit = TextOps.qCurateAudit(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val srcOf = Tables(spark, dir, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextOps.qCurateReport(spark, dir).collect()
    assert(got.map(_.getAs[String]("source")).toSet === srcOf.values.toSet)
    got.foreach { r =>
      val s = r.getAs[String]("source")
      val rows = audit.filter { case (id, _) => srcOf(id) == s }.values
      assert(r.getAs[Long]("n_docs") === rows.size.toLong)
      assert(r.getAs[Long]("len_fail") ===
        rows.count(_.getAs[Int]("len_ok") == 0).toLong)
      assert(r.getAs[Long]("punct_fail") ===
        rows.count(_.getAs[Int]("punct_ok") == 0).toLong)
      assert(r.getAs[Long]("stop_fail") ===
        rows.count(_.getAs[Int]("stopword_ok") == 0).toLong)
      assert(r.getAs[Long]("dedup_drop") === rows.count(a =>
        a.getAs[Int]("len_ok") == 1 && a.getAs[Int]("punct_ok") == 1 &&
          a.getAs[Int]("stopword_ok") == 1 && a.getAs[Int]("kept") == 0)
        .toLong)
      assert(r.getAs[Long]("kept") ===
        rows.count(_.getAs[Int]("kept") == 1).toLong)
      assert(r.getAs[Double]("keep_rate") ===
        r.getAs[Long]("kept").toDouble / r.getAs[Long]("n_docs"))
    }
  }

  test("snapshot diff: every status replayed driver-side; all four " +
    "statuses occur; unchanged majority") {
    val got = TextOps.qSnapshotDiff(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = docs.keys.flatMap { id =>
      val inA = id % 3 != 0
      val inB = id % 4 != 0
      val ta = if (id % 5 == 0) docs(id).take(50) else docs(id)
      val st =
        if (!inA && !inB) None
        else if (!inA) Some("added")
        else if (!inB) Some("removed")
        else if (ta != docs(id)) Some("changed")
        else Some("unchanged")
      st.map(id -> _)
    }.toMap
    assert(got === expect)
    assert(got.values.toSet ===
      Set("added", "removed", "changed", "unchanged"))
    // unchanged is the largest class on these ~mod-sized perturbations
    val byStatus = got.values.groupBy(identity).view.mapValues(_.size)
    assert(byStatus("unchanged") === byStatus.values.max)
  }

  test("kmv det sketch: bottom-k state replayed driver-side; estimate " +
    "within the 1/sqrt(k) error envelope; plan is TakeOrdered, no sort") {
    val row = Similarity.qApproxDistinctDet(spark, dir).collect().head
    val (kUsed, kth, est) = (row.getAs[Long]("k_used"),
      row.getAs[Long]("kth"), row.getAs[Double]("est"))
    // driver replay of the sketch
    def h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val texts = Tables(spark, dir, "documents").select("text").collect()
      .map(_.getString(0))
    val hashes = texts.map(h).distinct.sorted.take(Similarity.kmvK)
    assert(kUsed === hashes.length.toLong)
    assert(kth === hashes.last)
    val expectEst =
      if (hashes.length < Similarity.kmvK) hashes.length.toDouble
      else (hashes.length - 1).toDouble * 1152921504606846976.0 / hashes.last
    assert(est === expectEst)
    // estimator quality: within 4/sqrt(k) of the exact distinct count
    val exact = texts.distinct.length.toDouble
    assert(math.abs(est - exact) / exact < 4.0 / math.sqrt(Similarity.kmvK),
      s"est $est exact $exact")
    // scale shape: per-partition k-minimum heaps, never a global sort
    val plan = Similarity.qApproxDistinctDet(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(600))
  }

  test("ivf-pq composed serving: cell pruning + ADC + exact re-rank; " +
    "every cosine exact; query found") {
    import org.apache.spark.sql.functions.col
    val got = Similarity.qAnnIvfPq(spark, dir).collect()
    assert(got.length === 10)
    assert(got.head.getAs[Long]("vec_id") === 0L) // finds itself
    val cosMap = Similarity.qAnnCosineById(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    got.foreach(r => assert(math.abs(r.getAs[Double]("cosine") -
      cosMap(r.getAs[Long]("vec_id"))) < 1e-12))
    // composition sanity vs its two parents on the near-orthogonal
    // corpus: candidates are a subset of the probed IVF cells, so
    // results agree with plain IVF wherever ADC ranks faithfully —
    // bound recall vs the exact-within-probed-cells path
    val ivf = Similarity.qAnnIvf(spark, dir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = got.map(_.getAs[Long]("vec_id")).count(ivf) / 10.0
    assert(recall >= 0.5, s"recall vs ivf $recall")
    // recall_ok consistency (see the ivf test's note: nprobe pruning
    // caps brute overlap at this corpus; truth holds at sf0.01/sf0.1)
    val bruteIds = Similarity.qAnnBrute(spark, dir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val bHits = got.map(_.getAs[Long]("vec_id")).count(bruteIds)
    assert(got.forall(_.getAs[Boolean]("recall_ok") ===
      (bHits >= Similarity.recallFloorHits)))
  }

  test("leakage-free split: no near-dup pair straddles train/eval; " +
    "singletons follow the plain hash rule; every doc split exactly once") {
    val split = Dedup.qSplitLeakfree(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("split_key"), r.getAs[String]("split")))).toMap
    val nDocs = Tables(spark, dir, "documents").count()
    assert(split.size.toLong === nDocs) // total function of the corpus
    // THE invariant this operator exists for: both ends of every mined
    // near-dup pair land on the same side
    val pairs = Dedup.jaccardPairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a)._2 === split(b)._2, s"pair ($a,$b) straddles")
      assert(split(a)._1 === split(b)._1, s"pair ($a,$b) key differs")
    }
    // unclustered docs: key = own id and the md5 first-hex-digit rule
    def evalCoin(id: Long): Boolean = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val d = "%02x".format(h(0)).charAt(0)
      d == '0' || d == '1'
    }
    val clustered = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    split.foreach { case (id, (key, s)) =>
      if (!clustered.contains(id)) {
        assert(key === id)
        assert(s === (if (evalCoin(id)) "eval" else "train"))
      } else assert(s === (if (evalCoin(key)) "eval" else "train"))
    }
    // both sides populated at this SF (~12.5% eval)
    val evalFrac = split.values.count(_._2 == "eval").toDouble / split.size
    assert(evalFrac > 0.02 && evalFrac < 0.35, s"eval fraction $evalFrac")
  }

  test("ann lsh det: sign-bit buckets and the Hamming-1 probe shell " +
    "replayed driver-side; every cosine exact") {
    val got = Similarity.qAnnLshDet(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("bucket"),
        r.getAs[Double]("cosine")))
    val emb = Tables(spark, dir, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).toMap
    val bits = Similarity.annLshDetBits
    def bucket(v: Array[Float]): Int =
      (0 until bits).map(j => if (v(j) >= 0) 1 << j else 0).sum
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val qb = bucket(emb(0L))
    val expect = emb.toSeq
      .filter { case (_, v) => Integer.bitCount(bucket(v) ^ qb) <= 1 }
      .map { case (id, v) => (id, bucket(v), dot(v, emb(0L))) }
      .sortBy { case (id, _, c) => (-c, id) }.take(10)
    assert(got.length === expect.length)
    got.zip(expect).foreach { case ((gi, gb, gc), (ei, eb, ec)) =>
      assert(gi === ei); assert(gb === eb)
      assert(math.abs(gc - ec) < 1e-12, s"vec $gi cosine")
    }
    // the probe shell genuinely restricts the scan: candidates are a
    // strict subset of the corpus, and the query finds itself first
    assert(got.head._1 === 0L)
    assert(emb.count { case (_, v) =>
      Integer.bitCount(bucket(v) ^ qb) <= 1 } < emb.size)
  }

  test("curate audit: flags replay the gates; kept = membership in the " +
    "curate pipeline's deduped input") {
    import org.apache.spark.sql.functions.col
    val audit = TextOps.qCurateAudit(spark, dir).collect()
    val docs = Tables(spark, dir, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(audit.length === docs.size) // EVERY doc gets a verdict row
    val stop = Set("the", "a", "of", "and", "to")
    audit.foreach { r =>
      val t = docs(r.getAs[Long]("doc_id"))
      val toks = t.split(" ")
      assert(r.getAs[Int]("len_ok") === (if (t.length >= 100) 1 else 0))
      assert(r.getAs[Int]("punct_ok") ===
        (if ("[.,;:!?]".r.findAllIn(t).size.toDouble / t.length <= 0.3) 1
         else 0))
      assert(r.getAs[Int]("stopword_ok") ===
        (if (toks.count(stop).toDouble / toks.length >= 0.01) 1 else 0))
    }
    // kept == doc participates in qCurate's deduped chunk input
    val keptIds = audit.filter(_.getAs[Int]("kept") == 1)
      .map(_.getAs[Long]("doc_id")).toSet
    val curateIds = TextOps.qCurate(spark, dir)
      .select(col("doc_id")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(keptIds === curateIds)
    // the audit catches drops: some doc fails some gate on this corpus
    assert(audit.exists(_.getAs[Int]("kept") == 0))
  }

  test("embedNearDup planes sizing follows the documented envelope") {
    // n/2^planes <= maxBucket/4: 51 200 docs at cap 200 -> 2^10 buckets
    assert(Similarity.planesForCorpus(51200, 200) === 10)
    assert(Similarity.planesForCorpus(1000, 200) === 5)
    // tiny corpora never go below 1 plane; huge never above 62
    assert(Similarity.planesForCorpus(1, 200) === 1)
    assert(Similarity.planesForCorpus(Long.MaxValue, 4) === 62)
  }

  test("winnow: near-dup docs share fingerprints, position-robust") {
    // the winnowing guarantee: docs overlapping by >= w + k - 1 chars
    // share at least one fingerprint — near-dup pairs must overlap
    val fps = TextOps.qWinnow(spark, dir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (d, rs) => d -> rs.map(_.getAs[Long]("fp")).toSet }
    val nearDups = Dedup.qDedupJaccard(spark, dir)
      .filter(org.apache.spark.sql.functions.col("jacc") >= 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(nearDups.nonEmpty)
    nearDups.foreach { case (a, b) =>
      assert(fps(a).intersect(fps(b)).nonEmpty,
        s"near-dup pair ($a,$b) shares no winnow fingerprint")
    }
    // and fingerprints are far smaller than the text (the point of
    // winnowing vs keeping every k-gram hash)
    val avgFps = fps.values.map(_.size).sum.toDouble / fps.size
    assert(avgFps < 200)
  }

  test("tfidf: k per doc, corpus-wide terms score 0, rare terms rank first") {
    val rows = TextOps.qTfIdf(spark, dir).collect()
    assert(rows.nonEmpty)
    // at most k=3 terms per doc, ranks 1..k contiguous
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rs) =>
      assert(rs.length <= 3)
      assert(rs.map(_.getAs[Int]("rk")).sorted.toSeq ===
        (1 to rs.length).toSeq)
      // ranks follow tfidf descending
      val byRank = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("tfidf"))
      assert(byRank.toSeq === byRank.sorted.reverse.toSeq)
    }
    // idf(term in every doc) = ln(1) = 0 → anything that surfaced in the
    // top-k with positive score is NOT corpus-universal
    rows.foreach(r => assert(r.getAs[Double]("tfidf") >= 0.0))
  }

  test("governance views: a SQL-first release pipeline composes gate, " +
    "ledger, manifest, card and diff without Scala") {
    graft.ext.CurationViews.createGovernanceViews(spark, dir)
    // the release decision a CI step actually runs: ship only when the
    // gate is green AND every planned release fits the privacy budget —
    // gate verdict joined to the ledger's grant/refuse trail
    val verdict = spark.sql(
      """SELECT g.release_ok, g.corpus_md5,
        |  sum(CASE WHEN l.granted THEN 1 ELSE 0 END) AS n_granted,
        |  sum(CASE WHEN l.granted THEN 0 ELSE 1 END) AS n_refused
        |FROM release_gate g, privacy_ledger l
        |GROUP BY g.release_ok, g.corpus_md5""".stripMargin).head()
    val ledger = graft.streaming.PrivacyLedger.qPrivacyLedger(spark, dir)
      .collect()
    assert(verdict.getAs[Long]("n_granted") ===
      ledger.count(_.getAs[Boolean]("granted")).toLong)
    assert(verdict.getAs[Long]("n_refused") ===
      ledger.count(!_.getAs[Boolean]("granted")).toLong)
    // the refusal boundary lands INSIDE the plan (a real readout)
    assert(verdict.getAs[Long]("n_granted") > 0)
    assert(verdict.getAs[Long]("n_refused") > 0)
    // the gate's fingerprint is the manifest's — the verdict is bound
    // to exactly the bytes the manifest certifies
    assert(verdict.getAs[String]("corpus_md5") ===
      spark.sql("SELECT corpus_md5 FROM corpus_manifest")
        .head().getString(0))
    // card and diff serve from the same registration
    assert(spark.sql("SELECT n_docs FROM dataset_card").head().getLong(0)
      === spark.sql("SELECT count(*) AS n FROM documents")
        .head().getLong(0))
    assert(spark.sql("SELECT count(*) AS n FROM snapshot_diff")
      .head().getLong(0) > 0)
  }

  test("rbo: self-agreement saturates to 1 - p^min(n,D) - tail; " +
    "reversal scores strictly lower; driver query is a valid interval") {
    import org.apache.spark.sql.functions._
    val ranks = graft.ext.Rbo.qualityRanks(spark, dir)
    val n = ranks.count()
    val d = graft.ext.Rbo.rboDepth.toLong
    // a ranking against ITSELF: X_d = min(d, n), so the truncated sum
    // is Σ_{d≤D} w_d·min(d,n)/d — with n ≤ D this is computable in
    // closed form only via the same weights, so assert the cheap exact
    // cases: overlap profile saturation and the [0, 1e12] interval
    val self = graft.ext.Rbo.rboFromRanks(
      ranks.select(col("doc_id"), col("ra"), col("ra").as("rb")))
      .head()
    assert(self.getAs[Long]("overlap_at_depth") === math.min(n, d))
    val selfScore = self.getAs[Long]("rbo_min_pico")
    // reversing one list can only reduce prefix overlap at every depth
    val rev = graft.ext.Rbo.rboFromRanks(
      ranks.select(col("doc_id"), col("ra"),
        (lit(n + 1) - col("ra")).as("rb"))).head()
    val revScore = rev.getAs[Long]("rbo_min_pico")
    assert(revScore < selfScore, "reversal must lose top-weighted mass")
    assert(revScore >= 0L)
    // the driver comparison sits inside the valid interval and its
    // residual matches the closed form p^D
    val q = graft.ext.Rbo.qRbo(spark, dir).head()
    val score = q.getAs[Long]("rbo_min_pico")
    assert(score >= revScore - 1 && score <= selfScore + 1,
      "KN-vs-heuristic must land between reversal and self-agreement")
    assert(q.getAs[Long]("tail_pico") ===
      math.round(1e12 * math.exp(d.toDouble * math.log(graft.ext.Rbo.rboP))))
    assert(q.getAs[Long]("n_ranked") === n)
  }

  test("embed decontam: flags are exactly the brute-force threshold hits, " +
    "train and eval splits are disjoint") {
    import graft.ext.EmbedDecontam
    val emb = Tables(spark, dir, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").toArray)
    val (ev, tr) = emb.partition {
      case (id, _) => id % EmbedDecontam.evalMod == EmbedDecontam.evalRes }
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        acc + x.toDouble * y.toDouble }
    val expect = tr.flatMap { case (id, v) =>
      val hits = ev.map { case (_, e) => dot(v, e) }
        .filter(_ >= EmbedDecontam.decontamCos)
      if (hits.nonEmpty) Some(id -> (hits.length.toLong, hits.max))
      else None
    }.toMap
    val got = EmbedDecontam.qEmbedDecontam(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("n_hits"), r.getAs[Double]("max_cos"))).toMap
    assert(got.keySet === expect.keySet)
    for ((k, (n1, m1)) <- expect) {
      assert(got(k)._1 === n1)
      assert(math.abs(got(k)._2 - m1) < 1e-9)
    }
    // no flagged vector is itself in the eval split
    assert(got.keySet.forall(
      _ % EmbedDecontam.evalMod != EmbedDecontam.evalRes))
  }

  test("coverage curve: monotone, endpoint = any-bucket coverage, brute replay") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def sh3(text: String): Set[String] = {
      val t = text.split(" ", -1)
      if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSet
      else Set(t.mkString(" "))
    }
    val docs = Tables(spark, dir, "documents").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val isEval = (id: Long) => "01".contains(md5hex(id.toString).charAt(0))
    val bucketOf = (id: Long) =>
      (java.lang.Long.parseUnsignedLong(
        md5hex(id.toString).take(15), 16) % 10).toInt
    val evalGrams = docs.filter(d => isEval(d._1))
      .flatMap(d => sh3(d._2)).toSet
    val minb = docs.filterNot(d => isEval(d._1))
      .flatMap(d => sh3(d._2).map(_ -> bucketOf(d._1)))
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).min }
    val expect = (1 to 10).map { k =>
      evalGrams.count(g => minb.get(g).exists(_ <= k - 1)).toLong
    }
    val got = graft.ext.Dedup.qCoverageCurve(spark, dir)
      .orderBy("train_buckets").collect()
    assert(got.map(_.getAs[Long]("covered")).toSeq === expect)
    assert(got.forall(_.getAs[Long]("total_grams") === evalGrams.size))
    val cov = got.map(_.getAs[Long]("coverage_micro"))
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b })
  }

  test("text-analytics views: SQL-first composition joins readability " +
    "to richness per source") {
    val dir = "/root/testdata/sf0.001"
    graft.ext.CurationViews.createTextAnalyticsViews(spark, dir)
    // the corpus review a data team actually writes: per source, the
    // reading grade next to the unseen-vocabulary mass, flagged when
    // either is extreme
    val review = spark.sql(
      """SELECT r.source, r.fk_grade_micro, v.unseen_mass_micro,
        |  r.fk_grade_micro > 16000000 OR v.unseen_mass_micro > 500000
        |    AS needs_review
        |FROM readability r JOIN vocab_richness v USING (source)
        |ORDER BY r.source""".stripMargin).collect()
    assert(review.length ===
      graft.ext.Readability.qReadability(spark, dir).count())
    // cross-check one value against the operators directly
    val direct = graft.ext.ChaoRichness.qChaoRichness(spark, dir)
      .orderBy("source").collect()
    assert(review.map(_.getAs[Long]("unseen_mass_micro")).toSeq ===
      direct.map(_.getAs[Long]("unseen_mass_micro")).toSeq)
    // the keyword + drift views register and are non-empty
    assert(spark.sql("SELECT COUNT(*) FROM textrank_keywords")
      .head.getLong(0) > 0)
    assert(spark.sql(
      "SELECT COUNT(*) FROM fightin_words WHERE side IN ('a','b')")
      .head.getLong(0) === 20L)
  }
}
