package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication operators for LLM training-data pipelines (BASELINE
  * north star; SURVEY.md §7.5), over the `documents` table.
  *
  * Scale design notes (the part that matters at 100 TB):
  *  - exact dedup is a hash-keyed groupBy — shuffle carries (key, id)
  *    pairs only, never document bodies;
  *  - near-dup candidate generation is LSH-bucketed (shingle → minhash →
  *    band → bucket equi-join). NEVER all-pairs: the only joins are
  *    equi-joins on band buckets, so the shuffle is O(docs × bands) and
  *    hot buckets are bounded by the band hash;
  *  - exact Jaccard verification runs only on candidate pairs.
  */
object Dedup {

  /** Word tokens (the synthetic corpus is single-space separated). */
  private def toks(c: Column): Column = split(c, " ")

  /** Hashes of the distinct word-3-gram shingles of a text column —
    * semantically `transform(shingles3(c), g => xxhash64(g))`, fused
    * into the native [[org.apache.spark.sql.graftshim.Shingles3Hashed]]
    * expression (hashes byte slices of the original text in place; the
    * interpreted per-element HOF lambda it replaces ran corpus-wide on
    * every dedup path). FunctionsSpec checks value equality with the
    * composed form. */
  def shingles3Hashed(c: Column): Column =
    org.apache.spark.sql.graftshim.Shingles3Hashed.shingles3Hashed(c)

  /** Distinct word-3-gram shingles of a text column; texts shorter than
    * 3 tokens fall back to the whole text as one shingle. Backed by the
    * native codegen'd [[org.apache.spark.sql.graftshim.Shingles3]] —
    * the Jaccard/MinHash/SimHash DAGs each evaluate this over the
    * corpus more than once, and the interpreted HOF form it replaces
    * ([[shingles3Hof]], kept as the cross-check) was the hottest
    * expression in the bench. */
  def shingles3(c: Column): Column =
    org.apache.spark.sql.graftshim.Shingles3.shingles3(c)

  /** The higher-order-function formulation of [[shingles3]] (zip_with
    * over three shifted slices + array_distinct — slices evaluate the
    * split once per row, so it's O(tokens), just interpreted). Retained
    * as the independent reference implementation FunctionsSpec checks
    * the native expression against. */
  def shingles3Hof(c: Column): Column = {
    val t = toks(c)
    val n2 = size(t) - 2
    val tri = zip_with(
      zip_with(slice(t, lit(1), n2), slice(t, lit(2), n2),
        (x, y) => concat_ws(" ", x, y)),
      slice(t, lit(3), n2),
      (xy, z) => concat_ws(" ", xy, z))
    array_distinct(when(size(t) >= 3, tri).otherwise(array(c)))
  }

  /** Exact dedup, hash-groupBy shape: group on a normalized key (here a
    * 40-char prefix, which the synthetic corpus plants real collisions
    * for), keep the smallest doc_id as the representative. Deterministic
    * — unlike dropDuplicates, whose survivor depends on partitioning. */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(substring(col("text"), 1, 40).as("prefix_key"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_dups"))

  val qDedupExactSql: String =
    """SELECT substr(text, 1, 40) AS prefix_key,
      |       MIN(doc_id) AS rep_doc_id,
      |       COUNT(*) AS n_dups
      |FROM documents
      |GROUP BY prefix_key""".stripMargin

  /** Docfreq cap for Jaccard candidate generation: shingles present in
    * more than this many documents are dropped BEFORE the pair self-join.
    * A shingle shared by df docs contributes O(df²) join pairs — at 100 TB
    * a stopword 3-gram in 10⁸ docs would be 10¹⁶ pairs. Hot shingles are
    * also uninformative (near-dups share plenty of rare shingles too), so
    * the cap changes candidate RECALL semantics, not the exact-Jaccard
    * verification: candidates come from rare shingles; jacc is then
    * computed over the FULL shingle sets. The oracle SQL applies the
    * same cap and the same jaccardMinCommonRare floor. */
  val jaccardDocfreqCap = 50

  /** Candidate pairs must share at least this many DISTINCT rare shingles.
    * With a small vocabulary (this corpus: 31 words) random shingle
    * collisions are common — one shared rare shingle admits >1M candidate
    * pairs at sf0.1 while the true ≥0.2-Jaccard set is 25. Two shared
    * rare shingles is still far below what a genuine near-dup pair shares
    * (a 0.2-Jaccard pair of ~50-shingle docs shares ≥17), so recall is
    * unaffected while the verify stage shrinks by ~1000×. */
  val jaccardMinCommonRare = 3

  /** N-gram Jaccard near-dup pairs, oracle-checked. One heavy pass over
    * the corpus, everything downstream sized by the candidate set:
    *   1. inverted index: ONE groupBy(shingle) over the exploded shingle
    *      table collects the doc list per shingle; lists longer than
    *      jaccardDocfreqCap are dropped (hot-shingle guard), lists of one
    *      doc generate no pairs;
    *   2. candidate pairs are generated MAP-SIDE from each surviving doc
    *      list (≤ cap²/2 pairs per shingle, via the native pair_combos
    *      expression — no self-join, no corpus-sized shuffle), then
    *      counted per pair; only pairs sharing ≥ jaccardMinCommonRare
    *      rare shingles survive;
    *   3. exact Jaccard over the FULL shingle sets, recomputed only for
    *      docs that appear in a candidate pair (left_semi on `documents`),
    *      via array_intersect on the two per-doc shingle arrays.
    * The corpus is scanned twice (index + candidate-doc semi-join); no
    * stage materializes or shuffles more than the shingle→id index. */
  def qDedupJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(spark, dir)

  /** The jaccard pair set as a MEMOIZED materialized view per
    * (session, dir) — the dedup analog of the transactions core
    * ([[graft.views.Views.transactionsCore]]): two driver queries
    * serve from it (the pair listing itself and [[qDupClusters]]'s
    * contraction), and a deployment keeps exactly this artifact warm —
    * the streaming pipeline literally maintains it as a table
    * ([[graft.streaming.CurationStream.updateNearDupView]]). The final
    * pair table is checkpointed (it is tiny — duplicate-output-sized),
    * so consumers re-read a materialized (long, long, double) table
    * rather than re-running the inverted-index pipeline; refresh =
    * [[graft.util.SessionCache.evictDir]] (which
    * [[graft.views.Views.createAll]] calls), a new session or
    * [[graft.util.SessionCache.clear]], like any materialized view
    * awaiting REFRESH. */
  def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    graft.util.SessionCache.memoize(spark, "jacpairs", dir) {
      candidateJaccard(spark, dir).filter(col("jacc") >= 0.2)
    }

  /** The UNFILTERED candidate-scored pair table (every pair that shared
    * ≥ [[jaccardMinCommonRare]] rare shingles, with its exact Jaccard) —
    * the artifact one level below [[jaccardPairs]]: the near-dup view is
    * its ≥ 0.2 slice, [[qContrastivePairs]] additionally mines its LOW
    * band (blocking-survivors that verification rejected = textbook hard
    * negatives). Memoized + checkpointed once; both consumers filter the
    * same materialized (long, long, double) table. */
  def candidateJaccard(spark: SparkSession, dir: String): DataFrame =
    graft.util.SessionCache.memoize(spark, "candjacc", dir) {
      val (df, _) = graft.util.Checkpoints.checkpointTracked(
        buildCandidateJaccard(spark, dir))
      df
    }

  private def buildCandidateJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // Index on HASHED shingles: the inverted-index shuffle carries
    // 8-byte longs instead of multi-word shingle strings (same
    // candidate pairs modulo ~n²/2⁶⁴ collision odds; the oracle groups
    // on the strings and agrees on the output pairs).
    val grams = docs.select(col("doc_id"),
      explode(shingles3Hashed(col("text"))).as("g"))
    val inv = grams.groupBy("g")
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, jaccardDocfreqCap))
    // map-side pair generation via the native pair_combos expression
    // (the doubly-nested transform/filter HOF it replaces was
    // interpreted and the single hottest stage of this query)
    val pairsOf =
      org.apache.spark.sql.graftshim.PairCombos.pairCombos(col("ds"))
    // localCheckpoint: cand is consumed twice below (pair join + id list);
    // without it the whole corpus-scale index pipeline re-runs per branch.
    // The materialized table is only (long, long) per candidate pair.
    val cand = inv.select(explode(pairsOf).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= jaccardMinCommonRare)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    // Verify on HASHED shingles: jacc depends only on intersection /
    // set sizes, which 64-bit-hashed sets preserve (collision odds
    // ~n²/2⁶⁴ per doc); long-array intersection is far cheaper than
    // string-array intersection in the interpreted HOF evaluator.
    // (checkpointed: referenced from both sides of the pair join below —
    // one materialization of doc_id + ~#shingles longs per candidate doc.)
    val gsets = docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        shingles3Hashed(col("text")).as("gs"))
      .localCheckpoint()
    val i = size(array_intersect(col("ga.gs"), col("gb.gs"))).cast("double")
    cand
      .join(gsets.as("ga"), col("doc_a") === col("ga.doc_id"))
      .join(gsets.as("gb"), col("doc_b") === col("gb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (i / (size(col("ga.gs")) + size(col("gb.gs")) - i)).as("jacc"))
  }

  /** Rare-shingle candidate route + exact Jaccard at `floor`, in DuckDB
    * SQL — the engine-independent definition of the near-dup pair set.
    * Shared by the jaccard oracle (floor 0.2) and the MinHash OUTPUT
    * oracle (floor 0.5): the LSH internals are seeded-hash-specific, but
    * the final pair set (exact Jaccard ≥ 0.5) is deterministic, so the
    * driver can hash-compare it. */
  private def jaccardPairsSql(floor: Double): String =
    s"""$jaccardScoredCtes
      |SELECT doc_a, doc_b, jacc FROM scored WHERE jacc >= $floor"""
      .stripMargin

  /** The candidate-scored CTE chain (ends in `scored(doc_a, doc_b,
    * jacc)` — [[candidateJaccard]]'s SQL twin), shared by the jaccard /
    * minhash / contrastive oracles. */
  private val jaccardScoredCtes: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(t) >= 3
      |         THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |               for i in range(1, len(t) - 1)]
      |         ELSE [array_to_string(t, ' ')] END)) AS g
      |  FROM toks),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
      |docfreq AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
      |rare AS (
      |  SELECT grams.doc_id, grams.g FROM grams
      |  JOIN docfreq ON grams.g = docfreq.g
      |  WHERE docfreq.df <= $jaccardDocfreqCap),
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= $jaccardMinCommonRare),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      |  FROM cand c
      |  JOIN grams ga ON c.doc_a = ga.doc_id
      |  JOIN grams gb ON c.doc_b = gb.doc_id AND ga.g = gb.g
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT doc_a, doc_b,
      |         CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jacc
      |  FROM inter
      |  JOIN sizes sa ON doc_a = sa.doc_id
      |  JOIN sizes sb ON doc_b = sb.doc_id)""".stripMargin

  val qDedupJaccardSql: String = jaccardPairsSql(0.2)

  /** Output-level oracle for [[qDedupMinhash]]: the seeded LSH
    * internals aren't portable SQL, but the OUTPUT — pairs with exact
    * Jaccard ≥ 0.5 over the full shingle sets — is engine-independent.
    * DuckDB reaches the same set via the rare-shingle candidate route.
    *
    * Operating envelope, stated honestly: the two candidate routes
    * agree because this corpus's pair-similarity distribution is
    * BIMODAL — planted near-dups sit ≥ 0.9 Jaccard (8-band×2-row LSH
    * miss ~1e-7, est-prune miss ~1e-5, and ≥ 3 shared rare shingles
    * guaranteed), everything else far below 0.5. A corpus with pairs
    * in the marginal [0.5, ~0.8) band, or near-dup clusters larger
    * than the docfreq cap, would make the probabilistic route and the
    * deterministic oracle diverge — there the oracle is a recall
    * diagnostic, not an equality gate. */
  val qDedupMinhashSql: String = jaccardPairsSql(0.5)

  /** Contrastive-pair mining for embedding-model training data — the
    * standard recipe over a dedup pipeline's own byproducts:
    *  - POSITIVES: verified near-dup pairs (exact Jaccard ≥ 0.5 — the
    *    minhash output band);
    *  - HARD NEGATIVES: pairs that SURVIVED blocking (≥
    *    [[jaccardMinCommonRare]] shared rare shingles — lexically
    *    overlapping) but FAILED verification (Jaccard < 0.2) — "looks
    *    similar, isn't", exactly what contrastive training wants; capped
    *    at [[contrastiveNegPerAnchor]] per anchor, hardest (highest
    *    Jaccard) first. The ambiguous [0.2, 0.5) band is dropped, per
    *    standard practice.
    *
    * Rides the memoized [[candidateJaccard]] artifact — no new corpus
    * pass; the mining itself is candidate-set-sized. The per-anchor cap
    * is row_number ≤ k, which Spark plans as WindowGroupLimit (top-k
    * below the exchange), and it also BOUNDS output at 100 TB: ≤
    * |near-dup pairs| + k·|anchors|. Ranking is on round(jacc·1e6)
    * integers with a doc_b tiebreak (the float-rank convention — the
    * raw double never orders anything cross-engine). */
  val contrastiveNegPerAnchor = 5

  def qContrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    val scored = candidateJaccard(spark, dir)
      .select(col("doc_a"), col("doc_b"),
        round(col("jacc") * 1e6).cast("long").as("jacc_micro"))
    val pos = scored.filter(col("jacc_micro") >= 500000)
      .withColumn("label", lit("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_a")
      .orderBy(col("jacc_micro").desc, col("doc_b").asc)
    val neg = scored.filter(col("jacc_micro") < 200000)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= contrastiveNegPerAnchor)
      .drop("rn")
      .withColumn("label", lit("hard_neg"))
    pos.unionByName(neg)
  }

  val qContrastivePairsSql: String =
    s"""$jaccardScoredCtes,
      |sm AS (SELECT doc_a, doc_b,
      |         CAST(round(jacc * 1000000.0) AS BIGINT) AS jacc_micro
      |       FROM scored),
      |neg AS (
      |  SELECT doc_a, doc_b, jacc_micro FROM (
      |    SELECT sm.*, ROW_NUMBER() OVER (PARTITION BY doc_a
      |      ORDER BY jacc_micro DESC, doc_b ASC) AS rn
      |    FROM sm WHERE jacc_micro < 200000) t WHERE rn <= $contrastiveNegPerAnchor)
      |SELECT doc_a, doc_b, jacc_micro, 'pos' AS label FROM sm
      |WHERE jacc_micro >= 500000
      |UNION ALL
      |SELECT doc_a, doc_b, jacc_micro, 'hard_neg' AS label FROM neg"""
      .stripMargin

  /** MinHash + LSH banded near-dup detection. The seeded LSH internals
    * aren't portable SQL, but the OUTPUT pair set (exact Jaccard ≥ 0.5)
    * is — the driver hash-checks it against [[qDedupMinhashSql]].
    *
    * K=16 minhashes, 8 bands × 2 rows → candidate threshold
    * (1/8)^(1/2) ≈ 0.35 Jaccard; candidates verified with exact Jaccard
    * ≥ 0.5. Shuffle = docs × bands bucket rows + the candidate joins. */
  def qDedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    val K = 16
    val B = 8 // bands of r = 2
    val docs = Tables(spark, dir, "documents")
    // Signatures via the native MAP-ONLY [[graftshim.MinHash16]]
    // expression — the 16-way min folds inside the expression, so
    // building signatures shuffles NOTHING at any corpus size (the
    // earlier explode + 16-min hash-aggregate pushed corpus×shingles
    // rows through an aggregate exchange; the nested-HOF form before
    // that was interpreted and ~45 s at sf0.1).
    // localCheckpoint materializes the per-doc table exactly once for all
    // downstream branches — and it carries ONLY doc_id + the K signature
    // longs (~136 bytes/doc), never document content: at 100 TB of corpus
    // the checkpoint is still just #docs × 17 small values. Shingle sets
    // are recomputed later for verification SURVIVORS only.
    val sigTbl = docs.select(col("doc_id"),
      org.apache.spark.sql.graftshim.MinHash16.minhash16(
        shingles3Hashed(col("text"))).as("sig"))
      .select(col("doc_id") +:
        (0 until K).map(j => element_at(col("sig"), j + 1).as(s"m$j")): _*)
      .localCheckpoint()
    val bandCol = explode(array((0 until B).map(b =>
      struct(lit(b).as("band"),
        xxhash64(col(s"m${b * 2}"), col(s"m${b * 2 + 1}")).as("bucket"))): _*))
    val buckets = sigTbl.select(col("doc_id"), bandCol.as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // Bucket-size cap: in a correlated corpus many docs share the
    // globally-smallest shingle hashes, so some band buckets become
    // giant cliques — self-joining them is O(size^2) with no near-dup
    // signal (a bucket holding hundreds of docs means that band hash is
    // uninformative, not that they're all duplicates). Dropping oversized
    // buckets is the standard LSH skew guard and what makes this plan
    // survive 100 TB; genuine near-dups keep colliding in their other,
    // discriminative bands.
    val maxBucket = 100
    // round 17 (guide §2.4): the bucket table feeds BOTH sides of the
    // candidate self-join, and downstream `plausible` is referenced by
    // three branches (candIds twice via gsets, the final verify join) —
    // the before-plan re-ran the bucket window ~10× and the whole
    // candidate pipeline ~5×. Checkpoint the |docs|·B-row bucket table
    // and the candidate-bounded tables once each.
    val smallBuckets = buckets
      .withColumn("cnt", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("band", "bucket")))
      .filter(col("cnt") <= maxBucket)
      .drop("cnt")
    val pairs = smallBuckets.as("a")
      .join(smallBuckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Two-stage verification. Stage 1 estimates Jaccard from the K
    // signature columns already in hand (plain long comparisons, pure
    // codegen) and prunes; stage 2 computes exact Jaccard on the
    // survivors only. The prune threshold sits BELOW the final 0.5 bar
    // (0.4) so a 16-sample estimate of a true >=0.5 pair essentially
    // never lands under it (P[Binom(16,0.8) < 6.4] ~ 2e-5).
    val est = (0 until K).map(j =>
      when(col(s"sa.m$j") === col(s"sb.m$j"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / K
    val (plausible, _) = graft.util.Checkpoints.checkpointTracked(
      pairs
        .join(sigTbl.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sigTbl.as("sb"), col("doc_b") === col("sb.doc_id"))
        .filter(est >= 0.4)
        .select(col("doc_a"), col("doc_b")))
    // Stage 2 — exact Jaccard on survivors only. Shingle sets are
    // recomputed by semi-joining `documents` down to just the candidate
    // doc_ids (a vanishingly small fraction of the corpus), so full
    // shingle arrays exist only for docs that reached verification —
    // never corpus-wide.
    val candIds = plausible.select(col("doc_a").as("doc_id"))
      .union(plausible.select(col("doc_b").as("doc_id")))
      .distinct()
    // survivor-bounded but referenced twice (ga/gb) — checkpoint so the
    // semi-join + shingle-array build runs once
    val (gsets, _) = graft.util.Checkpoints.checkpointTracked(
      docs.join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), shingles3(col("text")).as("gs")))
    plausible
      .join(gsets.as("ga"), col("doc_a") === col("ga.doc_id"))
      .join(gsets.as("gb"), col("doc_b") === col("gb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("ga.gs"), col("gb.gs"))).cast("double") /
          size(array_union(col("ga.gs"), col("gb.gs")))).as("jacc"))
      .filter(col("jacc") >= 0.5)
  }

  /** Docfreq cap for the embedding-cosine dim join (IDF-style pruning):
    * trigram dims present in more than this many documents are dropped
    * BEFORE norms and dots — on BOTH engine and oracle, so the pruned
    * subspace IS the operator's embedding space. Two jobs in one: (a)
    * corpus-frequent trigrams ("the", " th") carry no near-dup signal,
    * exactly like stopword removal; (b) the join cost per dim is bounded
    * by cap², so total work is Σ_dim df² ≤ |dims|·cap² — never quadratic
    * in the corpus. A production deployment sizes the cap relative to
    * corpus cardinality (it is the IDF floor); at extreme scale the
    * exact variant is run per partition-scope and the LSH family above
    * handles global discovery. */
  val embedDocfreqCap = 250

  /** Near-dup bar for trigram-profile cosine. Measured on this corpus:
    * planted near-dup pairs score ≥ 0.94, the densest unrelated pairs
    * ≤ 0.6 (same language + tiny vocabulary), so 0.8 splits the two
    * populations with a wide margin either side. */
  val embedCosineMin = 0.8

  /** Embedding-cosine near-dup pairs, oracle-checked. The "embedding"
    * is the classic scalable sparse instantiation: a hashed character-
    * 3-gram COUNT vector per document (dim = c₁·2¹⁴ + c₂·2⁷ + c₃ —
    * injective for 7-bit chars, so no collision term in the oracle).
    * Dense-vector near-dup reduces to the same plan once vectors are
    * sparsified; for the dense `embeddings` table see qAnnBrute/qAnnLsh.
    *
    * Plan shape — all-pairs similarity search via inverted index:
    *   1. one map-only pass explodes trigram dims (zip_with over three
    *      shifted char slices — linear, never substr-per-position);
    *   2. one shuffle builds the (doc, dim, count) profile; docfreq
    *      prunes hot dims (embedDocfreqCap) — both the IDF semantics
    *      and the quadratic-cost guard;
    *   3. dots come from a dim equi-join (per-dim fan-out ≤ cap²/2),
    *      norms from a per-doc aggregate; cosine = dot / (‖a‖·‖b‖) in
    *      pure IEEE double ops that hash-match DuckDB.
    * The profile subtree feeds three branches; Spark's ReuseExchange
    * dedupes the shuffle rather than re-scanning the corpus. */
  def qDedupEmbed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val txt = lower(col("text"))
    // per-doc (dim, count) histograms computed INSIDE the native
    // trigram_counts expression (graftshim.TrigramCounts): the map-side
    // combine happens at expression level, so no corpus-scale
    // groupBy(doc, dim) shuffle exists — the first exchange this query
    // pays is the docfreq aggregation over already-distinct rows.
    // (The earlier form — interpreted zip_with dim extraction + explode
    // + groupBy — spent 2.3 of its 3.2 s in those two stages.)
    val cnt = docs.filter(length(txt) >= 3)
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graftshim.TrigramCounts
          .trigramCounts(txt)).as("dc"))
      .select(col("doc_id"), col("dc.dim").as("dim"), col("dc.c").as("c"))
    val dfq = cnt.groupBy("dim").agg(count(lit(1)).as("df"))
    // round 17 (guide §2.4): `kept` feeds three branches (norms + both
    // dim-join sides) and `nrm` two — each reference re-ran the trigram
    // pass over the corpus (before-plan: 8 documents scans). Checkpoint
    // the docfreq-capped profile (≤ Σ df ≤ |dims|·cap rows) and the
    // |docs|-row norm table once.
    val (kept, _) = graft.util.Checkpoints.checkpointTracked(
      cnt.join(dfq.filter(col("df") <= embedDocfreqCap), "dim")
        .select("doc_id", "dim", "c"))
    val (nrm, _) = graft.util.Checkpoints.checkpointTracked(
      kept.groupBy("doc_id").agg(sqrt(sum(col("c") * col("c"))).as("nr")))
    val dots = kept.as("a").join(kept.as("b"),
        col("a.dim") === col("b.dim") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.c") * col("b.c")).as("dot"))
    dots.join(nrm.as("x"), col("doc_a") === col("x.doc_id"))
      .join(nrm.as("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("dot") / (col("x.nr") * col("y.nr"))).as("cosine"))
      .filter(col("cosine") >= embedCosineMin)
  }

  val qDedupEmbedSql: String =
    s"""WITH tri AS (
      |  SELECT doc_id,
      |    ascii(substr(t,1,1))*16384 + ascii(substr(t,2,1))*128
      |      + ascii(substr(t,3,1)) AS dim
      |  FROM (
      |    SELECT doc_id, substr(lower(text), i, 3) AS t
      |    FROM documents,
      |         LATERAL unnest(generate_series(1, length(text)-2)) AS u(i)
      |  ) WHERE length(t) = 3
      |), cnt AS (
      |  SELECT doc_id, dim, count(*) AS c FROM tri GROUP BY 1, 2
      |), dfq AS (
      |  SELECT dim, count(*) AS df FROM cnt GROUP BY 1
      |), kept AS (
      |  SELECT cnt.* FROM cnt JOIN dfq USING (dim)
      |  WHERE dfq.df <= $embedDocfreqCap
      |), nrm AS (
      |  SELECT doc_id, sqrt(sum(c*c)) AS nr FROM kept GROUP BY 1
      |), dots AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.c*b.c) AS dot
      |  FROM kept a JOIN kept b ON a.dim = b.dim AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b, dot/(x.nr*y.nr) AS cosine
      |FROM dots JOIN nrm x ON doc_a = x.doc_id JOIN nrm y ON doc_b = y.doc_id
      |WHERE dot/(x.nr*y.nr) >= $embedCosineMin""".stripMargin

  /** Train/eval decontamination — the overlap check every LLM pipeline
    * runs so held-out evaluation data never leaks into training: split
    * the corpus deterministically (the md5 rule of q_hash_sample: first
    * hex digit 0/1 → eval, ~12.5%), then flag every TRAINING document
    * that shares at least one rare shingle with ANY eval document,
    * reporting how many distinct rare shingles and eval docs it hit.
    *
    * Containment, not similarity: a training doc that embeds one eval
    * paragraph verbatim has low Jaccard to the whole eval doc but is
    * still contaminated — hence any-shared-shingle, not a ratio.
    *
    * Scale shape — the [[qDedupJaccard]] collect-per-shingle posture,
    * TWO shuffles total: one exploded-shingle pass groups each
    * shingle's (doc, side) list (state per shingle bounded by the
    * post-filter docfreq cap semantics; lists above
    * [[jaccardDocfreqCap]] are dropped — stopword-grade shingles carry
    * no contamination signal), the train×eval pairing happens MAP-SIDE
    * inside each grouped row (≤ cap² per shingle by construction —
    * no pair join, no second corpus pass), and one final per-train-doc
    * aggregation counts shingles (already distinct per doc) and
    * distinct eval partners. Per-group state in the final agg is
    * ≤ |doc's shingles|·cap ids — linear in ONE document's size, the
    * bound every per-doc operator (tokenize, shingle, chunk) already
    * assumes. A join-shaped variant (docfreq build + two shuffle
    * joins + multi-distinct expand) measured 1.6× slower at the 100×
    * point; the grouped row IS the join, pre-materialized. Shingles
    * are hashed to longs for the shuffle; the oracle groups on the
    * strings and agrees on all counts (collision odds ~n²/2⁶⁴). */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val isEval = substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 1).isin("0", "1")
    val grams = docs.select(col("doc_id"), isEval.as("eval"),
      explode(shingles3Hashed(col("text"))).as("g"))
    // one shuffle: each shingle's full (doc, side) roster, capped;
    // one-sided shingles (incl. the dominant singleton tail) can never
    // contaminate and die here, before any pairing work
    val rosters = grams.groupBy("g")
      .agg(collect_list(struct(col("doc_id"), col("eval"))).as("ds"))
      .filter(size(col("ds")).between(2, jaccardDocfreqCap))
      .select(col("g"),
        expr("transform(filter(ds, d -> d.eval), d -> d.doc_id)").as("ev"),
        expr("transform(filter(ds, d -> NOT d.eval), d -> d.doc_id)")
          .as("tr"))
      .filter(size(col("ev")) >= 1 && size(col("tr")) >= 1)
    // map-side pairing + one agg shuffle: count(1) is count of distinct
    // shared shingles (a doc's shingle list is distinct by
    // construction); eval partners dedupe in the flattened roster union
    rosters
      .select(col("g"), explode(col("tr")).as("doc_id"), col("ev"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"),
        size(array_distinct(flatten(collect_list(col("ev")))))
          .cast("long").as("n_eval_docs"))
  }

  val qDecontaminateSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1') AS eval,
      |    unnest(list_distinct(
      |    CASE WHEN len(t) >= 3
      |         THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |               for i in range(1, len(t) - 1)]
      |         ELSE [array_to_string(t, ' ')] END)) AS g
      |  FROM toks),
      |docfreq AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
      |rare AS (
      |  SELECT grams.doc_id, grams.eval, grams.g FROM grams
      |  JOIN docfreq ON grams.g = docfreq.g
      |  WHERE docfreq.df <= $jaccardDocfreqCap)
      |SELECT tr.doc_id,
      |  COUNT(DISTINCT tr.g) AS n_shared_shingles,
      |  COUNT(DISTINCT ev.doc_id) AS n_eval_docs
      |FROM rare tr
      |JOIN rare ev ON tr.g = ev.g
      |WHERE NOT tr.eval AND ev.eval
      |GROUP BY tr.doc_id""".stripMargin

  /** Contamination FRACTION per eval document — the graded companion to
    * [[qDecontaminate]]'s binary flag: for every eval-side document,
    * the share of its distinct shingles that appear anywhere in the
    * train side. The number an eval-suite curator actually thresholds
    * on ("drop eval docs >30% contained in train"), and the per-doc
    * evidence behind a decontamination pass.
    *
    * Scale shape — deliberately different from decontaminate's
    * train×eval pair join: the train side collapses to its DISTINCT
    * shingle set first, so the probe is a left join of |eval shingles|
    * rows against a set keyed by shingle — per-shingle fan-out is
    * exactly 1, no docfreq cap needed, no quadratic path at any corpus
    * size. Counts are longs; the one fraction is a single IEEE divide —
    * bit-identical cross-engine. */
  def qContamFrac(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val isEval = substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 1).isin("0", "1")
    val grams = docs.select(col("doc_id"), isEval.as("eval"),
      explode(shingles3Hashed(col("text"))).as("g"))
    val trainSet = grams.filter(!col("eval")).select("g").distinct()
    grams.filter(col("eval"))
      .join(trainSet.withColumn("hit", lit(1L)), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("hit")), lit(0L)).as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        (col("n_contaminated").cast("double") /
          col("n_shingles")).as("contam_frac"))
  }

  /** Oracle over STRING shingles (the hashed Spark route agrees because
    * shingle distinctness survives XXH64 collision-free on this corpus —
    * same contract as the decontaminate oracle). */
  val qContamFracSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1') AS eval,
      |    unnest(list_distinct(
      |    CASE WHEN len(t) >= 3
      |         THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |               for i in range(1, len(t) - 1)]
      |         ELSE [array_to_string(t, ' ')] END)) AS g
      |  FROM toks),
      |train_set AS (SELECT DISTINCT g FROM grams WHERE NOT eval)
      |SELECT e.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  CAST(COUNT(t.g) AS BIGINT) AS n_contaminated,
      |  CAST(COUNT(t.g) AS DOUBLE) / COUNT(*) AS contam_frac
      |FROM grams e LEFT JOIN train_set t ON e.g = t.g
      |WHERE e.eval
      |GROUP BY e.doc_id""".stripMargin

  /** Cross-source OVERLAP matrix — which sources near-duplicate each
    * other. Every near-dup pair from [[jaccardPairs]] is tagged with
    * its two documents' sources (pair unordered: `src_a ≤ src_b`), and
    * the matrix counts pairs per source pair, with the ≥0.5-Jaccard
    * strong-dup subset split out. The curation use is triage: a heavy
    * off-diagonal cell means one source republishes another (crawl the
    * canonical one, drop the mirror); a heavy diagonal means a
    * source self-duplicates (boilerplate, pagination).
    *
    * Scale shape: rides the MEMOIZED pair view (duplicate-output-
    * sized, the artifact the streaming pipeline keeps warm), joins the
    * 2-column doc→source projection on the pair keys (broadcast-sized
    * pair side at healthy dup rates; a shuffle join degrade-path if
    * the corpus is pathologically duplicated), and the output is
    * ≤|sources|² rows — bounded observability, never corpus-sized.
    * The jacc threshold comparison is portable: both engines computed
    * the identical correctly-rounded double in the pair view. */
  def qSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val srcs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    jaccardPairs(spark, dir)
      .join(srcs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(srcs.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(least(col("sa.source"), col("sb.source")).as("src_a"),
        greatest(col("sa.source"), col("sb.source")).as("src_b"),
        col("jacc"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("jacc") >= 0.5).cast("bigint")).as("n_strong"))
  }

  val qSourceOverlapSql: String =
    s"""WITH pairs AS (
      |${jaccardPairsSql(0.2)}
      |), srcs AS (SELECT doc_id, source FROM documents)
      |SELECT least(sa.source, sb.source) AS src_a,
      |  greatest(sa.source, sb.source) AS src_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_strong
      |FROM pairs
      |JOIN srcs sa ON pairs.doc_a = sa.doc_id
      |JOIN srcs sb ON pairs.doc_b = sb.doc_id
      |GROUP BY 1, 2""".stripMargin

  /** Hot-block guard for the SimHash (blk, v) equi-join, mirroring the
    * MinHash `maxBucket`: a 16-bit block value shared by more than this
    * many docs is uninformative (the self-join on it is O(size²)), so
    * oversized buckets are dropped before pairing — what keeps the
    * block join from going quadratic on a hot block value at 100 TB.
    * Honest recall note: unlike MinHash's probabilistic bands, the
    * block trick's guarantee is pigeonhole (hamming≤3 over 4 blocks ⇒
    * ≥1 exactly-matching block), so a pair whose ONLY matching block is
    * hot is lost — the cap deliberately trades that worst case (a pair
    * indistinguishable in its hot block from >cap other docs) for
    * bounded join cost, the standard LSH skew guard. */
  val simhashMaxBlockBucket = 100

  /** SimHash near-dup detection, HASH-CHECKED against a full SQL replay:
    * 60-bit signature via the native
    * [[org.apache.spark.sql.graftshim.Simhash64]] expression over
    * MD5-derived shingle hashes
    * ([[org.apache.spark.sql.graftshim.Shingles3Md5]]) — genuinely
    * MAP-ONLY (the signed-bit fold happens inside the expression;
    * building signatures shuffles nothing). Pairs are found by the block
    * trick: split the 64 bits into 4 × 16-bit blocks; any pair within
    * Hamming distance 3 must share at least one exact block, so candidate
    * generation is an equi-join on (block_idx, block_value) — capped by
    * [[simhashMaxBlockBucket]] against hot blocks — verified with
    * bit_count(xor) <= 3.
    *
    * The shingle hash is md5-derived (not seeded XXH64) PRECISELY so the
    * whole operator is an integer fold the oracle replays in SQL
    * ([[qDedupSimhashSql]], the q_winnow technique): hex-parse Horner for
    * the hash, 60 signed bit sums for the signature, the same block
    * join, cap, and Hamming verify. Bit quality is md5's, so signature
    * discrimination is unchanged vs the XXH64 variant. */
  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // 3-gram shingles, not unigrams: the synthetic corpus has a 31-word
    // vocabulary, so unigram token SETS collide across unrelated docs and
    // unigram simhash degenerates (~1000 hamming<=3 pairs); 3-grams keep
    // the signature discriminative (only genuine near-dups survive).
    val signed = docs.select(col("doc_id"),
      org.apache.spark.sql.graftshim.Simhash64.simhash64(
        org.apache.spark.sql.graftshim.Shingles3Md5.shingles3Md5(
          col("text"))).as("simhash"))
    val blocks = signed.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("blk"),
          shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL).as("v"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.blk").as("blk"), col("bb.v").as("v"))
    val smallBlocks = blocks
      .withColumn("cnt", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("blk", "v")))
      .filter(col("cnt") <= simhashMaxBlockBucket)
      .drop("cnt")
    smallBlocks.as("a")
      .join(smallBlocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** Duplicate-CLUSTER resolution — the step after pair mining that
    * "keep one copy per duplicate group" actually needs: near-dup
    * pairs are a graph, and the group is its connected component
    * (a≈b, b≈c ⇒ {a,b,c} even when (a,c) never formed a pair). Pairs
    * come from [[qDedupJaccard]] (the oracle-checked pair set);
    * components from the alternating-star contraction in
    * [[graft.operators.ConnectedComponents]] (O(log² n) rounds,
    * (long,long) shuffles only — see its scaladoc for the 100 TB
    * posture). Output: every clustered doc with its cluster id
    * (= min doc_id in the component) and the canonical-survivor flag
    * a downstream "drop non-canonical" filter keys on. Singletons are
    * trivially their own cluster and are not emitted. */
  def qDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = jaccardPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    graft.operators.ConnectedComponents.components(pairs, "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("component").as("cluster_id"),
        (col("node") === col("component")).as("is_canonical"))
  }

  /** Apply a pair graph to a corpus: drop every non-canonical member
    * of each duplicate cluster, keeping the minimum-id survivor (and
    * all singletons, which never enter the pair graph). The generic
    * "resolve" step over ANY pair miner's output — jaccard, minhash,
    * simhash, embedding, or their UNION (components of the union graph
    * merge evidence across miners). One O(log² n) star contraction on
    * the pair set + one broadcast-or-hash left_anti join of the corpus
    * against the (small, duplicate-bounded) non-canonical id list —
    * the corpus itself is scanned once and never shuffled. */
  def resolveDuplicates(docs: DataFrame, pairs: DataFrame,
                        idCol: String = "doc_id",
                        srcCol: String = "doc_a",
                        dstCol: String = "doc_b"): DataFrame = {
    val dropIds = graft.operators.ConnectedComponents
      .components(pairs, srcCol, dstCol)
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    docs.join(dropIds, Seq(idCol), "left_anti")
  }

  /** [[resolveDuplicates]] with a QUALITY-AWARE survivor: keep the
    * highest-`score` member of each cluster (ties broken by min id —
    * still deterministic), not the min-id one — the policy real
    * curation uses when duplicates differ in extraction quality.
    * Scale shape: the ranking window runs over CLUSTERED docs only
    * (duplicate-output-sized — never a corpus-wide shuffle by a
    * mostly-unique key), and the untouched singletons pass through via
    * one left_anti join against the small clustered-id list. */
  def resolveDuplicatesBy(docs: DataFrame, pairs: DataFrame,
                          score: Column,
                          idCol: String = "doc_id",
                          srcCol: String = "doc_a",
                          dstCol: String = "doc_b"): DataFrame = {
    val comp = graft.operators.ConnectedComponents
      .components(pairs, srcCol, dstCol)
    val outCols = docs.columns.map(col).toSeq
    val clustered = docs
      .join(comp, docs(idCol) === comp("node"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component")).orderBy(score.desc, col(idCol))
    val best = clustered
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(outCols: _*)
    val singletons = docs.join(
      comp.select(col("node").as(idCol)), Seq(idCol), "left_anti")
    singletons.unionByName(best)
  }

  /** Driver query for [[resolveDuplicatesBy]] — QUALITY-AWARE cluster
    * resolution end-to-end: clusters from the memoized jaccard pair
    * view, survivor = the member with the highest hashed-classifier
    * score ([[graft.ext.CorpusOps.classify]] — integer arithmetic, so
    * the whole composition hash-compares), ties by min doc_id.
    * Output: every clustered doc with its cluster id, score, and
    * whether the quality policy kept it — the audit view of "keep the
    * best copy, drop the rest". The min-id policy's q_dup_clusters
    * remains the membership oracle; this adds WHICH member survives
    * under the curation-grade policy. */
  def qDedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val pairs = jaccardPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val comp = graft.operators.ConnectedComponents
      .components(pairs, "doc_a", "doc_b")
    val scored = graft.ext.CorpusOps.classify(docs)
      .select(col("doc_id"), col("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("doc_id"))
    comp.select(col("node").as("doc_id"),
        col("component").as("cluster_id"))
      .join(scored, "doc_id")
      .withColumn("kept", (row_number().over(w) === 1).cast("int"))
      .select("doc_id", "cluster_id", "score", "kept")
  }

  /** The closure + the classifier score + the rank, replayed in ANSI
    * SQL over the same edges. */
  val qDedupKeepBestSql: String =
    s"""WITH RECURSIVE pairs AS (
      |  SELECT doc_a, doc_b FROM (${jaccardPairsSql(0.2)}) jp),
      |edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |reach AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |comp AS (
      |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
      |  FROM reach GROUP BY u),
      |wtab AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |sc AS (
      |  SELECT doc_id, CAST(SUM(
      |    CAST(CAST('0x' || substr(md5(CAST(
      |          CAST('0x' || substr(md5(word), 1, 8) AS UBIGINT)
      |            % ${graft.ext.CorpusOps.classifierBuckets} AS VARCHAR)),
      |          1, 8) AS UBIGINT)
      |        % ${graft.ext.CorpusOps.classifierWeightSpan} AS BIGINT)
      |      - 1000) AS BIGINT) AS score
      |  FROM wtab GROUP BY doc_id)
      |SELECT c.doc_id, c.cluster_id, sc.score,
      |  CAST(row_number() OVER (
      |    PARTITION BY c.cluster_id
      |    ORDER BY sc.score DESC, c.doc_id) = 1 AS INT) AS kept
      |FROM comp c JOIN sc ON c.doc_id = sc.doc_id""".stripMargin

  /** DEDUP-METHOD AGREEMENT MATRIX — the eval every curation team runs
    * before trusting a near-dup pipeline: the three pair miners
    * (exact-Jaccard ≥ 0.2, MinHash-LSH-verified ≥ 0.5, SimHash
    * hamming ≤ 3) compared pairwise — set sizes and intersection
    * counts. High agreement on the planted-dup mass and a visible
    * threshold gap between the 0.2 and 0.5 Jaccard cuts is the
    * expected signature; drift here is the first sign a miner's caps
    * or thresholds regressed. Each miner's pair set is itself
    * hash-checked (q_dedup_jaccard / _minhash / _simhash), so this
    * rollup composes three already-verified surfaces; the jaccard
    * side rides the memoized pair view. Counts are driver-side over
    * pair-set-sized (duplicate-bounded) frames — never corpus-sized. */
  def qDedupMethods(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // each miner runs ONCE: its (tiny, duplicate-bounded) pair set is
    // checkpoint-materialized, then every count/intersection reads the
    // materialized rows — without this, each set re-mines up to 4×
    // (two counts + two joins; measured 5.7 s vs ~2.4 s at sf0.1)
    val checkpointed = Seq(
      "jaccard" -> qDedupJaccard(spark, dir).select("doc_a", "doc_b"),
      "minhash" -> qDedupMinhash(spark, dir).select("doc_a", "doc_b"),
      "simhash" -> qDedupSimhash(spark, dir).select("doc_a", "doc_b"))
      .map { case (n, df) =>
        val (ck, release) = graft.util.Checkpoints.checkpointTracked(df)
        (n, ck, release)
      }
    try {
      val sets = checkpointed.map { case (n, df, _) => n -> df }
      val rows = for {
        i <- sets.indices
        j <- sets.indices if i < j
      } yield {
        val (na, a) = sets(i)
        val (nb, b) = sets(j)
        (na, nb, a.count(), b.count(),
          a.join(b, Seq("doc_a", "doc_b")).count())
      }
      rows.toDF("method_a", "method_b", "n_a", "n_b", "n_common")
    } finally checkpointed.foreach(_._3())
  }

  /** The same matrix over the three oracle pair sets. */
  lazy val qDedupMethodsSql: String = {
    val defs = Seq(
      "jaccard" -> qDedupJaccardSql,
      "minhash" -> qDedupMinhashSql,
      "simhash" -> qDedupSimhashSql)
    val rows = for {
      i <- defs.indices
      j <- defs.indices if i < j
    } yield {
      val (na, _) = defs(i)
      val (nb, _) = defs(j)
      s"""SELECT '$na' AS method_a, '$nb' AS method_b,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM p_$na) AS n_a,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM p_$nb) AS n_b,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM p_$na
         |     JOIN p_$nb USING (doc_a, doc_b)) AS n_common"""
        .stripMargin
    }
    val ctes = defs.map { case (n, sql) =>
      s"p_$n AS (\n  SELECT doc_a, doc_b FROM (\n${sql}\n) q_$n)"
    }.mkString("WITH ", ",\n", "")
    s"$ctes\n${rows.mkString("\nUNION ALL\n")}"
  }

  /** Transitive closure of the SAME pair set in DuckDB (recursive CTE
    * over the [[qDedupJaccardSql]] edges; the recursive UNION dedupes,
    * so cycles terminate), then cluster id = min reachable node. An
    * engine-independent definition of the cluster partition — the star
    * contraction must produce exactly this table. */
  val qDupClustersSql: String =
    s"""WITH RECURSIVE pairs AS (
      |  SELECT doc_a, doc_b FROM (${jaccardPairsSql(0.2)}) jp),
      |edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |reach AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
      |SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id,
      |       u = LEAST(u, MIN(v)) AS is_canonical
      |FROM reach GROUP BY u""".stripMargin

  /** LEAKAGE-FREE train/eval split — the dedup graph applied to
    * SPLITTING rather than dropping: a plain per-document hash split
    * (q_hash_sample's md5 rule) puts near-duplicate documents on
    * OPPOSITE sides ~2·p·(1−p) of the time, which is precisely the
    * train→eval leakage decontamination exists to prevent — the eval
    * half of a near-dup pair is effectively training data. The fix
    * (Lee et al. 2022's deduplicate-across-splits guidance): flip the
    * md5 coin on each document's duplicate-CLUSTER representative
    * (min-id member; singletons are their own), so every member of a
    * cluster inherits ONE verdict and no near-dup pair can straddle
    * the split. Composes the memoized pair view + star contraction
    * with the established first-hex-digit rule — eval ≈ 12.5%, in
    * cluster-sized units.
    *
    * Scale shape: the component table is DUPLICATE-BOUNDED (only
    * clustered docs appear), so the left join against the corpus
    * broadcasts in the common regime; the coin is one md5 over the
    * representative id — map-only. Nothing here shuffles the corpus.
    * Output: (doc_id, split_key, split) — hash-checked end to end via
    * the recursive-CTE closure. */
  def qSplitLeakfree(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val pairs = jaccardPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val comp = graft.operators.ConnectedComponents
      .components(pairs, "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("component"))
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("split_key"))
      .withColumn("split",
        when(substring(md5(col("split_key").cast("string").cast("binary")),
          1, 1).isin("0", "1"), lit("eval")).otherwise(lit("train")))
  }

  /** [[qDupClustersSql]]'s closure + the coin on the representative. */
  val qSplitLeakfreeSql: String =
    s"""WITH RECURSIVE pairs AS (
      |  SELECT doc_a, doc_b FROM (${jaccardPairsSql(0.2)}) jp),
      |edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |reach AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |comp AS (
      |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS component
      |  FROM reach GROUP BY u)
      |SELECT d.doc_id,
      |  COALESCE(c.component, d.doc_id) AS split_key,
      |  CASE WHEN substr(md5(CAST(COALESCE(c.component, d.doc_id)
      |      AS VARCHAR)), 1, 1) IN ('0', '1')
      |    THEN 'eval' ELSE 'train' END AS split
      |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin

  /** Full SQL replay of [[qDedupSimhash]] — the whole operator, not an
    * output-equivalence proxy: 3-gram shingles (identical construction
    * to the Jaccard oracle), md5 → 15-hex-digit Horner parse (= the
    * engine's [[org.apache.spark.sql.graftshim.Shingles3Md5]]), 60
    * signed bit sums with the strict `> 0` tie rule (= `Simhash64`'s
    * fold; bits 60–63 stay 0 on both sides), the 4 × 16-bit block
    * equi-join capped at [[simhashMaxBlockBucket]], and the
    * `bit_count(xor) <= 3` Hamming verify. Purely integer arithmetic
    * end-to-end, so the hash comparison is exact. */
  val qDedupSimhashSql: String = {
    def hexdig(j: Int): String = {
      val a = s"ascii(substr(m, $j, 1))"
      s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END)"
    }
    val horner = (2 to 15).foldLeft(s"CAST(${hexdig(1)} AS BIGINT)") {
      (acc, j) => s"($acc * 16 + ${hexdig(j)})"
    }
    val bitSum = (0 until 60).map { b =>
      s"(CASE WHEN SUM(((h >> $b) & 1) * 2 - 1) > 0" +
        s" THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(t) >= 3
      |         THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |               for i in range(1, len(t) - 1)]
      |         ELSE [array_to_string(t, ' ')] END)) AS g
      |  FROM toks),
      |hashed AS (
      |  SELECT doc_id, $horner AS h
      |  FROM (SELECT doc_id, md5(g) AS m FROM grams)),
      |sig AS (
      |  SELECT doc_id, $bitSum AS simhash FROM hashed GROUP BY doc_id),
      |blocks AS (
      |  SELECT doc_id, simhash, blk, (simhash >> (16 * blk)) & 65535 AS v
      |  FROM sig, (VALUES (0), (1), (2), (3)) AS bb(blk)),
      |small AS (
      |  SELECT doc_id, simhash, blk, v FROM (
      |    SELECT blocks.*, COUNT(*) OVER (PARTITION BY blk, v) AS cnt
      |    FROM blocks)
      |  WHERE cnt <= $simhashMaxBlockBucket),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |  FROM small a JOIN small b
      |    ON a.blk = b.blk AND a.v = b.v AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin
  }

  /** N-GRAM COVERAGE CURVE — the data-scaling diagnostic behind "will
    * more of this source help?": split off the standard eval slice
    * (the [[qDecontaminate]] md5 rule), order the TRAINING corpus into
    * 10 deterministic md5 buckets, and report what fraction of the
    * eval set's distinct shingles the first k buckets cover, for
    * k = 1..10. A curve that is still climbing at 100% says the eval
    * domain is undersampled; a flat curve says additional data from
    * this source buys nothing the eval set can see (the n-gram-overlap
    * reading of data-scaling diminishing returns).
    *
    * THE SHAPE IS THE POINT: coverage at every k comes from ONE
    * number per eval shingle — the MINIMUM train bucket containing it
    * — so the whole 10-point curve is one exploded-shingle pass, one
    * per-gram MIN partial agg, one ≤11-row histogram, and a cumulative
    * sum over the constant 10-row spine. Never 10 passes, never a
    * per-k join. Spark joins on the codegen'd shingle hash; the oracle
    * groups the strings and agrees on all counts (the
    * [[qDecontaminate]] collision contract). */
  def qCoverageCurve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val isEval = substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 1)
      .isin("0", "1")
    val evalG = docs.filter(isEval)
      .select(explode(shingles3Hashed(col("text"))).as("g")).distinct()
    val trainMin = docs.filter(!isEval)
      .select(explode(shingles3Hashed(col("text"))).as("g"),
        (org.apache.spark.sql.functions.conv(
          substring(md5(col("doc_id").cast("string").cast("binary")),
            1, 15), 16, 10).cast("long") % 10).as("bucket"))
      .groupBy("g").agg(min(col("bucket")).as("minb"))
    val hist = evalG.join(trainMin, Seq("g"), "left")
      .groupBy("minb").agg(count(lit(1)).as("c"))
    val tot = hist.agg(sum(col("c")).as("total_grams"))
    val spine = spark.range(1, 11).select(col("id").as("train_buckets"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("train_buckets")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    spine
      .join(hist, col("minb") === col("train_buckets") - 1, "left")
      .withColumn("covered", sum(coalesce(col("c"), lit(0L))).over(w))
      .crossJoin(broadcast(tot))
      .selectExpr("train_buckets", "covered",
        "cast(total_grams as bigint) as total_grams",
        """case when total_grams = 0 then 0L else
          | cast(round(1000000.0 * cast(covered as double)
          |   / cast(total_grams as double)) as bigint)
          | end as coverage_micro""".stripMargin.replace("\n", " "))
  }

  val qCoverageCurveSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
      |      AS eval,
      |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
      |      AS UBIGINT) AS BIGINT) % 10 AS bucket
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, eval, bucket,
      |    unnest(list_distinct(
      |    CASE WHEN len(t) >= 3
      |         THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |               for i in range(1, len(t) - 1)]
      |         ELSE [array_to_string(t, ' ')] END)) AS g
      |  FROM toks),
      |eval_g AS (SELECT DISTINCT g FROM grams WHERE eval),
      |train_min AS (
      |  SELECT g, MIN(bucket) AS minb FROM grams
      |  WHERE NOT eval GROUP BY g),
      |hist AS (
      |  SELECT t.minb, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM eval_g e LEFT JOIN train_min t ON t.g = e.g
      |  GROUP BY t.minb),
      |tot AS (SELECT SUM(c) AS total_grams FROM hist),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT)
      |    AS train_buckets)
      |SELECT s.train_buckets,
      |  CAST(SUM(COALESCE(h.c, 0)) OVER (ORDER BY s.train_buckets
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS covered,
      |  CAST(t.total_grams AS BIGINT) AS total_grams,
      |  CASE WHEN t.total_grams = 0 THEN 0 ELSE
      |    CAST(ROUND(1000000.0 * CAST(SUM(COALESCE(h.c, 0))
      |        OVER (ORDER BY s.train_buckets ROWS UNBOUNDED PRECEDING)
      |        AS DOUBLE)
      |      / CAST(t.total_grams AS DOUBLE)) AS BIGINT)
      |    END AS coverage_micro
      |FROM spine s
      |LEFT JOIN hist h ON h.minb = s.train_buckets - 1
      |CROSS JOIN tot t""".stripMargin
}
