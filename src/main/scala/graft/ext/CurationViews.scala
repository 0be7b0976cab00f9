package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** SQL surface for the curation/dedup artifacts — the ext analog of
  * [[graft.views.Views.createAll]]: a SQL-first user registers once and
  * then composes plain `spark.sql` over the corpus views.
  *
  * These are DATAFRAME-backed temp views, not SQL text, on purpose: the
  * backing plans are the scale-correct formulations that ANSI text
  * cannot express — the memoized jaccard pair view, the star-contraction
  * cluster table, RowNumbering's distributed global order — so a SQL
  * user gets the 100 TB plans, not a single-partition window. Temp views
  * over already-materialized artifacts (the memoized pair set, the
  * contraction's checkpointed fixpoint) serve from those blocks. After
  * a table rewrite, [[graft.views.Views.createAll]] drops the dir's
  * memos (those blocks too); call this again after it to re-register,
  * like any materialized view awaiting REFRESH. */
object CurationViews {

  /** Register the CHEAP curation views — `dup_pairs`, `dup_clusters`,
    * `corpus_dedup`, `doc_stats`, `corpus_mixture`, `corpus_shuffle`,
    * `corpus_vocab`, `corpus_boilerplate` (plus the base tables) — as
    * temp views over `dir`. Registration is lazy (plans, not jobs);
    * the first QUERY of a view pays its build, after which the
    * memoized artifacts (the jaccard pair view, the contraction
    * fixpoint) serve every later reader.
    *
    * The MODEL-backed views (`doc_scores`, `semantic_dedup`,
    * `bpe_merges`) are deliberately NOT here: their registration alone
    * executes heavy builds eagerly — BPE training runs `bpeMerges`
    * sequential Spark jobs with a driver argmax per round, SemDeDup
    * counts the corpus and builds the IVF index, the LM view trains
    * and checkpoints the bigram model. Callers who want them opt in
    * via [[createModelViews]] and pay that cost knowingly, instead of
    * it taxing every caller who only wanted `doc_stats`. */
  def createAll(spark: SparkSession, dir: String): Unit = {
    graft.Tables.registerAll(spark, dir)
    Dedup.jaccardPairs(spark, dir)
      .createOrReplaceTempView("dup_pairs")
    Dedup.qDupClusters(spark, dir)
      .createOrReplaceTempView("dup_clusters")
    Dedup.resolveDuplicates(
        graft.Tables(spark, dir, "documents"),
        Dedup.jaccardPairs(spark, dir).select(col("doc_a"), col("doc_b")))
      .createOrReplaceTempView("corpus_dedup")
    TextOps.qTextStats(spark, dir)
      .createOrReplaceTempView("doc_stats")
    TextOps.qMixtureSample(spark, dir)
      .createOrReplaceTempView("corpus_mixture")
    TextOps.qShardShuffle(spark, dir)
      .createOrReplaceTempView("corpus_shuffle")
    // round-6 corpus surface (cheap half): the vocabulary head and the
    // boilerplate verdict — both plain lazy plans
    CorpusOps.qVocab(spark, dir)
      .createOrReplaceTempView("corpus_vocab")
    CorpusOps.qBoilerplate(spark, dir)
      .createOrReplaceTempView("corpus_boilerplate")
    // round-8: duplicated-span removal (lazy) and the temperature
    // rebalance (one bounded totals agg, the corpus_mixture posture)
    TextOps.qSubstrDedup(spark, dir)
      .createOrReplaceTempView("corpus_substr_dedup")
    TextOps.qTempSample(spark, dir)
      .createOrReplaceTempView("corpus_temp_sample")
    // cross-source near-dup matrix — rides the same memoized pair
    // view dup_pairs just registered (no extra build cost)
    Dedup.qSourceOverlap(spark, dir)
      .createOrReplaceTempView("source_overlap")
  }

  /** Register the RELEASE-GOVERNANCE views (round-13 verdict ask #5):
    * every release-process read — the gate verdict, the descriptive
    * card, the Merkle manifest, the privacy-budget grant/refuse
    * ledger, and the snapshot diff — under one registration, so a
    * SQL-first release pipeline composes them without Scala (e.g. join
    * the gate verdict to the ledger's granted releases — the ExtSpec
    * composition test). All lazy plans over bounded artifacts: the
    * gate is four 1-row aggregates + the manifest hash, the ledger a
    * |releases|-row window, the diff two manifest scans. */
  def createGovernanceViews(spark: SparkSession, dir: String): Unit = {
    graft.Tables.registerAll(spark, dir)
    ReleaseGate.qReleaseGate(spark, dir)
      .createOrReplaceTempView("release_gate")
    TextOps.qDatasetCard(spark, dir)
      .createOrReplaceTempView("dataset_card")
    TextOps.qManifest(spark, dir)
      .createOrReplaceTempView("corpus_manifest")
    graft.streaming.PrivacyLedger.qPrivacyLedger(spark, dir)
      .createOrReplaceTempView("privacy_ledger")
    TextOps.qSnapshotDiff(spark, dir)
      .createOrReplaceTempView("snapshot_diff")
  }

  /** Register the MODEL-backed views: `doc_scores` (classifier score +
    * LM nll + repetition in one per-doc table), `semantic_dedup`, and
    * `bpe_merges`. Registering these EXECUTES the model builds (BPE
    * training = `bpeMerges` sequential jobs, SemDeDup = corpus count +
    * IVF k-means, LM = train + checkpoint) — each session-memoized, so
    * the cost is paid once per (session, dir) no matter how many views
    * or later queries touch the artifact. Call after [[createAll]]. */
  def createModelViews(spark: SparkSession, dir: String): Unit = {
    val docs = graft.Tables(spark, dir, "documents")
    CorpusOps.classify(docs)
      .join(CorpusOps.qLmScore(spark, dir), Seq("doc_id"))
      .join(TextOps.qRepRatio(spark, dir), Seq("doc_id"))
      .createOrReplaceTempView("doc_scores")
    graft.ext.SemDedup.qSemDedup(spark, dir)
      .createOrReplaceTempView("semantic_dedup")
    graft.ext.Bpe.qBpeTrain(spark, dir)
      .createOrReplaceTempView("bpe_merges")
    // round-8: DSIR importance weights (training runs the two bounded
    // feature-total counts eagerly — model-backed by the same token)
    CorpusOps.qDsirWeights(spark, dir)
      .createOrReplaceTempView("dsir_weights")
    CorpusOps.qDsirSample(spark, dir)
      .createOrReplaceTempView("dsir_sample")
  }

  /** Register the LEXICAL-ANALYTICS views (round-14 session-5 wave):
    * per-source readability and richness, the corpus-half lexical
    * drift, Simpson source-mix concentration, word distribution
    * lenses, and TextRank keywords — so a SQL-first corpus review
    * composes them without Scala (e.g. join readability grades to
    * Chao unseen mass per source — the ExtSpec composition test).
    * All lazy plans: each is one or two bounded aggregations. */
  def createTextAnalyticsViews(spark: SparkSession, dir: String): Unit = {
    graft.Tables.registerAll(spark, dir)
    Readability.qReadability(spark, dir)
      .createOrReplaceTempView("readability")
    ChaoRichness.qChaoRichness(spark, dir)
      .createOrReplaceTempView("vocab_richness")
    FightinWords.qFightinWords(spark, dir)
      .createOrReplaceTempView("fightin_words")
    SimpsonDiversity.qSimpsonDiversity(spark, dir)
      .createOrReplaceTempView("source_diversity")
    WordDispersion.qWordBurstiness(spark, dir)
      .createOrReplaceTempView("word_burstiness")
    WordDispersion.qWordDispersion(spark, dir)
      .createOrReplaceTempView("word_dispersion")
    TextRank.qTextrank(spark, dir)
      .createOrReplaceTempView("textrank_keywords")
  }
}
