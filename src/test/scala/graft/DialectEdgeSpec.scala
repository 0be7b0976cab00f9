package graft

/** Round-16 ask #2: the DIALECT-DISCIPLINE edge-corpus sweep. Three
  * shared-SQL dialect bugs in two rounds (Bayes decimal literal, chi²
  * zero-cell, q12 HUGEINT) were one class — one SQL text under two
  * engines' typing/rounding rules — each caught only when a corpus
  * happened to exercise the edge. [[EdgeCorpus]] plants the edges
  * deliberately (single groups, empty join arms, boundary aggregates,
  * half-cent rounding, LIKE metacharacters, ties, fractional
  * quantities, non-ASCII text, length-2 strings); the full gate runs
  * over it with `runMain graft.EdgeCorpus` + `runMain graft.Verify` +
  * `tools/check_oracle.py` (ALL GREEN as of round 16 — the sweep's
  * first run found NINE real splits/crashes: the ntile k∤n identity,
  * PassJoin's short-string miss, double→BIGINT truncate-vs-round,
  * pivot NULL cells, UTF-8-bytes-vs-codepoint audio envelopes, DuckDB
  * json error on malformed props, three ANSI throw-vs-NULL divides,
  * ANSI '' casts, and a Spark ML KMeans crash at k > distinct points).
  * Round 17 extended the corpus (non-BMP surrogate pairs, a
  * >64-codepoint all-non-ASCII doc, LIKE metacharacters in text,
  * leap-day/year-boundary microsecond timestamps, NaN and -0.0
  * values) and the first sweep found FOUR more: three ANSI
  * NaN→BIGINT cents-cast crashes (events rollups + ICC) and a DuckDB
  * FILTER-over-CROSS_PRODUCT fallback in q_acf's oracle once the
  * spine spanned 4 years (50 s → 0.5 s after precomputing the lag
  * join key).
  *
  * This spec keeps the SPARK half green in-tree: every SparkEntry
  * query must EXECUTE on the edge corpus (no ANSI throws, no codec
  * crashes, no empty-relation NPEs) and the row contracts that gate
  * rows-only queries must hold. The DuckDB half stays in the tool
  * (the test JVM has no DuckDB), exactly like the main gate. */
class DialectEdgeSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = tempDir("edgecorpus")
      .toFile.getAbsolutePath
    EdgeCorpus.write(spark, d)
    d
  }

  test("every gate query executes over the edge corpus") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, dir).count(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName} ${e.getMessage}")
        }
    }
    graft.util.SessionCache.dropTransientBlocks(spark)
    assert(failures.isEmpty,
      s"${failures.size} queries crashed on the edge corpus:\n" +
        failures.mkString("\n"))
  }

  test("the planted edges really bite: regression probes for the nine " +
    "round-16 finds") {
    import org.apache.spark.sql.functions._
    // ntile: 4 spending customers < 10 tiles — exact ntile puts one
    // row in each LEADING tile (the old identity spread them to
    // 1,3,6,8)
    val deciles = SparkEntry.queries("q_ntile")(spark, dir)
      .select("decile").collect().map(_.getInt(0)).sorted
    assert(deciles.head === 1 && deciles === deciles.indices
      .map(_ + 1).toArray, deciles.mkString(","))
    // fuzzy join: the length-2 pair ("ab","ac") must be found (the
    // PassJoin probe filter used to drop ≤ d target lengths)
    val fz = SparkEntry.queries("q_fuzzy_join")(spark, dir)
      .filter(col("n1") === "ab" && col("n2") === "ac").count()
    assert(fz === 1L, "short-string fuzzy pair missed again")
    // pivot: the single-event user's absent cells are 0, never null
    val pv = SparkEntry.queries("q_pivot")(spark, dir)
      .filter(col("user_id") === 2L).head()
    assert(!pv.anyNull, s"pivot reintroduced null cells: $pv")
    // ncm: only labels present in the corpus can be predicted
    val preds = SparkEntry.queries("q_ncm_predict")(spark, dir)
      .select("pred").collect().map(_.getInt(0)).toSet
    assert(preds.subsetOf(Set(0, 1)), s"absent class predicted: $preds")
    // theil-sen: the round-17 corpus planted a SECOND purchase hour
    // (the century-leap-day event), so the gate now also certifies the
    // minimal 2-point spine — one pair, one slope — cross-engine
    assert(SparkEntry.queries("q_theil_sen")(spark, dir).count() === 1L)
    // ...and the sub-2-point degenerate spine (the round-16 find:
    // empty result, not a selection crash) keeps its probe on a
    // directly-constructed single-purchase input
    val onePurchase = Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase").limit(1)
    assert(graft.operators.TheilSen.theilSen(onePurchase).count() === 0L)
    graft.util.SessionCache.dropTransientBlocks(spark)
  }
}
