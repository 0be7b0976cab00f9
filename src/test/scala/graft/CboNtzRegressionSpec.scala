package graft

/** Round-17 verdict ask #7: PIN the Spark 4.1 CBO/NTZ engine bug that
  * [[CboDeckSpec]] works around, so a future refactor cannot silently
  * re-collect NTZ column stats and crash plan estimation.
  *
  * Upstream symptom (found by CboDeckSpec in round 16): with CBO
  * enabled, `FilterEstimation.evaluateBinary` (FilterEstimation.scala:281
  * in the shipped 4.1.2 catalyst) has no case for `TimestampNTZType`,
  * so ANY estimated comparison filter over an NTZ column that carries
  * column statistics throws `scala.MatchError: TimestampNTZType`
  * inside the optimizer — planning itself fails, before a single task
  * runs. The avoidance: ANALYZE ... FOR COLUMNS must simply never list
  * NTZ columns; without column stats the estimator falls back to
  * default selectivity and planning proceeds.
  *
  * This spec reproduces BOTH halves on a 3-row table:
  *  - the SAFE path (stats on non-NTZ columns only) plans and runs an
  *    NTZ comparison filter under CBO — the invariant the deck relies
  *    on;
  *  - the SYMPTOM path (stats on the NTZ column) still throws the
  *    documented MatchError. If a Spark upgrade fixes the estimator,
  *    this half STOPS throwing and the test prints that the avoidance
  *    can be retired — it does not fail, so an upstream fix never
  *    blocks the build. */
class CboNtzRegressionSpec extends SparkSpec {

  test("NTZ column stats under CBO: safe path plans, symptom pinned") {
    val s2 = spark.newSession()
    org.apache.spark.sql.SparkSession.setActiveSession(s2)
    val tmp = tempDir("ntzcbo")
      .toFile.getAbsolutePath
    spark.sql(
      """SELECT id, TIMESTAMP_NTZ '1997-06-01 00:00:00' + make_interval(0, 0, 0, CAST(id AS INT), 0, 0, 0) AS ts
        |FROM range(3)""".stripMargin)
      .write.mode("overwrite").parquet(s"$tmp/t")
    spark.sql("SELECT id, id AS k FROM range(3)")
      .write.mode("overwrite").parquet(s"$tmp/u")
    s2.sql("CREATE DATABASE IF NOT EXISTS ntz_check")
    try {
      Seq("t", "u").foreach { t =>
        s2.sql(s"DROP TABLE IF EXISTS ntz_check.$t")
        s2.sql(s"CREATE TABLE ntz_check.$t USING parquet LOCATION '$tmp/$t'")
      }
      s2.conf.set("spark.sql.cbo.enabled", "true")
      // FilterEstimation only runs when something CONSULTS the
      // filter's stats — a lone filtered aggregate never does. The
      // join above the filter is what makes the planner estimate it
      // (exactly the deck shape that crashed in round 16).
      val probe = "SELECT COUNT(*) AS n FROM ntz_check.t " +
        "JOIN ntz_check.u USING (id) " +
        "WHERE ts > TIMESTAMP_NTZ '1997-06-01 12:00:00'"

      // sanity: the created column really is NTZ (the corpus' type —
      // an LTZ table would make the whole pin vacuous)
      assert(s2.table("ntz_check.t").schema("ts").dataType ===
        org.apache.spark.sql.types.TimestampNTZType)

      // SAFE path: column stats on the non-NTZ column only
      s2.sql("ANALYZE TABLE ntz_check.t COMPUTE STATISTICS FOR COLUMNS id")
      s2.sql("ANALYZE TABLE ntz_check.u COMPUTE STATISTICS FOR COLUMNS id")
      assert(s2.sql(probe).head().getLong(0) === 2L,
        "CBO + NTZ filter broke on the SAFE path (no NTZ column stats)")

      // SYMPTOM path: stats on the NTZ column itself
      s2.sql("ANALYZE TABLE ntz_check.t COMPUTE STATISTICS FOR COLUMNS ts")
      val outcome =
        try { s2.sql(probe).head(); None }
        catch { case e: Throwable => Some(e) }
      outcome match {
        case Some(e) =>
          val chain = Iterator.iterate(e)(_.getCause)
            .takeWhile(_ != null).take(8).toSeq
          assert(chain.exists(c => c.isInstanceOf[scala.MatchError] &&
            String.valueOf(c.getMessage).contains("TimestampNTZType")),
            s"NTZ stats crashed planning with an UNEXPECTED error " +
              s"(not the pinned FilterEstimation MatchError): $e")
        case None =>
          info("upstream FIXED: NTZ column stats no longer crash " +
            "FilterEstimation — CboDeckSpec's ANALYZE column list may " +
            "include timestamp columns again")
      }
    } finally {
      s2.sql("DROP TABLE IF EXISTS ntz_check.t")
      s2.sql("DROP TABLE IF EXISTS ntz_check.u")
      s2.sql("DROP DATABASE IF EXISTS ntz_check")
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }
}
