package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's deterministic parquet testdata
  * (TESTDATA.md — TPC-H-ish star schema + events/documents/embeddings).
  *
  * All queries take the scale-factor dir as a parameter so the same code
  * runs at sf0.001 (smoke), sf0.01 (correctness), sf0.1 (bench) and, on a
  * real cluster, against any path. Parquet scans get Catalyst column
  * pruning + predicate pushdown for free — see `.explain` in specs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Plan-level memoization (round 17): every `apply` used to re-run
    * parquet schema inference (driver-side file listing + footer read,
    * tens of ms) and every `registerAll` repeated it ×10 — pure fixed
    * cost repaid by most of the 317 bench queries. The DataFrame is an
    * immutable PLAN (no data is cached; every execution still scans
    * the parquet), so serving the same object per (session, dir, name)
    * is semantically identical. Keyed via [[graft.util.SessionCache]],
    * so a caller that rewrites a dir refreshes with
    * [[graft.views.Views.createAll]] (which drops the dir's memos) or
    * SessionCache.clear. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.util.SessionCache.memoize(spark, s"table:$name", dir) {
      load(spark, dir, name)
    }

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Parquet TIMESTAMP columns written without isAdjustedToUTC read as
    // TIMESTAMP_NTZ under Spark 4's default inference, which the engine's
    // timestamp expressions (unix_micros, window, …) reject. All graft
    // sessions pin spark.sql.session.timeZone=UTC, so surfacing them as
    // plain TimestampType is value-identical — and keeps the scan native
    // (no cast node, pushdown intact) across either physical layout.
    // NOTE this conf governs footer-based INFERENCE only: parquet that
    // Spark itself wrote from an NTZ frame carries the logical schema in
    // its own metadata, which wins over inference — so [[normalizeNtz]]
    // below is the actual guarantee and this conf is the fast path that
    // keeps driver-generated testdata cast-free.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if (name == "events") {
      // Schema-adaptive ingest for the one column that has drifted across
      // testdata generations: `ts` has arrived both as parquet
      // TIMESTAMP(NANOS) — which Spark's reader rejects
      // ([PARQUET_TYPE_ILLEGAL]) unless nanosAsLong surfaces it as a
      // long — and as plain TIMESTAMP_MICROS, which reads natively. The
      // reference's whole clean stage is built around tolerating messy
      // arriving data (config.py:95-97,139-142 — lenient parse, coerce,
      // never error); the engine's own ingest takes the same posture:
      // inspect the scanned schema and convert only when conversion is
      // needed. Integer `div` avoids the double rounding a plain `/`
      // would introduce on ~1e18 nano values.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      adaptEventsTs(normalizeNtz(spark.read.parquet(s"$dir/$name.parquet")))
    } else normalizeNtz(spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** Cast any TIMESTAMP_NTZ column to plain TimestampType — the layout
    * guarantee the infer conf alone can't give: parquet written BY SPARK
    * from an NTZ frame (e.g. a rewritten/scaled copy of the testdata)
    * embeds NTZ in its own schema metadata, which overrides footer
    * inference on read-back. At the engine's pinned UTC session zone
    * the cast is value-identical; on driver-generated (non-Spark)
    * parquet the infer conf already yields TimestampType and this is a
    * no-op with zero plan nodes. */
  def normalizeNtz(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        f.name
    }
    ntz.foldLeft(df)((d, c) =>
      d.withColumn(c, org.apache.spark.sql.functions.col(c).cast("timestamp")))
  }

  /** Normalize the events `ts` column to TimestampType whatever physical
    * layout it arrived in: a nanos long (via nanosAsLong) gets an integer
    * `div 1000` + timestamp_micros; an already-native timestamp passes
    * through untouched. Works on batch AND streaming DataFrames (the
    * schema is known pre-start either way). */
  def adaptEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => df
    }

  /** Register all tables as temp views so programs can also be written in
    * Spark SQL (the reference keeps its relational logic as SQL strings —
    * settings.yaml:24-63,88-123,132-140). Idempotent per (session, dir):
    * re-registering the same ten views per SQL-surface query was pure
    * fixed cost; the views are lazy, so skipping the re-registration is
    * observationally identical. A session that switches dirs (ScaleCheck)
    * re-registers, because the view NAMES are shared. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    if (graft.util.SessionCache.tagChanged(spark, "tables:registered", dir))
      names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
