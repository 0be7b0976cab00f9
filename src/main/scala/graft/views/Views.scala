package graft.views

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.RowNumbering

/** The reference's three analytical views re-expressed Spark-first over
  * the driver testdata (role mapping per FIXTURES.md §3: lineitem/orders
  * play the fact roles, nation/region/customer/supplier/part the
  * metadata.* broadcast dimensions).
  *
  *  - TRANSACTIONS (reference `settings.yaml:88-123`): fact scan → 4-way
  *    chained broadcast LEFT joins (J5) → COALESCE/alias projections
  *    (F1/F4/F9) → global ROW_NUMBER Id (W1, scalable plan — see
  *    [[graft.operators.RowNumbering]]) → partitioned MIN window (W2) →
  *    IsNew CASE flag (W3) → ORDER BY (O2).
  *  - RETENTION (reference `settings.yaml:24-63`): projection subquery →
  *    4 broadcast LEFT joins (J1–J4) → COALESCE defaults (F1) → CASE 0/1
  *    flags (F2) → IS NOT NULL filter (F5) → ORDER BY asc (O1).
  *  - AUTO_OPTIOM (reference `settings.yaml:132-140`): view-on-view scan →
  *    fact-to-fact LEFT join on the VIN analog (J6 — NOT broadcast: both
  *    sides are facts; planned as shuffled hash / sort-merge, AQE may
  *    still broadcast at test scale) → non-padded date-literal filter
  *    (F6) → ORDER BY desc (O3).
  */
object Views {

  /** F6 — the reference's warehouse accepts non-padded date literals
    * (`'2019-1-1'`, `settings.yaml:138`); normalize to ISO before use. */
  def normalizeDateLiteral(s: String): String = s.trim.split("-") match {
    case Array(y, m, d) => f"${y.toInt}%04d-${m.toInt}%02d-${d.toInt}%02d"
    case _ => s
  }

  /** TRANSACTIONS view body minus the final cosmetic sort (so composing
    * views don't pay for a sort a downstream join immediately destroys —
    * the reference nests ORDER BYs, `settings.yaml:119,122`, which its
    * warehouse also treats as no-ops).
    *
    * Memoized per (session, dir): the row-number step materializes a
    * checkpoint of the whole joined/projected fact (see
    * [[graft.operators.RowNumbering]]), and a warehouse builds that
    * materialization ONCE per table version, not once per query. Every
    * surface reads this one build: [[transactions]], [[autoOptiom]] and
    * the `TRANSACTIONS`/`AUTO_OPTIOM` views [[createAll]] registers.
    * Rewritten data at the same dir keeps serving the built view, like a
    * materialized view awaiting REFRESH; [[createAll]] is that refresh. */
  def transactionsCore(spark: SparkSession, dir: String): DataFrame =
    graft.util.SessionCache.memoize(spark, "txcore", dir) {
      buildTransactionsCore(spark, dir)
    }

  private def buildTransactionsCore(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val supplier = Tables(spark, dir, "supplier")
    val part = Tables(spark, dir, "part")
    val nation = Tables(spark, dir, "nation")
    val region = Tables(spark, dir, "region")

    // J5: 4-way chained LEFT joins, dims explicitly broadcast
    // (settings.yaml:114-117 joins ttypes/channels/geo/agencies).
    val joined = li
      .join(broadcast(supplier), li("l_suppkey") === supplier("s_suppkey"), "left")
      .join(broadcast(part), li("l_partkey") === part("p_partkey"), "left")
      .join(broadcast(nation), supplier("s_nationkey") === nation("n_nationkey"), "left")
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"), "left")

    // F9 star-with-additions analog: inner projection with F4 aliases and
    // F1 COALESCE defaults (settings.yaml:96-112).
    val projected = joined.select(
      col("l_shipdate").as("EntryDateTime"),
      col("l_orderkey").as("PolicyNumber"),
      col("l_linenumber").as("LineNumber"),
      col("l_partkey").as("VIN_A"),
      col("s_name").as("AgencyName"),
      coalesce(col("p_brand"), lit("NOBRAND")).as("Brand"),
      coalesce(col("n_name"), lit("NONE")).as("Channel"),
      coalesce(col("r_name"), lit("NA_OR_OUT")).as("Geo"),
      col("l_extendedprice").as("CommTotal"))

    // W1: global row number. The reference orders by EntryDateTime alone
    // (settings.yaml:94); the remaining columns are appended as a
    // deterministic tiebreak — required for a stable total order across
    // engines, and semantics-preserving for the IsNew derivation.
    // (PolicyNumber, LineNumber) alone is NOT unique in the testdata
    // (duplicate (orderkey, linenumber) pairs exist at sf0.1), so the
    // tiebreak extends through VIN_A/CommTotal/AgencyName; rows equal on
    // ALL projected columns may take either id — the output set is
    // identical either way.
    val withId = RowNumbering.withGlobalRowNumber(
      projected,
      Seq(col("EntryDateTime"), col("PolicyNumber"), col("LineNumber"),
        col("VIN_A"), col("CommTotal"), col("AgencyName")),
      "Id")

    // W2 partitioned MIN + W3 IsNew flag (settings.yaml:90-92). The
    // window shuffles by PolicyNumber — scalable (no global partition).
    withId
      .withColumn("MinId",
        min(col("Id")).over(Window.partitionBy(col("PolicyNumber"))))
      .withColumn("IsNew",
        when(col("Id") === col("MinId"), lit("N")).otherwise(lit("E")))
  }

  def transactions(spark: SparkSession, dir: String): DataFrame =
    transactionsCore(spark, dir).orderBy(col("EntryDateTime").asc) // O2

  /** The TRANSACTIONS projection (F9/F4/F1) over its four LEFT joins
    * (J5) — the one SQL text of it, spliced into [[transactionsInnerSql]]
    * and [[transactionsScaledSql]]. */
  private val projectedSql: String =
    """SELECT
      |  l_shipdate AS EntryDateTime,
      |  l_orderkey AS PolicyNumber,
      |  l_linenumber AS LineNumber,
      |  l_partkey AS VIN_A,
      |  s_name AS AgencyName,
      |  COALESCE(p_brand, 'NOBRAND') AS Brand,
      |  COALESCE(n_name, 'NONE') AS Channel,
      |  COALESCE(r_name, 'NA_OR_OUT') AS Geo,
      |  l_extendedprice AS CommTotal
      |FROM lineitem
      |LEFT JOIN supplier ON l_suppkey = s_suppkey
      |LEFT JOIN part ON l_partkey = p_partkey
      |LEFT JOIN nation ON s_nationkey = n_nationkey
      |LEFT JOIN region ON n_regionkey = r_regionkey""".stripMargin

  private def indent(sql: String, n: Int): String =
    sql.linesIterator.map(" " * n + _).mkString("\n")

  val transactionsInnerSql: String =
    s"""SELECT *, CASE WHEN Id = MinId THEN 'N' ELSE 'E' END AS IsNew
      |FROM (
      |  SELECT *, MIN(Id) OVER (PARTITION BY PolicyNumber) AS MinId
      |  FROM (
      |    SELECT *, ROW_NUMBER() OVER (ORDER BY EntryDateTime, PolicyNumber, LineNumber, VIN_A, CommTotal, AgencyName) AS Id
      |    FROM (
      |${indent(projectedSql, 6)}
      |    ) AS projected
      |  ) AS with_id
      |) AS with_min""".stripMargin

  val transactionsSql: String =
    transactionsInnerSql + "\nORDER BY EntryDateTime"

  /** The SCALABLE SQL-text formulation of TRANSACTIONS — same rows, same
    * Id semantics, no single-partition window anywhere in the plan.
    *
    * The verbatim [[transactionsSql]] keeps the reference's bare
    * `ROW_NUMBER() OVER (ORDER BY …)` (single-partition); this variant is
    * the two-level rewrite for an engine that must run SQL text at scale,
    * and it is pure ANSI SQL (it runs verbatim on DuckDB — the driver
    * oracle-checks it as `q_view_transactions_scaled`):
    *   1. bucket rows by `date_trunc('month', EntryDateTime)` — a
    *      monotone function of the LEADING sort key, so bucket order is
    *      consistent with the total order (ties stay inside one bucket;
    *      assumes a non-null leading key, which the fact guarantees);
    *   2. `ROW_NUMBER() PARTITION BY bucket` — a distributed window,
    *      ~1/84th of the fact per partition at any scale;
    *   3. per-bucket offsets from a COUNT aggregate self-joined on
    *      `b.bkt < a.bkt` — O(#buckets²) on an ~84-row table, NO window
    *      at all (the SQL analogue of [[graft.operators.PrefixSum]]'s
    *      driver-side per-partition sums). The counts aggregate scans
    *      RAW lineitem, not the joined projection: the dim joins are
    *      LEFT joins on unique dim keys (the reference's own
    *      invariant), hence row-preserving, so per-month counts agree —
    *      and the second fact scan column-prunes to l_shipdate alone
    *      instead of re-running the join subtree;
    *   4. Id = within-bucket row number + bucket offset.
    * The MinId/IsNew derivation and final ORDER BY are unchanged.
    * ViewsSqlSpec proves row equality with the verbatim text and asserts
    * the plan contains no SinglePartition exchange. */
  val transactionsScaledSql: String =
    s"""WITH projected AS (
      |${indent(projectedSql, 2)}
      |),
      |bucketed AS (
      |  SELECT *, date_trunc('month', EntryDateTime) AS bkt FROM projected
      |),
      |within AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY bkt
      |    ORDER BY EntryDateTime, PolicyNumber, LineNumber, VIN_A,
      |             CommTotal, AgencyName) AS rn
      |  FROM bucketed
      |),
      |sizes AS (
      |  SELECT date_trunc('month', l_shipdate) AS bkt, COUNT(*) AS cnt
      |  FROM lineitem GROUP BY 1
      |),
      |offsets AS (
      |  SELECT a.bkt, COALESCE(SUM(b.cnt), 0) AS off
      |  FROM sizes a LEFT JOIN sizes b ON b.bkt < a.bkt
      |  GROUP BY a.bkt
      |),
      |with_id AS (
      |  -- CAST: DuckDB's SUM(BIGINT) returns HUGEINT, so without it the
      |  -- oracle's Id (and the MinId derived from it) widens past the
      |  -- engine's BIGINT; values are identical, but the driver's hash is
      |  -- type-sensitive. No-op under Spark (rn + off is already BIGINT).
      |  SELECT EntryDateTime, PolicyNumber, LineNumber, VIN_A, AgencyName,
      |         Brand, Channel, Geo, CommTotal,
      |         CAST(rn + off AS BIGINT) AS Id
      |  FROM within JOIN offsets USING (bkt)
      |),
      |with_min AS (
      |  SELECT *, MIN(Id) OVER (PARTITION BY PolicyNumber) AS MinId
      |  FROM with_id
      |)
      |SELECT *, CASE WHEN Id = MinId THEN 'N' ELSE 'E' END AS IsNew
      |FROM with_min
      |ORDER BY EntryDateTime""".stripMargin

  /** RETENTION view (settings.yaml:24-63 analog). Fact = orders. The
    * supplier join uses a derived routing key (o_orderkey % 100 + 1) the
    * way the reference joins fact column City to dim key meta_city; keys
    * with no dim row exercise the LEFT-join + COALESCE default path. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    val customer = Tables(spark, dir, "customer")
    val nation = Tables(spark, dir, "nation")
    val region = Tables(spark, dir, "region")
    val supplier = Tables(spark, dir, "supplier")

    // Inner projection subquery (settings.yaml:37-56): prune the fact to
    // the view's columns BEFORE the joins (Catalyst would push this
    // anyway; making it explicit mirrors the reference and keeps the
    // scan's ReadSchema minimal).
    val reduced = orders.select(
      col("o_orderkey").as("PolicyNumber"),
      col("o_custkey").as("CustKey"),
      col("o_orderdate").as("PolicyExpiryDate"),
      col("o_orderstatus").as("PolicyStatus"),
      col("o_orderpriority").as("TransactionType"),
      col("o_totalprice").as("CommissionAmt"))

    val joined = reduced
      .join(broadcast(customer), reduced("CustKey") === customer("c_custkey"), "left")
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"), "left")
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"), "left")
      .join(broadcast(supplier),
        supplier("s_suppkey") === (reduced("PolicyNumber") % 100 + 1), "left")

    joined.select(
      col("PolicyNumber"), col("CustKey"), col("PolicyExpiryDate"),
      col("PolicyStatus"), col("TransactionType"), col("CommissionAmt"),
      // F1 COALESCE defaults (settings.yaml:28-30) + F4 alias (:31)
      coalesce(col("r_name"), lit("NA_OR_OUT")).as("Geography"),
      coalesce(col("n_name"), lit("DEALERS")).as("Channel"),
      coalesce(col("s_name"), lit("CHANGE")).as("TType"),
      col("c_name").as("Agency"),
      // F2 CASE→0/1 flags (settings.yaml:32-35)
      when(col("PolicyStatus") === "O", 1).otherwise(0).as("Open"),
      when(col("PolicyStatus") === "F", 1).otherwise(0).as("Finished"),
      when(col("PolicyStatus") === "P", 1).otherwise(0).as("Pending"),
      when(col("PolicyStatus") === "X", 1).otherwise(0).as("Cancelled"))
      .filter(col("PolicyNumber").isNotNull) // F5 (settings.yaml:61)
      .orderBy(col("PolicyExpiryDate").asc) // O1 (settings.yaml:62)
  }

  val retentionSql: String =
    """SELECT
      |  PolicyNumber, CustKey, PolicyExpiryDate, PolicyStatus,
      |  TransactionType, CommissionAmt,
      |  COALESCE(r_name, 'NA_OR_OUT') AS Geography,
      |  COALESCE(n_name, 'DEALERS') AS Channel,
      |  COALESCE(s_name, 'CHANGE') AS TType,
      |  c_name AS Agency,
      |  CASE WHEN PolicyStatus = 'O' THEN 1 ELSE 0 END AS Open,
      |  CASE WHEN PolicyStatus = 'F' THEN 1 ELSE 0 END AS Finished,
      |  CASE WHEN PolicyStatus = 'P' THEN 1 ELSE 0 END AS Pending,
      |  CASE WHEN PolicyStatus = 'X' THEN 1 ELSE 0 END AS Cancelled
      |FROM (
      |  SELECT
      |    o_orderkey AS PolicyNumber,
      |    o_custkey AS CustKey,
      |    o_orderdate AS PolicyExpiryDate,
      |    o_orderstatus AS PolicyStatus,
      |    o_orderpriority AS TransactionType,
      |    o_totalprice AS CommissionAmt
      |  FROM orders
      |) AS reduced_table
      |LEFT JOIN customer ON CustKey = c_custkey
      |LEFT JOIN nation ON c_nationkey = n_nationkey
      |LEFT JOIN region ON n_regionkey = r_regionkey
      |LEFT JOIN supplier ON s_suppkey = PolicyNumber % 100 + 1
      |WHERE PolicyNumber IS NOT NULL
      |ORDER BY PolicyExpiryDate""".stripMargin

  /** AUTO_OPTIOM (settings.yaml:132-140 analog): the TRANSACTIONS view
    * LEFT-joined to the second fact (orders plays optiom) on the VIN
    * analog, date-filtered, sorted desc. */
  def autoOptiom(spark: SparkSession, dir: String): DataFrame = {
    val tx = transactionsCore(spark, dir)
    val optiom = Tables(spark, dir, "orders").select(
      col("o_orderkey").as("VIN_OP"),
      col("o_orderdate").as("OP_Date"),
      col("o_totalprice").as("OP_Premium"),
      col("o_orderstatus").as("OP_Status"))
    val cutoff = normalizeDateLiteral("1996-6-1") // F6 non-padded literal
    tx.join(optiom, tx("VIN_A") === optiom("VIN_OP"), "left") // J6
      .filter(col("EntryDateTime") >= to_timestamp(lit(cutoff)))
      .orderBy(col("EntryDateTime").desc) // O3
  }

  val autoOptiomSql: String =
    s"""SELECT tx.*, op.VIN_OP, op.OP_Date, op.OP_Premium, op.OP_Status
       |FROM (
       |${indent(transactionsInnerSql, 2)}
       |) AS tx
       |LEFT JOIN (
       |  SELECT
       |    o_orderkey AS VIN_OP,
       |    o_orderdate AS OP_Date,
       |    o_totalprice AS OP_Premium,
       |    o_orderstatus AS OP_Status
       |  FROM orders
       |) AS op ON tx.VIN_A = op.VIN_OP
       |WHERE EntryDateTime >= TIMESTAMP '1996-06-01 00:00:00'
       |ORDER BY EntryDateTime DESC""".stripMargin

  /** S6 and the refresh — the reference re-creates its views from SQL
    * text after every merge (`config.py:215-221`,
    * `settings.yaml:25,89,133`). This registers the base tables, then
    * `TRANSACTIONS`, `RETENTION` and `AUTO_OPTIOM` over the DataFrame
    * builders, so SQL and DataFrame callers read the one memoized core
    * and no registered view plans a single-partition window. It first
    * drops this session's memos for `dir` (and the `registerAll` mark),
    * so calling it after a write serves the new rows: it is the refresh.
    * It builds the core, so it runs the row-numbering jobs.
    *
    * The SQL texts above stay the reference: the DuckDB oracle, the
    * `q_view_transactions_scaled` entry and ViewsSqlSpec run them, and
    * ViewsSqlSpec proves they return the builders' rows. */
  def createAll(spark: SparkSession, dir: String): Unit = {
    graft.util.SessionCache.evictDir(spark, dir)
    graft.Tables.registerAll(spark, dir)
    transactions(spark, dir).createOrReplaceTempView("TRANSACTIONS")
    retention(spark, dir).createOrReplaceTempView("RETENTION")
    autoOptiom(spark, dir).createOrReplaceTempView("AUTO_OPTIOM")
  }
}
