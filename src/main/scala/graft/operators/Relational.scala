package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Catalog.Key
import graft.Tables

/** Relational / analytic core over the star schema — the harness
  * queries BenSP-style measurement runs would issue (SURVEY.md §2.A).
  *
  * DuckDB-oracle parity rules (SURVEY.md §5):
  *   - every aggregated double is summed as an exact DECIMAL in both
  *     engines, then cast back to double → bit-identical,
  *     order-independent results regardless of partitioning;
  *   - dates/timestamps in oracled outputs are emitted as strings or
  *     epoch integers (no engine-specific temporal encodings);
  *   - every ordered/top-k output carries a unique tie-break key.
  *
  * Scale posture: dimension tables (region/nation/supplier/part/
  * customer) are broadcast explicitly; facts shuffle only on their
  * aggregation keys; all filters are plain column predicates so
  * Catalyst pushes them into the parquet scan.
  */
object Relational {

  /** Exact decimal view of a double price/quantity column (≤ ~1e8). */
  private def decP(c: Column): Column = c.cast(DecimalType(12, 4))
  /** Exact decimal view of a small rate column (discount/tax, ≤ ~1). */
  private def decR(c: Column): Column = c.cast(DecimalType(8, 4))
  private val oneR: Column = lit(1).cast(DecimalType(8, 4))
  private def dbl(c: Column): Column = c.cast(DoubleType)

  // ---- q1_agg: pricing summary (cf. TPC-H Q1) --------------------------
  def q1Agg(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.parallel(s, Tables.lineitem(s, dir))
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    l.groupBy("l_returnflag", "l_linestatus")
      .agg(
        dbl(sum(decP(col("l_quantity")))).as("sum_qty"),
        dbl(sum(decP(col("l_extendedprice")))).as("sum_base_price"),
        dbl(sum(decP(col("l_extendedprice")) * (oneR - decR(col("l_discount")))))
          .as("sum_disc_price"),
        dbl(sum(decP(col("l_extendedprice")) * (oneR - decR(col("l_discount")))
          * (oneR + decR(col("l_tax"))))).as("sum_charge"),
        count(lit(1)).as("count_order"))
  }

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))) * (CAST(1 AS DECIMAL(8,4)) + CAST(l_tax AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---- q3_join_agg: shuffle join + broadcast dim + top-k (cf. Q3) ------
  def q3JoinAgg(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    // orders⋈lineitem shuffles on the order key (their natural
    // co-partitioning key). customer SCALES WITH SF, so no forced
    // broadcast hint — Spark's size statistics pick broadcast while
    // the filtered segment fits and shuffle once it doesn't.
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(dbl(sum(decP(col("l_extendedprice")) * (oneR - decR(col("l_discount")))))
        .as("revenue"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3JoinAggSql: String =
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // ---- q5_multijoin: 6-table join, broadcast dims (cf. Q5) -------------
  def q5MultiJoin(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, dir)
    val c = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = Tables.lineitem(s, dir)
    // region/nation are FIXED-SIZE dims (5/25 rows at any SF) →
    // broadcast hints are always right. customer/supplier scale with
    // SF, so their join strategy is left to Spark's size statistics:
    // auto-broadcast below the threshold, shuffle join at 100 TB.
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(sup,
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(dbl(sum(decP(col("l_extendedprice")) * (oneR - decR(col("l_discount")))))
        .as("revenue"))
  }

  val q5MultiJoinSql: String =
    """SELECT n_name,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name""".stripMargin

  // ---- q6_filter_agg: selective pushdown scan (cf. Q6) -----------------
  def q6FilterAgg(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.02 && col("l_discount") <= 0.06 &&
        col("l_quantity") < 24)
      .agg(dbl(sum(decP(col("l_extendedprice")) * decR(col("l_discount"))))
        .as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  val q6FilterAggSql: String =
    """SELECT
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(l_discount AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount >= 0.02 AND l_discount <= 0.06
      |  AND l_quantity < 24""".stripMargin

  // ---- q_window: rank + running sum per customer -----------------------
  def qWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir).select(
      col("o_custkey"), col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
      rank().over(w).as("rnk"),
      dbl(sum(decP(col("o_totalprice"))).over(wRows)).as("running_spend"))
  }

  val qWindowSql: String =
    """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
      |  rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rnk,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_spend
      |FROM orders""".stripMargin

  // ---- q_distinct: distinct aggregation --------------------------------
  def qDistinct(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
  }

  val qDistinctSql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---- q_topk: global top-k with deterministic tie-break ---------------
  def qTopK(s: SparkSession, dir: String): DataFrame = {
    // TakeOrderedAndProject: no global sort, a per-partition heap + merge.
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(25)
  }

  val qTopKSql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 25""".stripMargin

  // ---- q_semijoin / q_antijoin ----------------------------------------
  def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
    Tables.customer(s, dir)
      .join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
  }

  val qSemiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin

  def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
    Tables.customer(s, dir)
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
  }

  val qAntiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin

  // ---- q_rollup: hierarchical rollup -----------------------------------
  def qRollup(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(dbl(sum(decP(col("l_quantity")))).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"))
  }

  val qRollupSql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  // ---- q_events_window: tumbling time-window agg (batch mirror) --------
  def qEventsWindow(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dbl(sum(col("value").cast(DecimalType(18, 6)))).as("sum_value"))
      .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n_events"), col("n_users"), col("sum_value"))
  }

  val qEventsWindowSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
      |  event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin

  // ---- q_hop_window: hopping (sliding) time-window agg -----------------
  /** The overlapping-window aggregation tumbling can't express: a
    * 60-minute window hopping every 15 minutes, each event counted
    * in the 4 windows covering it — Spark's
    * `window(ts, "60 minutes", "15 minutes")` TVF, the sliding form
    * of the tumbling window the streaming pipelines use. The engine
    * plans ONE Expand (4 tagged copies per row, map-side) feeding
    * the grouped aggregate — the q_unpivot trade again: scan count
    * stays 1 at any scale, the fan-out is the window overlap factor.
    * The oracle reproduces the assignment with integer 15-minute
    * bucket arithmetic (window_start = (bucket−k)·900 s, k ∈ 0..3),
    * exact on epoch-microsecond integers in both engines. */
  def qHopWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "60 minutes", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dbl(sum(col("value").cast(DecimalType(18, 6)))).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n_events"), col("n_users"), col("sum_value"))

  val qHopWindowSql: String =
    """SELECT strftime(make_timestamp(((epoch_us(ts) // 900000000) - k) * 900000000),
      |    '%Y-%m-%d %H:%M:%S') AS win_start,
      |  event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM events, unnest([0, 1, 2, 3]) AS t(k)
      |GROUP BY 1, 2""".stripMargin

  // ---- q_sessionize: gaps-and-islands (batch mirror of streaming) ------
  /** 30-minute-gap sessionization. Batch mirror of the streaming
    * flatMapGroupsWithState pipeline; microsecond-exact gap arithmetic
    * for oracle parity. */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = 1800L * 1000000L
    val flagged = Tables.events(s, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
    flagged
      .withColumn("sess_id", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_id")
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"))
  }

  val qSessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), numbered AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM flagged
      |)
      |SELECT user_id, sess_id, COUNT(*) AS n_events,
      |  MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
      |FROM numbered GROUP BY user_id, sess_id""".stripMargin

  // ---- q_session_tvf: sessionization via the session_window TVF --------
  /** The same sessionization verb through Spark's NATIVE session
    * window TVF (the streaming-capable surface — state-store-backed
    * under a watermark, MergingSessionsExec in batch) instead of the
    * gaps-and-islands window formulation. Session boundaries are
    * IDENTICAL to q_sessionize's (the TVF merges an event landing
    * exactly at the window end — verified on this Spark build: two
    * events exactly 30 min apart form ONE session — so the close
    * condition is gap > 30 min in both); the one semantic difference
    * is the emitted end_us = last event + gap (the window bound, not
    * the last event time). The oracle states these semantics
    * independently in SQL, so both formulations stay
    * cross-engine-proven. */
  def qSessionTvf(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"))

  val qSessionTvfSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), numbered AS (
      |  SELECT user_id, ts,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM flagged
      |)
      |SELECT user_id, MIN(epoch_us(ts)) AS start_us,
      |  MAX(epoch_us(ts)) + 1800000000 AS end_us,
      |  COUNT(*) AS n_events
      |FROM numbered GROUP BY user_id, sess_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("q_session_tvf", qSessionTvf, qSessionTvfSql),
    Key("q1_agg", q1Agg, q1AggSql),
    Key("q3_join_agg", q3JoinAgg, q3JoinAggSql),
    Key("q5_multijoin", q5MultiJoin, q5MultiJoinSql),
    Key("q6_filter_agg", q6FilterAgg, q6FilterAggSql),
    Key("q_window", qWindow, qWindowSql),
    Key("q_distinct", qDistinct, qDistinctSql),
    Key("q_topk", qTopK, qTopKSql),
    Key("q_semijoin", qSemiJoin, qSemiJoinSql),
    Key("q_antijoin", qAntiJoin, qAntiJoinSql),
    Key("q_rollup", qRollup, qRollupSql),
    Key("q_events_window", qEventsWindow, qEventsWindowSql),
    Key("q_hop_window", qHopWindow, qHopWindowSql),
    Key("q_sessionize", qSessionize, qSessionizeSql))
}
