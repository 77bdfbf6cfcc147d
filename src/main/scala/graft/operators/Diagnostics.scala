package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Catalog.Key
import graft.Tables
import graft.functions.SkewFns

/** Skew diagnostics and skew-mitigated execution (SURVEY.md §2.A
  * extension) — the operational pair every 100 TB join/agg decision
  * rests on: MEASURE the key distribution first (is there a hot key?
  * how heavy is the tail?), then run the hot-key plan (salting) whose
  * semantics are provably identical to the naive one.
  *
  * q_skew_salted already proves salted AGGREGATION against the plain
  * group-by; [[qSkewJoin]] completes the story for salted JOINS, and
  * [[profileSkew]] is the frequency-of-frequencies report that tells
  * an operator which of the two mitigations a key column needs.
  */
object Diagnostics {

  // ---- profile_skew: key-frequency histogram (count-of-counts) ---------
  /** Frequency-of-frequencies profile of a key column: bucket keys by
    * floor(log2(n_rows_for_key)) and report keys/rows per bucket —
    * the shape that distinguishes "uniform, shuffle freely" from
    * "power law, salt the hot keys" at a glance. The log2 bucket is
    * computed EXACTLY as length(bin(cnt)) - 1 (binary-digit count —
    * integer on both engines, no floating log at bucket boundaries).
    *
    * Two production join keys profiled in one output (the operator is
    * a per-key template): events.user_id and lineitem.l_orderkey.
    * Cost: one grouped count per key column (map-side partials do the
    * heavy lift) + a bucket-cardinality re-group — at 100 TB this is
    * the cheap scan you ALWAYS afford before committing a join
    * strategy. */
  private def keyProfile(df: DataFrame, key: String, label: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
      .withColumn("bucket", (length(bin(col("cnt"))) - 1).cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_key_rows"))
      .select(lit(label).as("profiled"), col("bucket"),
        expr("CAST(shiftleft(1L, bucket) AS BIGINT)").as("lo"),
        expr("CAST(shiftleft(1L, bucket + 1) - 1L AS BIGINT)").as("hi"),
        col("n_keys"), col("n_rows"), col("max_key_rows"))

  def profileSkew(s: SparkSession, dir: String): DataFrame =
    keyProfile(Tables.events(s, dir), "user_id", "events.user_id")
      .unionAll(keyProfile(Tables.lineitem(s, dir), "l_orderkey",
        "lineitem.l_orderkey"))

  val profileSkewSql: String = {
    def one(table: String, key: String, label: String) =
      s"""SELECT '$label' AS profiled, bucket,
         |  CAST(CAST(1 AS BIGINT) << bucket AS BIGINT) AS lo,
         |  CAST((CAST(1 AS BIGINT) << (bucket + 1)) - 1 AS BIGINT) AS hi,
         |  CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(SUM(cnt) AS BIGINT) AS n_rows,
         |  CAST(MAX(cnt) AS BIGINT) AS max_key_rows
         |FROM (
         |  SELECT CAST(length(bin(CAST(cnt AS BIGINT))) - 1 AS INT) AS bucket, cnt
         |  FROM (SELECT $key, COUNT(*) AS cnt FROM $table GROUP BY $key)
         |) GROUP BY bucket""".stripMargin
    s"""${one("events", "user_id", "events.user_id")}
       |UNION ALL
       |${one("lineitem", "l_orderkey", "lineitem.l_orderkey")}""".stripMargin
  }

  // ---- q_skew_join: salted hot-key join, oracled vs the plain join -----
  /** The hot-key join case AQE can't fix (broadcast side must
    * replicate): events joined to a 5-row per-type dimension —
    * event_type has cardinality 5, so EVERY key is a hot key and a
    * naive shuffle join lands each type's millions of rows on one
    * reducer. [[SkewFns.saltedJoin]] spreads each type over
    * [[JoinSalts]] reducers (salt from event_id, deterministic);
    * the oracle computes the SAME result with a plain join — the
    * cross-engine proof that salting is semantics-preserving, the
    * q_skew_salted pattern on the join axis.
    *
    * The dim is derived from events itself (per-type decimal-exact
    * mean value), and the output re-aggregates per type so the
    * result is 5 rows regardless of scale: n events, how many sit
    * above their type mean, and the max absolute deviation. */
  private[operators] val JoinSalts = 8

  def qSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.loadParallel(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val decV = col("value").cast(DecimalType(24, 10))
    val dim = ev.groupBy("event_type")
      .agg((sum(decV).cast("double") / count(lit(1)).cast("double"))
        .as("type_mean"))
    SkewFns.saltedJoin(ev, dim, "event_type", col("event_id"), JoinSalts)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > col("type_mean"), 1L).otherwise(0L))
          .as("n_above_mean"),
        max(abs(col("value") - col("type_mean"))).as("max_abs_dev"),
        max(col("type_mean")).as("type_mean"))
  }

  val qSkewJoinSql: String =
    """WITH dim AS (
      |  SELECT event_type,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) AS type_mean
      |  FROM events GROUP BY event_type
      |)
      |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN e.value > dim.type_mean THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_above_mean,
      |  MAX(abs(e.value - dim.type_mean)) AS max_abs_dev,
      |  MAX(dim.type_mean) AS type_mean
      |FROM events e JOIN dim USING (event_type)
      |GROUP BY e.event_type""".stripMargin

  // ---- profile_integrity: cross-table referential-integrity audit ------
  /** The pre-join data-quality gate: before a pipeline joins two
    * curated tables (documents ↔ embeddings by id — the text↔vector
    * alignment every embedding-dependent operator assumes), count key
    * cardinalities, duplicate keys per side, matched keys, and
    * each side's orphans. A non-zero orphan or duplicate count means
    * every downstream equi-join silently drops or fans out rows —
    * this one-row report is the cheap scan that catches it first.
    *
    * Cost: two distinct-key aggregations + one equi-join and two
    * anti-joins over the DISTINCT key sets (key-cardinality-sized,
    * not row-sized), all crossed into one row via broadcast — the
    * scalar-subquery shape. */
  def profileIntegrity(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id").as("k"))
    val e = Tables.embeddings(s, dir).select(col("vec_id").as("k"))
    val dd = d.distinct(); val ed = e.distinct()
    val dK = d.agg(count(lit(1)).as("n_doc_rows"),
      countDistinct(col("k")).as("n_doc_keys"))
    val eK = e.agg(count(lit(1)).as("n_vec_rows"),
      countDistinct(col("k")).as("n_vec_keys"))
    val matched = dd.join(ed, "k").agg(count(lit(1)).as("n_matched"))
    val dOnly = dd.join(ed, Seq("k"), "left_anti")
      .agg(count(lit(1)).as("n_doc_only"))
    val eOnly = ed.join(dd, Seq("k"), "left_anti")
      .agg(count(lit(1)).as("n_vec_only"))
    dK.crossJoin(broadcast(eK)).crossJoin(broadcast(matched))
      .crossJoin(broadcast(dOnly)).crossJoin(broadcast(eOnly))
      .withColumn("n_dup_doc_keys", col("n_doc_rows") - col("n_doc_keys"))
      .withColumn("n_dup_vec_keys", col("n_vec_rows") - col("n_vec_keys"))
  }

  val profileIntegritySql: String =
    """WITH d AS (SELECT doc_id AS k FROM documents),
      |e AS (SELECT vec_id AS k FROM embeddings),
      |dd AS (SELECT DISTINCT k FROM d), ed AS (SELECT DISTINCT k FROM e)
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_doc_rows,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM dd) AS n_doc_keys,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_vec_rows,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ed) AS n_vec_keys,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM dd JOIN ed USING (k)) AS n_matched,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM dd WHERE k NOT IN (SELECT k FROM ed)) AS n_doc_only,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ed WHERE k NOT IN (SELECT k FROM dd)) AS n_vec_only,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM d) - (SELECT CAST(COUNT(*) AS BIGINT) FROM dd) AS n_dup_doc_keys,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) - (SELECT CAST(COUNT(*) AS BIGINT) FROM ed) AS n_dup_vec_keys""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("profile_skew", profileSkew, profileSkewSql),
    Key("profile_integrity", profileIntegrity, profileIntegritySql),
    Key("q_skew_join", qSkewJoin, qSkewJoinSql))
}
