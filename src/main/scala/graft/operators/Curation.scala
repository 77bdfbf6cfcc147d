package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.VectorFns

/** Corpus-curation operators (SURVEY.md §2.B/§2.D extensions) — the
  * layer a 100 TB training-data pipeline runs ON TOP of the pairwise
  * dedup primitives: near-dup pairs → duplicate CLUSTERS (connected
  * components) → one canonical document per cluster → a filtered,
  * deduplicated corpus with per-source accounting.
  *
  * Everything here is DuckDB-oracled except the recall gate: the
  * cluster assignment is recomputed independently by a recursive-CTE
  * transitive closure, the canonical choice by a window over the same
  * closure, and the pipeline accounting by inline re-derivations of
  * the quality/langid expressions.
  */
object Curation {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.parallel(s, Tables.documents(s, dir))

  // ---- dedup_clusters: connected components over near-dup pairs --------
  /** Duplicate clusters via DELTA-ITERATED hash-min label propagation —
    * each node's label converges to the minimum doc_id of its connected
    * component, and after the first round only the FRONTIER (labels
    * that improved last round) propagates: round cost tracks the
    * frontier size, not the corpus (Pregel's vote-to-halt in DataFrame
    * form — measured 890k edge rows joined every round before,
    * frontier-sized after). The edge table is hash-partitioned on the
    * propagation key once and checkpointed (LogicalRDD keeps the
    * partitioning), so per-round joins shuffle only the frontier;
    * everything that moves is an 8-byte id pair. Convergence is exact:
    * labels only decrease, so an empty frontier is a fixpoint.
    * localCheckpoint truncates the iterative lineage (the standard
    * guard against plan blowup in loops).
    *
    * The edge table is a PARAMETER: the propagation loop is agnostic
    * to where the pairs came from. [[dedupClusters]] (oracled) feeds
    * it the exact source-blocked Jaccard pairs — the cross-engine
    * proof; [[dedupClustersLsh]] (the 100 TB path) feeds it
    * LSH-banded near-dup pairs plus exact-content stitching edges,
    * so no all-pairs generator is anywhere in the production plan. */
  /** Below this many pair rows the propagation loop runs with AQE off:
    * a converged run is 3-6 rounds of node-sized joins, each round 2-3
    * materializations, and AQE wraps every exchange in its own
    * blocking QueryStage job — measured at sf0.1 (JobProbe), one
    * cluster key ran ~50 jobs whose LARGEST was 0.56 s, with ~1.3 s of
    * pure driver gaps between them. With volume-derived inputs this
    * small there is nothing for AQE to adapt; past the gate (pair
    * tables that could skew or coalesce badly) AQE stays on. */
  private[operators] val LoopAqeMinPairs = 50000000L

  /** Rows per shuffle partition inside the iterative loops. Every
    * in-loop exchange here moves 8-byte id pairs (≤ 16 B/row), so
    * 250k rows/partition is ~4 MB — conservative against the guide's
    * 100 MB+ target, but each extra partition costs a ~1 MB block
    * floor plus a task per materialized round (measured: pagerank's
    * per-iteration broadcast build read 64 × 1.16 MB of block
    * overhead for a node-sized frame — 0.7-1.0 s/iteration of pure
    * per-task cost at sf0.1). */
  private[graft] val LoopRowsPerPartition = 250000L

  /** Scoped conf for a volume-`rows` iterative loop: shuffle
    * partitions derived from the volume one round actually moves
    * (floor 4, ceiling the session default — at production volume
    * this returns the default and is a no-op, guide §2.2), plus the
    * small-loop AQE gate ([[LoopAqeMinPairs]]). */
  private[graft] def loopConf(s: SparkSession, rows: Long): Map[String, String] = {
    val sessionDefault = s.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = math.max(4L, math.min(sessionDefault.toLong,
      (rows + LoopRowsPerPartition - 1) / LoopRowsPerPartition)).toInt
    // scan splits follow the same volume rule as the shuffles: the
    // compacted pair stores arrive as a few ~4 MB files, and the
    // default 4 MB openCost floor would pack them into 1-2 splits —
    // too coarse for the in-loop probe/aggregate map stages at real
    // pair volume. Scoped (restored on exit), volume-derived.
    val maxSplit = math.min(128L << 20,
      math.max(1L << 20, rows * 24L / parts))
    Map("spark.sql.shuffle.partitions" -> parts.toString,
        "spark.sql.files.maxPartitionBytes" -> maxSplit.toString,
        "spark.sql.files.openCostInBytes" -> (256L << 10).toString) ++
      (if (rows < LoopAqeMinPairs)
        Map("spark.sql.adaptive.enabled" -> "false")
      else Map.empty)
  }

  /** A pair plan whose whole tree is scan + projection/filter/union
    * re-executes for pennies — materializing it through ck() costs
    * more than it saves (measured at sf0.1: the 4.4M-row minhash
    * edge STORE checkpointed to 370 MB of row objects and the
    * contraction then read those blocks back, vs ~16 MB of parquet
    * per rescan). Generators with joins/windows/aggregates still
    * checkpoint — those must never re-run per consumer. */
  private[operators] def cheapToRescan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.optimizedPlan.collect {
      case p => p
    }.forall {
      case _: Project | _: Filter | _: Union => true
      case _: LeafNode => true
      case _ => false
    }
  }

  private[graft] def clustersFromPairs(nodes: DataFrame, pairs: DataFrame): DataFrame =
   // self-cleaning round-block lifecycle: see CheckpointScope
   CheckpointScope.scoped(nodes.sparkSession) { ck =>
    // directed pair list, materialized ONCE unless the plan is a bare
    // (re-runnable) scan — the pair generator (an LSH verify join)
    // must never re-run per consumer, but a store-backed scan rereads
    // cheaper than its checkpoint blocks
    val p0 = pairs.toDF("doc_a", "doc_b")
    val p = if (cheapToRescan(p0)) p0 else ck(p0)
    graft.Sessions.withScopedConf(nodes.sparkSession,
      loopConf(nodes.sparkSession, p.count())) {
    // ---- contraction pass (min-neighbor hooking) ----
    // Near-dup graphs are clique-heavy (every member of a dup block
    // pairs with every other), and an iterative loop pays the full
    // edge list every round. One flat pass collapses each clique to a
    // star: every node hooks to min(self, neighbors), and only edges
    // whose endpoints hooked to DIFFERENT representatives survive into
    // the loop (measured at sf0.1: 4.4M pairs → a few thousand).
    // Components are exactly preserved (standard CC hooking), and so
    // is the min-label: the component minimum hooks to itself.
    val minN = p.select(col("doc_a").as("doc_id"), col("doc_b").as("nb"))
      .union(p.select(col("doc_b").as("doc_id"), col("doc_a").as("nb")))
      .groupBy("doc_id").agg(min("nb").as("mn"))
    val l0 = ck(nodes
      .join(minN, Seq("doc_id"), "left")
      .select(col("doc_id"),
        least(col("doc_id"), coalesce(col("mn"), col("doc_id"))).as("rep")))
    // contract the DIRECTED pairs through l0 (broadcast joins — l0 is
    // node-sized with exact checkpoint stats), then symmetrize only
    // the tiny surviving edge set; distinct's partial aggregation
    // collapses the clique fan-in map-side
    // materialize the contracted edge set BEFORE symmetrizing: the
    // union's two branches would otherwise each re-execute the whole
    // contraction subtree (p scanned twice, both joins and the
    // distinct run twice — measured at sf0.1 LSH volume: 741 MB of
    // duplicate block reads in one ck job)
    val e = ck(p
      .join(l0.select(col("doc_id").as("doc_a"), col("rep").as("la")), "doc_a")
      .join(l0.select(col("doc_id").as("doc_b"), col("rep").as("lb")), "doc_b")
      .filter(col("la") =!= col("lb"))
      .select(col("la").as("src"), col("lb").as("dst"))
      .distinct())
    val edges = ck(e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")))
    // ---- frontier-only hash-min propagation on the contracted graph --
    var labels = ck(l0.select(col("rep").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id")))
    var frontier = labels // round 1: every rep offers its own label
    var active = 1L
    var round = 0
    while (active > 0 && round < 64) {
      // neighbors' best offers from the frontier, pre-reduced per node
      val offers = edges
        .join(frontier.select(col("doc_id").as("src"), col("cluster_id").as("cand")),
          "src")
        .groupBy(col("dst").as("doc_id")).agg(min("cand").as("cand"))
      // one checkpointed join feeds the hook AND both sides of the
      // shortcut — the edge join never runs twice per round, and
      // since `joined` is already a materialized LogicalRDD the
      // derived selects stay depth-1 plans
      val joined = ck(labels.join(offers, Seq("doc_id"), "left"))
      // hook: take the best neighbor offer
      val hooked = joined.select(col("doc_id"),
        least(col("cluster_id"), coalesce(col("cand"), col("cluster_id")))
          .as("cluster_id"),
        col("cluster_id").as("prev"))
      // shortcut (pointer doubling): follow the label's OWN label once
      // — labels always point at rep node ids present in this table,
      // so the composition halves every label chain and the round
      // count drops from the component diameter to ~log2(diameter)
      // (measured: the r13 pHash graph needed 8 hook-only rounds; a
      // chain-shaped near-dup graph pays per-round job latency, not
      // data volume, so rounds are the cost at bench SF). Same
      // fixpoint: hook+shortcut only ever assigns labels of reachable
      // nodes, labels decrease monotonically, and an unchanged round
      // still implies per-edge label equality. Round 1 skips it:
      // clique-heavy near-dup graphs collapse to stars in the
      // pre-loop contraction and terminate in one hook round, so the
      // common case pays ZERO extra materializations — only graphs
      // that actually need round 2+ buy the halving.
      // no ck here: `hooked` is a depth-1 projection over the
      // already-materialized `joined` LogicalRDD, so round 0 pays no
      // extra materialization pass at all
      val composed = if (round == 0) hooked else {
        val selfMap = hooked.select(col("doc_id").as("__cid"),
          col("cluster_id").as("__l2"))
        ck(hooked
          .join(selfMap, col("cluster_id") === col("__cid"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("__l2"), col("cluster_id")))
              .as("cluster_id"),
            col("prev")))
      }
      frontier = composed.filter(col("cluster_id") < col("prev"))
        .select(col("doc_id"), col("cluster_id"))
      active = frontier.count()
      labels = composed.select("doc_id", "cluster_id")
      round += 1
    }
    // cost telemetry: rounds × fixed job latency is the wall-clock
    // driver at bench SF (the r13 mm_phash_clusters adjudication).
    // The cap case must say so — labels are NOT a fixpoint there.
    System.err.println(
      if (active == 0) s"[curation] clustersFromPairs converged in $round rounds"
      else s"[curation] clustersFromPairs STOPPED at the $round-round cap without converging ($active active)")
    // expand rep labels back through the contraction map, materialize
    // the (small, node-sized) result OUTSIDE ck — only the result's
    // own checkpoint survives the scope's cleanup
    l0.join(labels.withColumnRenamed("doc_id", "rep"), "rep")
      .select(col("doc_id"), col("cluster_id"))
      .localCheckpoint(true)
    }
   }

  /** Oracled variant: clusters over the EXACT near-dup pairs
    * (source-blocked Jaccard ≥ 0.5 — Dedup.dedupNgramJaccard), proven
    * against a recursive-CTE transitive closure in DuckDB. The
    * all-pairs edge generator lives only here, as the cross-engine
    * proof — the verifyJaccard layering pattern. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clustersFromPairs(docs(s, dir).select("doc_id"),
      Dedup.dedupNgramJaccard(s, dir).select("doc_a", "doc_b"))

  /** The PRODUCTION cluster path: edges are the banded-LSH near-dup
    * pairs (dedup_minhash is_dup, global — no blocking key) over
    * unique-content representatives, plus member→representative
    * stitching edges from the content digest so every doc_id gets a
    * label without the near-dup machinery ever seeing exact copies.
    * No stage is quadratic in the corpus: candidates come from band
    * equi-joins, stitching from a digest groupBy, and the propagation
    * loop moves 8-byte id pairs.
    *
    * NOT label-identical to [[dedupClusters]] by design (measured at
    * sf0.01): minhash verifies at jaccard ≥ 0.7 vs the oracle's 0.5,
    * and global LSH finds cross-source pairs the blocked oracle never
    * considers — this is the operator a curation pipeline actually
    * runs. CurationSpec proves the invariants that ARE exact: edge
    * closure (every is_dup pair co-clustered), exact-copy
    * co-clustering, and loop-equality on a shared edge set. */
  def dedupClustersLsh(s: SparkSession, dir: String): DataFrame =
   CheckpointScope.scoped(s) { ck =>
    val near = Dedup.dedupMinhash(s, dir)
      .filter(col("is_dup")).select("doc_a", "doc_b")
    val withSha = docs(s, dir).select(col("doc_id"),
      sha2(col("text").cast("binary"), 256).as("content_sha"))
    // pre-checkpoint ONLY the node-sized stitch edges: the window
    // subtree then never re-runs, and the combined pair plan becomes
    // a bare scan-union (store parquet + LogicalRDD) that
    // clustersFromPairs rescans instead of re-materializing — the
    // 4.4M-row near table checkpointed to 370 MB of row objects that
    // the contraction re-read 2-3× (cheapToRescan)
    val stitch = ck(withSha
      .withColumn("rep", min(col("doc_id"))
        .over(Window.partitionBy("content_sha")))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b")))
    clustersFromPairs(withSha.select("doc_id"), near.union(stitch))
   }

  /** Independent cross-engine recomputation: transitive closure of the
    * same exact near-dup edge set by recursive CTE, cluster id = min
    * reachable doc_id. */
  val dedupClustersSql: String =
    """WITH RECURSIVE g AS (
      |  SELECT doc_id, source,
      |    list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS ts
      |  FROM documents
      |), e AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM g a, g b
      |  WHERE a.source = b.source AND a.doc_id < b.doc_id
      |    AND CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
      |      / CAST(len(list_distinct(list_concat(a.ts, b.ts))) AS DOUBLE) >= 0.5
      |), ud AS (
      |  SELECT a, b FROM e UNION ALL SELECT b, a FROM e
      |), reach(doc_id, lab) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT ud.b, reach.lab FROM reach JOIN ud ON ud.a = reach.doc_id
      |)
      |SELECT doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY doc_id""".stripMargin

  // ---- dedup_canonical: one representative document per cluster --------
  /** Canonical-document selection: within each duplicate cluster keep
    * the highest-quality member (ties → lowest doc_id) — what a
    * curation pipeline actually emits downstream. The quality join is
    * a doc_id equi-join; the per-cluster argmax is a partitioned
    * window with a total order. */
  def dedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val quality = docs(s, dir).select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("quality_score"))
    canonicalFromClusters(clusterLabelsStored(s, dir), quality)
  }

  /** Session-stored cluster labeling for the keys that CONSUME a
    * labeling (canonical / stats / weights) rather than measure the
    * labeling itself: label once, consume many — the sigStore/
    * minhash_edges pattern (and the production shape: a curation
    * pipeline clusters the corpus once and every downstream stage
    * reads the labels). The build is [[dedupClusters]] verbatim, so
    * stored and live labels are identical (deterministic hash-min
    * fixpoint); `dedup_clusters` itself keeps running its loop live —
    * it is the key whose job is to measure the labeling. */
  private def clusterLabelsStored(s: SparkSession, dir: String): DataFrame =
    graft.Stores.parquet(s, dir, "dedup_cluster_labels", Seq("documents"))(
      dedupClusters(s, dir))

  private[graft] def prewarmStores(s: SparkSession, dir: String): Unit =
    clusterLabelsStored(s, dir): Unit

  /** Cluster-table-parameterized canonical selection: a pipeline that
    * already holds a (doc_id, cluster_id) labeling (from either edge
    * source, or a checkpoint) pays only the window here. */
  def canonicalFromClusters(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality_score").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster_id")))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_doc"),
        col("n_members"), col("quality_score").as("canon_quality"))
  }

  val dedupCanonicalSql: String = {
    val closure = dedupClustersSql.replace(
      "SELECT doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY doc_id", "")
    s"""$closure, cl AS (
      |  SELECT doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY doc_id
      |), q AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split_regex(trim(text), '\\s+')) = 0 THEN 0.0
      |      ELSE CAST(len(regexp_extract_all(lower(text), '\\b(the|a|an|and|or|of|to|in|is|it|for|on|with|as)\\b')) AS DOUBLE)
      |        / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) END * 0.25
      |    + CASE WHEN length(text) = 0 THEN 0.0
      |      ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
      |        / CAST(length(text) AS DOUBLE) END * 0.25
      |    + (1.0 - CASE WHEN length(text) = 0 THEN 0.0
      |      ELSE CAST(len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}-]')) AS DOUBLE)
      |        / CAST(length(text) AS DOUBLE) END) * 0.25
      |    + least(1.0, CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) / 100.0) * 0.25
      |      AS quality_score
      |  FROM documents
      |)
      |SELECT cluster_id, doc_id AS canonical_doc, n_members, quality_score AS canon_quality
      |FROM (
      |  SELECT cl.cluster_id, cl.doc_id, q.quality_score,
      |    CAST(row_number() OVER (PARTITION BY cl.cluster_id
      |      ORDER BY q.quality_score DESC, cl.doc_id) AS INT) AS rn,
      |    COUNT(*) OVER (PARTITION BY cl.cluster_id) AS n_members
      |  FROM cl JOIN q USING (doc_id)
      |) WHERE rn = 1""".stripMargin
  }

  // ---- text_pipeline: end-to-end corpus curation accounting ------------
  /** The curation funnel as one declarative pass: quality scoring,
    * language ID, the keep decision (quality ≥ 0.5 AND predicted
    * English), and exact-content dedup of the survivors, accounted per
    * source. One scan of the corpus, one shuffle on the source key;
    * the distinct-content count is a conditional COUNT(DISTINCT sha)
    * over 32-byte digests. The kept-docs mean quality follows the §5
    * decimal-exact sum rule. */
  private val QualityCut = 0.5
  def textPipeline(s: SparkSession, dir: String): DataFrame = {
    val quality = TextAnalysis.qualityScore(col("text"))
    val pred = TextAnalysis.predLang(col("text"))
    val scored = docs(s, dir).select(col("source"),
      quality.as("q"), pred.as("p"),
      sha2(col("text").cast("binary"), 256).as("content_sha"))
      .withColumn("kept", col("q") >= QualityCut && col("p") === "en")
    val decQ = col("q").cast(DecimalType(14, 12))
    scored.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("q") >= QualityCut, 1L).otherwise(0L)).as("n_quality"),
      sum(when(col("p") === "en", 1L).otherwise(0L)).as("n_lang_en"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
      countDistinct(when(col("kept"), col("content_sha"))).as("n_unique_kept"),
      (sum(when(col("kept"), decQ)).cast("double") /
        sum(when(col("kept"), 1L).otherwise(0L)).cast("double"))
        .as("mean_quality_kept"))
  }

  val textPipelineSql: String = {
    val qualityExpr =
      """CASE WHEN len(string_split_regex(trim(text), '\s+')) = 0 THEN 0.0
        |      ELSE CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it|for|on|with|as)\b')) AS DOUBLE)
        |        / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) END * 0.25
        |    + CASE WHEN length(text) = 0 THEN 0.0
        |      ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |        / CAST(length(text) AS DOUBLE) END * 0.25
        |    + (1.0 - CASE WHEN length(text) = 0 THEN 0.0
        |      ELSE CAST(len(regexp_extract_all(text, '[.,;:!?''"()\[\]{}-]')) AS DOUBLE)
        |        / CAST(length(text) AS DOUBLE) END) * 0.25
        |    + least(1.0, CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 100.0) * 0.25""".stripMargin
    s"""WITH l AS (
      |  ${TextAnalysis.predLangInlineSql}
      |), scored AS (
      |  SELECT d.source, $qualityExpr AS q, l.pred_lang AS p,
      |    sha256(d.text) AS content_sha
      |  FROM documents d JOIN l ON d.doc_id = l.doc_id
      |), flagged AS (
      |  SELECT source, q, p, content_sha,
      |    (q >= 0.5 AND p = 'en') AS kept
      |  FROM scored
      |)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
      |  CAST(SUM(CASE WHEN p = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_en,
      |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  COUNT(DISTINCT CASE WHEN kept THEN content_sha END) AS n_unique_kept,
      |  CAST(CAST(SUM(CASE WHEN kept THEN CAST(q AS DECIMAL(14,12)) END) AS VARCHAR) AS DOUBLE)
      |    / CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) AS mean_quality_kept
      |FROM flagged GROUP BY source""".stripMargin
  }

  // ---- dedup_embedding_exact: exact pair baseline on a bounded sample --
  /** Exact cosine near-dup pairs over a FIXED absolute sample
    * (vec_id < [[SampleN]]) — the ground truth the LSH path is graded
    * against. The sample bound makes the all-pairs cost a constant
    * (SampleN²/2 cosines) independent of corpus scale: this is a
    * quality gate, not a scan path; the production candidate
    * generator is dedup_embedding's bucketed LSH. */
  private[operators] val SampleN = 500
  private val NdThreshold = 0.4

  def dedupEmbeddingExact(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, Tables.embeddings(s, dir))
      .filter(col("vec_id") < SampleN)
      .select(col("vec_id"), col("embedding").as("v"))
    e.select(col("vec_id").as("vec_a"), col("v").as("va"))
      .join(broadcast(e.select(col("vec_id").as("vec_b"), col("v").as("vb"))),
        col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        VectorFns.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= NdThreshold)
  }

  /** Same double-cast list_cosine_similarity parity as the
    * ann_bruteforce oracle (Similarity.annBruteforceSql). */
  val dedupEmbeddingExactSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings WHERE vec_id < 500
      |)
      |SELECT * FROM (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    list_cosine_similarity(a.v, b.v) AS cos
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id
      |) WHERE cos >= 0.4""".stripMargin

  // ---- dedup_semantic: SemDeDup (centroid-blocked embedding dedup) -----
  /** Semantic dedup, the SemDeDup shape (Abbas et al. 2023, public):
    * k-means cells block the candidate space (no global pairwise —
    * within-cell only; at corpus scale K grows with N so cell size
    * stays bounded, the paper's own deployment), cosine ≥
    * [[SemDupThreshold]] marks semantic duplicates, duplicate
    * clusters are connected components over those pairs (the shared
    * [[clustersFromPairs]] propagation), and each cluster keeps the
    * member FARTHEST from its centroid (lowest centroid cosine — the
    * paper's keep-low-similarity rule; ties → lowest vec_id).
    *
    * The cells are [[Similarity.cellAssignments]]'s — the same
    * deterministic k-means the IVF index uses, so "semantic
    * neighborhood" means the same thing across the ANN and dedup
    * families.
    *
    * Output: one row per within-cell candidate pair at cosine ≥
    * [[SemCandFloor]], with the pair cosine, the dup flag, both
    * members' centroid cosines, and both keep decisions. The DuckDB
    * oracle recomputes the cosines and dup flags from the raw
    * vectors, rebuilds the clusters by recursive-CTE closure over
    * the recomputed dup pairs, and re-derives every keep flag from
    * the emitted centroid cosines — the full decision chain is
    * cross-engine-verified (cell membership and cc values are
    * kernel-side, the dedup_simhash ride-along pattern). */
  private val SemDupThreshold = 0.4
  private val SemCandFloor = 0.2

  // ---- dedup_clusters_knn: semantic clusters over the mutual-kNN graph
  /** Connected components of [[Similarity.annKnnGraph]]'s MUTUAL
    * edge set — semantic cluster labels over embedding space, the
    * grouping SemDeDup-style pruning keeps one representative from.
    * Completes the cluster-family symmetry: dedup_clusters_lsh
    * labels token-space near-dups, this labels embedding-space
    * neighborhoods, BOTH through the same contraction+propagation
    * loop (clustersFromPairs — the edge table is a parameter).
    * Mutuality is the standard noise filter: a one-directional
    * attraction to a hub vector does not merge clusters.
    *
    * Oracle: recursive-CTE closure over the (value-oracled)
    * ann_knn_graph dump's mutual edges, min-reachable label — the
    * dedup_clusters_lsh oracle pattern on the semantic edge set. */
  def dedupClustersKnn(s: SparkSession, dir: String): DataFrame = {
    val edges = Similarity.annKnnGraph(s, dir)
      .filter(col("is_mutual") && col("query_id") < col("vec_id"))
      .select(col("query_id").as("doc_a"), col("vec_id").as("doc_b"))
    val nodes = Tables.parallel(s, Tables.embeddings(s, dir))
      .select(col("vec_id").as("doc_id"))
    clustersFromPairs(nodes, edges).toDF("vec_id", "cluster_id")
  }

  val dedupClustersKnnSql: String =
    """WITH RECURSIVE e AS (
      |  SELECT query_id AS a, vec_id AS b
      |  FROM read_parquet('{VERIFY_OUT}/ann_knn_graph/*.parquet')
      |  WHERE is_mutual AND query_id < vec_id
      |), ud AS (
      |  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e
      |), reach(vec_id, lab) AS (
      |  SELECT vec_id, vec_id FROM embeddings
      |  UNION
      |  SELECT ud.b, reach.lab FROM reach JOIN ud ON ud.a = reach.vec_id
      |)
      |SELECT vec_id, MIN(lab) AS cluster_id FROM reach GROUP BY vec_id""".stripMargin

  // ---- dedup_semantic_knn: SemDeDup-style pruning over the kNN clusters
  /** The curation DECISION the kNN clusters feed (r13; SemDeDup,
    * Abbas et al. 2023 + SoftDeDup weighting): per semantic cluster
    * keep ONE representative — the member with the highest MUTUAL
    * DEGREE in the kNN graph (the hub of its semantic neighborhood
    * is the best exemplar; mutual edges never straddle clusters, so
    * global mutual degree IS in-cluster centrality), ties by vec_id —
    * and weight every member 1/|cluster| so soft down-sampling
    * carries total mass 1 per neighborhood (the dedup_weights frame
    * over embedding space). One left join + two cluster-keyed windows
    * over the session-stored graph; nothing rescans raw vectors.
    *
    * Oracle: keeps, degrees, sizes, and weights re-derived by DuckDB
    * entirely from the dedup_clusters_knn and ann_knn_graph dumps. */
  def dedupSemanticKnn(s: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClustersKnn(s, dir)
    val edges = Similarity.annKnnGraph(s, dir)
      .filter(col("is_mutual") && col("query_id") < col("vec_id"))
      .select(col("query_id").as("a"), col("vec_id").as("b"))
    val deg = edges.select(col("a").as("vec_id"))
      .unionAll(edges.select(col("b").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("degree"))
    val w = Window.partitionBy("cluster_id")
    val wr = Window.partitionBy("cluster_id")
      .orderBy(col("degree").desc, col("vec_id"))
    clusters.join(deg, Seq("vec_id"), "left")
      .withColumn("degree", coalesce(col("degree"), lit(0L)))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(wr))
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
        col("degree"), (col("rn") === 1).as("keep"),
        (lit(1.0) / col("cluster_size")).as("weight"))
  }

  val dedupSemanticKnnSql: String =
    """WITH c AS (SELECT vec_id, cluster_id
      |  FROM read_parquet('{VERIFY_OUT}/dedup_clusters_knn/*.parquet')),
      |e AS (SELECT query_id AS a, vec_id AS b
      |  FROM read_parquet('{VERIFY_OUT}/ann_knn_graph/*.parquet')
      |  WHERE is_mutual AND query_id < vec_id),
      |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS degree
      |  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v),
      |m AS (SELECT c.vec_id, c.cluster_id, COALESCE(deg.degree, 0) AS degree
      |  FROM c LEFT JOIN deg ON deg.v = c.vec_id),
      |sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      |  FROM m GROUP BY cluster_id),
      |r AS (SELECT m.vec_id, m.cluster_id, sz.cluster_size, m.degree,
      |  row_number() OVER (PARTITION BY m.cluster_id
      |    ORDER BY m.degree DESC, m.vec_id) AS rn
      |  FROM m JOIN sz ON m.cluster_id = sz.cluster_id)
      |SELECT vec_id, cluster_id, cluster_size, degree,
      |  rn = 1 AS keep, 1.0 / cluster_size AS weight FROM r""".stripMargin

  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, Tables.embeddings(s, dir))
      .select(col("vec_id"), col("embedding").as("v"))
    // one k-means + assignment pass feeds both pair sides, the
    // cluster node list, and the keep join
    val assigned = Similarity.cellAssignments(s, dir, e).localCheckpoint(true)
    val a = assigned.select(col("cell"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("cc").as("cc_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("cc").as("cc_b"))
    val pairs = a.join(b, "cell").filter(col("vec_a") < col("vec_b"))
      .select(col("cell"), col("vec_a"), col("vec_b"), col("cc_a"), col("cc_b"),
        VectorFns.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= SemCandFloor)
      .withColumn("is_dup", col("cos") >= SemDupThreshold)
      .localCheckpoint(true) // feeds the output AND the cluster edges
    val dup = pairs.filter(col("is_dup"))
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val clusters = clustersFromPairs(
      assigned.select(col("vec_id").as("doc_id")), dup)
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("cc").asc, col("doc_id").asc)
    // node-sized; materialized once — it feeds BOTH pair-side joins,
    // and without the checkpoint the cluster-join + keep window
    // subtree executes twice (visible as two Window nodes in the plan)
    val keeps = clusters
      .join(assigned.select(col("vec_id").as("doc_id"), col("cc")), "doc_id")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), (col("rn") === 1).as("keep"))
      .localCheckpoint(true)
    pairs
      .join(keeps.select(col("doc_id").as("vec_a"), col("keep").as("keep_a")), "vec_a")
      .join(keeps.select(col("doc_id").as("vec_b"), col("keep").as("keep_b")), "vec_b")
      .select(col("cell"), col("vec_a"), col("vec_b"), col("cos"), col("is_dup"),
        col("cc_a"), col("cc_b"), col("keep_a"), col("keep_b"))
  }

  /** Full-chain oracle: cosines and dup flags recomputed from raw
    * vectors (list_cosine_similarity parity), clusters rebuilt by
    * recursive-CTE closure over the RECOMPUTED dup edges, keep flags
    * re-derived from the emitted centroid cosines by the same
    * lowest-cc-then-lowest-id rule. */
  val dedupSemanticSql: String =
    """WITH RECURSIVE p AS (
      |  SELECT * FROM read_parquet('{VERIFY_OUT}/dedup_semantic/*.parquet')
      |), e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), pc AS (
      |  SELECT p.cell, p.vec_a, p.vec_b, p.cc_a, p.cc_b,
      |    list_cosine_similarity(a.v, b.v) AS cos
      |  FROM p JOIN e a ON p.vec_a = a.vec_id JOIN e b ON p.vec_b = b.vec_id
      |), ud AS (
      |  SELECT vec_a AS a, vec_b AS b FROM pc WHERE cos >= 0.4
      |  UNION ALL SELECT vec_b, vec_a FROM pc WHERE cos >= 0.4
      |), vc AS (
      |  -- explicit DISTINCT: inside WITH RECURSIVE, DuckDB gives a
      |  -- plain UNION recursive-union treatment and does NOT dedup
      |  SELECT DISTINCT vec_id, cc FROM (
      |    SELECT vec_a AS vec_id, cc_a AS cc FROM p
      |    UNION ALL SELECT vec_b, cc_b FROM p)
      |), reach(vec_id, lab) AS (
      |  SELECT vec_id, vec_id FROM vc
      |  UNION
      |  SELECT ud.b, reach.lab FROM reach JOIN ud ON ud.a = reach.vec_id
      |), cl AS (
      |  SELECT vec_id, MIN(lab) AS cluster_id FROM reach GROUP BY vec_id
      |), k AS (
      |  SELECT vec_id,
      |    (row_number() OVER (PARTITION BY cl.cluster_id
      |       ORDER BY vc.cc ASC, vec_id ASC)) = 1 AS keep
      |  FROM cl JOIN vc USING (vec_id)
      |)
      |SELECT pc.cell, pc.vec_a, pc.vec_b, pc.cos, pc.cos >= 0.4 AS is_dup,
      |  pc.cc_a, pc.cc_b, ka.keep AS keep_a, kb.keep AS keep_b
      |FROM pc JOIN k ka ON pc.vec_a = ka.vec_id
      |        JOIN k kb ON pc.vec_b = kb.vec_id""".stripMargin

  // ---- dedup_nd_recall: LSH near-dup recall vs the exact baseline ------
  /** Recall quality gate for the bucketed LSH near-dup path: the
    * fraction of true pairs (exact baseline, same sample window) the
    * LSH candidate generator surfaced. Mirrors ann_recall's role for
    * the ANN family. */
  def dedupNdRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = dedupEmbeddingExact(s, dir).select("vec_a", "vec_b")
    val lsh = Dedup.dedupEmbedding(s, dir)
      .filter(col("is_dup") && col("vec_a") < SampleN && col("vec_b") < SampleN)
      .select("vec_a", "vec_b")
    val nExact = exact.count()
    val nLsh = lsh.count()
    val nHit = exact.intersect(lsh).count()
    import s.implicits._
    Seq((nExact, nLsh, nHit,
      if (nExact == 0) 1.0 else nHit.toDouble / nExact.toDouble))
      .toDF("n_exact", "n_lsh", "n_hit", "recall")
  }

  // ---- dedup_hubs: duplicate-graph hub diagnostics ---------------------
  /** Boilerplate-hub detection: the docs with the highest DEGREE in
    * the near-dup graph are the templates/licence headers/nav shells
    * a curation run wants to inspect before bulk-dropping — a cluster
    * hides them (one component can be a chain or a star; only degree
    * separates those), so the degree view is its own diagnostic. The
    * edge list is the fully-oracled n-gram Jaccard pair table; the
    * top-20 cut is the deterministic (degree DESC, doc_id) order.
    * Shape: one union + one keyed count + TakeOrdered — at 100 TB
    * degrees come from the same banded-LSH edge list the cluster path
    * uses, never an all-pairs stage. */
  def dedupHubs(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.dedupNgramJaccard(s, dir).select("doc_a", "doc_b")
    pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("dup_degree"))
      .orderBy(col("dup_degree").desc, col("doc_id"))
      .limit(20)
  }

  /** Degrees + top-20 recomputed by DuckDB from the (fully oracled)
    * dedup_ngram_jaccard dump. */
  val dedupHubsSql: String =
    """WITH p AS (
      |  SELECT doc_a, doc_b
      |  FROM read_parquet('{VERIFY_OUT}/dedup_ngram_jaccard/*.parquet')
      |), d AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_degree FROM (
      |    SELECT doc_a AS doc_id FROM p
      |    UNION ALL
      |    SELECT doc_b FROM p
      |  ) GROUP BY doc_id
      |)
      |SELECT doc_id, dup_degree FROM d
      |ORDER BY dup_degree DESC, doc_id LIMIT 20""".stripMargin

  // ---- dedup_cluster_stats: duplicate-cluster size distribution --------
  /** The corpus-health dashboard line a curation run reads first:
    * how much of the corpus sits in duplicate clusters, and of what
    * shape — one row per CLUSTER SIZE with the cluster count and the
    * documents they hold (singletons included: size 1 is the unique
    * mass). Derived from the same oracled cluster labeling as
    * dedup_canonical; one keyed count + one size-cardinality
    * re-group, output bounded by the largest cluster size. */
  def dedupClusterStats(s: SparkSession, dir: String): DataFrame =
    clusterLabelsStored(s, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"))

  /** Recomputed by DuckDB from the (fully oracled) dedup_clusters
    * dump — sizes, cluster counts, and doc mass per size. */
  val dedupClusterStatsSql: String =
    """SELECT sz AS cluster_size,
      |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
      |  CAST(SUM(sz) AS BIGINT) AS n_docs
      |FROM (
      |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
      |  FROM read_parquet('{VERIFY_OUT}/dedup_clusters/*.parquet')
      |  GROUP BY cluster_id
      |) GROUP BY sz""".stripMargin

  // ---- dedup_weights: duplicate-aware soft sampling weights ------------
  /** SoftDeDup — the duplicate-handling alternative to dropping: keep
    * every document but down-weight it by its duplicate-cluster size
    * (weight = 1/|cluster|), so a training sampler or loss scaler sees
    * each piece of CONTENT with total mass 1 regardless of how many
    * copies the crawl produced. Emits the hash-order rank within the
    * cluster too, so the same table drives "first occurrence wins"
    * hard dedup when a consumer wants it. Σweight = #clusters (the
    * effective corpus size) by construction.
    *
    * Cost on top of the cluster labels: one partitioned window over
    * (doc_id, cluster_id) — cluster-keyed, spread across the cluster
    * like every other per-group window here. Fully oracled: cluster
    * labels are dedup_clusters' own (proven by recursive-CTE closure),
    * sizes are integer counts, and the weight a single IEEE division. */
  def dedupWeights(s: SparkSession, dir: String): DataFrame = {
    val wCl = Window.partitionBy("cluster_id")
    val wRk = Window.partitionBy("cluster_id").orderBy(
      md5(concat(col("doc_id").cast("string"), lit(":sw")).cast("binary")),
      col("doc_id"))
    clusterLabelsStored(s, dir)
      .withColumn("cluster_size", count(lit(1)).over(wCl))
      .withColumn("dup_rank", row_number().over(wRk).cast("long"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("dup_rank"),
        (lit(1.0) / col("cluster_size").cast("double")).as("weight"))
  }

  /** Recomputed from the (fully oracled) dedup_clusters dump: sizes by
    * window count, rank by the same salted-md5 order, weight by the
    * same single division. */
  val dedupWeightsSql: String =
    """SELECT doc_id, cluster_id,
      |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
      |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':sw'), doc_id) AS BIGINT)
      |    AS dup_rank,
      |  1.0 / CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS DOUBLE) AS weight
      |FROM read_parquet('{VERIFY_OUT}/dedup_clusters/*.parquet')""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_cluster_stats" -> (dedupClusterStats _),
    "dedup_weights" -> (dedupWeights _),
    "dedup_hubs" -> (dedupHubs _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_clusters_lsh" -> (dedupClustersLsh _),
    "dedup_canonical" -> (dedupCanonical _),
    "text_pipeline" -> (textPipeline _),
    "dedup_embedding_exact" -> (dedupEmbeddingExact _),
    "dedup_semantic" -> (dedupSemantic _),
    "dedup_clusters_knn" -> (dedupClustersKnn _),
    "dedup_semantic_knn" -> (dedupSemanticKnn _),
    "dedup_nd_recall" -> (dedupNdRecall _))

  /** Value oracle for the PRODUCTION cluster path: the edge set is
    * seeded LSH (not SQL-expressible), but given the emitted minhash
    * pair list (itself value-oracled), DuckDB re-derives the digest
    * stitching edges from the documents table and recomputes the full
    * transitive closure by recursive CTE — the whole contraction +
    * frontier-propagation machinery is cross-checked end to end. */
  val dedupClustersLshSql: String =
    """WITH RECURSIVE sha AS (SELECT doc_id, sha256(text) AS h FROM documents),
      |stitch AS (
      |  SELECT MIN(doc_id) OVER (PARTITION BY h) AS a, doc_id AS b FROM sha
      |  QUALIFY doc_id <> a),
      |near AS (SELECT doc_a AS a, doc_b AS b
      |         FROM read_parquet('{VERIFY_OUT}/dedup_minhash/*.parquet') WHERE is_dup),
      |e AS (SELECT a, b FROM near UNION ALL SELECT a, b FROM stitch),
      |ud AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
      |reach(doc_id, lab) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT ud.b, reach.lab FROM reach JOIN ud ON ud.a = reach.doc_id)
      |SELECT doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY doc_id""".stripMargin

  /** Value oracle for the recall gate: both pair sets are in the
    * verify dump — the exact baseline (itself fully DuckDB-oracled)
    * and the LSH candidates (their cos/is_dup values value-oracled) —
    * so the gate's counting and the recall arithmetic are recomputed
    * cross-engine from first principles. */
  val dedupNdRecallSql: String =
    s"""WITH ex AS (SELECT vec_a, vec_b
       |  FROM read_parquet('{VERIFY_OUT}/dedup_embedding_exact/*.parquet')),
       |lsh AS (SELECT vec_a, vec_b
       |  FROM read_parquet('{VERIFY_OUT}/dedup_embedding/*.parquet')
       |  WHERE is_dup AND vec_a < $SampleN AND vec_b < $SampleN),
       |n AS (SELECT
       |  (SELECT COUNT(*) FROM ex) AS n_exact,
       |  (SELECT COUNT(*) FROM lsh) AS n_lsh,
       |  (SELECT COUNT(*) FROM (SELECT * FROM ex INTERSECT SELECT * FROM lsh)) AS n_hit)
       |SELECT n_exact, n_lsh, n_hit,
       |  CASE WHEN n_exact = 0 THEN 1.0
       |       ELSE CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE) END AS recall
       |FROM n""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_cluster_stats" -> dedupClusterStatsSql,
    "dedup_weights" -> dedupWeightsSql,
    "dedup_hubs" -> dedupHubsSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_clusters_lsh" -> dedupClustersLshSql,
    "dedup_canonical" -> dedupCanonicalSql,
    "text_pipeline" -> textPipelineSql,
    "dedup_embedding_exact" -> dedupEmbeddingExactSql,
    "dedup_semantic" -> dedupSemanticSql,
    "dedup_clusters_knn" -> dedupClustersKnnSql,
    "dedup_semantic_knn" -> dedupSemanticKnnSql,
    "dedup_nd_recall" -> dedupNdRecallSql)
}
