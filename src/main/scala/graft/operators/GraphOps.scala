package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the duplicate graph (SURVEY.md §2.B
  * extension) — the iterative and combinatorial verbs a curation run
  * applies AFTER the near-dup edge list exists: importance ranking
  * (which boilerplate hub contaminates the most corpus?) and triangle
  * counting (is this component a dense template cluster or a thin
  * chain of borderline pairs?). dedup_hubs gives degrees; PageRank
  * weighs a node by its neighbors' weight, and triangles measure
  * local closure — three different answers to "how duplicated is this
  * document, really".
  *
  * Both operators consume the fully-oracled exact n-gram Jaccard edge
  * list ([[Dedup.dedupNgramJaccard]]), so the whole chain stays
  * cross-engine-checkable; at 100 TB the same code runs over the
  * banded-LSH edge list (the edge table is just a DataFrame
  * parameter), exactly like the cluster path.
  *
  * Scale posture: every per-iteration stage is a keyed equi-join +
  * grouped aggregation on the edge partitioning — no all-pairs, no
  * driver-side graph. PageRank arithmetic is ALL integer (scaled
  * units with floor division), so the fixpoint trajectory is
  * bit-identical on any engine — the reason the oracle can replay it.
  */
object GraphOps {

  // ---- graph_pagerank: integer-arithmetic PageRank ---------------------
  /** Rank scale: each node starts with [[PrInit]] units; one iteration
    * sends floor(85·r / (100·deg)) units along every out-edge and
    * every node collects [[PrBase]] = floor(0.15·PrInit) teleport
    * units plus its in-flow. Damping 0.85 as the exact rational 85/100
    * under floor division — no floating point anywhere, so K
    * iterations are deterministic integer recurrences both engines
    * replay bit-exactly ([[PrIters]] fixed, convergence not required:
    * the RANKING stabilizes long before the units do). */
  private[operators] val PrInit = 1000000000L
  private[operators] val PrBase = 150000000L
  private[operators] val PrIters = 6

  /** Broadcast a NODE-sized frame only while its estimated BROADCAST
    * footprint — not its parquet size — fits a conservative budget;
    * past the gate, fall back to a plain join and let the planner/AQE
    * choose: graceful degradation instead of an abort (or driver OOM)
    * at extreme dup-graph node counts. Every bcIf frame here is 1-2
    * long columns, but a built LongHashedRelation costs far more than
    * 16 bytes/row (UnsafeRow headers + page layout + the driver-side
    * build copy), so the estimate prices [[BroadcastRowBytes]] per row
    * and the budget derives from the ACTUAL driver heap (maxMemory/16,
    * ceiling 512 MB — the relation is built on the driver and copied
    * per executor, and pagerank holds two in flight per iteration).
    * At the default 8 GB heap the gate admits ~8M rows (r16 ADVICE:
    * the former flat 50M-row cap was a 1.5-3 GB relation — OOM range,
    * not the "hundreds of MB" it was justified as). */
  private[operators] val BroadcastRowBytes = 64L
  private[operators] def broadcastNodeCap: Long =
    math.min(512L << 20, Runtime.getRuntime.maxMemory() / 16) / BroadcastRowBytes
  private def bcIf(df: DataFrame, n: Long): DataFrame =
    if (n <= broadcastNodeCap) broadcast(df) else df

  /** Mutual-kNN sparsification degree for graph_triangles_lsh —
    * declared HERE, above every val that interpolates it into oracle
    * SQL (object-init order: a later-declared val reads as 0). */
  private[graft] val KnnD = 8

  /** PageRank over an undirected edge list (canonical a<b pairs).
    * Each round: per-node contribution (one projection of the rank
    * table — the floor split is per SOURCE, so it's computed once per
    * node, not once per edge), an edge join on the pre-partitioned
    * edge table, and a grouped sum per destination. The symmetric
    * edge list guarantees every node has in-degree ≥ 1, so the inner
    * re-join loses nobody. Rounds are eagerly checkpointed (bounded
    * plan depth) and every intermediate block is freed on exit —
    * the clustersFromPairs lifecycle discipline. */
  private[graft] def pagerankFromPairs(pairs: DataFrame): DataFrame =
    CheckpointScope.scoped(pairs.sparkSession) { ck =>
      // ONE checkpoint of the canonical pairs; each iteration probes
      // it from both endpoint columns with the node-sized
      // contribution table BROADCAST (r16 — the r15 plan materialized
      // the symmetric 2m-row edge table with a full repartition, then
      // sort-merged it against a stats-less checkpointed contrib
      // every iteration: at sf1 that was one 90M-row shuffle up front
      // plus six 90M-row sorts, the whole key's cost). The grouped
      // inflow sum partial-aggregates map-side, so the only
      // per-iteration shuffle is node-sized.
      // store-backed pair scans are cheaper to re-read per iteration
      // than their checkpoint blocks (deserialized row objects cost
      // ~10 CPU-s per scan at the 4.4M-pair LSH volume vs ~0.5 s of
      // vectorized parquet decode); expensive generators still
      // checkpoint once — Curation.cheapToRescan, same rule as the
      // cluster loop
      val p0 = pairs.toDF("doc_a", "doc_b")
      val p = if (Curation.cheapToRescan(p0)) p0 else ck(p0)
      // volume-derived loop partitioning (Curation.loopConf — floor 4,
      // ceiling the session default, AQE gated below LoopAqeMinPairs):
      // every per-iteration exchange and checkpointed round frame here
      // is node- or pair-sized 8-byte-id rows, and each partition of a
      // materialized round costs a ~1 MB block floor plus a task in
      // the NEXT iteration's broadcast build (measured at sf0.1: the
      // per-iteration contrib build scanned 64 × 1.16 MB for a
      // node-sized frame, 0.7-1.0 s per iteration — the key's wall).
      graft.Sessions.withScopedConf(pairs.sparkSession,
        Curation.loopConf(pairs.sparkSession, p.count())) {
      val deg = ck(p.select(col("doc_a").as("src"))
        .union(p.select(col("doc_b").as("src")))
        .groupBy("src").agg(count(lit(1)).as("deg")))
      val nNodes = deg.count()
      var ranks = ck(deg.select(col("src").as("doc_id"), col("deg"),
        lit(PrInit).as("rank")))
      for (_ <- 1 to PrIters) {
        val contrib = ranks.select(col("doc_id").as("src"),
          expr(s"(${85}L * rank) DIV (${100}L * deg)").as("c"))
        val inflow = p.join(bcIf(contrib, nNodes),
            col("doc_a") === col("src")).select(col("doc_b").as("doc_id"), col("c"))
          .union(p.join(bcIf(contrib, nNodes),
            col("doc_b") === col("src")).select(col("doc_a").as("doc_id"), col("c")))
          .groupBy("doc_id").agg(sum("c").as("inflow"))
        ranks = ck(inflow
          .join(deg.select(col("src").as("doc_id"), col("deg")), "doc_id")
          .select(col("doc_id"), col("deg"),
            (lit(PrBase) + col("inflow")).as("rank")))
      }
      // materialized OUTSIDE ck: the node-sized result must survive
      // the scope's block cleanup
      ranks.localCheckpoint(true)
      }
    }

  def graphPagerank(s: SparkSession, dir: String): DataFrame =
    pagerankFromPairs(Dedup.dedupNgramJaccard(s, dir).select("doc_a", "doc_b"))

  /** The oracle replays all [[PrIters]] integer iterations as unrolled
    * CTE blocks over the (fully oracled) dedup_ngram_jaccard dump —
    * same floor division, same BIGINT arithmetic, so the final units
    * must match bit-for-bit. */
  private def pagerankSqlFrom(src: String): String = {
    val blocks = (1 to PrIters).map { i =>
      s"""r$i AS (
         |  SELECT d.doc_id, d.deg,
         |    CAST($PrBase + SUM((CAST(85 AS BIGINT) * r.rank)
         |      // (CAST(100 AS BIGINT) * r.deg)) AS BIGINT) AS rank
         |  FROM ud e JOIN r${i - 1} r ON e.src = r.doc_id
         |            JOIN deg d ON e.dst = d.doc_id
         |  GROUP BY d.doc_id, d.deg
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (
       |  $src
       |), ud AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM p
       |  UNION ALL SELECT doc_b, doc_a FROM p
       |), deg AS (
       |  SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg
       |  FROM ud GROUP BY src
       |), r0 AS (
       |  SELECT doc_id, deg, CAST($PrInit AS BIGINT) AS rank FROM deg
       |),
       |$blocks
       |SELECT doc_id, deg, rank FROM r$PrIters""".stripMargin
  }

  private val NgramEdgeSrc =
    "SELECT doc_a, doc_b FROM read_parquet('{VERIFY_OUT}/dedup_ngram_jaccard/*.parquet')"
  private val LshEdgeSrc =
    "SELECT doc_a, doc_b FROM read_parquet('{VERIFY_OUT}/dedup_minhash/*.parquet') WHERE is_dup"

  val graphPagerankSql: String = pagerankSqlFrom(NgramEdgeSrc)
  val graphPagerankLshSql: String = pagerankSqlFrom(LshEdgeSrc)

  // ---- graph_triangles: per-node triangle counts -----------------------
  /** Triangle participation per node, DEGREE-ORIENTED (the standard
    * O(m^1.5) bound): every edge is directed from its lower to its
    * higher endpoint in the (deg, id) total order, so each triangle
    * has exactly one corner with two out-edges — the wedge join runs
    * over OUT-degrees (≤ √2m by construction) instead of full degrees
    * and each triangle is enumerated exactly once at its minimum
    * corner, closing edge oriented (v→w) by the same order. Per-node
    * counts are orientation-INVARIANT (all three corners credited),
    * which is why the DuckDB oracle can keep the simple ordered-triple
    * enumeration and still match. Measured at sf0.1 (444 k edges,
    * 28.1 M triangles): the undirected middle-node wedge join built
    * ~90 M wedge rows, orientation cuts it ~3× on this clique-heavy
    * graph. Nodes in no triangle still appear (degree table
    * left-joined, zero-filled) — the diagnostic wants "thin chain" to
    * show as n_tri = 0, not as an absent row. */
  def graphTriangles(s: SparkSession, dir: String): DataFrame =
    trianglesFromPairs(Dedup.dedupNgramJaccard(s, dir).select("doc_a", "doc_b"))

  /** Per-node triangle counts via degree-ordered OUT-adjacency
    * intersections only (r16, tightening the r15 plan): orient each
    * edge low→high by (deg, id), build the oriented out-adjacency
    * table once (sorted), and resolve EVERY corner credit at the
    * minimal corner's edge (u,v) from ONE two-pointer merge
    * ([[graft.functions.HashKernels.triCredits]]): |adj⁺(u) ∩
    * adj⁺(v)| = k pays u and v, and the intersection ELEMENTS —
    * which are exactly the third corners w — each pay 1; all three
    * credits explode from the same kernel eval straight into a
    * partial aggregate, so the per-triangle rows exist only inside
    * whole-stage codegen and the map-side combine collapses them to
    * node cardinality before any shuffle. The r15 plan paid w's credit from a SECOND,
    * in-adjacency table (|adj⁻(v) ∩ adj⁻(w)| at the closing edge) —
    * but in-lists under this orientation are NOT degeneracy-bounded
    * (a hub's in-list is its full degree), which is where the sf1
    * step-up (4.4× for 10× data) lived; out-lists are ≤ √(2m) by
    * construction, so every merge this plan runs is. The r12-r14
    * wedge-JOIN formulation (28M shuffled wedge rows at sf0.1) is
    * kept below as the differential anchor. Adjacency attaches are
    * size-gated (broadcast under [[Dedup.AttachBroadcastCapBytes]],
    * shuffle joins on u/v beyond — the 100 TB path). Differential
    * spec pins this equal to the wedge formulation AND to a
    * driver-side brute force. */
  private[graft] def trianglesFromPairs(pairs: DataFrame): DataFrame = {
    CheckpointScope.scoped(pairs.sparkSession) { ck =>
      // store-backed pair scans reread cheaper than checkpoint blocks
      // (Curation.cheapToRescan — p is scanned 3×: deg's union twice,
      // the orientation once)
      val p = if (Curation.cheapToRescan(pairs)) pairs else ck(pairs)
      val deg = ck(p.select(col("doc_a").as("doc_id"))
        .union(p.select(col("doc_b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("deg")))
      // the oriented edge table's partitioning flows through the
      // broadcast attaches into the credits EXPLODE — a Θ(T) stage
      // (super-linear in edges), so it must fan to the session's full
      // parallelism even when the edge scan arrived as one split
      // (compacted store = 1-4 files): repartition the edge-sized
      // frame (cheap) so the explode never runs single-task
      val o = ck(orientByDegree(p, deg, deg.count()).select("u", "v")
        .repartition(p.sparkSession.sparkContext.defaultParallelism))
      // out-adjacency, node-sized, sorted ONCE so the closing
      // intersections are two-pointer merges — and CHECKPOINTED once:
      // both attachSide broadcasts consume it under different key
      // names, and without the materialization each build re-ran the
      // groupBy + sort_array subtree (measured at sf0.1: the two
      // rebuild jobs were 0.8-1.0 s each, the key's dominant cost)
      val adjOut = ck(o.groupBy(col("u").as("doc_id"))
        .agg(sort_array(collect_list(col("v"))).as("nbrs")))
      val attached = Dedup.attachSide(Dedup.attachSide(o,
        adjOut.select(col("doc_id").as("u"), col("nbrs").as("nbrs_u")), "u"),
        adjOut.select(col("doc_id").as("v"), col("nbrs").as("nbrs_v")), "v")
      // ONE merge per edge (TriCredits): (u, k), (v, k), and one
      // (w, 1) per intersection element come out of the same
      // two-pointer pass — the r16.0 two-pass shape (count pass +
      // elements pass) re-ran both the adjacency attach and the merge
      // per pass, measured as the two dominant stages at sf1
      val corners = attached
        .select(explode(graft.functions.NativeHash.triCredits(
          col("nbrs_u"), col("nbrs_v"), col("u"), col("v"))).as("cr"))
        .select(col("cr.id").as("doc_id"), col("cr.c").as("c"))
        .groupBy("doc_id").agg(sum(col("c")).as("n_tri"))
      // node-sized; materialized OUTSIDE ck so the scope can free the
      // edge/orientation blocks the moment the counts exist
      deg.join(corners, Seq("doc_id"), "left")
        .select(col("doc_id"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"))
        .localCheckpoint(true)
    }
  }

  /** The shared low→high (deg, id) edge orientation. The degree table
    * is NODE-sized and checkpointed (no stats) — broadcast it
    * explicitly (size-gated) or the planner sort-merges the EDGE side
    * twice. */
  private def orientByDegree(p: DataFrame, deg: DataFrame, nNodes: Long): DataFrame = {
    val withDeg = p
      .join(bcIf(deg.select(col("doc_id").as("doc_a"), col("deg").as("deg_a")), nNodes), "doc_a")
      .join(bcIf(deg.select(col("doc_id").as("doc_b"), col("deg").as("deg_b")), nNodes), "doc_b")
    val aFirst = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("doc_a") < col("doc_b"))
    withDeg.select(
      when(aFirst, col("doc_a")).otherwise(col("doc_b")).as("u"),
      when(aFirst, col("doc_b")).otherwise(col("doc_a")).as("v"),
      when(aFirst, col("deg_b")).otherwise(col("deg_a")).as("deg_v"))
  }

  /** The retired wedge-join formulation, kept executable.
    * Differential anchor: GraphOpsSpec proves that it and
    * [[trianglesFromPairs]] produce identical per-node counts. */
  private[graft] def trianglesFromPairsWedge(pairs: DataFrame): DataFrame = {
    CheckpointScope.scoped(pairs.sparkSession) { ck =>
      val p = ck(pairs)
      val deg = ck(p.select(col("doc_a").as("doc_id"))
        .union(p.select(col("doc_b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("deg")))
      val o = ck(orientByDegree(p, deg, deg.count()))
      val wedges = o
        .join(o.select(col("u"), col("v").as("w"), col("deg_v").as("deg_w")), "u")
        .filter(col("deg_v") < col("deg_w") ||
          (col("deg_v") === col("deg_w") && col("v") < col("w")))
      val tris = wedges.join(
        o.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
      val corners = tris.select(explode(array(col("u"), col("v"), col("w")))
        .as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
      deg.join(corners, Seq("doc_id"), "left")
        .select(col("doc_id"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"))
        .localCheckpoint(true)
    }
  }

  private def trianglesSqlFrom(src: String): String =
    s"""WITH p AS (
      |  $src
      |), t AS (
      |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
      |  FROM p e1
      |  JOIN p e2 ON e2.doc_a = e1.doc_b
      |  JOIN p e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
      |), tc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
      |    SELECT a AS doc_id FROM t
      |    UNION ALL SELECT b FROM t
      |    UNION ALL SELECT c FROM t
      |  ) GROUP BY doc_id
      |), deg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
      |    SELECT doc_a AS doc_id FROM p
      |    UNION ALL SELECT doc_b FROM p
      |  ) GROUP BY doc_id
      |)
      |SELECT deg.doc_id, deg.deg, COALESCE(tc.n_tri, 0) AS n_tri
      |FROM deg LEFT JOIN tc USING (doc_id)""".stripMargin

  val graphTrianglesSql: String = trianglesSqlFrom(NgramEdgeSrc)
  /** Nested-CTE source: the mutual top-KnnD sparsification replayed
    * from the dedup_minhash dump, then the shared enumeration. */
  val graphTrianglesLshSql: String = trianglesSqlFrom(
    s"""WITH e AS (
       |    SELECT doc_a, doc_b, jaccard
       |    FROM read_parquet('{VERIFY_OUT}/dedup_minhash/*.parquet') WHERE is_dup
       |  ), udk AS (
       |    SELECT doc_a AS u, doc_b AS v, jaccard FROM e
       |    UNION ALL SELECT doc_b, doc_a, jaccard FROM e
       |  ), topk AS (
       |    SELECT u, v FROM (
       |      SELECT u, v, row_number() OVER (PARTITION BY u
       |        ORDER BY jaccard DESC, v) AS rn FROM udk
       |    ) WHERE rn <= $KnnD
       |  )
       |  SELECT x.u AS doc_a, x.v AS doc_b
       |  FROM topk x JOIN topk y ON x.u = y.v AND x.v = y.u
       |  WHERE x.u < x.v""".stripMargin)

  // ---- graph_bfs: multi-source hop distance ----------------------------
  /** Hop distance from the seed set to every node of the duplicate
    * graph — the "how far is this doc from a known-bad hub" diagnostic
    * (seeds = the [[BfsSeeds]] lowest node ids, deterministic).
    * Frontier BFS: each round joins ONLY the newly-discovered
    * frontier against the once-partitioned edge table and anti-joins
    * the visited set — work per round tracks the frontier, total work
    * O(m·diameter/rounds)… i.e. each edge is touched once per
    * incident frontier node, the textbook distributed BFS. Rounds are
    * eagerly checkpointed + freed ([[CheckpointScope]], the pagerank
    * lifecycle) and capped at [[BfsCap]] hops (dup-graph components
    * are cliques-of-cliques; diameters are single digits). Nodes
    * unreached within the cap emit dist = −1 — the diagnostic wants
    * "not connected to any seed" visible, not absent.
    *
    * Oracle: DuckDB replays the closure as a recursive CTE over the
    * (fully oracled) edge dump with the SAME hop cap, then folds
    * MIN(dist) per node — UNION-distinct keeps the recursion finite
    * on cliques, the cap bounds it, and the min-fold recovers the
    * BFS distance exactly. */
  private[operators] val BfsSeeds = 8
  private[operators] val BfsCap = 32

  def graphBfs(s: SparkSession, dir: String): DataFrame =
    bfsFromPairs(Dedup.dedupNgramJaccard(s, dir).select("doc_a", "doc_b"))

  /** Local-collapse gates (r15 verdict #5): once the not-yet-settled
    * region (unvisited nodes plus the live frontier's adjacency)
    * fits these explicit bounds, the traversal tail — whose
    * distributed cost is pure round-count × Spark job latency, the
    * irreducible shape for exact hop counts — finishes in ONE
    * driver-side pass over the collected subgraph. ~200k nodes /
    * 8M adjacency entries ≈ 64 MB of primitive longs (the collect is
    * typed, Array[Long] per node — no per-element boxing): bounded by
    * construction, never corpus-sized (both gates are checked BEFORE
    * any collect). */
  private[operators] val BfsLocalNodeCap = 200000L
  private[operators] val BfsLocalEntryCap = 8000000L

  private[graft] def bfsFromPairs(pairs: DataFrame): DataFrame =
    bfsFromPairs(pairs, localCollapse = true)

  private[graft] def bfsFromPairs(pairs: DataFrame, localCollapse: Boolean,
                                  nodeCap: Long = BfsLocalNodeCap,
                                  entryCap: Long = BfsLocalEntryCap): DataFrame = {
    val s = pairs.sparkSession
    CheckpointScope.scoped(s) { ck =>
      // frontier expansion over the checkpointed EDGE table, probed
      // from both endpoint columns (r16). The r15 plan pre-built a
      // collect_list adjacency table; measured at sf1 (45M LSH
      // edges, 90M entries) that build — a full-width shuffle plus
      // array assembly — cost 11.4 s while the rounds it served cost
      // 0.5–1 s each, and a join PROBE scans every block of its build
      // side regardless of shape (nothing partition-prunes an
      // in-memory table), so per-round cost is identical against the
      // flat edge table. Dup-graph diameters are single digits, so
      // rounds × edge-scan is the cheap term; the one-off build was
      // the bottleneck. Each round is two equi-joins frontier→edges
      // (AQE broadcasts the node-sized frontier), a distinct that
      // map-side-collapses to node cardinality, and an anti-join
      // against the visited set.
      val p = ck(pairs.toDF("doc_a", "doc_b"))
      val nodes = ck(p.select(col("doc_a").as("doc_id"))
        .union(p.select(col("doc_b").as("doc_id"))).distinct())
      val totalNodes = nodes.count()
      val seeds = nodes.orderBy("doc_id").limit(BfsSeeds)
        .withColumn("dist", lit(0L))
      var visited = ck(seeds)
      var frontier = visited
      var visitedCount = math.min(BfsSeeds.toLong, totalNodes)
      var frontierCount = visitedCount
      // entry-gate backoff: a failed entry check costs one pass over
      // the edge table — without backoff a dense graph that passes
      // the node gate but not the entry gate would pay that pass
      // EVERY round; retry only once the unsettled node count has at
      // least halved since the failed attempt
      var lastEntryAttempt = Long.MaxValue
      var d = 0L
      var done = false
      while (!done && d < BfsCap) {
        // local collapse: the rest of the traversal is round-count ×
        // job latency once the unsettled region is small — collect
        // every edge with at least one endpoint NOT already settled
        // at dist < d (a superset of what the traversal can still
        // touch) and finish with a driver BFS whose fold is exactly
        // the recursive-CTE oracle's. Gate 1 (node count) is free
        // from the running counters; gate 2 (edge count) costs one
        // count over the tagged edge table and runs only once gate 1
        // holds. Both gates run BEFORE any collect.
        val unsettled = totalNodes - visitedCount + frontierCount
        if (localCollapse && unsettled <= nodeCap &&
            unsettled <= lastEntryAttempt / 2) {
          lastEntryAttempt = unsettled
          // interior tags ride node-sized broadcasts. Keep ONLY edges
          // with BOTH endpoints non-interior (frontier or unvisited):
          // by the BFS invariant every neighbor of a node settled at
          // dist k is visited by round k+1 ≤ d, so an interior-
          // incident edge's other endpoint is already visited and the
          // edge can teach the local walk nothing — while KEEPING
          // such an edge would let the walk step from the frontier
          // BACK onto an interior node and emit it again with a
          // larger dist (caught by the duplicate-row differential in
          // GraphOpsSpec).
          val ia = bcIf(visited.filter(col("dist") < d)
            .select(col("doc_id").as("doc_a")).withColumn("ia", lit(true)), visitedCount)
          val ib = bcIf(visited.filter(col("dist") < d)
            .select(col("doc_id").as("doc_b")).withColumn("ib", lit(true)), visitedCount)
          val rest = p.join(ia, Seq("doc_a"), "left")
            .join(ib, Seq("doc_b"), "left")
            .filter(col("ia").isNull && col("ib").isNull)
            .select("doc_a", "doc_b")
          val restEdges = rest.count()
          if (2 * restEdges <= entryCap) {
            System.err.println(s"[graft-bfs] local collapse at d=$d: " +
              s"$unsettled unsettled nodes, $restEdges live edges")
            import s.implicits._
            val local = rest.as[(Long, Long)].collect()
            val adjMap = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]](
              (unsettled * 2).toInt.max(16))
            def add(x: Long, y: Long): Unit = {
              var b = adjMap.get(x)
              if (b == null) { b = new scala.collection.mutable.ArrayBuffer[Long](); adjMap.put(x, b) }
              b += y: Unit
            }
            local.foreach { case (a, b) => add(a, b); add(b, a) }
            val dist = new java.util.HashMap[Long, Long](local.length.max(16))
            var queue = frontier.select("doc_id").collect().map(_.getLong(0))
            queue.foreach(n => dist.put(n, d))
            var depth = d
            while (queue.nonEmpty && depth < BfsCap) {
              depth += 1
              val nextQ = Array.newBuilder[Long]
              queue.foreach { n =>
                val ns = adjMap.get(n)
                if (ns != null) ns.foreach { m =>
                  if (!dist.containsKey(m)) { dist.put(m, depth); nextQ += m }
                }
              }
              queue = nextQ.result()
            }
            // frontier nodes are already in `visited` at dist d; emit
            // only the NEWLY settled (dist > d) as the tail rows
            import scala.jdk.CollectionConverters._
            val tail = dist.entrySet().asScala.iterator
              .filter(_.getValue > d).map(e => (e.getKey.longValue(), e.getValue.longValue()))
              .toSeq
            val tailDf = s.createDataFrame(tail).toDF("doc_id", "dist")
            visited = ck(visited.union(tailDf))
            done = true
          }
        }
        if (!done) {
          d += 1
          // frontier and visited ride BROADCASTS: both are node-sized
          // (bounded by the graph's node count — tens of MB of longs
          // even at a 100 TB corpus's dup-graph scale), and a
          // checkpointed frame carries no stats, so without the hint
          // the planner sort-merges the EDGE side — measured 2×
          // slower than the whole traversal per round at sf1
          val hits = p.join(bcIf(frontier.select(col("doc_id").as("doc_a")), frontierCount), "doc_a")
              .select(col("doc_b").as("doc_id"))
            .union(p.join(bcIf(frontier.select(col("doc_id").as("doc_b")), frontierCount), "doc_b")
              .select(col("doc_a").as("doc_id")))
            .distinct()
          val next = ck(hits
            .join(bcIf(visited.select("doc_id"), visitedCount), Seq("doc_id"), "left_anti")
            .withColumn("dist", lit(d)))
          val nc = next.count()
          done = nc == 0
          if (!done) {
            visited = ck(visited.union(next))
            visitedCount += nc
            frontierCount = nc
            frontier = next
          }
        }
      }
      nodes.join(visited, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("dist"), lit(-1L)).as("dist"))
        .localCheckpoint(true)
    }
  }

  private def bfsSqlFrom(src: String): String =
    s"""WITH RECURSIVE p AS (
       |  $src
       |), ud AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM p
       |  UNION ALL SELECT doc_b, doc_a FROM p
       |), nodes AS (
       |  SELECT DISTINCT src AS doc_id FROM ud
       |), seeds AS (
       |  SELECT doc_id FROM nodes ORDER BY doc_id LIMIT $BfsSeeds
       |), bfs AS (
       |  SELECT doc_id, CAST(0 AS BIGINT) AS dist FROM seeds
       |  UNION
       |  SELECT ud.dst, b.dist + 1
       |  FROM bfs b JOIN ud ON ud.src = b.doc_id
       |  WHERE b.dist < $BfsCap
       |), m AS (
       |  SELECT doc_id, CAST(MIN(dist) AS BIGINT) AS dist FROM bfs GROUP BY doc_id
       |)
       |SELECT n.doc_id, COALESCE(m.dist, -1) AS dist
       |FROM nodes n LEFT JOIN m USING (doc_id)""".stripMargin

  val graphBfsSql: String = bfsSqlFrom(NgramEdgeSrc)
  val graphBfsLshSql: String = bfsSqlFrom(LshEdgeSrc)

  // ---- *_lsh twins: the SAME loops over banded-LSH edges ---------------
  /** The production edge source: [[Dedup.dedupMinhash]]'s verified
    * near-dup pairs — banded bucket-join candidates, never all-pairs.
    * These twins make the "at 100 TB the same code runs over the
    * banded-LSH edge list" claim code rather than prose: each is the
    * ngram key's loop body verbatim (the edge table is a parameter),
    * value-oracled over the dedup_minhash dump exactly like
    * dedup_clusters_lsh. */
  private def lshEdges(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupMinhash(s, dir).filter(col("is_dup")).select("doc_a", "doc_b")

  def graphPagerankLsh(s: SparkSession, dir: String): DataFrame =
    pagerankFromPairs(lshEdges(s, dir))

  /** Triangle counting is the one graph verb that CANNOT run on the
    * raw global LSH dup graph: near-dup clusters are cliques, a
    * k-clique holds k³/6 triangles, and the minhash edge set is 54 M
    * pairs at sf1 (SCALING.md) — enumeration is meaningless there
    * AND super-linear (measured: the wedge join fills the disk).
    * The production form is the standard similarity-graph
    * sparsification: mutual top-[[KnnD]] by (jaccard DESC, id) —
    * per-node degree ≤ KnnD, so edges ≤ KnnD·n and the wedge join is
    * O(n·KnnD²), linear in the corpus. Fully deterministic (rank
    * ties broken by id over the verified jaccard values), so the
    * oracle replays sparsification + enumeration from the
    * dedup_minhash dump. */
  def graphTrianglesLsh(s: SparkSession, dir: String): DataFrame = {
    val e = Dedup.dedupMinhash(s, dir).filter(col("is_dup"))
      .select("doc_a", "doc_b", "jaccard")
    val ud = e.select(col("doc_a").as("u"), col("doc_b").as("v"), col("jaccard"))
      .union(e.select(col("doc_b").as("u"), col("doc_a").as("v"), col("jaccard")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("jaccard").desc, col("v"))
    val top = ud.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= KnnD).select("u", "v")
    val mutual = top.as("x").join(top.as("y"),
        col("x.u") === col("y.v") && col("x.v") === col("y.u") &&
          col("x.u") < col("x.v"))
      .select(col("x.u").as("doc_a"), col("x.v").as("doc_b"))
    trianglesFromPairs(mutual)
  }

  def graphBfsLsh(s: SparkSession, dir: String): DataFrame =
    bfsFromPairs(lshEdges(s, dir))

  // ---- graph_triangles_approx: DOULION edge-sampled estimate -----------
  /** Approximate triangle counts by DOULION edge sparsification
    * (Tsourakakis et al., KDD'09): keep each edge independently with
    * probability p = 1/2, count triangles EXACTLY on the sampled
    * graph (the same degree-oriented plan as graph_triangles), and
    * scale each surviving count by 1/p³ = [[TriSampleScale]] — an
    * unbiased estimator of the true count, per node and in total.
    * This is the scale default the exact key can't be: at 100 TB the
    * exact plan is Θ(T)-bound and T grows superlinearly on dup graphs
    * (281 M triangles already at sf1 — r16 verdict #5), while the
    * sample is a MAP-SIDE filter before any expensive stage, cutting
    * edges ~p, wedge merges ~p², and enumerated triangles ~p³ (8× here;
    * steeper p for bigger graphs — variance shrinks as counts grow).
    *
    * The coin is the repo's deterministic-randomness primitive
    * (salted md5 over the canonical edge key, the Sampling.scala
    * rule), so the sampled edge set — and therefore every output
    * value — is exact integer arithmetic DuckDB replays bit-for-bit:
    * the ESTIMATOR itself is oracled, not just the plumbing. Degrees
    * come from the FULL graph (the diagnostic's denominator);
    * GraphOpsSpec pins the estimate against the exact key's totals on
    * a structured graph at test scale. */
  private[graft] val TriSampleCut = "8000"  // p = 0x8000/0x10000 = 1/2
  private[graft] val TriSampleScale = 8L    // 1/p³

  private[graft] def trianglesApproxFromPairs(pairs: DataFrame): DataFrame = {
    val keep = substring(md5(concat(
      col("doc_a").cast("string"), lit(":"),
      col("doc_b").cast("string"), lit(":tri")).cast("binary")), 1, 4) < TriSampleCut
    val deg = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("deg"))
    val sampledCounts = trianglesFromPairs(pairs.filter(keep))
      .select(col("doc_id"), col("n_tri").as("n_tri_sampled"))
    deg.join(sampledCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"),
        coalesce(col("n_tri_sampled"), lit(0L)).as("n_tri_sampled"),
        (coalesce(col("n_tri_sampled"), lit(0L)) * TriSampleScale).as("n_tri_est"))
  }

  def graphTrianglesApprox(s: SparkSession, dir: String): DataFrame =
    trianglesApproxFromPairs(
      Dedup.dedupNgramJaccard(s, dir).select("doc_a", "doc_b"))

  /** The oracle replays the coin (same salted md5, same hex cut), the
    * exact enumeration over the SAMPLED edges, and the 1/p³ scaling —
    * full-graph degrees left-joined so every node appears. */
  val graphTrianglesApproxSql: String =
    s"""WITH p AS (
      |  $NgramEdgeSrc
      |), sp AS (
      |  SELECT doc_a, doc_b FROM p
      |  WHERE substr(md5(CAST(doc_a AS VARCHAR) || ':' ||
      |    CAST(doc_b AS VARCHAR) || ':tri'), 1, 4) < '$TriSampleCut'
      |), t AS (
      |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
      |  FROM sp e1
      |  JOIN sp e2 ON e2.doc_a = e1.doc_b
      |  JOIN sp e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
      |), tc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
      |    SELECT a AS doc_id FROM t
      |    UNION ALL SELECT b FROM t
      |    UNION ALL SELECT c FROM t
      |  ) GROUP BY doc_id
      |), deg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
      |    SELECT doc_a AS doc_id FROM p
      |    UNION ALL SELECT doc_b FROM p
      |  ) GROUP BY doc_id
      |)
      |SELECT deg.doc_id, deg.deg,
      |  CAST(COALESCE(tc.n_tri, 0) AS BIGINT) AS n_tri_sampled,
      |  CAST(COALESCE(tc.n_tri, 0) * $TriSampleScale AS BIGINT) AS n_tri_est
      |FROM deg LEFT JOIN tc USING (doc_id)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> (graphPagerank _),
    "graph_triangles" -> (graphTriangles _),
    "graph_triangles_approx" -> (graphTrianglesApprox _),
    "graph_bfs" -> (graphBfs _),
    "graph_pagerank_lsh" -> (graphPagerankLsh _),
    "graph_triangles_lsh" -> (graphTrianglesLsh _),
    "graph_bfs_lsh" -> (graphBfsLsh _))

  val oracle: Map[String, String] = Map(
    "graph_pagerank" -> graphPagerankSql,
    "graph_triangles" -> graphTrianglesSql,
    "graph_triangles_approx" -> graphTrianglesApproxSql,
    "graph_bfs" -> graphBfsSql,
    "graph_pagerank_lsh" -> graphPagerankLshSql,
    "graph_triangles_lsh" -> graphTrianglesLshSql,
    "graph_bfs_lsh" -> graphBfsLshSql)
}
