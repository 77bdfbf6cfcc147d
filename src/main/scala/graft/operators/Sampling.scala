package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Catalog.Key
import graft.Tables

/** Corpus sampling, splitting, and shard-packing operators
  * (SURVEY.md §2.B extension) — the organization layer a training-data
  * pipeline runs after curation: deterministic sub-sampling, train/
  * val/test assignment, per-stratum quotas, and token-budgeted shard
  * packing for the trainer.
  *
  * Everything derives its randomness from one primitive: an md5 of the
  * salted document key. Both engines hash identical UTF-8 bytes and
  * compare the hex lexicographically, so every operator here is fully
  * DuckDB-oracled — no seeded RNG, no partition-order dependence, and
  * re-running the pipeline on a grown corpus never reassigns an
  * existing document (the property that makes hash splits the standard
  * over random() splits for training data).
  *
  * Scale posture: sample/split/stratify are pure map or
  * partitioned-window stages (shuffle at most once on the stratum
  * key). Shard packing needs a GLOBAL running sum — the one operation
  * a naive window formulation serializes onto a single task — so it
  * ships as a two-pass distributed prefix sum: range-partition by the
  * hash key, per-partition partial sums (#partitions rows to the
  * driver), broadcast exclusive offsets back, local cumsum per
  * partition. Wall-clock tracks the largest partition, never the
  * corpus.
  */
object Sampling {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.parallel(s, Tables.documents(s, dir))

  /** md5-hex of a salted key — the deterministic-randomness primitive
    * every operator in this file derives from. */
  private def hashKey(id: Column, salt: String): Column =
    md5(concat(id.cast("string"), lit(":" + salt)).cast("binary"))

  private def hashKeySql(idExpr: String, salt: String): String =
    s"md5(CAST($idExpr AS VARCHAR) || ':$salt')"

  // ---- sample_hash: deterministic Bernoulli sampling -------------------
  /** Keep a document iff the first 4 hex digits of its salted md5 sort
    * below the cut — rate = 0x1999/0x10000 ≈ 10%, exact in
    * expectation, reproducible row-by-row on any engine. Pure map
    * stage; the full assignment table is emitted because the sample IS
    * the output (downstream reads `sampled`). */
  private[operators] val SampleHexCut = "1999"

  def sampleHash(s: SparkSession, dir: String): DataFrame = {
    val bucket = substring(hashKey(col("doc_id"), "s1"), 1, 4)
    docs(s, dir).select(col("doc_id"), col("source"),
      bucket.as("bucket"),
      (bucket < SampleHexCut).as("sampled"))
  }

  val sampleHashSql: String =
    s"""SELECT doc_id, source,
      |  substr(${hashKeySql("doc_id", "s1")}, 1, 4) AS bucket,
      |  substr(${hashKeySql("doc_id", "s1")}, 1, 4) < '$SampleHexCut' AS sampled
      |FROM documents""".stripMargin

  // ---- sample_split: train/val/test assignment accounting --------------
  /** Hash-bucket split on the first hex digit: 0..b → train (75%),
    * c..d → val (12.5%), e..f → test (12.5%). The output is the
    * per-(source, split) accounting — constant-size at any corpus
    * scale; the assignment expression itself is what a pipeline
    * filters on. One shuffle on the (source, split) group key. */
  def sampleSplit(s: SparkSession, dir: String): DataFrame = {
    val c = substring(hashKey(col("doc_id"), "split"), 1, 1)
    val split = when(c < "c", "train").when(c < "e", "val").otherwise("test")
    docs(s, dir).select(col("source"), split.as("split"), col("n_chars"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
  }

  val sampleSplitSql: String = {
    val c = s"substr(${hashKeySql("doc_id", "split")}, 1, 1)"
    s"""SELECT source,
      |  CASE WHEN $c < 'c' THEN 'train'
      |       WHEN $c < 'e' THEN 'val'
      |       ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
      |FROM documents GROUP BY 1, 2""".stripMargin
  }

  // ---- sample_stratified: fixed per-stratum quota ----------------------
  /** Exactly K documents per source, chosen by hash order (uniform
    * within the stratum, deterministic, stable under corpus growth for
    * surviving docs). The per-source window is SAFE here despite
    * few-huge sources: the rank filter (rk <= K, K=25 under the
    * spark.sql.window.group.limit.threshold) plans a WindowGroupLimit
    * partial pass that cuts every upstream partition to its own top-K
    * BEFORE the final per-source sort, so the single-task window sees
    * ≤ K × #partitions rows — unlike an unbounded per-source cumsum
    * (mix_budget/mix_epochs ride runningSumKeyed for that). */
  private[operators] val StratumK = 25

  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(hashKey(col("doc_id"), "strat"), col("doc_id"))
    docs(s, dir).select(col("source"), col("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= StratumK)
  }

  val sampleStratifiedSql: String =
    s"""SELECT source, doc_id, rk FROM (
      |  SELECT source, doc_id,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY ${hashKeySql("doc_id", "strat")}, doc_id) AS INT) AS rk
      |  FROM documents
      |) WHERE rk <= $StratumK""".stripMargin

  // ---- shard_pack: token-budgeted training-shard packing ---------------
  /** Pack documents into contiguous training shards of ~[[PackBudget]]
    * whitespace tokens, in deterministic hash order: shard_id =
    * floor(exclusive-prefix-tokens / budget). A document lands in the
    * shard its running offset starts in, so every shard holds a
    * contiguous hash-order run and sums to < budget + max_doc_tokens.
    *
    * The global running sum is [[PrefixSum.runningSum]] — the
    * distributed prefix-sum, never Spark's single-task global window.
    * SamplingSpec proves the result identical to the naive global
    * window at test scale and that no unpartitioned window reaches
    * the plan. */
  private[operators] val PackBudget = 4096L

  def shardPack(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"),
      hashKey(col("doc_id"), "pack").as("key"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    PrefixSum.runningSum(base, Seq(col("key"), col("doc_id")), "n_tokens", "cum_tokens")
      .withColumn("shard_id",
        floor((col("cum_tokens") - col("n_tokens")) / lit(PackBudget.toDouble)).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"), col("shard_id"))
  }

  /** The oracle states the SEMANTICS (one global running sum) — DuckDB
    * may evaluate it however it likes; the Spark side must only never
    * plan it that way. */
  val shardPackSql: String =
    s"""SELECT doc_id, n_tokens,
      |  CAST(SUM(n_tokens) OVER (ORDER BY key, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
      |  CAST(floor((CAST(SUM(n_tokens) OVER (ORDER BY key, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens)
      |    / ${PackBudget}.0) AS BIGINT) AS shard_id
      |FROM (
      |  SELECT doc_id, ${hashKeySql("doc_id", "pack")} AS key,
      |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      |  FROM documents
      |)""".stripMargin

  // ---- sample_bootstrap: deterministic Poisson bootstrap ---------------
  /** The distributed bootstrap (Poisson resampling — Chamandy et al.
    * 2012, "Estimating Uncertainty for Massive Data Streams"; the
    * method of choice at corpus scale because it needs NO global
    * coordination: each row draws its replicate multiplicity
    * k ~ Poisson(1) independently, one map pass for all R
    * replicates). Every draw is derandomized through the salted-md5
    * primitive, and the Poisson inverse-CDF is evaluated against
    * PRECOMPUTED integer thresholds (⌊cdf·2⁵²⌋, constants baked into
    * both engines' expressions) — no exp()/random() at runtime, so
    * the whole operator is integer-exact and FULLY oracled. Output:
    * per (source, replicate) the resampled token mean — the R-column
    * spread downstream reads as the bootstrap SE of the source's
    * mean document length. One shuffle on (source, replicate);
    * replicate fan-out is a bounded explode (R rows per doc). */
  private[operators] val BootstrapR = 8
  // ⌊CDF_Poisson(1)(k)·2⁵²⌋ for k = 0..7 (k ≥ 8 truncated: mass < 1e-5)
  private val PoissonCdfQ52: Seq[Long] = Seq(
    1656781714176974L, 3313563428353948L, 4141954285442435L,
    4418084571138597L, 4487117142562638L, 4500923656847446L,
    4503224742561580L, 4503553469092171L)

  def sampleBootstrap(s: SparkSession, dir: String): DataFrame = {
    val reps = explode(sequence(lit(0L), lit((BootstrapR - 1).toLong))).as("rep")
    val u52 = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":bs"), col("rep").cast("string")).cast("binary")), 1, 13), 16, 10)
      .cast("long")
    val k = PoissonCdfQ52.foldLeft(lit(0L)) { (acc, t) =>
      acc + when(u52 >= t, 1L).otherwise(0L)
    }
    docs(s, dir)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
        reps)
      .withColumn("k", k)
      .groupBy("source", "rep")
      .agg(sum("k").as("n_eff"),
        sum(col("k") * col("n_tokens")).as("rep_tokens"))
      // an all-zero replicate (P = e^-n, theoretical for tiny sources)
      // must yield NULL, not an engine-spelled Infinity
      .withColumn("rep_mean",
        when(col("n_eff") > 0L,
          col("rep_tokens").cast("double") / col("n_eff").cast("double")))
  }

  val sampleBootstrapSql: String = {
    val u = s"('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':bs' || CAST(r.rep AS VARCHAR)), 1, 13))::BIGINT"
    val k = PoissonCdfQ52.map(t => s"CASE WHEN $u >= $t THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""SELECT source, rep, CAST(SUM(k) AS BIGINT) AS n_eff,
      |  CAST(SUM(k * n_tokens) AS BIGINT) AS rep_tokens,
      |  CAST(CAST(SUM(k * n_tokens) AS BIGINT) AS DOUBLE)
      |    / CAST(NULLIF(CAST(SUM(k) AS BIGINT), 0) AS DOUBLE) AS rep_mean
      |FROM (
      |  SELECT d.source, r.rep, CAST($k AS BIGINT) AS k,
      |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_tokens
      |  FROM documents d, (SELECT unnest(generate_series(0, ${BootstrapR - 1})) AS rep) r
      |)
      |GROUP BY source, rep""".stripMargin
  }

  // ---- shard_tar: WebDataset-style tar shard sink -----------------------
  /** Shard directory, a [[graft.Stores]] path keyed by the documents'
    * content: one dir per session and dataset, deleted with the
    * session, so no run ever sees another run's shards. */
  private[graft] def tarShardDir(s: SparkSession, dir: String): String =
    graft.Stores.path(s, dir, "tar_shards", Seq("documents"))

  /** Materialize the shard_pack assignment as REAL training shards —
    * one POSIX-ustar tar per shard with a `{doc_id}.txt` member per
    * document in pack order, the WebDataset layout every large-scale
    * training loader consumes. One shuffle on shard_id, one writer
    * task per shard (exactly how WebDataset shards are produced at
    * any scale; the local store dir swaps for object storage without
    * touching the grouping). Emits the per-shard accounting the
    * loader's manifest needs: member count, payload bytes, and the
    * EXACT archive size.
    *
    * Oracle: the tar layout arithmetic is fixed (member = 512 +
    * ⌈bytes/512⌉·512, archive = Σ + 1024), so DuckDB recomputes
    * every emitted number from the fully-oracled shard_pack
    * assignment and UTF-8 byte lengths — the on-disk FORMAT verified
    * relationally. Byte-level fidelity (payload round-trip against
    * the table, header checksums, member order) is pinned by
    * SamplingSpec's read-back through [[graft.functions.TarShards]]. */
  def shardTar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // NO driver-side filesystem effects at plan-construction time:
    // directories are created idempotently inside the tasks
    val outPath = tarShardDir(s, dir)
    shardPack(s, dir).select("doc_id", "cum_tokens", "shard_id")
      .join(docs(s, dir).select("doc_id", "text"), "doc_id")
      .select(col("shard_id"), col("cum_tokens"), col("doc_id"), col("text"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val members = it.toArray.sortBy(t => (t._2, t._3))
        val entries = members.map(t => (s"${t._3}.txt", t._4.getBytes("UTF-8")))
        val tar = graft.functions.TarShards.archive(entries.toIndexedSeq)
        // atomic publish: a task killed mid-write must never leave a
        // torn .tar for a later reader — write aside, rename into
        // place; the tmp name carries the task ATTEMPT id so a
        // speculative or zombie duplicate of this task can never
        // interleave writes into the same tmp file before the move
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outPath))
        val tmpF = java.nio.file.Paths.get(outPath,
          f".shard-$shard%05d.tar.$attempt%d.tmp")
        java.nio.file.Files.write(tmpF, tar)
        java.nio.file.Files.move(tmpF,
          java.nio.file.Paths.get(outPath, f"shard-$shard%05d.tar"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        (shard, members.length.toLong,
          entries.map(_._2.length.toLong).sum, tar.length.toLong)
      }
      .toDF("shard_id", "n_docs", "payload_bytes", "tar_bytes")
  }

  val shardTarSql: String =
    s"""WITH sp AS (
      |${shardPackSql.linesIterator.map("  " + _).mkString("\n")}
      |)
      |SELECT sp.shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(strlen(d.text)) AS BIGINT) AS payload_bytes,
      |  CAST(SUM(512 + ((strlen(d.text) + 511) // 512) * 512) + 1024 AS BIGINT)
      |    AS tar_bytes
      |FROM sp JOIN documents d USING (doc_id)
      |GROUP BY sp.shard_id""".stripMargin

  // ---- shard_untar: distributed read-back of the tar shards ------------
  /** The matching SOURCE: read the WebDataset shards back
    * distributively — Spark's binaryFile source (one task per shard
    * file, embarrassingly parallel at any shard count), each task
    * parsing its archive with the checksum-validating
    * [[graft.functions.TarShards.parse]] and re-emitting (doc_id, text).
    * Builds the shards first (cheap, deterministic overwrite), so
    * the key is self-contained. NOTE the write/read contract: the
    * shard directory must be a filesystem every task AND the
    * driver's binaryFile listing can see — the driver-local store
    * root only works single-node (local mode); on a cluster the same
    * two operators run against a shared object-store/NFS path, nothing else
    * changes. Writes are atomic (write-aside + rename), so a reader
    * never sees a torn shard.
    *
    * Oracle: the round-trip identity itself — `SELECT doc_id, text
    * FROM documents`. A single corrupted byte anywhere in the
    * write→read path breaks the hash compare. */
  def shardUntar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // materialize the shards and collect THIS pack's shard ids (a
    // shard-cardinality collect) — the reader then loads exactly
    // those files, never an orphaned attempt tmp
    val shardIds = shardTar(s, dir).select("shard_id")
      .as[Long].collect().sorted
    val outDir = tarShardDir(s, dir)
    // a zero-shard manifest would otherwise surface as an opaque
    // empty-path AnalysisException from the binaryFile load (ADVICE r12)
    require(shardIds.nonEmpty,
      s"shard_untar: shardTar produced no shards under $outDir")
    s.read.format("binaryFile")
      .load(shardIds.map(id => f"$outDir/shard-$id%05d.tar"): _*)
      .select("content").as[Array[Byte]]
      .flatMap(bytes => graft.functions.TarShards.parse(bytes).map {
        case (name, data) =>
          (name.stripSuffix(".txt").toLong, new String(data, "UTF-8"))
      })
      .toDF("doc_id", "text")
  }

  val shardUntarSql: String = "SELECT doc_id, text FROM documents"

  // ---- shard_manifest: per-shard training-data manifest ----------------
  /** The manifest a training loader consumes alongside the packed
    * shards: per shard, its document count, token total, global
    * prefix-sum span, and an md5 over the member list in pack order —
    * the integrity line that catches a dropped/reordered document at
    * load time without re-reading shard payloads. One grouped pass
    * over the shard_pack assignment (shard-cardinality output); the
    * member digest folds the collect_list AFTER array_sort on the
    * (cum, doc) struct, so it is partition-order-independent. */
  def shardManifest(s: SparkSession, dir: String): DataFrame =
    shardPack(s, dir).groupBy("shard_id").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("shard_tokens"),
      min(col("cum_tokens")).as("first_cum"),
      max(col("cum_tokens")).as("last_cum"),
      md5(array_join(transform(
        array_sort(collect_list(struct(col("cum_tokens"), col("doc_id")))),
        x => x.getField("doc_id").cast("string")), ":").cast("binary"))
        .as("members_md5"))

  /** Every manifest line recomputed by DuckDB from the (fully
    * oracled) shard_pack dump — the same group pass, the same
    * pack-order digest. */
  val shardManifestSql: String =
    """SELECT shard_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
      |  CAST(MIN(cum_tokens) AS BIGINT) AS first_cum,
      |  CAST(MAX(cum_tokens) AS BIGINT) AS last_cum,
      |  md5(string_agg(CAST(doc_id AS VARCHAR), ':' ORDER BY cum_tokens, doc_id))
      |    AS members_md5
      |FROM read_parquet('{VERIFY_OUT}/shard_pack/*.parquet')
      |GROUP BY shard_id""".stripMargin

  // ---- sample_pps: probability-proportional-to-size sampling -----------
  /** Systematic PPS sampling over the token stream: lay a fixed grid
    * of sample points (anchor [[PpsOff]], step [[PpsStep]]) over the
    * global token prefix sum in hash order, and pick every document
    * whose token interval (cum - n, cum] contains a grid point —
    * n_picks doubles as the importance weight (a doc longer than the
    * step is picked multiple times). Selection probability is
    * proportional to token count, the estimator every
    * token-budget-aware corpus statistic wants; the RANDOMIZATION is
    * the hash ordering (the file's one primitive — systematic
    * sampling over a hash-shuffled arrangement is classic randomized
    * PPS), so the whole operator is integer arithmetic over the
    * distributed prefix sum: bit-exact cross-engine, no RNG, stable
    * per document under corpus growth of its prefix. Pure map after
    * the prefix sum — the same scale posture as shard_pack. */
  private[operators] val PpsStep = 512L
  private[operators] val PpsOff = 256L

  def samplePps(s: SparkSession, dir: String): DataFrame =
    ppsFromDocs(docs(s, dir))

  /** PPS over an arbitrary `(doc_id, text)` frame — split out so the
    * spec can drive it with corpora the parquet tables don't contain
    * (documents longer than [[PpsStep]] → multi-pick weights; corpus
    * appends → per-document pick stability). */
  private[graft] def ppsFromDocs(d: DataFrame): DataFrame = {
    val base = d.select(col("doc_id"),
      hashKey(col("doc_id"), "pps").as("key"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    // grid points <= x: zero below the anchor, else (x - off) div step + 1.
    // The step is a POWER OF TWO, so the double division is exact for
    // any token total below 2^53 and floor() equals integer division —
    // bit-identical to the oracle's BIGINT `//`.
    def gridUpTo(x: Column): Column =
      when(x < PpsOff, 0L)
        .otherwise(floor((x - lit(PpsOff)) / lit(PpsStep.toDouble)).cast("long") + 1L)
    PrefixSum.runningSum(base, Seq(col("key"), col("doc_id")), "n_tokens", "cum_tokens")
      .withColumn("n_picks",
        gridUpTo(col("cum_tokens")) - gridUpTo(col("cum_tokens") - col("n_tokens")))
      .filter(col("n_picks") >= 1)
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"), col("n_picks"))
  }

  /** Same semantics-stating global window as shard_pack's oracle. */
  val samplePpsSql: String = {
    def grid(x: String) =
      s"CASE WHEN $x < $PpsOff THEN 0 ELSE ($x - $PpsOff) // $PpsStep + 1 END"
    s"""SELECT doc_id, n_tokens, cum_tokens,
      |  ${grid("cum_tokens")} - ${grid("(cum_tokens - n_tokens)")} AS n_picks
      |FROM (
      |  SELECT doc_id, n_tokens,
      |    CAST(SUM(n_tokens) OVER (ORDER BY key, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM (
      |    SELECT doc_id, ${hashKeySql("doc_id", "pps")} AS key,
      |      CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      |    FROM documents
      |  )
      |) WHERE ${grid("cum_tokens")} - ${grid("(cum_tokens - n_tokens)")} >= 1""".stripMargin
  }

  // ---- sample_weighted: PPS-without-replacement, fixed K ---------------
  /** Sequential Poisson sampling (Ohlsson 1998): a fixed-size
    * probability-proportional-to-size sample WITHOUT replacement —
    * the weighted-document draw a mixture-building pipeline runs when
    * it wants exactly K docs biased by length/quality. Each document
    * gets priority `key = u / w` (u uniform, w = token count) and the
    * K smallest keys are the sample; selection probability is
    * asymptotically ∝ w (the estimator Efraimidis–Spirakis's
    * `u^(1/w)` targets, but WITHOUT transcendental functions: ln/pow
    * are libm-dependent and round differently across engines,
    * whereas IEEE 754 division is correctly rounded EVERYWHERE).
    * u is the first 13 hex digits of the salted md5 = an exact
    * 52-bit integer (fits a double losslessly), so `key` is
    * bit-identical in Spark and DuckDB and the oracle is FULL, not
    * value-only. Deterministic, seeded, stable per doc under corpus
    * growth (a doc's key never changes; only the cut moves).
    *
    * Scale: key assignment is a pure map; the K-smallest selection is
    * TakeOrdered (per-partition top-K, then a K-row driver merge) —
    * no global sort, no global window, no shuffle of the corpus. */
  private[operators] val WeightedK = 100

  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val u52 = conv(substring(hashKey(col("doc_id"), "sps"), 1, 13), 16, 10)
      .cast("long")
    val w = greatest(size(split(trim(col("text")), "\\s+")).cast("long"), lit(1L))
    docs(s, dir)
      .select(col("doc_id"), w.as("n_tokens"),
        (u52.cast("double") / w.cast("double")).as("key"))
      .orderBy(col("key"), col("doc_id"))
      .limit(WeightedK)
  }

  val sampleWeightedSql: String =
    s"""SELECT doc_id, n_tokens,
      |  CAST(u AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS key
      |FROM (
      |  SELECT doc_id,
      |    greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT), 1) AS n_tokens,
      |    ('0x' || substr(${hashKeySql("doc_id", "sps")}, 1, 13))::BIGINT AS u
      |  FROM documents
      |)
      |ORDER BY key, doc_id LIMIT $WeightedK""".stripMargin

  // ---- seq_pack: fixed-length training-sequence packing ----------------
  /** The step between shard_pack and the trainer: concatenate the
    * token stream in deterministic hash order and cut it into
    * FIXED-LENGTH sequences of [[SeqLen]] tokens (the context-window
    * packing every pretraining loader performs). Unlike shards —
    * where a document always lands whole — a document here SPANS
    * sequence boundaries, so the output is one row per (sequence,
    * document) SEGMENT: which slice of the doc ([doc_offset,
    * doc_offset + n_tok)) lands at which position of which sequence
    * (seq_offset). Every sequence is exactly full (the last one
    * excepted), every doc is tiled exactly once — SamplingSpec proves
    * both.
    *
    * All arithmetic is integer (floor division on the global token
    * prefix sum), riding the same distributed prefix sum as
    * shard_pack; the per-doc fan-out is ceil(n/L)+1 segments, so the
    * explode is bounded and the whole operator is a map stage after
    * the prefix sum. */
  private[operators] val SeqLen = 2048L

  def seqPack(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"),
      hashKey(col("doc_id"), "seqpack").as("key"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    PrefixSum.runningSum(base, Seq(col("key"), col("doc_id")), "n_tokens", "cum_tokens")
      .withColumn("start", col("cum_tokens") - col("n_tokens"))
      .withColumn("seq_id", explode(sequence(
        expr(s"start DIV $SeqLen"), expr(s"(cum_tokens - 1L) DIV $SeqLen"))))
      .withColumn("seg_start", greatest(col("start"), col("seq_id") * SeqLen))
      .withColumn("seg_end", least(col("cum_tokens"), (col("seq_id") + 1L) * SeqLen))
      .select(col("seq_id"), col("doc_id"), col("n_tokens"),
        (col("seg_start") - col("start")).as("doc_offset"),
        (col("seg_start") - col("seq_id") * SeqLen).as("seq_offset"),
        (col("seg_end") - col("seg_start")).as("n_tok"))
  }

  /** Semantics-stating oracle (global window + generate_series); the
    * Spark side must merely never PLAN the window that way. */
  val seqPackSql: String =
    s"""SELECT seq_id, doc_id, n_tokens,
      |  greatest(start, seq_id * $SeqLen) - start AS doc_offset,
      |  greatest(start, seq_id * $SeqLen) - seq_id * $SeqLen AS seq_offset,
      |  least(cum_tokens, (seq_id + 1) * $SeqLen)
      |    - greatest(start, seq_id * $SeqLen) AS n_tok
      |FROM (
      |  SELECT doc_id, n_tokens, cum_tokens, cum_tokens - n_tokens AS start,
      |    unnest(generate_series((cum_tokens - n_tokens) // $SeqLen,
      |      (cum_tokens - 1) // $SeqLen)) AS seq_id
      |  FROM (
      |    SELECT doc_id, n_tokens,
      |      CAST(SUM(n_tokens) OVER (ORDER BY key, doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |    FROM (
      |      SELECT doc_id, ${hashKeySql("doc_id", "seqpack")} AS key,
      |        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      |      FROM documents
      |    )
      |  )
      |)""".stripMargin

  // ---- mix_budget: per-source quality-ordered token budget --------------
  /** The data-mixing primitive of corpus assembly: within each source,
    * admit documents best-quality-first until the source's token
    * budget is exhausted (greedy prefix of the (quality DESC, doc_id)
    * order — kept iff the running token total stays within
    * [[MixBudget]]). Emits the full assignment table with the running
    * total, so downstream both filters on `kept` and audits how much
    * of each source's budget was used. The quality expression is the
    * curation pipeline's composite score, already proven bit-exact
    * cross-engine (dedup_canonical / text_pipeline oracles), so the
    * double ORDER BY is stable. The per-source running total rides
    * [[PrefixSum.runningSumKeyed]] — sources are few and huge, the
    * keyed-prefix machinery's exact use case. */
  private[operators] val MixBudget = 8192L

  def mixBudget(s: SparkSession, dir: String): DataFrame = {
    // per-source running total WITHOUT a per-source window (r14):
    // sources are few and huge, so Window.partitionBy(source) plans
    // ONE sorted task per source at corpus scale — the ccnet language
    // trap. PrefixSum.runningSumKeyed instead (range-partition on
    // (source, quality DESC, doc_id), bounded driver partials,
    // broadcast offsets); the cumsum is integer so values are
    // bit-identical to the window form.
    val scored = docs(s, dir).select(col("source"), col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("quality_score"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val (cum, _) = PrefixSum.runningSumKeyed(scored, Seq("source"),
      Seq(col("quality_score").desc, col("doc_id")), "n_tokens", "cum_tokens")
    cum.withColumn("kept", col("cum_tokens") <= MixBudget)
      .select("source", "doc_id", "quality_score", "n_tokens",
        "cum_tokens", "kept")
  }

  val mixBudgetSql: String =
    s"""SELECT source, doc_id, quality_score, n_tokens,
      |  CAST(SUM(n_tokens) OVER (PARTITION BY source
      |    ORDER BY quality_score DESC, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
      |  CAST(SUM(n_tokens) OVER (PARTITION BY source
      |    ORDER BY quality_score DESC, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) <= $MixBudget AS kept
      |FROM (
      |  SELECT source, doc_id,
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
      |      AS quality_score,
      |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      |  FROM documents
      |)""".stripMargin

  // ---- mix_curriculum: quality-ordered curriculum staging --------------
  /** Curriculum / annealing data ordering — the corpus-assembly step
    * after mixing: rank every document by the curation quality score
    * globally, cut the ranking into [[CurriculumStages]] equal-depth
    * stages (stage 1 = lowest quality, trained first; the top stage is
    * the high-quality annealing set modern pretraining recipes reserve
    * for the end of the run), and give each document a deterministic
    * within-stage shuffle key, so the full training order is the total
    * order (stage, shuffle_key, doc_id) — reproducible on any engine,
    * stable under re-runs, no RNG.
    *
    * The global rank is [[PrefixSum.runningSumWithTotal]] (range-
    * partition + broadcast offsets, never a single-task global
    * window); the stage cut is the same integer arithmetic as
    * q_histogram_eqdepth; the shuffle key is the corpus-wide salted
    * md5 primitive. Quality doubles are bit-exact cross-engine
    * (text_quality's oracle), so the double ORDER BY is stable and
    * the whole operator is FULLY oracled. */
  private[operators] val CurriculumStages = 4

  def mixCurriculum(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("quality_score"))
      .withColumn("one", lit(1L))
    val (ranked, n) = PrefixSum.runningSumWithTotal(base,
      Seq(col("quality_score"), col("doc_id")), "one", "rk")
    ranked.select(col("doc_id"), col("n_tokens"), col("quality_score"),
      col("rk"),
      (floor((col("rk") - 1) * CurriculumStages / lit(n.toDouble)) + 1)
        .cast("int").as("stage"),
      hashKey(col("doc_id"), "curr").as("shuffle_key"))
  }

  val mixCurriculumSql: String =
    s"""WITH qp AS (
      |  ${TextAnalysis.QualityPartsSubSql}
      |), q AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
      |    ${TextAnalysis.QualityScoreExprSql} AS quality_score
      |  FROM qp
      |), r AS (
      |  SELECT doc_id, n_tokens, quality_score,
      |    CAST(row_number() OVER (ORDER BY quality_score, doc_id) AS BIGINT) AS rk,
      |    COUNT(*) OVER () AS n
      |  FROM q
      |)
      |SELECT doc_id, n_tokens, quality_score, rk,
      |  CAST(floor((rk - 1) * $CurriculumStages / CAST(n AS DOUBLE)) + 1 AS INTEGER) AS stage,
      |  ${hashKeySql("doc_id", "curr")} AS shuffle_key
      |FROM r""".stripMargin

  // ---- mix_temperature: temperature-scaled source mixing weights -------
  /** The other half of corpus mixing (complement of mix_budget's
    * within-source admission): ACROSS sources, compute each source's
    * share of a fixed sampling budget under temperature smoothing —
    * p_s ∝ n_s^α with α = 1/2 (the standard multilingual-corpus
    * rebalancing rule: big sources are damped, small sources
    * up-weighted, exponent via exact integer sqrt so the whole
    * computation is engine-independent integer arithmetic). The
    * budget is apportioned by the largest-remainder (Hamilton)
    * method: base = ⌊B·w_s/W⌋ per source, the leftover seats go to
    * the largest remainders (source-name tie-break), so Σalloc = B
    * exactly — no float rounding drift ever reaches the allocation.
    *
    * Scale: everything after the one per-source token count (a
    * partial→final agg over the corpus) operates on the per-SOURCE
    * table, whose size is the source cardinality — bounded, tiny,
    * broadcast. The remainder ranking is a broadcast theta-join count
    * rather than an unpartitioned window, so no single-partition
    * window stage exists even formally. */
  private[operators] val MixTempBudget = 4096L

  /** Exact integer sqrt: double sqrt seeded, ±1-corrected by integer
    * comparisons — bit-exact on both engines for any BIGINT total. */
  private def isqrt(n: Column): Column = {
    val g0 = floor(sqrt(n.cast("double"))).cast("long")
    val g1 = when((g0 + 1) * (g0 + 1) <= n, g0 + 1).otherwise(g0)
    when(g1 * g1 > n, g1 - 1).otherwise(g1)
  }

  def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    val B = MixTempBudget
    val per = docs(s, dir).groupBy("source")
      .agg(sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("n_tokens"))
      .withColumn("weight", isqrt(col("n_tokens")))
    val tot = per.agg(sum("weight").as("w_total"))
    val based = per.crossJoin(broadcast(tot))
      .withColumn("base_quota", expr(s"($B * weight) div w_total"))
      .withColumn("remainder", expr(s"($B * weight) % w_total"))
      .drop("w_total")
    val leftover = based.agg((lit(B) - sum("base_quota")).as("leftover"))
    val ahead = based.join(
        broadcast(based.select(col("source").as("s2"), col("remainder").as("r2"))),
        col("r2") > col("remainder") ||
          (col("r2") === col("remainder") && col("s2") < col("source")),
        "left")
      .groupBy("source", "n_tokens", "weight", "base_quota", "remainder")
      .agg(count(col("s2")).as("ahead"))
    ahead.crossJoin(broadcast(leftover))
      .select(col("source"), col("n_tokens"), col("weight"),
        col("base_quota"), col("remainder"),
        (col("ahead") + 1L).as("rem_rank"),
        (col("ahead") < col("leftover")).as("extra"),
        (col("base_quota") +
          when(col("ahead") < col("leftover"), 1L).otherwise(0L)).as("alloc"))
  }

  val mixTemperatureSql: String =
    s"""WITH per AS (
      |  SELECT source,
      |    CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |), w AS (
      |  SELECT source, n_tokens,
      |    CASE WHEN g1 * g1 > n_tokens THEN g1 - 1 ELSE g1 END AS weight
      |  FROM (
      |    SELECT source, n_tokens,
      |      CASE WHEN (g0 + 1) * (g0 + 1) <= n_tokens THEN g0 + 1 ELSE g0 END AS g1
      |    FROM (
      |      SELECT source, n_tokens,
      |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS g0
      |      FROM per
      |    )
      |  )
      |), t AS (SELECT CAST(SUM(weight) AS BIGINT) AS w_total FROM w),
      |q AS (
      |  SELECT w.source, w.n_tokens, w.weight,
      |    CAST(($MixTempBudget * w.weight) // t.w_total AS BIGINT) AS base_quota,
      |    CAST(($MixTempBudget * w.weight) % t.w_total AS BIGINT) AS remainder
      |  FROM w, t
      |), l AS (
      |  SELECT CAST($MixTempBudget - SUM(base_quota) AS BIGINT) AS leftover FROM q
      |), r AS (
      |  SELECT q.*, CAST(ROW_NUMBER() OVER (ORDER BY remainder DESC, source)
      |    AS BIGINT) AS rem_rank
      |  FROM q
      |)
      |SELECT source, n_tokens, weight, base_quota, remainder, rem_rank,
      |  rem_rank <= l.leftover AS extra,
      |  CAST(base_quota + CASE WHEN rem_rank <= l.leftover THEN 1 ELSE 0 END
      |    AS BIGINT) AS alloc
      |FROM r, l""".stripMargin

  // ---- mix_epochs: per-source epoch-repetition plan ---------------------
  /** Epoch-repetition mixing — the step that turns mix_temperature's
    * ACROSS-source token allocation into a per-DOCUMENT repeat count
    * (the "how many epochs of Wikipedia vs one pass of CommonCrawl"
    * schedule every pretraining recipe publishes): the total corpus
    * token count is re-apportioned across sources under √-temperature
    * smoothing (small sources up-weighted past 1 epoch, huge sources
    * damped below 1), then each source's allocation becomes
    * `full_epochs = alloc div src_tokens` whole passes plus a partial
    * pass of `alloc mod src_tokens` tokens filled by the deterministic
    * hash-order prefix of its documents (the sample_hash primitive —
    * reproducible, growth-stable, no RNG). Every document's repeat
    * count is `full_epochs + (1 iff in the partial-pass prefix)`.
    *
    * Scale: one partial→final token agg over the corpus, the
    * source-cardinality allocation table broadcast (the
    * mix_temperature shape — the largest-remainder rank is a
    * broadcast theta-join, never an unpartitioned window), then the
    * per-source prefix cumsum through
    * [[PrefixSum.runningSumKeyed]] (few-huge sources — the keyed
    * prefix machinery, not a one-task-per-source window). Integer
    * arithmetic end-to-end —
    * exact-sqrt weights, floor division, no float rounding — so the
    * operator is FULLY oracled. */
  def mixEpochs(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("source"), col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    // ONE corpus pass: the keyed prefix cumsum's per-source totals ARE
    // src_tokens (runningSumKeyed computes them for the offsets
    // anyway), so the allocation table derives from the returned
    // totals frame instead of a second full groupBy over base
    // (review r14 #2)
    val (cum, totals) = PrefixSum.runningSumKeyed(
      base.withColumn("epoch_key", hashKey(col("doc_id"), "epoch")),
      Seq("source"), Seq(col("epoch_key"), col("doc_id")),
      "n_tokens", "cum_tokens")
    val per = totals.withColumnRenamed("__total", "src_tokens")
      .withColumn("weight", isqrt(col("src_tokens")))
    val tot = per.agg(sum("weight").as("w_total"), sum("src_tokens").as("budget"))
    val based = per.crossJoin(broadcast(tot))
      .withColumn("base_quota", expr("(budget * weight) div w_total"))
      .withColumn("remainder", expr("(budget * weight) % w_total"))
    val leftover = based.agg((max("budget") - sum("base_quota")).as("leftover"))
    val alloc = based.join(
        broadcast(based.select(col("source").as("s2"), col("remainder").as("r2"))),
        col("r2") > col("remainder") ||
          (col("r2") === col("remainder") && col("s2") < col("source")),
        "left")
      .groupBy("source", "src_tokens", "base_quota", "remainder")
      .agg(count(col("s2")).as("ahead"))
      .crossJoin(broadcast(leftover))
      .withColumn("alloc", col("base_quota") +
        when(col("ahead") < col("leftover"), 1L).otherwise(0L))
      .select(col("source"), col("src_tokens"), col("alloc"),
        expr("alloc div src_tokens").as("full_epochs"),
        expr("alloc % src_tokens").as("rem_tokens"))
    // null-SAFE alloc attach: runningSumKeyed treats a null source as
    // a real group (its documented contract) — plain equality here
    // would hand a null-source row a cum_tokens and then silently
    // drop it (review r14 #2)
    cum
      .join(broadcast(alloc.withColumnRenamed("source", "__asrc")),
        col("source") <=> col("__asrc"))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("epoch_key"),
        col("cum_tokens"), col("src_tokens"), col("alloc"), col("full_epochs"),
        (col("cum_tokens") <= col("rem_tokens")).as("extra"),
        (col("full_epochs") +
          when(col("cum_tokens") <= col("rem_tokens"), 1L).otherwise(0L))
          .as("n_repeats"))
  }

  val mixEpochsSql: String =
    s"""WITH base AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), per AS (
      |  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
      |  FROM base GROUP BY source
      |), w AS (
      |  SELECT source, src_tokens,
      |    CASE WHEN g1 * g1 > src_tokens THEN g1 - 1 ELSE g1 END AS weight
      |  FROM (
      |    SELECT source, src_tokens,
      |      CASE WHEN (g0 + 1) * (g0 + 1) <= src_tokens THEN g0 + 1 ELSE g0 END AS g1
      |    FROM (
      |      SELECT source, src_tokens,
      |        CAST(floor(sqrt(CAST(src_tokens AS DOUBLE))) AS BIGINT) AS g0
      |      FROM per
      |    )
      |  )
      |), t AS (
      |  SELECT CAST(SUM(weight) AS BIGINT) AS w_total,
      |    (SELECT CAST(SUM(src_tokens) AS BIGINT) FROM w) AS budget
      |  FROM w
      |), q AS (
      |  SELECT w.source, w.src_tokens,
      |    CAST((t.budget * w.weight) // t.w_total AS BIGINT) AS base_quota,
      |    CAST((t.budget * w.weight) % t.w_total AS BIGINT) AS remainder
      |  FROM w, t
      |), l AS (
      |  SELECT CAST((SELECT budget FROM t) - SUM(base_quota) AS BIGINT) AS leftover
      |  FROM q
      |), a AS (
      |  SELECT source, src_tokens,
      |    CAST(base_quota + CASE WHEN
      |      ROW_NUMBER() OVER (ORDER BY remainder DESC, source) <= l.leftover
      |      THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |  FROM q, l
      |), e AS (
      |  SELECT source, src_tokens, alloc,
      |    CAST(alloc // src_tokens AS BIGINT) AS full_epochs,
      |    CAST(alloc % src_tokens AS BIGINT) AS rem_tokens
      |  FROM a
      |), c AS (
      |  SELECT base.*, ${hashKeySql("doc_id", "epoch")} AS epoch_key,
      |    CAST(SUM(n_tokens) OVER (PARTITION BY source
      |      ORDER BY ${hashKeySql("doc_id", "epoch")}, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_tokens
      |  FROM base
      |)
      |SELECT c.source, c.doc_id, c.n_tokens, c.epoch_key, c.cum_tokens,
      |  e.src_tokens, e.alloc, e.full_epochs,
      |  c.cum_tokens <= e.rem_tokens AS extra,
      |  CAST(e.full_epochs + CASE WHEN c.cum_tokens <= e.rem_tokens
      |    THEN 1 ELSE 0 END AS BIGINT) AS n_repeats
      |FROM c JOIN e USING (source)""".stripMargin

  // ---- mix_dsir: hashed-n-gram importance resampling (DSIR) ------------
  /** DSIR (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): score every raw document by how much it
    * looks like a TARGET corpus under two bag-of-hashed-n-grams
    * unigram models, then resample ∝ the importance weight. Features
    * are unigrams + word bigrams hashed into [[DsirBuckets]] buckets
    * (md5 prefix, the file's cross-engine randomness primitive);
    * target = the `lang = 'en'` slice (stand-in for "high-quality
    * reference corpus"), raw = the whole corpus. Per bucket b the
    * log-likelihood ratio is ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B))
    * (add-one smoothing), and a document's log-weight is the
    * c_b-weighted sum — DSIR eq. (3) specialised to unigram models
    * over hashed features, exactly the paper's instantiation.
    * Resampling is sampling-without-replacement ∝ softmax(logw) via
    * the Gumbel-top-K identity: key = logw + Gumbel(md5-uniform),
    * take the K largest keys — deterministic because the Gumbel
    * uniform derives from the salted doc hash, not an RNG.
    *
    * Scale: the feature stream shuffles once on (doc_id, bucket)
    * with map-side combine; both unigram models are BUCKET-sized
    * (B rows — bounded state regardless of corpus size, the whole
    * point of hashed features) and broadcast back; the global top-K
    * rank rides [[PrefixSum.runningSumWithTotal]] (range partition +
    * broadcast offsets), never a single-task global window. At
    * 100 TB: one map pass + one bounded-key shuffle + a B-row
    * broadcast — the paper's own posture (they stream 400 GB of
    * Pile through fixed 10k-bucket models).
    *
    * Oracle: bucket ids, counts, and both model tables are exact
    * integer arithmetic recomputed by DuckDB; logw/sel_key cross
    * engines through ln(), so the oracle recomputes both and
    * FILTERS on |echo − recompute| ≤ 1e-9·max(1,|·|) (the
    * text_perplexity certificate pattern), then re-derives rank and
    * selection from the ECHOED sel_key — bit-identical by
    * construction. */
  private[operators] val DsirBuckets = 256
  private[operators] val DsirK = 100
  private val DsirTargetLang = "en"
  private val Two52 = 4503599627370496.0 // 2^52, top 13 md5 hex chars

  def mixDsir(s: SparkSession, dir: String): DataFrame = {
    val ts = graft.functions.TextFns.tokens(col("text"))
    val bigrams = when(size(ts) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(ts) - 1),
        i => concat(element_at(ts, i), lit("_"), element_at(ts, i + 1))))
    val feats = docs(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(concat(ts, bigrams)).as("f"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(concat(col("f"), lit(":dsir")).cast("binary")),
          1, 4), 16, 10).cast("long") % DsirBuckets).as("b"))
    // ONE tokenize+hash pass: everything downstream (both models,
    // totals, the per-doc score) derives from this bounded table
    // (≤ B rows per doc, ~32 B each — far smaller than the text it
    // summarizes), eagerly checkpointed so the explode subtree is
    // never recomputed (unchecked it ran 5×: r11q bench 11.0 s → this)
    val perDoc = feats.groupBy("doc_id", "lang", "b")
      .agg(count(lit(1)).as("c")).localCheckpoint(true)
    val rawB = perDoc.groupBy("b").agg(sum("c").as("r"))
    val tgtB = perDoc.filter(col("lang") === DsirTargetLang)
      .groupBy("b").agg(sum("c").as("t"))
    val models = rawB.join(tgtB, Seq("b"), "left")
      .select(col("b"), col("r"), coalesce(col("t"), lit(0L)).as("t"))
    val totals = models.agg(sum("r").as("rt"), sum("t").as("tt"))
    val lr = models.crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("t") + lit(1L)).cast("double") /
            (col("tt").cast("double") + lit(DsirBuckets.toDouble))) -
          log((col("r") + lit(1L)).cast("double") /
            (col("rt").cast("double") + lit(DsirBuckets.toDouble)))).as("lr"))
    val scored = perDoc.join(broadcast(lr), "b")
      .groupBy("doc_id").agg(
        sum("c").as("n_feats"),
        sum(col("c").cast("double") * col("lr")).as("logw"))
    val u = (conv(substring(hashKey(col("doc_id"), "dsg"), 1, 13), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(Two52)
    val keyed = scored
      .withColumn("sel_key", col("logw") - log(-log(u)))
      .withColumn("one", lit(1L))
    val (ranked, _) = PrefixSum.runningSumWithTotal(keyed,
      Seq(negate(col("sel_key")), col("doc_id")), "one", "rk")
    ranked.select(col("doc_id"), col("n_feats"), col("logw"),
      col("sel_key"), col("rk"), (col("rk") <= DsirK).as("selected"))
  }

  val mixDsirSql: String =
    s"""WITH p AS (
      |  SELECT doc_id, n_feats, logw, sel_key
      |  FROM read_parquet('{VERIFY_OUT}/mix_dsir/*.parquet')
      |), toks AS (
      |  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS ts
      |  FROM documents
      |), feats AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(f || ':dsir'), 1, 4))::BIGINT % $DsirBuckets AS b
      |  FROM (
      |    SELECT doc_id, lang,
      |      unnest(list_concat(ts, CASE WHEN len(ts) < 2 THEN CAST([] AS VARCHAR[])
      |        ELSE list_transform(range(1, len(ts)), i -> ts[i] || '_' || ts[i+1])
      |        END)) AS f
      |    FROM toks
      |  )
      |), dc AS (
      |  SELECT doc_id, b, COUNT(*) AS c FROM feats GROUP BY doc_id, b
      |), m AS (
      |  SELECT b, COUNT(*) AS r,
      |    COUNT(*) FILTER (WHERE lang = '$DsirTargetLang') AS t
      |  FROM feats GROUP BY b
      |), tot AS (
      |  SELECT CAST(SUM(r) AS BIGINT) AS rt, CAST(SUM(t) AS BIGINT) AS tt FROM m
      |), lr AS (
      |  SELECT m.b,
      |    ln(CAST(m.t + 1 AS DOUBLE) / (CAST(tot.tt AS DOUBLE) + $DsirBuckets.0))
      |      - ln(CAST(m.r + 1 AS DOUBLE) / (CAST(tot.rt AS DOUBLE) + $DsirBuckets.0)) AS lr
      |  FROM m CROSS JOIN tot
      |), x AS (
      |  SELECT dc.doc_id, CAST(SUM(dc.c) AS BIGINT) AS n_feats,
      |    SUM(CAST(dc.c AS DOUBLE) * lr.lr) AS logw_x
      |  FROM dc JOIN lr USING (b) GROUP BY dc.doc_id
      |), xx AS (
      |  SELECT x.doc_id, x.n_feats, x.logw_x,
      |    x.logw_x - ln(-ln((('0x' || substr(${hashKeySql("x.doc_id", "dsg")}, 1, 13))::BIGINT
      |      + 0.5) / $Two52)) AS key_x
      |  FROM x
      |), ok AS (
      |  SELECT p.doc_id, p.n_feats, p.logw, p.sel_key
      |  FROM p JOIN xx USING (doc_id)
      |  WHERE p.n_feats = xx.n_feats
      |    AND abs(p.logw - xx.logw_x) <= 1e-9 * greatest(abs(xx.logw_x), 1.0)
      |    AND abs(p.sel_key - xx.key_x) <= 1e-9 * greatest(abs(xx.key_x), 1.0)
      |), r AS (
      |  SELECT doc_id, n_feats, logw, sel_key,
      |    CAST(row_number() OVER (ORDER BY sel_key DESC, doc_id) AS BIGINT) AS rk
      |  FROM ok
      |)
      |SELECT doc_id, n_feats, logw, sel_key, rk, rk <= $DsirK AS selected
      |FROM r""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("mix_dsir", mixDsir, mixDsirSql),
    Key("mix_temperature", mixTemperature, mixTemperatureSql),
    Key("mix_epochs", mixEpochs, mixEpochsSql),
    Key("sample_hash", sampleHash, sampleHashSql),
    Key("sample_split", sampleSplit, sampleSplitSql),
    Key("sample_stratified", sampleStratified, sampleStratifiedSql),
    Key("shard_pack", shardPack, shardPackSql),
    Key("shard_manifest", shardManifest, shardManifestSql),
    Key("shard_tar", shardTar, shardTarSql),
    Key("shard_untar", shardUntar, shardUntarSql),
    Key("sample_bootstrap", sampleBootstrap, sampleBootstrapSql),
    Key("sample_pps", samplePps, samplePpsSql),
    Key("sample_weighted", sampleWeighted, sampleWeightedSql),
    Key("seq_pack", seqPack, seqPackSql),
    Key("mix_budget", mixBudget, mixBudgetSql),
    Key("mix_curriculum", mixCurriculum, mixCurriculumSql))
}
