package graft

import org.apache.spark.sql.SparkSession

/** The ONE contract-session builder shared by every main
  * (Bench / Verify / PlanDump / TimeQuery).
  *
  * Round 7 showed why this must be a single definition: TimeQuery
  * omitted `spark.sql.extensions`, so "isolated" timings ran
  * DIFFERENT plans than shipped bench runs for every query the
  * injected optimizer rules touch (q_fuzzy_join's LevenshteinBound
  * length-gap conjunct), and omitted the periodicGC interval, so it
  * skewed differently under checkpoint pressure. Any main that
  * builds its own session will drift again — all four now call here.
  */
object Sessions {

  /** The local filesystem, for both Hadoop APIs: [[NioLocalFileSystem]]
    * (`FileSystem`, used by parquet reads and writes) and [[NioLocalFs]]
    * (`FileContext`, used by Structured Streaming's offset and commit
    * logs and the five-stage `frontier.rec`). Without `libhadoop` the
    * stock classes fork a shell for every permission they set (`chmod`
    * on each create and mkdir) and `readlink` eight times per
    * `FileContext.rename`: a traced five-stage Dedup trigger forked 47
    * times (1,327 forks in a 20 s run, about 4 ms each), spread over the
    * offset WAL, the commit log, `frontier.rec` and the parquet commits.
    * The replacements do the same through java.nio; every byte on disk,
    * `.crc` sidecars included, stays the same. One map, so the test
    * session runs on the same filesystem as every main. */
  val localFs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** Contract config, identical across mains:
    *   - graft.GraftExtensions: the injected optimizer rules
    *     (plans/LevenshteinBound et al.) that shipped plans rely on;
    *   - shuffle.partitions = cores (never the 200 default — local
    *     mode, and the driver contract pins it);
    *   - AQE + partition coalescing on (runtime re-plan, skew);
    *   - periodicGC 30s: the ContextCleaner only reclaims broadcast/
    *     shuffle/checkpoint blocks after a DRIVER GC notices dead
    *     references; an idle large heap may never GC on its own, so
    *     executor-side blocks otherwise accumulate across hundreds of
    *     passes (default periodicGC is 30 min — longer than a bench);
    *   - UTC session timezone (oracle parity), UI off;
    *   - the fork-free local filesystem ([[localFs]]).
    */
  def contract(master: String, cpus: String, appName: String,
               overrides: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.cleaner.periodicGC.interval", "30s")
      // Tables.events must read either generator vintage of
      // events.parquet: TIMESTAMP(NANOS) (needs this legacy flag to
      // load as INT64 nanos) or plain TIMESTAMP[us] (flag is a
      // no-op). Set here so loaders stay pure — no conf.set outside
      // Sessions.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // write timestamps as annotated INT64 micros, not legacy INT96:
      // INT96 carries NO usable min/max stats, which silently disables
      // parquet row-group skipping on every time predicate over our own
      // ingests (q_zorder_skip's box pruning measurably needs ts stats)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(localFs)
    // documented per-harness deltas (RefCompare) — conf mutation
    // stays HERE so no main ever calls conf.set (r9 advice item 7)
    val spark = overrides.foldLeft(builder) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Common case: local[cpus] with cpus from the env contract.
    * Default 32 = the DRIVER's bench setting (BENCH_rN.json cpus: 32):
    * an un-enved local run must measure the same configuration the
    * round artifact does, or local numbers are 4-core phantoms — a
    * 74.7 s "full bench" this round turned out to be local[4] with 4
    * shuffle partitions, and a scale smoke OOM'd purely from the
    * 4-partition aggregate granularity. */
  def contractLocal(appName: String, defaultCpus: String = "32",
                    overrides: Map[String, String] = Map.empty): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    // SPARK_GRAFT_CONF="k=v;k=v": documented env passthrough for
    // deployment-specific settings (cluster shuffle sizing, codec
    // choices) and for conf A/B experiments — the contract defaults
    // above stay the local bench configuration, so driver runs are
    // unaffected unless the env explicitly says otherwise.
    val envConf = sys.env.get("SPARK_GRAFT_CONF").map(_.split(";").toSeq
        .map(_.trim).filter(_.nonEmpty).map { kv =>
          val Array(k, v) = kv.split("=", 2); k.trim -> v.trim
        }.toMap).getOrElse(Map.empty)
    contract(s"local[$cpus]", cpus, appName, envConf ++ overrides)
  }
}
