package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AnalyticsExtras, Curation, Dedup, Diagnostics, GraphOps, Multimodal, OlapExtras, Relational, Sampling, Similarity, StorageLayout, StreamingOps, TextAnalysis}
import graft.sources.BinaryFiles

/** The one key catalog. Each registration module declares its keys
  * once, in its `keys` list: the query a key builds, its DuckDB
  * oracle, its kind and the pre-warm hooks whose stores it reads. The
  * driver contract's two maps ([[SparkEntry.queries]],
  * [[SparkEntry.oracleSql]]) and every caller that treats some keys
  * differently (Bench, Verify, PlanAudit, PlanTimeProbe, the plan
  * specs) derive from this one list. */
object Catalog {

  /** What a caller must know about a key beyond its query. Each flag
    * has a reader; a kind is a distinct combination of them. */
  sealed abstract class Kind(
      /** Building the DataFrame runs a stream's whole drain, so there is
        * no plan left to time (PlanTimeProbe skips the key). */
      val drainsAtBuild: Boolean,
      /** A self-measuring harness: Bench measures it once and never
        * re-runs it in isolation; PlanAudit and the plan specs skip it,
        * since its "plan" is a fixed-duration run, not a query. */
      val harness: Boolean,
      /** Bench runs a warm-up pass before measuring. */
      val warmUp: Boolean)

  object Kind {
    case object Query extends Kind(drainsAtBuild = false, harness = false, warmUp = true)
    case object Drain extends Kind(drainsAtBuild = true, harness = false, warmUp = true)
    case object Harness extends Kind(drainsAtBuild = true, harness = true, warmUp = true)
    /** A fixed wall-clock run: a warm-up pass would double its cost for
      * no codegen gain (the soaks warm their own batch plans before
      * they start). */
    case object Soak extends Kind(drainsAtBuild = true, harness = true, warmUp = false)
    val all: Seq[Kind] = Seq(Query, Drain, Harness, Soak)
  }

  /** A module's pre-warm hook: builds that module's one-time stores
    * (minhash signatures, media files, layouts, indexes) untimed. */
  sealed abstract class Store(val tag: String, val warm: (SparkSession, String) => Unit)

  object Store {
    case object Dedup extends Store("dedup", (s, d) => operators.Dedup.prewarmStores(s, d))
    case object Multimodal
      extends Store("multimodal", (s, d) => operators.Multimodal.prewarmStores(s, d))
    case object StorageLayout
      extends Store("storage-layout", (s, d) => operators.StorageLayout.prewarmStores(s, d))
    case object Similarity
      extends Store("similarity", (s, d) => operators.Similarity.prewarmStores(s, d))
    case object Curation
      extends Store("curation", (s, d) => operators.Curation.prewarmStores(s, d))
    /** The order Bench runs the hooks in. */
    val all: Seq[Store] = Seq(Dedup, Multimodal, StorageLayout, Similarity, Curation)
  }

  final case class Key(name: String, build: (SparkSession, String) => DataFrame,
      oracle: String, kind: Kind = Kind.Query, stores: Seq[Store] = Nil)

  /** `keys` as one list, refusing a name declared twice: merged maps
    * would keep one of the two silently, and could pair one module's
    * query with another module's oracle. */
  def of(keys: Seq[Key]): Seq[Key] = {
    val twice = keys.groupBy(_.name).collect { case (n, ks) if ks.size > 1 => n }
    require(twice.isEmpty, s"keys declared more than once: ${twice.toSeq.sorted.mkString(", ")}")
    keys
  }

  lazy val keys: Seq[Key] = of(
    Relational.keys ++ Dedup.keys ++ Similarity.keys ++ TextAnalysis.keys ++
      Multimodal.keys ++ StreamingOps.keys ++ BinaryFiles.keys ++
      OlapExtras.keys ++ AnalyticsExtras.keys ++ Curation.keys ++
      Sampling.keys ++ StorageLayout.keys ++ GraphOps.keys ++ Diagnostics.keys)

  /** The keys a comma-separated filter knob names, in name order; every
    * key when the knob is unset. A name the catalog does not hold fails,
    * so a typo cannot turn into an empty run that exits 0. */
  def selection(knob: String, value: Option[String]): Seq[Key] = {
    val sorted = keys.sortBy(_.name)
    value.fold(sorted) { v =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- keys.map(_.name)
      require(names.nonEmpty, s"$knob='$v' names no key")
      require(unknown.isEmpty, s"$knob names unknown keys: ${unknown.toSeq.sorted.mkString(", ")}")
      sorted.filter(k => names(k.name))
    }
  }

  /** The pre-warm hooks `selected` reads, in Bench's order. */
  def storesOf(selected: Seq[Key]): Seq[Store] =
    Store.all.filter(st => selected.exists(_.stores.contains(st)))
}
