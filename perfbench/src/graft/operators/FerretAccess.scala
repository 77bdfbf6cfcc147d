package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's handle on the resident-index ferret search, which
  * the program keeps `private[operators]`: this object lives in the
  * same package, so the program's visibility stays as it is. */
object FerretAccess {
  /** A built [[Similarity.FerretIndex]]. */
  final class Index private[FerretAccess] (private[operators] val idx: Similarity.FerretIndex)

  /** Build the index over `corpus` (`vec_id`, `v`), as `stream_ferret` does. */
  def index(corpus: DataFrame): Index = new Index(Similarity.ferretIndex(corpus))

  /** Top-[[Similarity.TopK]] of each query (`query_id`, `qv`) through the
    * index: `query_id`, `vec_id`, `cos`, `rank`. */
  def search(index: Index, corpus: DataFrame, queries: DataFrame): DataFrame =
    Similarity.ferretSearchIndexed(index.idx, corpus, queries, broadcastQueries = true)

  /** The per-trigger settings `stream_ferret` scopes around its drain. */
  def triggerConf(s: SparkSession, corpusN: Long, perTrigger: Long): Map[String, String] =
    StreamingOps.ferretInnerConf(s, corpusN, perTrigger)
}
