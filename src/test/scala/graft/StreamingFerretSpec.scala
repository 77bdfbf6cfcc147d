package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.StreamingPipelines

class StreamingFerretSpec extends SparkSpec {

  test("streaming ferret matches the batch two-phase search batch-by-batch") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("v"))
    val qIds = Seq(1L, 3L, 5L, 7L, 11L, 13L)
    val queryVecs = emb.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val batchResult = Similarity.lshSearch(emb, queryVecs)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val source = MemoryStream[Long]
    val collected = scala.collection.mutable.Set[(Long, Long, Int)]()
    val q = StreamingPipelines.ferretStream(
      source.toDF().toDF("query_id"),
      batch => Similarity.lshSearch(emb,
        batch.join(emb.select(col("vec_id").as("query_id"), col("v").as("qv")), "query_id")),
      (out: DataFrame, _: Long) => collected.synchronized {
        collected ++= out.select("query_id", "vec_id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      })
    qIds.grouped(2).foreach(source.addData(_))
    q.processAllAvailable()
    q.stop()
    assert(collected.toSet == batchResult,
      s"stream=${collected.size} batch=${batchResult.size}")
  }

  test("stream_ferret (registered) equals ferret_pipeline's batch result on the same query set") {
    // the stream twin's whole claim: replaying the query batch
    // through the file-source stream and probing per micro-batch
    // yields EXACTLY the batch search — per-query top-k is
    // independent of batch composition, and the promoted multiprobe
    // family is the same on both paths
    def keyOf(df: DataFrame) = df.select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val stream = keyOf(graft.operators.StreamingOps.streamFerret(spark, sfDir))
    val batch = keyOf(Similarity.ferretPipeline(spark, sfDir))
    assert(stream.nonEmpty, "stream_ferret returned no rows")
    assert(stream == batch,
      s"stream=${stream.size} batch=${batch.size}; " +
        s"onlyStream=${(stream -- batch).take(5)} onlyBatch=${(batch -- stream).take(5)}")
  }

  test("throughput harness reports latency percentiles") {
    import spark.implicits._
    val evs = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamingPipelines.Ev].collect().take(600).toSeq
    val r = StreamingPipelines.throughputBench(spark, evs, 200, "lat",
      StreamingPipelines.windowAgg)
    assert(r.batch_ms_p50 > 0 && r.batch_ms_p95 >= r.batch_ms_p50)
  }
}
