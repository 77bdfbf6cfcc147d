package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** `RefFerret.run` end to end on a small synthetic corpus: the db
  * build, the timed passes and the `topk/` output. Query i is db
  * image i byte for byte, so its twin must rank first at EMD 0. */
class RefFerretRunSpec extends SparkSpec {

  test("RefFerret.run ranks each query's byte-identical twin first and writes topK rows per query") {
    import spark.implicits._
    val base = tempDir("refferret")
    val dbDir = Files.createDirectories(Paths.get(base, "db"))
    val qDir = Files.createDirectories(Paths.get(base, "queries"))
    (0L until 24L).foreach(id =>
      Files.write(dbDir.resolve(f"img_$id%06d.jpg"), RefFerret.synthImage(id)))
    (0L until 8L).foreach(id =>
      Files.write(qDir.resolve(f"img_$id%06d.jpg"), RefFerret.synthImage(id)))
    val topK = 3
    val before = spark.sparkContext.getPersistentRDDs.keySet
    RefFerret.run(spark, dbDir.toString, qDir.toString, topK, passes = 2, s"$base/out")
    val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
    // the db vecsets' localCheckpoint is the one RDD the db build
    // keeps; the passes persist nothing
    assert(left.size == 1, s"persisted after run: ${left.values.mkString(", ")}")
    left.values.foreach(_.unpersist(blocking = true))

    val rows = spark.read.parquet(s"$base/out/topk")
      .select(col("query_img"), col("cand_img"), col("emd"), col("rank"))
      .as[(String, String, Double, Int)].collect()
    val byQuery = rows.groupBy(_._1)
    val queries = (0 until 8).map(id => f"img_$id%06d.jpg")
    assert(byQuery.keySet == queries.toSet)
    queries.foreach { q =>
      val ranked = byQuery(q).sortBy(_._4)
      assert(ranked.map(_._4).toSeq == (1 to topK), s"$q: ranks ${ranked.map(_._4).mkString(",")}")
      assert(ranked.head._2 == q && ranked.head._3 == 0.0,
        s"$q: rank 1 is ${ranked.head._2} at emd ${ranked.head._3}")
      ranked.foreach(r =>
        assert(Files.exists(dbDir.resolve(r._2)), s"$q: candidate ${r._2} is not in the db dir"))
    }
  }
}
