package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingPipelines

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  private var suiteTmp: Option[File] = None

  /** A fresh directory under this suite's temp dir, which `afterAll`
    * deletes with everything in it. */
  def tempDir(tag: String): String = synchronized {
    val root = suiteTmp.getOrElse {
      val d = Files.createTempDirectory(s"graft_${getClass.getSimpleName}_").toFile
      suiteTmp = Some(d)
      d
    }
    Files.createTempDirectory(root.toPath, s"${tag}_").toString
  }

  override def afterAll(): Unit =
    try suiteTmp.foreach(StreamingPipelines.deleteRecursively)
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // Mirror Sessions.contract: lets Tables.events read a
      // TIMESTAMP(NANOS)-vintage events.parquet; no-op on µs vintage.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // mirror Sessions.contract: INT64-micros timestamps carry the
      // min/max stats row-group skipping needs (INT96 does not)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // the same local filesystem as Sessions.contract
      .config(Sessions.localFs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
