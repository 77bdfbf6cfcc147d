package graft

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkFiles
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one home of every build-once store: a materialization built
  * once per (session, dataset) and re-read by every consumer — the
  * minhash signatures, layout ingests, media files, IVF indexes,
  * trained models, the replay log. BenSP's pipelines keep the same
  * shape: Dedup's chunk table and the database Ferret's `mkdb` builds
  * once before queries stream against it.
  *
  * Every store lives under [[root]], Spark's driver temp dir for the
  * session, which `SparkContext.stop()` deletes: stores are
  * session-scoped, never shared across processes, and nothing is left
  * behind in `java.io.tmpdir`. Paths are computed on the driver;
  * executor-side writers capture them as plain strings.
  *
  * Parquet, not an in-memory checkpoint: the bench unpersists every
  * persistent RDD between queries, which would destroy (unrecoverable
  * — truncated lineage) a shared localCheckpoint. */
object Stores {

  /** The session's store root, removed by `SparkContext.stop()`. */
  def root(s: SparkSession): String = {
    s.sparkContext // the root exists once the session's context does
    SparkFiles.getRootDirectory()
  }

  /** Store path for `tag` over `tables` of dataset `dir`. The key
    * fingerprints the absolute dir plus each source file's name,
    * length and mtime, so a dataset regenerated mid-session moves the
    * key and forces a rebuild instead of serving stale content, and
    * two datasets never share a store. */
  def path(s: SparkSession, dir: String, tag: String, tables: Seq[String]): String = {
    val abs = new File(dir).getAbsolutePath
    val files = tables.flatMap { t =>
      val f = new File(s"$abs/$t.parquet")
      val fs = if (f.isDirectory)
        Option(f.listFiles).getOrElse(Array.empty).sortBy(_.getName).toSeq
      else Seq(f)
      fs.map(x => s"$t/${x.getName}:${x.length}:${x.lastModified}")
    }
    val key = java.security.MessageDigest.getInstance("SHA-256")
      .digest((abs +: files).mkString("|").getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    s"${root(s)}/${tag}_$key"
  }

  /** A fresh directory under the root, unique per call even across
    * concurrent callers — for feeds, sinks and drain stores a caller
    * deletes itself (anything it misses goes with the session). */
  def scratch(s: SparkSession, tag: String): String =
    java.nio.file.Files.createTempDirectory(new File(root(s)).toPath, s"${tag}_").toString

  private val locks = new ConcurrentHashMap[String, Object]()
  private val built = ConcurrentHashMap.newKeySet[String]()

  /** Run `write` once per path. The lock is per path: concurrent first
    * builds of unrelated stores must not serialize behind one monitor
    * for multi-second writes. Prints one stderr line per build. */
  def once(path: String)(write: => Unit): Unit =
    locks.computeIfAbsent(path, _ => new Object).synchronized {
      if (!built.contains(path)) {
        val t0 = System.nanoTime()
        write
        System.err.println(
          f"[stores] built ${path.stripPrefix(SparkFiles.getRootDirectory() + "/")}%s: ${(System.nanoTime() - t0) / 1e9}%.2f s (amortized across its consumers)")
        built.add(path): Unit
      }
    }

  /** Paths built so far by [[once]].
    * Test seam: StoresSpec checks that every store lies under the root. */
  private[graft] def builtPaths: Set[String] = {
    import scala.jdk.CollectionConverters._
    built.asScala.toSet
  }

  /** Write `build` to parquet once per (session, dataset) and read it
    * back. */
  def parquet(s: SparkSession, dir: String, tag: String, tables: Seq[String])
             (build: => DataFrame): DataFrame = {
    val p = path(s, dir, tag, tables)
    once(p)(build.write.mode("overwrite").parquet(p))
    s.read.parquet(p)
  }
}
