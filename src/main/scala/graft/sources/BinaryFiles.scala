package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Catalog.Key
import graft.functions.NativeChunk

/** Binary-file ingestion (SURVEY.md §2.B, reference input mode).
  *
  * The reference Dedup consumes arbitrary binary archives
  * (apps/dedup reads TAR files — README "the function that reads the
  * files only processes TAR files"); the Spark-native equivalent is
  * the built-in `binaryFile` source: one row per file with the
  * payload as a `binary` column, processed by the same Buzhash CDC
  * kernel as document text. Storage-style chunk parameters (2 KiB
  * min / ~8 KiB avg / 64 KiB max).
  */
object BinaryFiles {

  def readDir(spark: SparkSession, path: String, glob: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      // recurse: driver testdata ships flat files, but Spark-written
      // datasets (GenScale sf1) nest part files inside <table>.parquet
      // directories — a flat listing silently returns ZERO rows there
      // (caught by the sf1 scale certification; the glob filters by
      // file NAME either way)
      .option("recursiveFileLookup", "true")
      .load(path)

  /** Local-filesystem fast path: one row (file, content) per file,
    * read with plain java.nio instead of the `binaryFile` source.
    * Hadoop's LocalFileSystem streams every byte through checksum +
    * small-buffer layers — measured 2.5–5 s to scan a page-cached
    * 683 MB folder on 32 cores where direct reads take 0.1–0.4 s — a
    * 10× tax no distributed concern justifies on a local disk. The
    * head-to-head harness (RefCompare) uses this; on a real cluster
    * against HDFS/S3 the `binaryFile` source above is the right
    * reader (distributed listing, locality, credentials).
    *
    * Listing happens on the driver (one entry per FILE — path
    * strings only, not content; fine for any folder a single
    * directory listing can hold); content is read inside tasks. */
  /** Driver-side sorted listing of `dir` entries matching `glob` —
    * absolute path strings only, never content. Shared by the direct
    * readers below and by harness accounting that needs file sizes
    * without re-scanning payloads. */
  def listDir(path: String, glob: String): Array[String] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(path)
    val matcher = dir.getFileSystem.getPathMatcher(s"glob:$glob")
    val listing = Files.list(dir)
    val paths =
      try listing.iterator().asScala
        .filter(p => matcher.matches(p.getFileName))
        .map(_.toString).toArray.sorted
      finally listing.close()
    // fail fast with the pattern in hand: an empty match otherwise
    // surfaces as a NULL-aggregate crash deep in the consumer (a
    // shell-quoted glob like '*.bin' reaching the JVM verbatim did
    // exactly that)
    require(paths.nonEmpty,
      s"listDir: no file in $path matches glob '$glob'")
    paths
  }

  def readDirDirect(spark: SparkSession, path: String, glob: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val paths = listDir(path, glob)
    val slices = math.max(1, math.min(paths.length,
      spark.sparkContext.defaultParallelism))
    import spark.implicits._
    spark.sparkContext.parallelize(paths.toIndexedSeq, slices)
      .map { p =>
        val q = Paths.get(p)
        (q.getFileName.toString, Files.readAllBytes(q))
      }
      .toDF("file", "content")
  }

  /** Fused direct-read → CDC-chunk scan: each task reads its files
    * into ONE reused buffer, cuts boundaries and digests in place,
    * and emits only the columnar chunk rows — so payload bytes never
    * enter Spark's row format at all. The readDirDirect → Dataset →
    * mapPartitions shape round-trips every payload through UnsafeRow
    * encode+decode: two extra corpus-sized copies, each a G1
    * humongous allocation at multi-MB file sizes (measured as most of
    * the pass-to-pass GC variance in the RefCompare harness). One
    * SHA digester per task, reset per chunk.
    *
    * Returns (file, chunk_idx, offset, length, chunk_sha<binary>). */
  def chunkDirDirect(spark: SparkSession, path: String, glob: String,
                     minSize: Int, maxSize: Int, maskBits: Int,
                     anchor: String, algo: String = "SHA-1"): DataFrame = {
    val paths = listDir(path, glob)
    val slices = math.max(1, math.min(paths.length,
      spark.sparkContext.defaultParallelism))
    import spark.implicits._
    spark.sparkContext.parallelize(paths.toIndexedSeq, slices)
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance(algo)
        var buf: Array[Byte] = Array.emptyByteArray
        it.flatMap { p =>
          val q = java.nio.file.Paths.get(p)
          val f = q.getFileName.toString
          val size = java.nio.file.Files.size(q)
          require(size <= Int.MaxValue, s"$p: ${size}B exceeds one-buffer scan")
          val n = size.toInt
          if (buf.length < n) buf = new Array[Byte](n)
          val ch = java.nio.channels.FileChannel.open(q)
          try {
            val bb = java.nio.ByteBuffer.wrap(buf, 0, n)
            while (bb.hasRemaining)
              if (ch.read(bb) < 0) throw new java.io.EOFException(p)
          } finally ch.close()
          val cuts = graft.functions.Chunker.boundaries(
            buf, n, minSize, maxSize, maskBits, anchor)
          // NOT lazy: rows must be built before `buf` is overwritten
          // by the next file in this flatMap
          val rows = new Array[(String, Int, Int, Int, Array[Byte])](cuts.length)
          var start = 0
          var idx = 0
          while (idx < cuts.length) {
            val end = cuts(idx)
            md.update(buf, start, end - start)
            rows(idx) = (f, idx, start, end - start, md.digest())
            start = end
            idx += 1
          }
          rows
        }
      }
      .toDF("file", "chunk_idx", "offset", "length", "chunk_sha")
  }

  /** The per-file CDC chunk table every accounting below derives from:
    * one Buzhash+SHA-256 pass over every file's bytes. Emitted as its
    * own driver-contract dump (`file_chunks`) and VALUE-oracled since
    * r15 (r14 verdict #3): the boundaries (content-defined anchors)
    * aren't SQL-expressible, but GIVEN the emitted offsets DuckDB
    * re-reads the raw file bytes (read_blob over the same glob — the
    * `{SF_DIR}` placeholder is baked in by Verify at dump time) and
    * recomputes each chunk's digest. DuckDB 1.0's sha256 is
    * VARCHAR-only, so the cross-engine digest is SHA-256 of the
    * chunk's UPPERCASE-HEX encoding (hex() agrees across engines;
    * the read_blob glob is doubly-starred — DuckDB's `**` matches
    * zero or more directory levels, so it covers BOTH the driver's
    * flat testdata files AND Spark-written nested layouts
    * (<table>.parquet/part-*.parquet, the GenScale sf1 shape) that
    * readDir reaches via recursiveFileLookup; a flat glob would
    * match no files there and the USING(file) join would silently
    * drop every chunk row;
    * injective, so digest equality ⇔ byte equality); the true binary
    * SHA-256 (`chunk_sha`, what file_dedup keys on) is echo-gated on
    * that recomputed match — a forged offset, length, or digest
    * breaks the row compare. */
  def fileChunks(s: SparkSession, dir: String): DataFrame =
    readDir(s, dir, "*.parquet")
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
        col("length").as("n_bytes"), col("content"))
      .repartition(s.sparkContext.defaultParallelism, col("file"))
      // both digests come out of the ONE chunking pass (emitHexSha):
      // slicing content per chunk row downstream instead would carry
      // the whole file blob alongside every exploded chunk row —
      // O(file_size × n_chunks) at scale
      .select(col("file"), col("n_bytes"),
        NativeChunk.chunks(col("content"), minSize = 2048,
          maxSize = 65536, maskBits = 13, emitHexSha = true))
      .select(col("file"), col("n_bytes"), col("chunk_idx"), col("offset"),
        col("chunk_sha"), col("length").as("chunk_len"), col("chunk_hex_sha"))

  /** Per-file chunk-level dedup accounting over every file in `dir` —
    * the reference Dedup pipeline applied to a directory of binaries
    * (TAR-input mode; Fragment over binary input, encoder.c).
    *
    * ONE chunking pass: r7 forked the chunk table into a groupBy
    * refCounts side and a join-back side, so every file was
    * Buzhash-chunked + SHA-256'd TWICE — 2× the dominant map stage at
    * any scale. The cross-file reference count now rides a count-over
    * window on the digest partitioning instead: chunk once, shuffle
    * 32-byte digests once, aggregate per file. */
  def fileDedup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("chunk_sha")
    fileChunks(s, dir)
      .withColumn("refs", count(lit(1)).over(w))
      .groupBy("file")
      .agg(first(col("n_bytes")).as("n_bytes"),
        count(lit(1)).as("n_chunks"),
        countDistinct(col("chunk_sha")).as("n_unique_chunks"),
        sum(when(col("refs") > 1, 1).otherwise(0)).as("n_shared_chunks"))
  }

  /** Value oracle: DuckDB recomputes every file_dedup aggregate —
    * including the windowed cross-file reference counts — from the
    * emitted chunk table (the dedup_chunk_stats pattern applied to the
    * binary-input mode). */
  val fileDedupSql: String =
    """WITH ch AS (SELECT * FROM read_parquet('{VERIFY_OUT}/file_chunks/*.parquet')),
      |r AS (SELECT *, COUNT(*) OVER (PARTITION BY chunk_sha) AS refs FROM ch)
      |SELECT file, MIN(n_bytes) AS n_bytes,
      |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  CAST(COUNT(DISTINCT chunk_sha) AS BIGINT) AS n_unique_chunks,
      |  CAST(SUM(CASE WHEN refs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks
      |FROM r GROUP BY file""".stripMargin

  /** Value oracle for the chunk table itself (see [[fileChunks]]):
    * DuckDB re-reads the source files' bytes and recomputes every
    * chunk's hex-encoding digest from the emitted offsets; chunk_sha
    * is echoed only when that recomputation matches. `{SF_DIR}` is
    * substituted by Verify when it writes oracle_sql.json (read_blob
    * takes constant globs only in DuckDB 1.0). */
  val fileChunksSql: String =
    """WITH c AS (SELECT * FROM read_parquet('{VERIFY_OUT}/file_chunks/*.parquet')),
      |b AS (SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
      |             hex(content) AS hx, octet_length(content) AS fsize
      |      FROM read_blob('{SF_DIR}/**/*.parquet'))
      |SELECT c.file, c.n_bytes, c.chunk_idx, c."offset", c.chunk_len,
      |  CASE WHEN b.fsize = c.n_bytes
      |        AND sha256(substr(b.hx, 2 * c."offset" + 1, 2 * c.chunk_len))
      |            = c.chunk_hex_sha
      |       THEN c.chunk_sha ELSE 'RECOMPUTED_DIGEST_MISMATCH' END AS chunk_sha,
      |  sha256(substr(b.hx, 2 * c."offset" + 1, 2 * c.chunk_len)) AS chunk_hex_sha
      |FROM c JOIN b USING (file)""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("file_chunks", fileChunks, fileChunksSql),
    Key("file_dedup", fileDedup, fileDedupSql))
}
