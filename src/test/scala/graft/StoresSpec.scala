package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.functions.col

import graft.operators.{Curation, Dedup, Multimodal, Similarity, StorageLayout}
import graft.sources.ReplayLog

class StoresSpec extends SparkSpec {

  private def under(root: String, p: String): Boolean =
    new File(p).getCanonicalPath.startsWith(new File(root).getCanonicalPath + File.separator)

  test("no store leaks to java.io.tmpdir; every store lies under the Stores root") {
    def graftTmp(): Set[String] =
      Option(new File(System.getProperty("java.io.tmpdir")).listFiles)
        .getOrElse(Array.empty).map(_.getName).filter(_.startsWith("graft_")).toSet
    val before = graftTmp()
    Dedup.prewarmStores(spark, sfDir)
    Multimodal.prewarmStores(spark, sfDir)
    StorageLayout.prewarmStores(spark, sfDir)
    Similarity.prewarmStores(spark, sfDir)
    Curation.prewarmStores(spark, sfDir)
    Similarity.annIvfIndexed(spark, sfDir).count()
    Similarity.annIvfAppend(spark, sfDir).count()
    Similarity.annStreamAppend(spark, sfDir).count()
    val log = ReplayLog.ingestOnce(spark, sfDir, nParts = 8)
    Dedup.dedupExactBucketed(spark, sfDir).count()
    val leaked = graftTmp() -- before
    assert(leaked.isEmpty, s"stores leaked to java.io.tmpdir: $leaked")
    val root = Stores.root(spark)
    val (segPath, compactPath) = StorageLayout.compactPaths(spark, sfDir)
    val paths = Stores.builtPaths.toSeq ++ Seq(log, segPath, compactPath,
      Similarity.ivfAppendRoot(spark, sfDir), Similarity.streamIndexRoot(spark, sfDir))
    paths.foreach(p => assert(under(root, p), s"store $p is outside the root $root"))
    assert(paths.forall(p => new File(p).isDirectory))
  }

  test("a changed source file moves the store key: stale content is never served") {
    val ds = Files.createTempDirectory("stores_spec_ds")
    val dir = ds.toString
    try {
      Seq("documents", "embeddings").foreach { t =>
        Files.copy(new File(sfDir, s"$t.parquet").toPath, ds.resolve(s"$t.parquet"))
      }
      def docIds(): Set[Long] =
        Tables.documents(spark, dir).select("doc_id").collect().map(_.getLong(0)).toSet
      def stored(): Set[Long] =
        Stores.parquet(spark, dir, "spec_doc_ids", Seq("documents"))(
          Tables.documents(spark, dir).select("doc_id"))
          .collect().map(_.getLong(0)).toSet
      def media(): Set[Long] =
        Multimodal.mmJpegFiles(spark, dir).select("doc_id").distinct()
          .collect().map(_.getLong(0)).toSet
      val p1 = Stores.path(spark, dir, "spec_doc_ids", Seq("documents"))
      val emb1 = Stores.path(spark, dir, "spec_emb", Seq("embeddings"))
      val old = docIds()
      assert(stored() == old && media() == old)

      // rewrite documents.parquet with half its rows: new content, new mtime
      val staging = ds.resolve("staging").toString
      Tables.documents(spark, dir).filter(col("doc_id") % 2 === 0)
        .coalesce(1).write.parquet(staging)
      val part = new File(staging).listFiles
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val docsFile = ds.resolve("documents.parquet")
      Files.copy(part.toPath, docsFile, StandardCopyOption.REPLACE_EXISTING)
      assert(docsFile.toFile.setLastModified(docsFile.toFile.lastModified + 10000L))

      val now = docIds()
      assert(now.nonEmpty && now != old)
      val p2 = Stores.path(spark, dir, "spec_doc_ids", Seq("documents"))
      assert(p2 != p1, "a changed source file kept its store key")
      assert(stored() == now, "a store served content of the replaced file")
      assert(media() == now, "the media store served content of the replaced file")
      assert(Stores.builtPaths.contains(p2))
      // the key covers only the store's own tables
      assert(Stores.path(spark, dir, "spec_emb", Seq("embeddings")) == emb1)
    } finally graft.streaming.StreamingPipelines.deleteRecursively(ds.toFile)
  }
}
