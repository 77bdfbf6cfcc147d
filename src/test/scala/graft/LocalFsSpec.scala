package graft

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

/** The fork-free local filesystem ([[NioLocalFileSystem]], [[NioLocalFs]])
  * is what the session resolves for scheme `file`, and leaves the disk
  * exactly as the stock `LocalFileSystem` / `LocalFs` do. */
class LocalFsSpec extends SparkSpec {
  import LocalFsSpec.Side

  private val fileUri = URI.create("file:///")
  private def sessionConf: Configuration = spark.sparkContext.hadoopConfiguration

  test("scheme file resolves to the fork-free classes for FileSystem and FileContext") {
    assert(FileSystem.get(fileUri, sessionConf).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(sessionConf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(sessionConf).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
  }

  private def sides[T](body: (Side, Side) => T): T = {
    // scheme file resolves by service loader without the session's
    // settings, and on Spark's classpath that can be Hive's proxy
    // wrapper: build the stock LocalFileSystem itself
    val stockFs = new LocalFileSystem
    stockFs.initialize(fileUri, new Configuration)
    val stock = Side(stockFs, FileContext.getLocalFSFileContext(new Configuration), tempDir("stock"))
    val nio = Side(FileSystem.newInstance(fileUri, sessionConf),
      FileContext.getLocalFSFileContext(sessionConf), tempDir("nio"))
    try {
      assert(stock.fc.getDefaultFileSystem.getClass == classOf[LocalFs])
      assert(nio.fs.getClass == classOf[NioLocalFileSystem])
      body(stock, nio)
    } finally { stock.fs.close(); nio.fs.close() }
  }

  /** Everything on disk under a side's directory, `.crc` sidecars
    * included: name, length, directory flag, permission (read through
    * the filesystem's own status) and, for files, the SHA-256 of the
    * bytes. */
  private def snapshot(side: Side): Seq[(String, Long, Boolean, String, String)] = {
    def walk(f: File, rel: String): Seq[(String, Long, Boolean, String, String)] =
      f.listFiles().toSeq.sortBy(_.getName).flatMap { c =>
        val name = s"$rel${c.getName}"
        val st = side.fs.getFileStatus(side.path(name))
        val bytes = if (c.isFile) Files.readAllBytes(c.toPath) else Array.empty[Byte]
        (name, st.getLen, st.isDirectory, st.getPermission.toString,
          graft.functions.Chunker.sha256Hex(bytes, 0, bytes.length)) +:
          (if (c.isDirectory) walk(c, s"$name/") else Nil)
      }
    walk(new File(side.dir), "")
  }

  private def perm(octal: String): FsPermission = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def linkView(st: FileStatus): (Long, Boolean, Boolean, String, String) =
    (st.getLen, st.isDirectory, st.isSymlink, st.getPermission.toString,
      if (st.isSymlink) st.getSymlink.getName else "")

  test("the fork-free classes leave the disk as the stock local filesystem does") {
    sides { (stock, nio) =>
      def same(step: String): Unit =
        assert(snapshot(nio) == snapshot(stock), s"after $step")
      def both(step: String)(op: Side => Unit): Unit = {
        op(stock); op(nio); same(step)
      }
      both("create") { side =>
        val out = side.fs.create(side.path("a.bin"))
        try out.write(Array.tabulate[Byte](3000)(_.toByte)) finally out.close()
      }
      both("mkdirs")(side => assert(side.fs.mkdirs(side.path("d/e"))))
      for ((mode, target) <- Seq("640" -> "a.bin", "755" -> "d", "1777" -> "d/e"))
        both(s"setPermission $mode on $target")(side =>
          side.fs.setPermission(side.path(target), perm(mode)))
      assert(snapshot(nio).exists { case (n, _, _, p, _) => n == "d/e" && p == "rwxrwxrwt" })
      both("FileContext create + rename(OVERWRITE)") { side =>
        val out = side.fc.create(side.path("d/.rec.tmp"),
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write("next_seq=1\n".getBytes("UTF-8")) finally out.close()
        side.fc.rename(side.path("d/.rec.tmp"), side.path("a.bin"), Options.Rename.OVERWRITE)
      }
      both("symlink")(side =>
        Files.createSymbolicLink(new File(s"${side.dir}/link").toPath,
          new File(s"${side.dir}/a.bin").toPath): Unit)
      for (name <- Seq("link", "a.bin", "d")) {
        def raw(side: Side) = new Path(s"${side.dir}/$name")
        assert(linkView(nio.fc.getFileLinkStatus(nio.path(name))) ==
          linkView(stock.fc.getFileLinkStatus(stock.path(name))), s"FileContext link status of $name")
        assert(linkView(nio.fs.getFileLinkStatus(raw(nio))) ==
          linkView(stock.fs.getFileLinkStatus(raw(stock))), s"FileSystem link status of $name")
      }
      assert(stock.fs.getFileLinkStatus(new Path(s"${stock.dir}/link")).isSymlink)
    }
  }

  test("a missing path throws FileNotFoundException on both") {
    sides { (stock, nio) =>
      for (side <- Seq(stock, nio)) {
        val missing = side.path("missing")
        intercept[FileNotFoundException](side.fs.getFileStatus(missing))
        intercept[FileNotFoundException](side.fs.getFileLinkStatus(missing))
        intercept[FileNotFoundException](side.fc.getFileStatus(missing))
        intercept[FileNotFoundException](side.fc.getFileLinkStatus(missing))
        intercept[IOException](side.fs.setPermission(missing, perm("644")))
      }
      intercept[FileNotFoundException](nio.fs.setPermission(nio.path("missing"), perm("644")))
    }
  }
}

object LocalFsSpec {
  /** One side of the comparison: a filesystem, a file context and the
    * directory they work in. */
  private final case class Side(fs: FileSystem, fc: FileContext, dir: String) {
    def path(name: String): Path = new Path(s"file://$dir/$name")
  }
}
