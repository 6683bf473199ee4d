package graft.io

import java.net.URI
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The fork-free local file system answers like Hadoop's stock one: every
  * check runs the same operation on both and compares what lands on disk. */
class LocalFsSpec extends AnyFunSuite {
  // the session first: Hadoop caches one FileSystem per scheme for the JVM
  lazy val spark = TestSpark.spark
  private val local = URI.create("file:///")

  private def raw(fs: RawLocalFileSystem, conf: Configuration): RawLocalFileSystem = {
    fs.initialize(local, conf); fs
  }
  private def dir(name: String): String = Files.createTempDirectory(s"graft_localfs_$name").toString
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0x3ff

  /** (stock, fork-free) on the session's configuration and with a tighter
    * umask. */
  private def pairs: Seq[(String, RawLocalFileSystem, RawLocalFileSystem)] = {
    val session = spark.sparkContext.hadoopConfiguration
    val tight = new Configuration(session)
    tight.set("fs.permissions.umask-mode", "027")
    Seq(session -> "session", tight -> "umask 027").map { case (c, what) =>
      (what, raw(new RawLocalFileSystem, c), raw(new ForkFreeRawLocalFileSystem, c))
    }
  }

  test("create, mkdirs and setPermission leave the stock modes") {
    for ((what, stock, forkFree) <- pairs) {
      val modes = Seq(stock -> dir("stock"), forkFree -> dir("forkfree")).map { case (fs, d) =>
        fs.create(new Path(s"$d/created"), new FsPermission("644"), false, 4096,
          1.toShort, 1L << 20, null).close()
        fs.create(new Path(s"$d/default"), FsPermission.getFileDefault, false, 4096,
          1.toShort, 1L << 20, null).close()
        fs.mkdirs(new Path(s"$d/made/deep"), new FsPermission("775"))
        fs.mkdirs(new Path(s"$d/made_default"), FsPermission.getDirDefault)
        Files.createFile(Paths.get(s"$d/a")); Files.createFile(Paths.get(s"$d/b"))
        fs.setPermission(new Path(s"$d/a"), new FsPermission("600"))
        fs.setPermission(new Path(s"$d/b"), new FsPermission("755"))
        Seq("created", "default", "made", "made/deep", "made_default", "a", "b")
          .map(n => n -> mode(s"$d/$n"))
      }
      info(s"$what: ${modes(1).map { case (n, m) => f"$n=$m%o" }.mkString(" ")}")
      assert(modes(1) === modes(0), what)
      assert(modes(1).toMap.apply("a") === Integer.parseInt("600", 8))
      assert(modes(1).toMap.apply("b") === Integer.parseInt("755", 8))
    }
  }

  test("a permission with the sticky bit takes the stock code") {
    val (_, stock, forkFree) = pairs.head
    val modes = Seq(stock, forkFree).map { fs =>
      val d = dir("sticky")
      fs.setPermission(new Path(d), new FsPermission("1777"))
      mode(d)
    }
    assert(modes(0) === Integer.parseInt("1777", 8))
    assert(modes(1) === modes(0))
  }

  test("getFileLinkStatus of a file, a link, a dangling link and a missing path") {
    val (_, stock, forkFree) = pairs.head
    val d = dir("links")
    Files.write(Paths.get(s"$d/file"), "abc".getBytes)
    Files.createSymbolicLink(Paths.get(s"$d/link"), Paths.get(s"$d/file"))
    Files.createSymbolicLink(Paths.get(s"$d/dangling"), Paths.get(s"$d/gone"))
    // the status, or the exception's class (the stock code reads a
    // scheme-qualified dangling link as a missing file)
    def view(fs: RawLocalFileSystem, p: String) =
      scala.util.Try(fs.getFileLinkStatus(new Path(p))).toEither
        .map(s => (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
          s.getPermission, s.getModificationTime, if (s.isSymlink) s.getSymlink else null))
        .left.map(_.getClass)
    for (n <- Seq("file", "link", "dangling", "missing"); p <- Seq(s"$d/$n", s"file:$d/$n"))
      assert(view(forkFree, p) === view(stock, p), p)
    assert(forkFree.getFileLinkStatus(new Path(s"$d/link")).isSymlink)
    assert(forkFree.getFileLinkStatus(new Path(s"$d/dangling")).isSymlink)
    assert(!forkFree.getFileLinkStatus(new Path(s"$d/file")).isSymlink)
    assert(view(forkFree, s"$d/missing") === Left(classOf[java.io.FileNotFoundException]))
  }

  test("checksums: .crc files are written and a flipped byte fails the read") {
    val conf = spark.sparkContext.hadoopConfiguration
    val stock = new LocalFileSystem(); stock.initialize(local, conf)
    val forkFree = new ForkFreeLocalFileSystem(); forkFree.initialize(local, conf)
    val data = Array.tabulate[Byte](5000)(i => (i * 31).toByte)
    val crcs = Seq(stock, forkFree).map { fs =>
      val d = dir("crc")
      val out = fs.create(new Path(s"$d/data"))
      out.write(data); out.close()
      val crc = Paths.get(s"$d/.data.crc")
      assert(Files.exists(crc))
      val in = fs.open(new Path(s"$d/data"))
      assert(in.readAllBytes().toSeq === data.toSeq)
      in.close()
      val f = new java.io.RandomAccessFile(s"$d/data", "rw")
      f.seek(1234); f.write(~data(1234)); f.close()
      intercept[ChecksumException] {
        val in = fs.open(new Path(s"$d/data"))
        try in.readAllBytes() finally in.close()
      }
      Files.readAllBytes(crc).toSeq
    }
    assert(crcs(1) === crcs(0))
  }

  test("a FileContext rename with OVERWRITE replaces an existing file") {
    val session = spark.sparkContext.hadoopConfiguration
    val stockConf = new Configuration(session)
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val results = Seq(stockConf, session).map { conf =>
      val fc = FileContext.getFileContext(local, conf)
      val d = dir("rename")
      def write(n: String, text: String) = {
        val out = fc.create(new Path(s"$d/$n"),
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        out.write(text.getBytes); out.close()
      }
      def read(n: String) = {
        val in = fc.open(new Path(s"$d/$n"))
        try new String(in.readAllBytes()) finally in.close()
      }
      write("old", "old text"); write("new", "new text"); write("other", "other")
      fc.rename(new Path(s"$d/new"), new Path(s"$d/old"), Options.Rename.OVERWRITE)
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
        fc.rename(new Path(s"$d/other"), new Path(s"$d/old"), Options.Rename.NONE))
      (fc.getDefaultFileSystem.getClass.getName, read("old"),
        new java.io.File(d).list().sorted.toSeq)
    }
    info(results.map(_._1).mkString(" vs "))
    assert(results(1)._1 === classOf[ForkFreeLocalFs].getName)
    assert(results(1)._2 === "new text")
    assert(results(1)._2 === results(0)._2)
    assert(results(1)._3 === results(0)._3)
  }

  test("a session from Tables.configure resolves the fork-free classes for file:///") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(local, conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass)
    assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(new Path(dir("resolve")).getFileSystem(spark.sessionState.newHadoopConf())
      .isInstanceOf[ForkFreeLocalFileSystem])
    val fc = FileContext.getFileContext(local, spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs],
      fc.getDefaultFileSystem.getClass)
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
  }
}
