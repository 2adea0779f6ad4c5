package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.util.Fs
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CommitLog, CommitMetadata}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free `file:` filesystem a [[GraftSession]] installs: it is what
  * both Hadoop APIs resolve to, it leaves the same files, bits and link
  * statuses as the stock classes, and local writes start no process. */
class LocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = GraftSession.local("4")
  private val root = Files.createTempDirectory("graft_localfs")
  override def afterAll(): Unit = Fs.deleteTree(root)

  private val fileUri = URI.create("file:///")
  private def hadoopConf: Configuration = spark.sparkContext.hadoopConfiguration

  /** The stock classes, built outside the `FileSystem` cache. */
  private def stockFs: FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(fileUri, hadoopConf)
    fs
  }
  private def stockFc: FileContext = {
    val conf = new Configuration(hadoopConf)
    conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    FileContext.getFileContext(fileUri, conf)
  }
  private def forkFreeFs: FileSystem = FileSystem.get(fileUri, hadoopConf)
  private def forkFreeFc: FileContext = FileContext.getFileContext(fileUri, hadoopConf)

  private def dir(name: String): JPath = Files.createDirectories(root.resolve(name))
  private def hp(p: JPath): Path = new Path(p.toString)

  /** Every entry under `p`, relative, with its rwx bits (checksum files included). */
  private def tree(p: JPath): Map[String, String] = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter(_ != p).map { q =>
      p.relativize(q).toString ->
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(q))
    }.toMap
    finally walk.close()
  }

  test("a GraftSession resolves file: to the fork-free classes through both Hadoop APIs") {
    // the FileSystem cache is per JVM: a stock instance cached before the
    // session would win here and silently bring the forks back
    for (conf <- Seq(hadoopConf, spark.sessionState.newHadoopConf())) {
      val fs = FileSystem.get(fileUri, conf)
      assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ==
        classOf[ForkFreeRawLocalFileSystem])
      assert(FileSystem.getLocal(conf) eq fs)
      assert(hp(root).getFileSystem(conf) eq fs)
      assert(FileContext.getFileContext(fileUri, conf).getDefaultFileSystem.getClass ==
        classOf[ForkFreeLocalFs])
      assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass ==
        classOf[ForkFreeLocalFs])
    }
  }

  test("files and directories get the stock permission bits and checksum files") {
    val perms = Seq(None, Some(new FsPermission("750")), Some(new FsPermission("600")))
    def viaFs(fs: FileSystem, base: JPath): Unit = perms.zipWithIndex.foreach { case (perm, i) =>
      val d = hp(base.resolve(s"d$i/nested"))
      perm.fold(fs.mkdirs(d))(fs.mkdirs(d, _))
      val out = perm.fold(fs.create(new Path(d, "f")))(
        fs.create(new Path(d, "f"), _, true, 4096, 1.toShort, 1L << 25, null))
      out.write(Array.fill[Byte](100)(i.toByte)); out.close()
      assert(fs.rename(new Path(d, "f"), new Path(d, "g")))
      fs.setPermission(new Path(d, "g"), new FsPermission("644"))
    }
    def viaFc(fc: FileContext, base: JPath): Unit = perms.zipWithIndex.foreach { case (perm, i) =>
      val d = hp(base.resolve(s"d$i/nested"))
      fc.mkdir(d, perm.getOrElse(FsPermission.getDirDefault), true)
      val out = fc.create(new Path(d, ".f.tmp"),
        java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.perms(perm.getOrElse(FsPermission.getFileDefault)))
      out.write(Array.fill[Byte](100)(i.toByte)); out.close()
      // the checkpoint manager's commit: write a temp file, rename over
      fc.rename(new Path(d, ".f.tmp"), new Path(d, "f"), Options.Rename.OVERWRITE)
    }
    val (a, b, c, d) = (dir("fs_stock"), dir("fs_new"), dir("fc_stock"), dir("fc_new"))
    viaFs(stockFs, a); viaFs(forkFreeFs, b)
    viaFc(stockFc, c); viaFc(forkFreeFc, d)
    for ((stock, forkFree) <- Seq(a -> b, c -> d)) {
      val expected = tree(stock)
      assert(expected.keys.exists(_.endsWith(".crc")), s"no checksum files: $expected")
      assert(tree(forkFree) == expected)
    }
    assert(tree(a)("d1/nested") == "rwxr-x---")
    assert(tree(c)("d2/nested/f") == "rw-------")
    assert(Files.readAllBytes(b.resolve("d2/nested/g")).sameElements(Array.fill[Byte](100)(2)))
  }

  test("a sticky-bit permission and a symlink's link status match the stock result") {
    val (s, n) = (dir("sticky_stock"), dir("sticky_new"))
    stockFs.setPermission(hp(s), new FsPermission("1777"))
    forkFreeFs.setPermission(hp(n), new FsPermission("1777"))
    val sticky = stockFs.getFileStatus(hp(s)).getPermission
    assert(sticky.getStickyBit)
    assert(stockFs.getFileStatus(hp(n)).getPermission == sticky)

    val links = dir("links")
    val target = Files.write(links.resolve("target"), Array[Byte](1, 2, 3))
    Files.createSymbolicLink(links.resolve("link"), target)
    Files.createSymbolicLink(links.resolve("dangling"), links.resolve("missing"))
    def view(st: FileStatus) =
      (st.getPath.toUri.getPath, st.isSymlink, st.isFile, st.isDirectory, st.getLen,
        if (st.isSymlink) st.getSymlink.toUri.getPath else "")
    for (name <- Seq("target", "link", "dangling")) {
      val p = hp(links.resolve(name))
      val expected = view(stockFs.getFileLinkStatus(p))
      assert(view(forkFreeFs.getFileLinkStatus(p)) == expected, name)
      assert(view(forkFreeFc.getFileLinkStatus(p)) == view(stockFc.getFileLinkStatus(p)), name)
    }
    assert(view(forkFreeFs.getFileLinkStatus(hp(links.resolve("link"))))._2)
    val missing = hp(links.resolve("missing"))
    intercept[FileNotFoundException](stockFs.getFileLinkStatus(missing))
    intercept[FileNotFoundException](forkFreeFs.getFileLinkStatus(missing))
    intercept[FileNotFoundException](forkFreeFc.getFileLinkStatus(missing))
  }

  /** This process's reaped children's minor faults and user CPU ticks
    * (`cminflt` and `cutime`, fields 11 and 16 of `/proc/self/stat`). */
  private def childCounters(): (Long, Long) = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    (f(8).toLong, f(13).toLong)
  }

  test("stream commit-log writes and a parquet write start no process") {
    assume(Files.isReadable(Paths.get("/proc/self/stat")), "needs Linux /proc")
    // the counters are live: one child process moves them
    val (f0, _) = childCounters()
    assert(new ProcessBuilder("true").start().waitFor() == 0)
    assert(childCounters()._1 > f0, "cminflt did not count a child process")

    val log = new CommitLog(spark, root.resolve("commits").toString)
    val out = root.resolve("parquet")
    // warm-up: class loading and one-time probes happen outside the window
    log.add(0L, new CommitMetadata(0L, None))
    spark.range(10).write.parquet(out.resolve("warm").toString)
    val before = childCounters()
    (1L to 50L).foreach(b => assert(log.add(b, new CommitMetadata(0L, None))))
    spark.range(1000).repartition(4).write.parquet(out.resolve("t").toString)
    assert(childCounters() == before, "a local write forked a process")
    assert(log.getLatest().map(_._1).contains(50L))
    assert(spark.read.parquet(out.resolve("t").toString).count() == 1000)
  }
}
