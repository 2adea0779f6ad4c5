package graft.util

import java.nio.file.{Files, Path, Paths}

object Fs {
  /** Recursive delete (children before parents). `Files.walk` holds an
    * open directory handle — the stream must be closed, not abandoned. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      } finally walk.close()
    }

  /** `java.io.tmpdir`. */
  def tmpDir: Path = Paths.get(System.getProperty("java.io.tmpdir"))

  /** A fresh `<prefix>*` directory under `base` (tmpfs when writable,
    * else `java.io.tmpdir`), deleted with its contents at JVM exit: one
    * JVM-scoped root for scratch trees that die with the process. */
  def scratchRoot(prefix: String, base: Path = shmOrTmp): Path = {
    val root = Files.createTempDirectory(base, prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(root)))
    root
  }

  private def shmOrTmp: Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isWritable(shm)) shm else tmpDir
  }
}
