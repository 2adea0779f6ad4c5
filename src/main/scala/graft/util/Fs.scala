package graft.util

import java.nio.file.{Files, Path}

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

  /** A fresh `<prefix>*` directory under `java.io.tmpdir`, deleted with
    * its contents at JVM exit: one JVM-scoped root for scratch trees that
    * die with the process. */
  def scratchRoot(prefix: String): Path = {
    val root = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(root)))
    root
  }
}
