package perfbench

import java.nio.file.{Files => JFiles, Path}

/** Directory-tree helpers for the graph clone and the on-disk figures. */
object Files {

  private def walk(root: Path): Seq[Path] =
    if (!JFiles.exists(root)) Nil
    else {
      val s = JFiles.walk(root)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList }
      finally s.close()
    }

  def deleteTree(root: Path): Unit =
    walk(root).reverse.foreach(JFiles.deleteIfExists)

  /** Byte copy of a directory tree; `to` is replaced. */
  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from); val dst = java.nio.file.Paths.get(to)
    deleteTree(dst)
    walk(src).foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (JFiles.isDirectory(p)) JFiles.createDirectories(q) else JFiles.copy(p, q)
    }
  }

  def treeBytes(root: Path): Long =
    walk(root).filter(JFiles.isRegularFile(_)).map(JFiles.size).sum

  /** SHA-256 over (relative path, bytes) of every file, in path order. */
  def treeDigest(dir: String): String = {
    val root = java.nio.file.Paths.get(dir)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    walk(root).filter(JFiles.isRegularFile(_)).map(p => root.relativize(p).toString -> p)
      .sortBy(_._1).foreach { case (rel, p) =>
        md.update(rel.getBytes("UTF-8")); md.update(JFiles.readAllBytes(p))
      }
    md.digest().map("%02x".format(_)).mkString
  }
}
