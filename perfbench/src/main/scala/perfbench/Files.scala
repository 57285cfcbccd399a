package perfbench

import java.nio.file.{Path, Paths, StandardCopyOption, Files => JFiles}

import scala.jdk.CollectionConverters._

/** Local-filesystem helpers for pass outputs. */
object Files {

  private def walk(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!JFiles.exists(root)) Seq.empty
    else {
      val s = JFiles.walk(root)
      try s.iterator().asScala.toList finally s.close()
    }
  }

  /** (bytes, count) of the data files under `dir`: regular files whose
    * name does not start with '.' or '_' (checksums, commit markers).
    */
  def dataFiles(dir: String): (Long, Long) = {
    val files = walk(dir).filter { p =>
      val n = p.getFileName.toString
      JFiles.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }
    (files.map(JFiles.size).sum, files.size.toLong)
  }

  def delete(dir: String): Unit =
    walk(dir).reverse.foreach(JFiles.deleteIfExists)

  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    walk(from).foreach { p =>
      val target = dst.resolve(src.relativize(p))
      if (JFiles.isDirectory(p)) JFiles.createDirectories(target)
      else {
        Option(target.getParent).foreach(JFiles.createDirectories(_))
        JFiles.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(JFiles.createDirectories(_))
    JFiles.writeString(p, text)
  }

  /** 1-minute load average, or -1 where /proc is absent. */
  def loadAvg(): Double =
    try JFiles.readString(Paths.get("/proc/loadavg")).split(' ')(0).toDouble
    catch { case _: Exception => -1.0 }
}
