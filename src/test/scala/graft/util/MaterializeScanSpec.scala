package graft.util

import org.scalatest.funsuite.AnyFunSuite

class MaterializeScanSpec extends AnyFunSuite {

  test("every lineage cut in src/main goes through Materialize") {
    import scala.jdk.CollectionConverters._
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try s.iterator().asScala.toList.filter(_.toString.endsWith(".scala")) finally s.close()
    }
    assert(files.exists(_.endsWith("util/Materialize.scala")), "scan root must hold Materialize.scala")
    val cut = """\.(localCheckpoint|checkpoint)\b""".r
    val offenders = files.filterNot(_.endsWith("util/Materialize.scala")).flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if !line.trim.matches("""(//|/\*|\*).*""") && cut.findFirstIn(line).isDefined =>
          s"${f.getFileName}:${i + 1}"
      }
    }
    assert(offenders.isEmpty, s"cut lineage through graft.util.Materialize: ${offenders.mkString(", ")}")
  }
}
