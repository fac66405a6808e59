package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Decisions made in one module stay there: only `Pin` (and the
  * `bridge` forwarding file) pins a frame, and only `Workspace` creates
  * a temp dir. A new call site elsewhere fails here. */
class OneModuleSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def offenders(allowed: Set[String], calls: String*): Seq[String] = {
    val st = Files.walk(Paths.get("src/main"))
    val files: Seq[Path] =
      try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    assert(files.size > 40, s"src/main not found from ${Paths.get("").toAbsolutePath}")
    files.filterNot(f => allowed(f.getFileName.toString)).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if calls.exists(line.contains) => s"$f:${i + 1}: ${line.trim}"
      }
    }
  }

  test("only Pin calls localCheckpoint or checkpoint") {
    val hits = offenders(Set("Pin.scala", "bridge.scala"), "localCheckpoint(", ".checkpoint(")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("only Workspace creates a temp dir") {
    val hits = offenders(Set("Workspace.scala"), "createTempDirectory")
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
