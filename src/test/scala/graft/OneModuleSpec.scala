package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Decisions made in one module stay there: only `Pin` (and the
  * `bridge` forwarding file) pins a frame, and only `Workspace` creates
  * a temp dir. A new call site elsewhere fails here, and so does a new
  * `SPARK_GRAFT_*` env knob or `spark.graft.*` conf. */
class OneModuleSpec extends org.scalatest.funsuite.AnyFunSuite {

  private lazy val files: Seq[Path] = {
    val st = Files.walk(Paths.get("src/main"))
    val fs =
      try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    assert(fs.size > 40, s"src/main not found from ${Paths.get("").toAbsolutePath}")
    fs
  }

  private def offenders(allowed: Set[String], calls: String*): Seq[String] =
    files.filterNot(f => allowed(f.getFileName.toString)).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if calls.exists(line.contains) => s"$f:${i + 1}: ${line.trim}"
      }
    }

  /** Every distinct match of `pattern` in `src/main`. */
  private def namesMatching(pattern: String): Set[String] =
    files.flatMap(f => pattern.r.findAllIn(Files.readString(f)))
      .map(_.stripSuffix(".")).toSet

  test("only Pin calls localCheckpoint or checkpoint") {
    val hits = offenders(Set("Pin.scala", "bridge.scala"), "localCheckpoint(", ".checkpoint(")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("only Workspace creates a temp dir") {
    val hits = offenders(Set("Workspace.scala"), "createTempDirectory")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the options are exactly three env knobs and five confs") {
    assert(namesMatching("SPARK_GRAFT_[A-Z0-9_]+") ==
      Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_KEYS"))
    assert(namesMatching("""spark\.graft\.[A-Za-z0-9_.]+""") == Set(
      "spark.graft.checkpointDir",
      "spark.graft.dedup.maxGroupMembers",
      "spark.graft.failInject.atCheckpoint",
      "spark.graft.fuzzyLink.maxBlockPairs",
      "spark.graft.triangle.bloom.edgesPerShard"))
  }
}
