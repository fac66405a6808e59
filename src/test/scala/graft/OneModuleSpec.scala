package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Decisions made in one module stay there: only `Pin` (and the
  * `bridge` forwarding file) pins a frame, only `Workspace` creates
  * a temp dir, only `Harness` builds a session, in `src/test` too,
  * only `GlobalRank` computes a scale-safe global position, and only
  * `ConcurrentBench` starts a driver thread.
  * A new call site elsewhere fails here, and so does a new
  * `SPARK_GRAFT_*` env knob or `spark.graft.*` conf. */
class OneModuleSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val st = Files.walk(Paths.get(root))
    val fs =
      try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    assert(fs.size > 40, s"$root not found from ${Paths.get("").toAbsolutePath}")
    fs
  }

  private lazy val files: Seq[Path] = scalaFiles("src/main")

  private def offenders(in: Seq[Path], allowed: Set[String], calls: String*): Seq[String] =
    in.filterNot(f => allowed(f.getFileName.toString)).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if calls.exists(line.contains) => s"$f:${i + 1}: ${line.trim}"
      }
    }

  /** Every distinct match of `pattern` in `src/main`. */
  private def namesMatching(pattern: String): Set[String] =
    files.flatMap(f => pattern.r.findAllIn(Files.readString(f)))
      .map(_.stripSuffix(".")).toSet

  test("only Pin calls localCheckpoint or checkpoint") {
    val hits = offenders(files, Set("Pin.scala", "bridge.scala"), "localCheckpoint(", ".checkpoint(")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("only Workspace creates a temp dir") {
    val hits = offenders(files, Set("Workspace.scala"), "createTempDirectory")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("every session is built by Harness.builder, so specs plan as the mains do") {
    val hits = offenders(files ++ scalaFiles("src/test"),
      Set("Harness.scala", "OneModuleSpec.scala"), "SparkSession.builder")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("only GlobalRank takes an exclusive running sum, besides two single-level prefix windows") {
    // TextScoring.qualityBandTableOf's cumulative histogram and
    // Relational's skyline_pareto prefix max are not cell offsets
    val hits = offenders(files, Set("GlobalRank.scala", "TextScoring.scala", "Relational.scala"),
      "rowsBetween(Window.unboundedPreceding, -1)")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no driver thread outside ConcurrentBench: Spark's scheduler overlaps independent stages") {
    val hits = offenders(files, Set("ConcurrentBench.scala"), "new Thread")
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
