package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.SparkListenerApplicationEnd

/** A dead application's temp state is never read back: Workspace deletes
  * an application's dirs when that application's end event arrives, and
  * leaves every other application's dirs — the live session's
  * Materialize artifacts and source round-trip sinks — readable. */
class WorkspaceSpec extends SparkSpec {

  test("an ended application's dirs are deleted, the live session's stay readable") {
    // live state: a Materialize artifact and an Io round-trip sink dir
    val key = s"ws-spec-${System.nanoTime()}"
    val mv = Materialize.once(spark, key)(spark.range(10).toDF("id"))
    val orcRows = sources.Io.orcRoundtrip.fn(spark, sf).count()
    val orcDir = Workspace.dir(spark, "orc", sf)

    // a second application, as an earlier driver of this JVM leaves one
    val dead = s"app-ended-${System.nanoTime()}"
    val deadDirs = Seq("mv", "orc").map(kind =>
      Workspace.once(dead, kind, sf) { d =>
        Files.writeString(Paths.get(d, "part"), "stale")
      })
    assert(deadDirs.forall(d => Files.exists(Paths.get(d, "part"))))
    new Workspace.Cleaner(dead).onApplicationEnd(SparkListenerApplicationEnd(0L))
    assert(deadDirs.forall(d => !Files.exists(Paths.get(d))),
      "an ended application's dirs survived its end event")
    // its entries are forgotten too: the same (kind, key) starts afresh
    var refilled = false
    val again = Workspace.once(dead, "mv", sf)(_ => refilled = true)
    assert(refilled && !deadDirs.contains(again))
    new Workspace.Cleaner(dead).onApplicationEnd(SparkListenerApplicationEnd(0L))
    assert(!Files.exists(Paths.get(again)))

    // the live application's state is untouched and still served warm
    assert(mv.count() == 10L)
    assert(Materialize.once(spark, key)(fail("warm read re-entered the builder"))
      .count() == 10L)
    assert(Workspace.dir(spark, "orc", sf) == orcDir)
    assert(sources.Io.readOrc(spark, s"$orcDir/dim_location").count() == orcRows)
  }

  test("a split copy is deleted on its application's end event") {
    // a single-file source above the split floor, copied for a second,
    // synthetic application
    val path = s"${tempDir("ws")}/t.parquet"
    val n = 10 * Sources.SplitFloorBytesPerCore * spark.sparkContext.defaultParallelism / 8
    spark.range(n).coalesce(1).write.mode("overwrite").parquet(path)
    val dead = s"app-ended-${System.nanoTime()}"
    val df = Sources.scan(dead, spark, path)
    val copy = Paths.get(new java.net.URI(df.inputFiles.head)).getParent.getParent
    assert(copy.getFileName.toString.startsWith("graft_split"))
    assert(df.count() == n)
    new Workspace.Cleaner(dead).onApplicationEnd(SparkListenerApplicationEnd(0L))
    assert(!Files.exists(copy), "an ended application's split copy survived")
  }

  test("a dir is handed out once per (application, kind, key)") {
    val a = tempDir("ws")
    val b = tempDir("ws")
    assert(a != b)
    assert(Paths.get(a).getFileName.toString.startsWith("graft_ws"))
    assert(Paths.get(a).getParent == Paths.get(System.getProperty("java.io.tmpdir")))
    val k = s"key-${System.nanoTime()}"
    assert(Workspace.dir(spark, "ws", k) == Workspace.dir(spark, "ws", k))
  }
}
