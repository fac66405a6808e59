package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Failure-recovery demonstration for the reliable-checkpoint mode
  * (RECOVERY.json): IterateSpec proves the checkpoint files exist; this
  * probe proves they buy RECOVERY. It runs `graph_pagerank` twice under
  * `spark.graft.checkpointDir` on a task-retrying master (`local[8,2]` —
  * the local stand-in for a cluster's `spark.task.maxFailures=4`):
  * once clean for the baseline answer, once with
  * `spark.graft.failInject.atCheckpoint=3` killing the first attempt of
  * a round-2 materialization task mid-iteration (the canonical
  * preempted-executor shape). A task-end listener counts the induced
  * failure; the probe asserts the injected job still COMPLETES and its
  * rows are IDENTICAL to the baseline — which the driver's DuckDB gate
  * independently proves oracle-correct every round.
  *
  * Usage: tools/run_main.sh graft.RecoveryProbe [sfDir] — writes
  * RECOVERY.json to the repo root.
  */
object RecoveryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SparkSession.builder()
      .master("local[8,2]") // 2 task attempts: retries on, like a cluster
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.graft.checkpointDir",
      Workspace.dir(spark, "recovery", "ckpt"))

    val failedTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
    })

    def rows(key: String): Seq[String] = {
      val out = SparkEntry.queries(key)(spark, sfDir)
        .collect().map(_.toString).toSeq.sorted
      Harness.sweepBlocks(spark)
      // drain the async listener bus before reading the failure counter —
      // task-end events may still be in flight after collect() returns
      org.apache.spark.sql.graft.bridge
        .waitListenerBusEmpty(spark.sparkContext)
      out
    }

    // per probe: which Iterate.checkpoint call to kill. pagerank's
    // integer fixed point converges after ONE round on the region graph
    // (complete subgraph per region -> uniform ranks), so call 2 — the
    // round-1 rank materialization — is its only in-loop call; BFS runs
    // its frontier loop to convergence (~4 rounds), so call 3 lands
    // mid-loop with round-1 state already durable on disk.
    val probes = Seq(("graph_pagerank", 2), ("graph_bfs_levels", 3))
    val results = probes.map { case (key, at) =>
      val baseline = rows(key)
      val failsBefore = failedTasks.get()
      Iterate.resetFaultInjection()
      spark.conf.set("spark.graft.failInject.atCheckpoint", at.toString)
      val recovered =
        try rows(key)
        finally spark.conf.unset("spark.graft.failInject.atCheckpoint")
      val induced = failedTasks.get() - failsBefore
      require(induced >= 1,
        s"$key: fault injection did not fire (task failures during " +
          s"injected run: $induced) — the recovery claim would be vacuous")
      require(baseline == recovered,
        s"$key: recovered result diverged from baseline: " +
          s"${baseline.size} vs ${recovered.size} rows")
      println(s"[recovery] $key induced_task_failures=$induced " +
        s"rows=${baseline.size} match=true")
      s"""{"key":"$key","inject_at_checkpoint":$at,""" +
        s""""induced_task_failures":$induced,"job_completed":true,""" +
        s""""rows":${baseline.size},"rows_match_baseline":true}"""
    }

    val json =
      s"""{"artifact":"RECOVERY","sf_dir":"$sfDir",""" +
        s""""master":"local[8,2]","checkpoint_mode":"reliable",""" +
        s""""injected":"spark.graft.failInject.atCheckpoint=N kills the first attempt of partition 0 inside the Nth round-materialization job",""" +
        s""""probes":[${results.mkString(",")}],""" +
        s""""why":"reliable checkpoints turn a mid-iteration task loss into one task retry instead of a dead job: the retried task recomputes from the previous round's on-disk checkpoint, never from the loop's full lineage; baseline rows are independently DuckDB-oracle-gated every round (CORRECTNESS -> graph_pagerank / graph_bfs_levels)"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("RECOVERY.json"),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
