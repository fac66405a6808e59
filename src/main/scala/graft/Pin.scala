package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.bridge

/** How every reused subtree is stored, materialized and freed — the one
  * module that calls `localCheckpoint` or `checkpoint`. A caller says
  * only that a frame is read more than once: `Pin(df)`, or
  * `df.transform(Pin)` in a chain. Where the copy lives follows from
  * `spark.graft.checkpointDir`: UNSET (the default — right for local[32]
  * and the bench harness), a local block copy, fastest, whose truncated
  * lineage dies with its executor; SET (a shared HDFS/S3 path on a real
  * cluster), an eager reliable checkpoint into that dir, so a preempted
  * executor costs one task re-read instead of the job.
  *
  * When the local copy is materialized: Spark 4.1's `Dataset.checkpoint`
  * runs `plan.execute()` at the call for lazy and eager pins alike —
  * under AQE that runs every upstream shuffle stage there — and wraps
  * that ONE RDD in a `LogicalRDD`, so no later action re-plans the
  * subtree. Eager only adds `RDD.doCheckpoint()`, one more job for the
  * final stage. So a pin is lazy — its first consumer's job fills the
  * blocks later consumers read — and [[now]] is for a caller that
  * frees the copy's inputs next (a loop round: `Iterate`, the BPE merge
  * loop, `ccLabelsOf`), which an unmaterialized copy would have to
  * recompute. The copy's stats are the optimizer's estimate, not
  * measured sizes. No caller pins a frame that ends in `orderBy`:
  * [[SmallSort]] would run such a frame's small sort in one task, so
  * its copy would hold one partition.
  */
object Pin extends (DataFrame => DataFrame) {
  /** `df`, stored once for every later reader; its first consumer
    * materializes it (eagerly under `spark.graft.checkpointDir`). */
  def apply(df: DataFrame): DataFrame = pin(df, eager = false)

  /** `df`, stored and materialized before this returns: only where the
    * caller frees the copy's inputs next. */
  def now(df: DataFrame): DataFrame = pin(df, eager = true)

  /** Free a pinned frame's blocks and checkpoint files — only once its
    * data is no longer needed: a truncated lineage cannot recompute. */
  def free(df: DataFrame): Unit = bridge.freeCheckpoint(df)

  /** Free everything pinned in the session, between keys: block copies
    * are not CacheManager-tracked and would otherwise squeeze later
    * queries' memory for the rest of the JVM. */
  def sweep(s: SparkSession): Unit = {
    val sc = s.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    sc.getCheckpointDir.map(new org.apache.hadoop.fs.Path(_)).foreach { p =>
      val fs = p.getFileSystem(sc.hadoopConfiguration)
      if (fs.exists(p)) fs.listStatus(p).foreach(f => fs.delete(f.getPath, true))
    }
  }

  private def pin(df: DataFrame, eager: Boolean): DataFrame = {
    val s = df.sparkSession
    val d = withInjectedFault(df)
    s.conf.getOption("spark.graft.checkpointDir").filter(_.nonEmpty) match {
      case Some(dir) =>
        if (s.sparkContext.getCheckpointDir.isEmpty)
          s.sparkContext.setCheckpointDir(dir)
        d.checkpoint()
      case None => d.localCheckpoint(eager)
    }
  }

  /** Fault injection for graft.RecoveryProbe: with
    * `spark.graft.failInject.atCheckpoint` = N, the Nth pin in this JVM
    * kills the FIRST attempt of partition 0 in the job that materializes
    * it — a preempted executor mid-loop. Only a task-retrying master
    * (`local[n,2]`, any cluster) completes; unset, it costs one lookup. */
  private val pins = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def resetFaultInjection(): Unit = pins.set(0)
  private def withInjectedFault(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    s.conf.getOption("spark.graft.failInject.atCheckpoint")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption) match {
      case Some(n) if pins.incrementAndGet() == n =>
        // RDD detour (plan-breaking, injection path only): the throw must
        // live INSIDE the materialization job's tasks, where a retry
        // reruns it with attemptNumber > 0
        s.createDataFrame(df.rdd.mapPartitions { it =>
          val tc = org.apache.spark.TaskContext.get()
          if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
            throw new RuntimeException(
              "graft.Pin fault injection: first attempt of partition 0")
          it
        }, df.schema)
      case _ => df
    }
  }
}
