package graft

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, GenerateExec, LeafExecNode, LocalTableScanExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small result in one task. Every key ends with a total-order
  * `orderBy`, which Spark plans as a range exchange: a sampling job that
  * runs the sort's whole input, a shuffle map job, then a result job
  * whose partitions AQE coalesces into one anyway when they are small.
  *
  * This AQE query-stage preparation rule looks only at the plan's root
  * total-order `SortExec`, through any `Project`s above it. It replaces
  * the range exchange under that sort with a no-shuffle
  * `CoalesceExec(1)` (one result task: no sampling job, no second run
  * of the input, no range shuffle) when both hold:
  *   - the sort input's `sizeInBytes` is at most [[oneTaskBytes]], the
  *     size below which AQE coalesces a shuffle's output into one
  *     partition. It is the optimizer's estimate for a shuffle-free
  *     input and runtime bytes once the stages below have run; AQE
  *     re-plans after each stage, so a sort whose input turns out small
  *     drops its exchange before the exchange's stage starts;
  *   - the one task reads nothing the exchange's map side read on
  *     several cores ([[oneTaskInput]]): only exchange outputs, local
  *     rows and sources of one split. A split or multi-file source
  *     scanned in one task measured slower at sf0.1 on 4 cores
  *     (`scan_project` and five text keys over `documents`, by 3-67%).
  *
  * Everything else stays as it is: sorts below the root (a window or
  * join above a one-task sort would run in one task too), and a
  * `Generate` between the sort and its nearest scan or materialized
  * stage (an explode's estimate undercounts).
  *
  * Registered on every session by [[Harness.builder]]; clones and
  * `newSession`s of that session keep it. The bounds are read from the
  * conf of the session running the query. */
object SmallSort extends Rule[SparkPlan] {

  def apply(plan: SparkPlan): SparkPlan = plan match {
    case p: ProjectExec => p.withNewChildren(Seq(apply(p.child)))
    case s @ SortExec(_, true, e: ShuffleExchangeExec, _)
        if e.shuffleOrigin == ENSURE_REQUIREMENTS &&
          e.outputPartitioning.isInstanceOf[RangePartitioning] &&
          s.logicalLink.exists(_.stats.sizeInBytes <= oneTaskBytes) && oneTaskInput(e.child) =>
      s.withNewChildren(Seq(CoalesceExec(1, e.child)))
    case _ => plan
  }

  /** The shuffle size AQE coalesces into one partition at most: under
    * `coalescePartitions.parallelismFirst` (the default, which every
    * session here keeps) it keeps one partition per core down to
    * `minPartitionSize` (1 MB), so only an output that small becomes one
    * task. */
  private def oneTaskBytes: Long = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)

  /** Whether the one task reads only what the exchange's map side read
    * in one task too: local rows, the output of exchanges, and sources of
    * one file no larger than `spark.sql.files.openCostInBytes` (Spark
    * never splits such a file). A split or multi-file source, a pinned
    * copy or a range in the task is read on every core. Below an
    * exchange any source will do, but not a `Generate` short of a
    * materialized stage: the estimate there undercounts an explode. */
  private def oneTaskInput(p: SparkPlan, inTask: Boolean = true): Boolean = p match {
    case q: QueryStageExec => q.isMaterialized || oneTaskInput(q.plan, inTask = false)
    case e: Exchange => oneTaskInput(e.child, inTask = false)
    case _: GenerateExec => false
    case f: FileSourceScanExec => !inTask ||
      f.relation.sizeInBytes <= conf.filesOpenCostInBytes &&
        f.relation.location.inputFiles.length <= 1
    case _: LocalTableScanExec => true
    case _: LeafExecNode => !inTask
    case _ => p.children.forall(oneTaskInput(_, inTask))
  }
}
