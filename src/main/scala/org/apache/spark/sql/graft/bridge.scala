/*
 * Bridge into Spark's private[sql] Column <-> Expression converters —
 * the standard pattern third-party Catalyst extensions use (a single
 * file compiled under the org.apache.spark.sql namespace). Only
 * forwarding, no behavior.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, Literal}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.util.sketch.BloomFilter

object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Whether `probe` might be in `bf`: Catalyst's `BloomFilterMightContain`
    * (the expression Spark's runtime filter injects, not public API) over
    * the serialized filter as a binary literal, so the test stays inside
    * whole-stage codegen. `probe` is the LONG key the filter was built
    * over (`putLong`/`mightContainLong`). */
  def mightContain(bf: BloomFilter, probe: Column): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    column(BloomFilterMightContain(Literal(bos.toByteArray, BinaryType),
      expression(probe)))
  }

  /** A clone of `s` (same SparkContext, copied conf/state) with the given
    * conf overrides — the thread-safe way to give ONE read a legacy flag
    * without mutating the caller's session (set/unset around a read races
    * when two queries build plans concurrently). */
  def sessionWithConf(s: SparkSession, kv: (String, String)*): SparkSession = {
    val c = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    kv.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** Free EVERYTHING behind a frame pinned by `graft.Pin`: the
    * BlockManager blocks of a localCheckpoint AND the on-disk files of a
    * reliable `checkpoint()` (`ReliableRDDCheckpointData
    * .cleanCheckpoint` is private[spark]; this bridge package sits
    * under org.apache.spark, so a loop can bound its disk footprint to
    * two rounds' state instead of the loop's whole history). Both
    * halves are no-ops for the mode not in use. */
  def freeCheckpoint(df: org.apache.spark.sql.Dataset[_]): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false)
          org.apache.spark.rdd.ReliableRDDCheckpointData.cleanCheckpoint(
            l.rdd.sparkContext, l.rdd.id)
        case _ => ()
      }

  /** Block until the listener bus has delivered every queued event —
    * `LiveListenerBus.waitUntilEmpty` is private[spark]. Bench snapshots
    * its per-key shuffle-byte counters around each query; without the
    * drain, async task-end events from key N would bleed into key N+1's
    * delta and the per-key byte attribution would be off by whole
    * stages. */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** Reliable-checkpoint file path(s) behind a frame — empty for
    * localCheckpoint frames. Spec evidence for the durability switch. */
  def checkpointFiles(df: org.apache.spark.sql.Dataset[_]): Seq[String] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.getCheckpointFile
      }.flatten
}
