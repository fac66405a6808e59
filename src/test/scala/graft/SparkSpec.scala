package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.bridge
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** A fresh dir under the shared session's application: Workspace
    * deletes it when the session ends. */
  def tempDir(kind: String): String =
    Workspace.dir(spark, kind, s"spec-${SparkSpec.dirs.incrementAndGet()}")

  /** `body`'s result and the Spark jobs it started, counted by a
    * listener between two drains of the listener bus. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    bridge.waitListenerBusEmpty(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val r = body
      bridge.waitListenerBusEmpty(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  private val dirs = new java.util.concurrent.atomic.AtomicLong()

  lazy val session: SparkSession = {
    // the one test dir outside Workspace: the warehouse dir is a static
    // conf, needed before the session exists, so it is deleted by its
    // own listener when the session's application ends
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val s = Harness.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir", wh)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
        Workspace.rm(wh)
    })
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
