package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession
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
}

object SparkSpec {
  private val dirs = new java.util.concurrent.atomic.AtomicLong()

  lazy val session: SparkSession = {
    // the one test dir outside Workspace: the warehouse dir is a static
    // conf, needed before the session exists, so it is deleted by its
    // own listener when the session's application ends
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
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
