package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Where the engine's temp state lives and when it is deleted.
  *
  * Every temp dir the engine writes (Materialize stages, the source
  * round-trip sinks, checkpoint dirs) is a `java.io.tmpdir/graft_<kind>*`
  * dir handed out per (application id, kind, key). A dir lives as long as
  * its application: one listener per SparkContext deletes the
  * application's dirs on `onApplicationEnd` and forgets their entries, so
  * a later application never reads a dead one's state and a stopped
  * session leaves nothing behind.
  */
object Workspace {
  /** "app|kind|key" → dir. */
  private val dirs = new ConcurrentHashMap[String, String]()
  /** Applications whose SparkContext carries a [[Cleaner]]. */
  private val watched = ConcurrentHashMap.newKeySet[String]()

  /** Deletes application `app`'s dirs when that application ends. */
  private[graft] final class Cleaner(app: String) extends SparkListener {
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
      val prefix = app + "|"
      dirs.keySet.asScala.filter(_.startsWith(prefix)).foreach { id =>
        Option(dirs.remove(id)).foreach(rm)
      }
      watched.remove(app)
    }
  }

  /** The session's application id, its Cleaner registered on first use. */
  private def appOf(s: SparkSession): String = {
    val sc = s.sparkContext
    val app = sc.applicationId
    if (watched.add(app)) sc.addSparkListener(new Cleaner(app))
    app
  }

  /** The session application's dir for (kind, key), created empty on
    * first use; every later call returns the same dir. */
  def dir(s: SparkSession, kind: String, key: String): String =
    once(s, kind, key)(_ => ())

  /** The session application's dir for (kind, key), written by `fill`
    * on first use. A hit is one map lookup with no filesystem call.
    * Racing first calls each fill a fresh dir: the first to finish is
    * kept and the others are deleted, so `fill` must be deterministic. */
  def once(s: SparkSession, kind: String, key: String)(
      fill: String => Unit): String =
    once(appOf(s), kind, key)(fill)

  private[graft] def once(app: String, kind: String, key: String)(
      fill: String => Unit): String = {
    val id = s"$app|$kind|$key"
    val hit = dirs.get(id)
    if (hit != null) hit
    else {
      val out = Files.createTempDirectory(s"graft_$kind").toString
      try fill(out)
      catch { case e: Throwable => rm(out); throw e }
      val prev = dirs.putIfAbsent(id, out)
      if (prev == null) out else { rm(out); prev }
    }
  }

  /** Recursively delete a dir. */
  private[graft] def rm(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      // walk streams hold directory handles until closed
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverseIterator
        .foreach(f => Files.deleteIfExists(f))
      finally st.close()
    }
  }
}
