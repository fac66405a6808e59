package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one parquet reader behind every input table and `Materialize`
  * artifact: each (application, session, path, view) is read once and
  * the same `DataFrame` is handed to every later caller.
  *
  * `spark.read.parquet` runs one Spark job per call to read the footer
  * and infer the schema, and lists the files again; a frame built from
  * it once already carries both, so a memo hit starts no job and lists
  * nothing. A `view` names a frame derived from the raw read (the
  * fanned-out corpus, the normalized events) that is memoized beside it.
  *
  * No stale data: a hit compares the path's modification time with the
  * one seen when it was read (one driver-side `getFileStatus`, no job),
  * so a path rewritten inside the application is read again. Entries die
  * with their application: `Workspace`'s end-of-application listener
  * drops them. The `sources.Io` round-trip readers do not come here:
  * they rewrite their dirs on every run and test how a fresh read types
  * the data.
  *
  * Frames handed out twice share expression ids, so a self-join of two
  * reads resolves through Spark's relation deduplication, as any
  * self-join of one frame does.
  */
object Sources {
  private final case class Key(
      app: String, session: SparkSession, path: String, view: String)
  private final case class Entry(mtime: Long, df: DataFrame)

  private val entries = new ConcurrentHashMap[Key, Entry]()

  /** `s.read.parquet(path)`, read once per session. */
  def parquet(s: SparkSession, path: String): DataFrame =
    memo(s, path, "")(s.read.parquet(path))

  /** `read` — a frame over `path` — built once per session and `view`,
    * and again only when `path` has been rewritten since. */
  def memo(s: SparkSession, path: String, view: String)(
      read: => DataFrame): DataFrame =
    memo(Workspace.appOf(s), s, path, view)(read)

  private[graft] def memo(app: String, s: SparkSession, path: String,
      view: String)(read: => DataFrame): DataFrame = {
    val key = Key(app, s, path, view)
    val mtime = modified(s, path)
    val hit = entries.get(key)
    if (hit != null && hit.mtime == mtime) hit.df
    else if (mtime < 0) read // a missing path: the read raises Spark's error
    else {
      // built outside any lock (`documents` reads through `parquet`); of
      // racing first reads, the first one stored is the one handed out
      val fresh = Entry(mtime, read)
      val prev =
        if (hit == null) entries.putIfAbsent(key, fresh)
        else { entries.put(key, fresh); null }
      if (prev != null && prev.mtime == mtime) prev.df else fresh.df
    }
  }

  /** Forget an ended application's frames (`Workspace.Cleaner`). */
  private[graft] def drop(app: String): Unit =
    entries.keySet.removeIf(_.app == app)

  private def modified(s: SparkSession, path: String): Long = {
    val p = new Path(path)
    try p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
    catch { case _: java.io.FileNotFoundException => -1L }
  }
}
