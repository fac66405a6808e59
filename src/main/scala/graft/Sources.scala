package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The one parquet reader behind every input table and `Materialize`
  * artifact: each (application, session, path, view) is read once and
  * the same `DataFrame` is handed to every later caller.
  *
  * `spark.read.parquet` runs one Spark job per call to read the footer
  * and infer the schema, and lists the files again; a frame built from
  * it once already carries both, so a memo hit starts no job and lists
  * nothing. A `view` names a frame derived from the raw read (an input
  * table, the normalized events), or a scalar computed over it (a
  * table's `max(id)`, `Tables.maxOf`), that is memoized beside it.
  *
  * Input tables ([[table]]) are scanned on every core. A source whose
  * scan has fewer partitions than the application's
  * `defaultParallelism` (the testdata files are one parquet row group
  * each, which Spark cannot split) and that holds at least
  * [[SplitFloorBytesPerCore]] per core is copied once per
  * application into a `Workspace` dir of kind `split`, as
  * `defaultParallelism` files, and every later read in that application
  * scans the copy. The copy is keyed on the source's modification time,
  * so a rewritten source is split again, and it is deleted with the
  * application's other dirs. A source that is already split, as at real
  * scale, is read as it is.
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
  private final case class Entry(mtime: Long, value: Any)

  private val entries = new ConcurrentHashMap[Key, Entry]()

  /** Bytes per core below which a source is read as it is, counted as
    * the uncompressed column data its parquet footers record: a split
    * file holding less costs its task and the copy's write job more than
    * it saves. Measured on local[4] over sf0.01-sized tables (medians of
    * 9–15 runs, the copy against the raw file): `customer` (15 KiB per
    * core) and `part` (8) ran an md5 + explode per row no faster,
    * `supplier` (1) and `nation` read 4–18 ms slower, while
    * `embeddings` (33) ran a pairwise dot product 43% faster, `events`
    * (62) and `orders` (79) ran the md5 + explode 20% and 25% faster and
    * `lineitem` (273) 57% faster. `documents` (39) ran its corpus gates
    * within 3% either way. Each copy is one write job, 140–370 ms in a
    * fresh application. */
  private[graft] val SplitFloorBytesPerCore = 24L << 10

  /** `s.read.parquet(path)`, read once per session. */
  def parquet(s: SparkSession, path: String): DataFrame =
    memo(s, path, "")(s.read.parquet(path))

  /** An input table, read once per session, from its split copy when
    * the source is too coarse to scan on every core. */
  def table(s: SparkSession, path: String): DataFrame =
    memo(s, path, "table")(scan(s, path))

  /** `path` read as it is, or from its application's split copy, which
    * the first caller writes. The copy is read back with the raw
    * frame's schema, so it costs no second schema-inference job. */
  private[graft] def scan(s: SparkSession, path: String): DataFrame =
    scan(Workspace.appOf(s), s, path)

  private[graft] def scan(app: String, s: SparkSession, path: String): DataFrame = {
    val raw = s.read.parquet(path)
    val cores = s.sparkContext.defaultParallelism
    if (raw.rdd.getNumPartitions >= cores) raw
    else {
      val (rows, bytes) = footerSize(s, raw.inputFiles)
      if (bytes < SplitFloorBytesPerCore * cores) raw
      else {
        // one task writes the files in the source's row order, with no
        // shuffle, and uncompressed: at sf0.1 on local[4] that wrote
        // `lineitem` in 1.17 s against 1.24 s snappy and 1.58 s through
        // a round-robin repartition, and scanned no slower. The copy
        // keeps the source's name, so a plan's scan still names it.
        val name = new Path(path).getName
        val copy = Workspace.once(app, "split", s"$path@${modified(s, path)}") {
          out => raw.coalesce(1).write.mode("overwrite")
            .option("maxRecordsPerFile", (rows + cores - 1) / cores)
            .option("compression", "none")
            .parquet(s"$out/$name")
        }
        s.read.schema(raw.schema).parquet(s"$copy/$name")
      }
    }
  }

  /** `read` — a frame over `path`, or a value derived from one — built
    * once per session and `view`, and again only when `path` has been
    * rewritten since. */
  def memo[A](s: SparkSession, path: String, view: String)(read: => A): A =
    memo(Workspace.appOf(s), s, path, view)(read)

  private[graft] def memo[A](app: String, s: SparkSession, path: String,
      view: String)(read: => A): A = {
    val key = Key(app, s, path, view)
    val mtime = modified(s, path)
    val hit = entries.get(key)
    if (hit != null && hit.mtime == mtime) hit.value.asInstanceOf[A]
    else if (mtime < 0) read // a missing path: the read raises Spark's error
    else {
      // built outside any lock (a first read may write a split copy); of
      // racing first reads, the first one stored is the one handed out
      val fresh = Entry(mtime, read)
      val prev =
        if (hit == null) entries.putIfAbsent(key, fresh)
        else { entries.put(key, fresh); null }
      (if (prev != null && prev.mtime == mtime) prev else fresh).value.asInstanceOf[A]
    }
  }

  /** Forget an ended application's entries (`Workspace.Cleaner`). */
  private[graft] def drop(app: String): Unit =
    entries.keySet.removeIf(_.app == app)

  /** The rows and the uncompressed column bytes the files' parquet
    * footers record, read on the driver (no job). */
  private def footerSize(s: SparkSession, files: Array[String]): (Long, Long) = {
    val conf = s.sparkContext.hadoopConfiguration
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try (r.getRecordCount, r.getRowGroups.asScala.map(_.getTotalByteSize).sum)
      finally r.close()
    }.foldLeft((0L, 0L)) { case ((r, b), (r1, b1)) => (r + r1, b + b1) }
  }

  private def modified(s: SparkSession, path: String): Long = {
    val p = new Path(path)
    try p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
    catch { case _: java.io.FileNotFoundException => -1L }
  }
}
