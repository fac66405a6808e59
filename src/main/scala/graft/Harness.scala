package graft

import org.apache.spark.sql.SparkSession

/** Shared plumbing for the driver-facing mains (Bench, Verify,
  * ConcurrentBench, PlanDump, ScaleData, SkewData) so config tweaks
  * land once: the session and the noop sink. Freeing a key's pins
  * between keys is [[Pin.sweep]]. */
object Harness {

  /** The one place a session is built (`OneModuleSpec`): a local
    * master with `cores` shuffle partitions, UTC, UI off and the
    * [[SmallSort]] rule, so the mains, the probes and the specs plan
    * alike. */
  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(_.injectQueryStagePrepRule(_ => SmallSort))

  /** Local session at SPARK_GRAFT_CPUS (default 32, the driver's target
    * topology), shuffle partitions matched to cores, UI off. */
  def session(extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = builder(s"local[$cpus]", cpus.toInt)
      // whole-stage-codegen class cache (STATIC conf — must land at
      // session build). Default 100 entries guarantees LRU thrash on a
      // 150-key suite (~2,200 generated classes per full pass measured
      // in round 11: 8,898 janino compiles / 97.3 s across 4 passes —
      // ~20% of the run recompiling classes the cache had just evicted).
      // 5000 ≥ 2× the per-pass unique-class count, so repeat passes hit
      // the cache; entries are source-keyed generated classes, small
      // relative to the 8g driver heap.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** [[Pin.sweep]] under the name the benchmark harness calls. */
  def sweepBlocks(s: SparkSession): Unit = Pin.sweep(s)

  /** Execute a frame's FULL plan and discard the rows (the built-in
    * `noop` v2 sink). The bench action must never be `count()`:
    * Catalyst RE-OPTIMIZES a count — final projections and sorts are
    * pruned, window expressions whose output is unreferenced drop out,
    * and a left outer join whose right side is unique on the join key
    * is eliminated outright. Measured round 17: `delta_dedup.count()`
    * collapsed to `Aggregate(count(1), Filter(doc_id >= split), scan)`
    * — the bench row had measured a filtered parquet scan, not the
    * dedup, ever since the key existed. The noop write consumes every
    * column of every row through the query's own physical plan, so
    * what the timer sees is what a real consumer would pay. */
  def exhaust(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()
}
