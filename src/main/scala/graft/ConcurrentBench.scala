package graft

/** Concurrent-workload evidence (CONCURRENCY.json): a warehouse runs many
  * of these keys simultaneously, but Bench measures them serially — this
  * main measures what concurrency actually buys on the same 32-core box.
  *
  * Protocol: 8 mid-weight keys (0.4–1.6 s serial at sf0.1, drawn from
  * BENCH_FULL.json, mixed families so they contend on different
  * resources), one shared session with `spark.scheduler.mode=FAIR`.
  * Warmup runs every key once (codegen + one-time Materialize stages),
  * then each measured rep runs the set twice: SERIAL (sum of per-key
  * wall-clock, the Bench convention) and CONCURRENT (8 threads, one key
  * each, every thread in its OWN scheduler pool — in FAIR mode the root
  * pool shares the 32 cores fairly ACROSS pools, so no job starves
  * behind a long stage the way FIFO would; within a pool the default
  * FIFO is fine because each pool holds one job stream). Reported
  * throughput ratio = serial_sum / concurrent_wall per rep.
  *
  * The concurrency CONTRACT this demonstrates: every operator here is a
  * pure dataflow over its own frames — no session-level mutable state,
  * no temp views, no conf flips mid-query (the one legacy-conf read
  * rides a cloned session, bridge.sessionWithConf), so concurrent keys
  * compose without cross-talk; the only shared resources are cores,
  * memory, and the shuffle service, which is exactly what a multi-tenant
  * cluster scheduler is for.
  *
  * Usage: tools/run_main.sh graft.ConcurrentBench — writes
  * CONCURRENCY.json to the repo root; honors SPARK_GRAFT_SF_DIR.
  */
object ConcurrentBench {
  // mixed-family mid-weight set: text scoring, relational, behavioral,
  // sketch, dedup-delta, quality-gate, warehouse-audit, packing
  val keys: Seq[String] = Seq(
    "bm25_topk", "tfidf_topk", "markov_transitions", "hll_intersect_est",
    "delta_dedup", "corpus_clean", "dq_audit", "bpe_merge_pairs")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = 3
    def loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loadBefore = loadAvg
    val spark = Harness.session("spark.scheduler.mode" -> "FAIR")
    val fns = keys.map(k => k -> SparkEntry.queries(k))

    def runOne(name: String, fn: (org.apache.spark.sql.SparkSession, String)
        => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // full-plan noop write, not count() — see Harness.exhaust
      Harness.exhaust(fn(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }

    // warmup: codegen + one-time Materialize builds land here
    fns.foreach { case (n, f) => runOne(n, f) }
    Pin.sweep(spark)

    val repsOut = (1 to reps).map { _ =>
      val serial = fns.map { case (n, f) => n -> runOne(n, f) }
      Pin.sweep(spark)
      val serialSum = serial.map(_._2).sum
      val t0 = System.nanoTime()
      val threads = fns.zipWithIndex.map { case ((n, f), i) =>
        val t = new Thread(() => {
          // one pool per thread: FAIR shares cores across pools, so a
          // key with a long stage cannot starve the other seven
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"p$i")
          try runOne(n, f)
          catch { case e: Throwable =>
            System.err.println(s"[conc] $n failed: ${e.getMessage}")
          }
        })
        t.start(); t
      }
      threads.foreach(_.join())
      val concWall = (System.nanoTime() - t0) / 1e9
      Pin.sweep(spark)
      (serialSum, concWall)
    }

    def fmt(v: Double): String = f"$v%.2f"
    val repJs = repsOut.map { case (s, c) =>
      s"""{"serial_sum_sec":${fmt(s)},"concurrent_wall_sec":${fmt(c)},""" +
        s""""throughput_ratio":${fmt(s / c)}}"""
    }.mkString("[", ",", "]")
    val med = repsOut.map { case (s, c) => s / c }.sorted.apply(reps / 2)
    val json =
      s"""{"artifact":"CONCURRENCY","sf_dir":"$sfDir",""" +
        s""""master":"${spark.sparkContext.master}","scheduler":"FAIR",""" +
        s""""keys":${keys.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""reps":$repJs,"median_throughput_ratio":${fmt(med)},""" +
        s""""load_avg_before":${fmt(loadBefore)},""" +
        s""""why":"8 mid-weight keys from different families, one FAIR-mode session, one scheduler pool per thread; ratio = sum of serial per-key wall-clocks / wall-clock of the same 8 keys run concurrently. >1 means single queries leave cores idle that a concurrent warehouse workload reclaims; the operators share no session state (pure dataflow, no temp views, conf flips ride cloned sessions), so composition is contention-only"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("CONCURRENCY.json"),
      (json + "\n").getBytes("UTF-8"))
    println(s"[conc] median throughput ratio $med")
    spark.stop()
  }
}
