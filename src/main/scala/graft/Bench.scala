package graft

/** Benchmark main. Prints ONE machine-readable JSON line as the very last
  * stdout line. The consumer keeps only the final ~2000 characters of
  * output (measured from its round-1/2 artifacts), and sbt appends its own
  * "[success] Total time" line (~70 chars) after us — so the line must stay
  * under ~1880 chars or its head gets cut off and it stops parsing. With
  * 75+ query keys the full per-query map no longer fits: full detail (3-dp
  * per-query timings) is written to BENCH_FULL.json instead, and the stdout
  * line carries the slowest keys only, trimming fastest-first until it
  * fits, with `queries_omitted` recording how many were dropped.
  *
  * SELF-DEFENDING TIMING: a RECORDED warmup pass (SPARK_GRAFT_BENCH_WARMUP,
  * default 1; `warmup_total` in BENCH_FULL.json) runs the whole key loop
  * first, so one-time Materialize builds and the bulk of the janino
  * codegen floor land before any measured pass — then the key loop runs
  * SPARK_GRAFT_BENCH_PASSES times (default 3) and every key reports its
  * per-pass MEDIAN, so a co-tenant load spike during one pass cannot
  * print a scary number into the round record — identical code measured
  * 92.6 s quiet vs 168.8 s on a load-4.2 box in round 4, and the artifact
  * itself must carry that diagnosis. `pass_totals` + `pass_load_avg`
  * record what each pass saw; a contended run shows up as divergent pass
  * totals instead of silently inflating the headline. With all measured
  * passes post-warmup, `pass_spread` measures contention rather than
  * structural first-pass cost (round 6's dedup_clusters spread was 32.7×
  * purely because pass 1 absorbed the cc_labels stage build).
  */
/** Accumulates shuffle read/write and spill bytes across all tasks.
  * Thread-safe (task-end events may arrive from the bus dispatcher while
  * Bench snapshots); attribution to a key is done by the caller via
  * drain-then-snapshot deltas around each serial query. */
private[graft] class TaskByteListener
    extends org.apache.spark.scheduler.SparkListener {
  private val rd = new java.util.concurrent.atomic.AtomicLong
  private val wr = new java.util.concurrent.atomic.AtomicLong
  private val sp = new java.util.concurrent.atomic.AtomicLong
  override def onTaskEnd(
      e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      rd.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      wr.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      sp.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  /** (shuffle read, shuffle write, spill) bytes since listener start. */
  def snap: (Long, Long, Long) = (rd.get, wr.get, sp.get)
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // degrade like the other env knobs: a malformed value falls back to 3
    // instead of aborting the whole run with no artifact
    val passes = math.max(1, scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").trim.toInt).getOrElse(3))
    def loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // sample BEFORE the session starts: co-tenant load, not our workers
    val loadBefore = loadAvg
    val spark = Harness.session()
    // per-key shuffle/spill byte accounting: at cluster scale the cost
    // model is shuffle bytes moved, not local seconds — a key whose
    // bytes grow superlinearly in data volume is a 100 TB bottleneck
    // even if its local time happens to hide it. Counters accumulate on
    // the (async) listener bus; each measured key drains the bus and
    // snapshots before/after, so the delta is that key's tasks alone.
    val metricsL = new TaskByteListener
    spark.sparkContext.addSparkListener(metricsL)
    def byteSnap(): (Long, Long, Long) = {
      org.apache.spark.sql.graft.bridge.waitListenerBusEmpty(spark.sparkContext)
      metricsL.snap
    }
    // warm the JVM/codegen/parquet-reader paths so the first measured
    // query isn't charged for session init (it was absorbing ~5s)
    spark.range(100000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    // optional key filter (SPARK_GRAFT_BENCH_KEYS=a,b,c): measure only
    // the named keys under the IDENTICAL per-key protocol (recorded
    // warmup over the same selection + median-of-passes), so a new
    // key's timings can be merged into a committed full artifact
    // (tools/merge_bench_keys.py records the provenance) without
    // re-running the whole suite at every multiple
    val keyFilter = sys.env.get("SPARK_GRAFT_BENCH_KEYS")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => keyFilter.forall(_.contains(n)) }
    // RECORDED warmup pass(es): run the whole key loop once before any
    // measured pass, so the one-time Materialize stage builds and the
    // bulk of the janino codegen floor land HERE by construction rather
    // than being median-ed out of pass 1 — pass_spread then measures
    // contention, not structural first-pass cost (round 6's
    // dedup_clusters showed 32.7× spread purely because pass 1 absorbed
    // the cc_labels build). The warmup is recorded (warmup_total in
    // BENCH_FULL.json), never hidden: excluded from medians by
    // construction, not by the median's vote
    val warmups = math.max(0, scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").trim.toInt).getOrElse(1))
    // janino class-count probe (exact — the histogram's COUNT, unlike its
    // reservoir-sampled mean): snapshotted around each warmup key and
    // each measured pass, so the artifact shows WHERE the compile leg
    // lands — per-key compile attribution in the warmup, and proof that
    // the measured passes run compile-free off the codegen cache (a
    // key-level regression can then never hide inside compile noise)
    def cgClassCount: Long = org.apache.spark.metrics.source
      .CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val warmupKeyClasses =
      scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // snapshot BEFORE the warmup loop: cgClassCount is the JVM-lifetime
    // janino counter, so the warmup phase entry must be a DELTA — the
    // absolute would claim session-init / pre-bench compiles (anything
    // already compiled in this JVM) as warmup cost
    val classesAtStart = cgClassCount
    val warmupRuns: Seq[(Double, Double)] = (1 to warmups).map { wi =>
      val wl = loadAvg
      val t0 = System.nanoTime()
      names.foreach { case (name, fn) =>
        val c0 = cgClassCount
        try Harness.exhaust(fn(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $name failed: ${e.getMessage}") }
        Pin.sweep(spark)
        if (wi == 1)
          warmupKeyClasses(name) =
            warmupKeyClasses.getOrElse(name, 0L) + (cgClassCount - c0)
      }
      (wl, (System.nanoTime() - t0) / 1e9)
    }
    val warmupTotal = warmupRuns.map(_._2).sum
    val classesAfterWarmup = cgClassCount
    // snapshot which Materialize stages the warmup built: with ≥1 warmup
    // pass every stage lands here by construction (the warmup runs every
    // key), so a stage tagged "pass" below is a protocol violation worth
    // seeing in the artifact — it means some key built one-time state
    // the warmup didn't reach, and that key's pass-1 time carries it
    val stagesAfterWarmup: Set[String] = {
      import scala.jdk.CollectionConverters._
      Materialize.buildSecs.keySet.asScala.toSet
    }
    // fixed (sorted) order within each pass: per-key timings comparable
    // across rounds; one-time pipeline materializations already landed in
    // the warmup pass, so every measured pass sees steady state
    val passClassDeltas = scala.collection.mutable.ArrayBuffer.empty[Long]
    val passRuns: Seq[(Double, Seq[(String, Double, (Long, Long, Long))])] =
      (1 to passes).map { _ =>
        val passLoad = loadAvg
        val pc0 = cgClassCount
        val res = names.map { case (name, fn) =>
          val (r0, w0, s0) = byteSnap()
          val t0 = System.nanoTime()
          // -1 marks a failed query; a success records its elapsed
          // seconds. The action is the full-plan noop write, NOT
          // count() — see Harness.exhaust for the count-pruning class
          // this closes (round 17)
          val secs =
            try { Harness.exhaust(fn(spark, sfDir))
                  (System.nanoTime() - t0) / 1e9 }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
            }
          val (r1, w1, s1) = byteSnap()
          Pin.sweep(spark)
          (name, secs, (r1 - r0, w1 - w0, s1 - s0))
        }
        passClassDeltas += cgClassCount - pc0
        (passLoad, res)
      }
    // per-key median over the passes that succeeded; a key with NO
    // successful pass keeps the -1 sentinel (and must not make the run
    // look faster: only successes contribute to totals)
    // UPPER median on even counts: a key that failed one of 3 passes has
    // ok=[a,b] left, and taking the lower value would report its MINIMUM —
    // an optimistic bias landing exactly on the flakiest keys. Odd counts
    // get the true median either way.
    def medianOf(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.length / 2)
    }
    // ONE extraction of each key's successful-pass timings feeds both
    // the median and the spread — two copies of this index alignment
    // would desynchronize silently if the failure sentinel changed
    val okByKey: Seq[(String, Seq[Double])] = names.map(_._1).zipWithIndex
      .map { case (name, i) =>
        name -> passRuns.map(_._2(i)._2).filter(_ >= 0)
      }
    val results: Seq[(String, Double)] = okByKey.map { case (name, ok) =>
      name -> (if (ok.isEmpty) -1.0 else medianOf(ok))
    }
    // per-key shuffle bytes: upper median over that key's SUCCESSFUL
    // passes, per component — same estimator as the timings, so a
    // single AQE replan or retry in one pass can't swing the artifact.
    // A key with no successful pass keeps the -1 sentinel.
    val bytesByKey: Seq[(String, (Long, Long, Long))] =
      names.map(_._1).zipWithIndex.map { case (name, i) =>
        val ok = passRuns.map(_._2(i)).filter(_._2 >= 0).map(_._3)
        def med(f: ((Long, Long, Long)) => Long): Long =
          if (ok.isEmpty) -1L else { val s = ok.map(f).sorted; s(s.length / 2) }
        name -> ((med(_._1), med(_._2), med(_._3)))
      }
    val failed = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    val passTotals = passRuns.map(_._2.map(_._2).filter(_ >= 0).sum)
    // self-describing run config + load averages (before = co-tenant
    // pressure, per-pass = pressure as each pass started, after = mixed
    // with our own workers): these separate environment contention from
    // plan regressions when comparing rounds
    val master = spark.sparkContext.master
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions")

    // sample once: BENCH_FULL.json and the stdout line must agree
    val loadAfter = loadAvg
    def fmt(v: Double, dp: Int): String =
      BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString
    def arr(vs: Seq[Double], dp: Int): String =
      vs.map(fmt(_, dp)).mkString("[", ",", "]")
    def line(qs: Seq[(String, Double)], omitted: Int): String = {
      val qj = qs.map { case (k, v) => "\"" + k + "\":" + fmt(v, 1) }
        .mkString("{", ",", "}")
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","action":"exhaust","queries":$qj$om,""" +
        s""""sf":"$sfDir","master":"$master","shuffle_partitions":$shuffle,""" +
        s""""passes":$passes,"pass_totals":${arr(passTotals, 1)},""" +
        s""""failed":$failed,"load_avg_before":${fmt(loadBefore, 1)},""" +
        s""""load_avg":${fmt(loadAfter, 1)},"detail":"BENCH_FULL.json"}"""
    }

    // full-precision record for humans / the judge (repo-root file).
    // `stages` breaks out one-time Materialize builds (signature tables,
    // fact_sales, candidate pairs) so readers can subtract them from
    // whichever query key happened to trigger the build this run —
    // per-key round-over-round comparisons are meaningless without it
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v, 3) }
      .mkString("{", ",", "}")
    // per-key pass spread (max/min over that key's successful passes):
    // a single-pass contention spike is visible in the artifact without
    // re-running — a key whose median moved round-over-round but whose
    // spread is large was measured under noise, not regressed (the
    // fuzzy_link 2.6→3.6→2.8 s lesson from rounds 4-6). A key with
    // FEWER than 2 successful passes gets the -1 sentinel, never a
    // fake "perfectly stable" 1.0 — those are exactly the flaky keys a
    // spread reader must not be reassured about
    val spreadJs = okByKey.map { case (name, ok) =>
      val r = if (ok.size < 2) -1.0 else ok.max / math.max(ok.min, 0.001)
      "\"" + name + "\":" + fmt(r, 2)
    }.mkString("{", ",", "}")
    // each stage carries WHERE it was built: "warmup" (the protocol —
    // with ≥1 warmup pass every one-time build lands there because the
    // warmup runs every key) vs "pass" (a protocol violation: some key
    // built one-time state the warmup didn't reach, and that key's
    // pass-1 time carries the build — exactly what a round-over-round
    // reader needs to see before calling it a regression)
    val stages = {
      import scala.jdk.CollectionConverters._
      Materialize.buildSecs.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) =>
          val during = if (stagesAfterWarmup.contains(k)) "warmup" else "pass"
          "\"" + k + "\":{\"sec\":" + fmt(v, 3) +
            ",\"built_during\":\"" + during + "\"}"
        }
        .mkString("{", ",", "}")
    }
    // janino attribution: whole-stage codegen compile time is a fixed
    // per-plan tax (~0.5-0.8 s/key floor across 95 keys) that no plan
    // improvement removes — report it so total-vs-total round comparisons
    // can separate compile floor from genuine execution cost. Histogram
    // total is count×mean (reservoir-approximate, fine for attribution).
    // BASELINE (ADVICE r18): codegen_compiled_classes/_compile_sec are
    // the BENCH-SCOPED deltas (lifetime count minus classesAtStart, the
    // same baseline codegen_classes_by_phase uses) so session-init
    // compiles are never billed to the bench; the raw JVM-lifetime count
    // still ships as codegen_classes_jvm_lifetime for reconciliation
    // with codegen_classes_pre_bench.
    val cg = org.apache.spark.metrics.source.CodegenMetrics
    val cgLifetime = cg.METRIC_COMPILATION_TIME.getCount
    val cgCount = cgLifetime - classesAtStart
    val cgSec = cgCount * cg.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1000.0
    // the compile-vs-execute split: per-key class counts from warmup
    // pass 1 (where the leg lands by protocol — nonzero keys only, the
    // map would otherwise dwarf the artifact) and the per-phase totals
    // (the warmup DELTA, then each measured pass's delta — measured-pass
    // deltas are small but NOT zero: the r17 artifact shows a 20-114
    // class residue per pass, first-action lazy codegen the warmup's
    // plan set didn't cover). Per-key SECONDS are deliberately not
    // estimated: the histogram mean is reservoir-sampled, and count×mean
    // per key would smear slow compiles uniformly — counts are exact,
    // use them.
    val cgWarmupKeyJs = warmupKeyClasses.toSeq.filter(_._2 > 0)
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val cgPhaseJs =
      ((classesAfterWarmup - classesAtStart) +: passClassDeltas.toSeq)
        .mkString("[", ",", "]")
    // exact bytes (longs, no rounding): the scale gate divides two runs'
    // values, so precision loss here would manufacture false ratios
    val bytesJs = bytesByKey.map { case (name, (r, w, sp)) =>
      "\"" + name + "\":{\"read\":" + r + ",\"write\":" + w +
        ",\"spill\":" + sp + "}"
    }.mkString("{", ",", "}")
    val full =
      // "action" names the measured work (Harness.exhaust = full-plan
      // noop sink) so tooling can refuse cross-protocol comparisons —
      // pre-r17 records measured count()-pruned plans and carry no field
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","action":"exhaust","queries":$fullQs,""" +
        s""""stages":$stages,"pass_spread":$spreadJs,""" +
        s""""shuffle_bytes":$bytesJs,""" +
        s""""codegen_compile_sec":${fmt(cgSec, 1)},"codegen_compiled_classes":$cgCount,""" +
        s""""codegen_classes_jvm_lifetime":$cgLifetime,""" +
        s""""codegen_classes_by_phase":$cgPhaseJs,""" +
        s""""codegen_classes_pre_bench":$classesAtStart,""" +
        s""""codegen_classes_warmup_by_key":$cgWarmupKeyJs,""" +
        s""""sf":"$sfDir","master":"$master","shuffle_partitions":$shuffle,""" +
        s""""passes":$passes,"pass_totals":${arr(passTotals, 3)},""" +
        s""""pass_load_avg":${arr(passRuns.map(_._1), 1)},""" +
        s""""warmup_passes":$warmups,"warmup_total":${fmt(warmupTotal, 3)},""" +
        s""""warmup_load_avg":${arr(warmupRuns.map(_._1), 1)},""" +
        s""""failed":$failed,"load_avg_before":${fmt(loadBefore, 1)},"load_avg":${fmt(loadAfter, 1)}}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] full dump failed: $e") }

    // stdout line: slowest keys first (the informative ones), trimmed to
    // fit. Failed sentinels (-1) sort as MOST important — the identity of
    // a failed key must survive trimming (it's the one thing the consumer
    // can't reconstruct from "failed":N)
    val bySlowest = results.sortBy { case (_, v) =>
      -(if (v < 0) Double.MaxValue else v)
    }
    // keep may reach 0: the envelope alone (empty queries map +
    // queries_omitted=N) must always fit, or a long sf path would
    // overflow the consumer's 2000-char tail window and clip the head
    var keep = bySlowest.length
    while (keep > 0 && line(bySlowest.take(keep).sortBy(_._1), bySlowest.length - keep).length > 1850)
      keep -= 1
    println(line(bySlowest.take(keep).sortBy(_._1), bySlowest.length - keep))
    spark.stop()
  }
}
