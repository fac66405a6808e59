package org.apache.spark.sql.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.{Collections, WeakHashMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.util.NonFateSharingCache
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Counters for one label: one phase of one key execution. */
final class Agg {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, fetchWaitMs = 0L
  var shuffleRead, shuffleWrite, spill, output = 0L
  var actions, exchanges, analysisMs, optimizeMs, planMs = 0L

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "gc_ms" -> gcMs, "fetch_wait_ms" -> fetchWaitMs,
    "shuffle_read_b" -> shuffleRead, "shuffle_write_b" -> shuffleWrite,
    "spill_b" -> spill, "output_b" -> output, "actions" -> actions,
    "exchanges" -> exchanges, "analysis_ms" -> analysisMs,
    "optimize_ms" -> optimizeMs, "plan_ms" -> planMs)
}

/** Job, stage and SQL-execution listener. Work is attributed through the
  * job tag the benchmark sets on its driver thread before each key phase
  * (`perfbench|<pass>|<key>|<phase>`); `Par.fork` threads inherit it at
  * start, so overlapping jobs inside one key are still attributed
  * exactly. Work without that tag (a thread that did not inherit it) is
  * kept per job or execution under `unlabelled|<event time ms>|...`, so
  * the report can charge it to the pass it ran in by time. All callbacks
  * run on the listener bus thread.
  *
  * Catalyst phases come from the `QueryExecution` carried by each
  * SQL-execution end event, the event `QueryExecutionListener`s are fed
  * from. Reading it here also covers executions of cloned sessions (such
  * as `Tables.events`' nanos-as-long session), which a listener
  * registered on one session never sees. */
final class Probe(val tracing: Boolean) extends SparkListener {
  val aggs = mutable.HashMap.empty[String, Agg]
  /** jobId -> (label, start ms, end ms) */
  val jobs = mutable.LinkedHashMap.empty[Int, (String, Long, Long)]
  /** stageId -> (jobId, label) */
  private val stageJob = mutable.HashMap.empty[Int, (Int, String)]
  /** stageId -> (jobId, submitted ms, completed ms, tasks) for spans */
  val stages = mutable.LinkedHashMap.empty[Int, (Int, Long, Long, Int)]
  private val execLabel = mutable.HashMap.empty[Long, String]

  private def agg(label: String): Agg = aggs.getOrElseUpdate(label, new Agg)

  private def labelOf(tags: Iterable[String], untagged: => String): String =
    tags.find(_.startsWith(Probe.Prefix)).getOrElse(untagged)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .map(_.split(',').toSeq).getOrElse(Nil)
    val label = labelOf(tags, s"${Probe.Unlabelled}|${e.time}|job ${e.jobId}")
    agg(label).jobs += 1
    e.stageIds.foreach(s => stageJob(s) = (e.jobId, label))
    jobs(e.jobId) = (label, e.time, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (l, s, _) => jobs(e.jobId) = (l, s, e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val (jobId, label) = stageJob.getOrElse(i.stageId,
      (-1, s"${Probe.Unlabelled}|${i.submissionTime.getOrElse(0L)}|stage ${i.stageId}"))
    agg(label).stages += 1
    if (tracing)
      stages(i.stageId) = (jobId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageJob.get(e.stageId).map(_._2)
      .getOrElse(s"${Probe.Unlabelled}|${Option(e.taskInfo).map(_.launchTime).getOrElse(0L)}" +
        s"|stage ${e.stageId}"))
    a.tasks += 1
    if (e.taskInfo != null && e.taskInfo.failed) a.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.output += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execLabel(s.executionId) =
        labelOf(s.jobTags, s"${Probe.Unlabelled}|${s.time}|execution ${s.executionId}")
    }
    case s: SparkListenerSQLExecutionEnd if tracing && s.qe != null => synchronized {
      val a = agg(execLabel.remove(s.executionId)
        .getOrElse(s"${Probe.Unlabelled}|${s.time}|execution ${s.executionId}"))
      val ph = s.qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      a.actions += 1
      a.analysisMs += ms("analysis")
      a.optimizeMs += ms("optimization")
      a.planMs += ms("planning")
      a.exchanges += Probe.exchanges(s.qe)
    }
    case _ =>
  }
}

object Probe extends AdaptiveSparkPlanHelper {
  val Prefix = "perfbench|"
  val Unlabelled = "unlabelled"

  /** Event time (epoch ms) of an unlabelled aggregate's label. */
  def unlabelledTime(label: String): Long = label.split('|')(1).toLong

  def exchanges(qe: QueryExecution): Long =
    try collectWithSubqueries(qe.executedPlan) { case e: ShuffleExchangeLike => e }.size
    catch { case _: Throwable => 0L }

  private val attached =
    Collections.synchronizedMap(new WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Registers `p` on a session once: a second call for the same session
    * is a no-op. */
  def attach(s: SparkSession, p: Probe): Unit =
    if (attached.putIfAbsent(s, true) == null) s.sparkContext.addSparkListener(p)
}

/** Runs one workload: several timed set-ups (an empty codegen cache,
  * session start and a first pass over the keys), an untimed pass that
  * checks every key's output, an untimed warm-up pass, then a fixed number
  * of measured passes in a seeded key order. Writes one
  * JSON document with every raw observation; `perfbench/run.py` turns it
  * into metrics.
  *
  * Arguments: outJson sfDir keys seed passes setups trace(0|1) tmpRoot
  *            nondetKeys(comma list, may be "-") */
object PerfBench {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  /** Wall clock in epoch ms with sub-ms precision, on the job-event clock. */
  def now: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  def classes: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** Exact total janino compile time of this JVM, in seconds. */
  def compileS: Double = CodeGenerator.compileTime / 1e9
  /** Empties the JVM-wide cache of generated classes, so that the next
    * session compiles its plans as a fresh JVM would. */
  def clearCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]].invalidateAll()
  }
  /** Materialize writes each stage build to a fresh `graft_mv*` temp dir
    * and deletes none before the JVM exits, so the dirs count the builds. */
  def matDirs: Seq[Path] = {
    val st = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try st.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_mv")).toSeq
    finally st.close()
  }
  def matBuilds: Int = matDirs.size
  /** Build seconds of every stage (re)built since snapshot `before`. */
  def matBuildSecs(before: Map[String, Double]): Double =
    matSnapshot.collect { case (k, v) if !before.get(k).contains(v) => v }.sum
  def matSnapshot: Map[String, Double] =
    graft.Materialize.buildSecs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap

  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  /** Order-independent checksum: row count plus the sum of per-row hashes,
    * doubles and floats compared at 9 and 6 significant digits. */
  def checksum(df: DataFrame): String = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType => format_string("%.8e", c)
      case FloatType => format_string("%.5e", c.cast(DoubleType))
      case ArrayType(et, _) => transform(c, x => norm(x, et))
      case StructType(fs) => when(c.isNull, lit(null)).otherwise(
        struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
      case MapType(kt, vt, _) =>
        norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
          StructField("key", kt), StructField("value", vt)))))
      case _ => c
    }
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val h = xxhash64((if (cols.isEmpty) Seq(lit(0)) else cols): _*)
    val r = d.agg(count(lit(1)), sum(h.cast(DecimalType(20, 0)))).first()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  def main(args: Array[String]): Unit = {
    val Array(outJson, sfDir, keyArg, seedArg, passesArg, setupsArg, traceArg,
      tmpRoot, nondetArg) = args
    val keys = keyArg.split(',').toSeq
    val nondet = nondetArg.split(',').toSet
    val seed = seedArg.toLong
    val passes = passesArg.toInt
    val setups = setupsArg.toInt
    val tracing = traceArg == "1"
    val queries = graft.SparkEntry.queries
    val nproc = Runtime.getRuntime.availableProcessors
    val probe = new Probe(tracing)
    val keyRuns = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    val spans = mutable.LinkedHashMap.empty[Long, Map[String, Any]]
    var spanSeq = 0L
    def span(parent: Long, kind: String, name: String, s: Double, e: Double,
             extra: Map[String, Any] = Map.empty): Long = {
      spanSeq += 1
      if (tracing) spans(spanSeq) = Map("id" -> spanSeq, "parent" -> parent,
        "kind" -> kind, "name" -> name, "start_ms" -> s, "end_ms" -> e) ++ extra
      spanSeq
    }
    def close(id: Long, e: Double): Unit =
      spans.get(id).foreach(m => spans(id) = m.updated("end_ms", e))
    def order(pass: Int): Seq[String] =
      new scala.util.Random(seed * 7919 + pass).shuffle(keys)

    def runKey(spark: SparkSession, pass: String, key: String, check: Boolean,
               passSpan: Long): Map[String, Any] = {
      val sc = spark.sparkContext
      def phase[A](name: String)(body: => A): (A, Double, Double) = {
        val tag = s"${Probe.Prefix}$pass|$key|$name"
        sc.setJobDescription(s"$pass $key $name")
        sc.addJobTag(tag)
        val s = now
        try (body, s, now)
        finally { sc.removeJobTag(tag); sc.setJobDescription(null) }
      }
      val cg0 = classes; val mb0 = matBuilds
      val start = now
      var err: String = null
      val times = mutable.LinkedHashMap.empty[String, (Double, Double)]
      try {
        val (df, b0, b1) = phase("build")(queries(key)(spark, sfDir))
        times("build") = (b0, b1)
        // the checking pass consumes the full plan through the checksum
        // instead of the noop sink
        if (check) {
          val (sum, c0, c1) = phase("check") {
            if (nondet(key)) df.count().toString else checksum(df)
          }
          times("check") = (c0, c1)
          checks(key) = Map("checksum" -> sum)
        } else {
          val (_, e0, e1) = phase("exhaust")(graft.Harness.exhaust(df))
          times("exhaust") = (e0, e1)
        }
      } catch { case e: Throwable =>
        err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        if (check) checks(key) = Map("error" -> err)
      }
      val rdds = sc.getPersistentRDDs.size
      val (_, w0, w1) = phase("sweep")(graft.Harness.sweepBlocks(spark))
      times("sweep") = (w0, w1)
      val end = now
      val keySpan = span(passSpan, "key", key, start, end)
      val phaseSpans = times.map { case (n, (a, b)) => n -> span(keySpan, "phase", n, a, b) }
      Map("pass" -> pass, "key" -> key, "start_ms" -> start, "end_ms" -> end,
        "wall_s" -> (end - start) / 1000.0, "ok" -> (err == null),
        "error" -> err, "classes" -> (classes - cg0), "mat_builds" -> (matBuilds - mb0),
        "rdds" -> rdds,
        "phases" -> times.map { case (n, (a, b)) => n -> (b - a) / 1000.0 }.toMap,
        "phase_spans" -> phaseSpans.toMap)
    }

    /** pass name -> (span id, start ms, end ms) */
    val passWindows = mutable.LinkedHashMap.empty[String, (Long, Double, Double)]
    def runPass(spark: SparkSession, pass: String, index: Int, check: Boolean,
                runSpan: Long): Map[String, Any] = {
      val load = loadAvg
      val cg0 = classes; val mb0 = matBuilds; val cs0 = compileS
      val start = now
      val passSpan = span(runSpan, "pass", pass, start, start)
      val runs = order(index).map(k => runKey(spark, pass, k, check, passSpan))
      val end = now
      keyRuns ++= runs
      System.err.println(f"[perfbench] pass $pass: ${(end - start) / 1000}%.3f s, " +
        s"${runs.count(_("ok") == false)} failed")
      close(passSpan, end)
      passWindows(pass) = (passSpan, start, end)
      Map("pass" -> pass, "load_avg" -> load, "start_ms" -> start, "end_ms" -> end,
        "wall_s" -> (end - start) / 1000.0, "classes" -> (classes - cg0),
        "compile_s" -> (compileS - cs0), "mat_builds" -> (matBuilds - mb0))
    }

    val runSpan = span(0, "workload", "run", now, now)
    val setupRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val confs = Seq("spark.local.dir" -> s"$tmpRoot/spark",
      "spark.sql.warehouse.dir" -> s"$tmpRoot/warehouse")
    var spark: SparkSession = null
    def stopSession(): Unit = if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    // timed: each set-up starts with no generated classes and no
    // Materialize artifacts (they are per application); the first one also
    // pays the cold JVM's class loading and JIT warm-up
    for (i <- 0 until setups) {
      // CodeGenerator sizes its cache from the active session's conf when
      // it is first touched, so the first set-up leaves it alone until then
      val cs0 = if (spark == null) 0.0 else {
        stopSession()
        clearCodegenCache()
        compileS
      }
      val cg0 = classes
      val t0 = now
      spark = graft.Harness.session(confs: _*)
      Probe.attach(spark, probe)
      val t1 = now
      val mat0 = matSnapshot
      val matB0 = matDirs.map(dirBytes(_)).sum
      val p = runPass(spark, s"s$i", i, check = false, runSpan)
      val t2 = now
      setupRecs += p ++ Map("session_s" -> (t1 - t0) / 1000.0,
        "classes" -> (classes - cg0), "compile_s" -> (compileS - cs0),
        "setup_s" -> (t2 - t0) / 1000.0,
        "mat_build_s" -> matBuildSecs(mat0),
        "mat_b" -> (matDirs.map(dirBytes(_)).sum - matB0))
    }
    // untimed: the last session consumes every key's frame through the
    // output checksum
    val checkRec = runPass(spark, "check", setups, check = true, runSpan)
    // untimed: the last set-up compiled its classes afresh, and the JIT
    // takes a few passes over them to settle; the checking pass is the
    // first of these. A full GC made the pass after it up to 20% slower on
    // warehouse, so it runs once, before the warm-up pass.
    System.gc()
    val warmRecs = (0 until 1).map(w =>
      runPass(spark, s"w$w", 1 + setups + w, check = false, runSpan))
    // a count, not a time budget: passes keep getting faster for several
    // passes after the warm-up, so a run on a slower host that stopped
    // sooner would also stop higher up that slope
    val passRecs = (0 until passes).map(i =>
      runPass(spark, s"p$i", 3 + setups + i, check = false, runSpan))
    spark.sparkContext.listenerBus.waitUntilEmpty()
    val runEnd = now
    val master = spark.sparkContext.master
    spark.stop()
    val tmpLeft = dirBytes(Paths.get(tmpRoot))

    // jobs and stages become spans under the phase span of their label
    val jobRecs = probe.synchronized {
      probe.jobs.toSeq.map { case (id, (label, s, e)) => (id, label, s, e) }
    }
    val phaseSpanOf: Map[String, Long] = keyRuns.flatMap { r =>
      r("phase_spans").asInstanceOf[Map[String, Long]].map { case (ph, id) =>
        s"${Probe.Prefix}${r("pass")}|${r("key")}|$ph" -> id }
    }.toMap
    // untagged jobs go under the pass they started in
    def passSpanAt(t: Double): Long = passWindows.values
      .collectFirst { case (id, s, e) if s <= t && t <= e => id }.getOrElse(runSpan)
    if (tracing) {
      val jobSpan = jobRecs.map { case (id, label, s, e) =>
        id -> span(phaseSpanOf.getOrElse(label, passSpanAt(s.toDouble)), "job",
          s"job $id", s.toDouble, math.max(s, e).toDouble)
      }.toMap
      probe.synchronized(probe.stages.toSeq).foreach { case (sid, (jid, s, e, n)) =>
        span(jobSpan.getOrElse(jid, runSpan), "stage", s"stage $sid", s.toDouble,
          e.toDouble, Map("tasks" -> n))
      }
      close(runSpan, runEnd)
    }
    val aggByLabel = probe.synchronized(probe.aggs.map { case (k, v) => k -> v.toMap }.toMap)
    val keyOut = keyRuns.map { r =>
      val phases = r("phases").asInstanceOf[Map[String, Double]].keys
      r - "phase_spans" + ("aggs" -> phases.map(ph => ph ->
        aggByLabel.getOrElse(s"${Probe.Prefix}${r("pass")}|${r("key")}|$ph", Map.empty)).toMap)
    }
    val unlabelled = aggByLabel.toSeq.collect {
      case (l, a) if l.startsWith(Probe.Unlabelled + "|") =>
        Map("label" -> l, "time_ms" -> Probe.unlabelledTime(l), "aggs" -> a)
    }
    val out = Map(
      "nproc" -> nproc, "seed" -> seed, "trace" -> tracing, "master" -> master,
      "setups" -> setupRecs, "check" -> checkRec, "warm" -> warmRecs, "passes" -> passRecs,
      "keys" -> keyOut, "checks" -> checks, "tmp_left_b" -> tmpLeft,
      "unlabelled" -> unlabelled, "spans" -> spans.values.toSeq)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(outJson), mapper.writeValueAsBytes(out))
    sys.exit(0)
  }
}
