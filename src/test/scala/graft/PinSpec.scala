package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import scala.jdk.CollectionConverters._

/** graft.Pin — the one way a reused subtree is stored. The contract
  * under test: a lazy pin computes its input once however many actions
  * read it, `Pin.now` makes a copy that outlives its inputs, and
  * `spark.graft.checkpointDir` turns every pin into a reliable
  * checkpoint whose files `Pin.free` and `Pin.sweep` delete. */
class PinSpec extends SparkSpec {
  import spark.implicits._

  /** A frame whose every row bumps `evals` once when it is computed. */
  private def counted(name: String, rows: Int) = {
    val evals = spark.sparkContext.longAccumulator(name)
    val twice = udf { (x: Long) => evals.add(1); x * 2 }
    (spark.range(0, rows, 1, 4).select(twice(col("id")).as("v")), evals)
  }

  test("a lazy Pin read by two actions evaluates its input once") {
    val (df, evals) = counted("pin-lazy", 100)
    val pinned = Pin(df)
    // no shuffle upstream: nothing runs until the first consumer
    assert(evals.value == 0L)
    assert(pinned.agg(sum(col("v"))).as[Long].head() == 9900L)
    assert(pinned.filter(col("v") >= 100).count() == 50L)
    assert(evals.value == 100L, s"input evaluated ${evals.value} times")
  }

  test("a lazy Pin runs its upstream shuffle stages at the call, once") {
    val (df, evals) = counted("pin-shuffle", 100)
    val pinned = Pin(df.groupBy((col("v") % 7).as("g")).agg(count(lit(1)).as("n")))
    assert(evals.value == 100L, "upstream stage did not run at the pin")
    assert(pinned.agg(sum(col("n"))).as[Long].head() == 100L)
    assert(pinned.count() == 7L)
    assert(evals.value == 100L, s"input evaluated ${evals.value} times")
  }

  test("after Pin.now, freeing its inputs leaves the copy readable") {
    val in = Pin.now(spark.range(0, 50, 1, 4).toDF("id"))
    val out = Pin.now(in.select((col("id") * 3).as("x")))
    Pin.free(in)
    assert(out.agg(sum(col("x"))).as[Long].head() == 3L * (0 until 50).sum)
    Pin.free(out)
  }

  test("failInject.atCheckpoint kills the materialization of the Nth pin") {
    // local[4] retries no task, so the killed first attempt fails the
    // job; RecoveryProbe shows the retry recovering under local[8,2]
    Pin.resetFaultInjection()
    spark.conf.set("spark.graft.failInject.atCheckpoint", "2")
    val (first, second) =
      try (Pin(spark.range(10).toDF("id")), Pin(spark.range(10).toDF("id")))
      finally spark.conf.unset("spark.graft.failInject.atCheckpoint")
    assert(first.count() == 10L)
    val e = intercept[Exception](second.count())
    assert(e.getMessage.contains("fault injection"), e.getMessage)
  }

  test("checkpointDir: each pin is a reliable checkpoint; free drops it") {
    // the cluster-durability contract: with the conf set, every pin is
    // an eager reliable checkpoint under the dir (it survives executor
    // loss — local blocks do not); Pin.free deletes a copy's files, a
    // loop frees each round once the next lands, and Pin.sweep frees
    // whatever is left
    val dir = tempDir("ckpt")
    def rddDirs: Seq[java.nio.file.Path] = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try st.iterator().asScala
        .filter(_.getFileName.toString.startsWith("rdd-")).toList
      finally st.close()
    }
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val p = Pin(Seq(1L, 2L, 3L).toDF("v"))
      val files = bridge.checkpointFiles(p)
      assert(files.nonEmpty && files.forall(_.contains(dir)), files.toString)
      assert(rddDirs.size == 1, s"the pin wrote no files: $rddDirs")
      Pin.free(p)
      assert(rddDirs.isEmpty, s"Pin.free left files: $rddDirs")

      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
      val init = Seq(1L).toDF("node").select(col("node"), lit(0L).as("d"))
      val fixed = Iterate.growth(init, 8)(ops.Graph.bfsStep(edges))
      assert(fixed.converged && fixed.rounds == 4)
      assert(fixed.df.as[(Long, Long)].collect().sorted.toSeq ==
        Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L)))
      // init + 4 rounds checkpointed, all but the final freed
      assert(rddDirs.size == 1, s"expected 1 surviving rdd dir, got $rddDirs")
      Pin.sweep(spark)
      assert(rddDirs.isEmpty, s"Pin.sweep left files: $rddDirs")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }
}
