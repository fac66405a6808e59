package graft.llm

import graft.{Harness, Pin, SparkEntry, SparkSpec}

/** Job census of delta_corpus_to_shards once warm (stored corpus
  * state built, source bounds memoized): the append base is a one-row
  * aggregate broadcast into the bin offset, not a scalar collected on
  * the driver, so a warm build plus noop write starts no job for it.
  * The bound is the count at sf0.001 on local[4] while the base was
  * still a `first()` on a driver thread (51); in-plan it reads 49. */
class DeltaCtsJobsSpec extends SparkSpec {

  test("a warm delta_corpus_to_shards build plus noop write starts at most 51 jobs") {
    def run(): Unit = {
      Harness.exhaust(SparkEntry.queries("delta_corpus_to_shards")(spark, sf))
      Pin.sweep(spark)
    }
    run() // cold: the stored corpus state, split copies and bounds
    val (_, jobs) = jobsOf(run())
    info(s"warm jobs: $jobs")
    assert(jobs <= 51, s"a warm build plus noop write started $jobs jobs")
  }
}
