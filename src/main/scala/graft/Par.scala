package graft

/** Driver-side job overlap (guide §2.6): Spark's scheduler happily runs
  * several jobs at once inside one application — actions are only
  * sequential because driver code calls them sequentially. `fork` runs
  * `body` on a FRESH daemon thread and returns a join handle; failures
  * propagate on join.
  *
  * A fresh Thread (never a reused pool thread) matters: Spark's job
  * properties — description, group, scheduler pool — live in an
  * InheritableThreadLocal copied at thread START, so a new thread labels
  * its jobs like its spawner, while a pooled thread keeps whatever its
  * creator had when the pool grew.
  *
  * Use ONLY where two legs have no data dependency, so the second leg's
  * tasks back-fill executors freed by the first leg's stragglers: the
  * mixture apportionment beside the bucket rank (`repeat_upsample`,
  * `mixtureSelectOf`) and the frozen corpus state and its append base
  * beside the shard gates (`deltaAdmittedOf`). A bound over an input
  * table is no leg: `Tables.maxOf` memoizes it, so only its first call
  * in a session starts a job.
  * Materialize.once stays correct under this concurrency by design
  * (putIfAbsent keeps the first build; a racing duplicate is
  * wasted-but-identical work — MaterializeConcurrencySpec pins it). */
object Par {
  def fork[A](body: => A): () => A = {
    @volatile var out: Either[Throwable, A] = null
    val t = new Thread(() => out =
      try Right(body) catch { case e: Throwable => Left(e) })
    t.setDaemon(true)
    t.start()
    () => { t.join(); out.fold(e => throw e, identity) }
  }
}
