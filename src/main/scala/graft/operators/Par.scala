package graft.operators

/** Run INDEPENDENT Spark actions concurrently from a bounded thread
  * pool (optimization guide §2.6: the scheduler happily runs several
  * jobs at once inside one application — actions are only sequential
  * because driver code calls them sequentially). The lifecycle
  * operators use it to overlap per-family index builds/commits: each
  * family writes its own directory tree, so the only shared state is
  * the Spark scheduler itself, and FIFO scheduling back-fills
  * executors freed by one job's straggler tail with the next job's
  * tasks. This matters at every scale — at bench scale the fixed
  * per-job overhead of N sequential tiny jobs collapses to
  * max-of-N, and at cluster scale the tails overlap.
  *
  * Failure contract: every task runs to completion or failure (no
  * half-cancelled siblings racing a caller's cleanup), then the FIRST
  * failure is rethrown — same observable outcome as the sequential
  * loop for a single failing family.
  *
  * `maxConcurrent` defaults to 8, `GRAFT_PAR_MAX`-overridable (see
  * [[defaultMax]] for why the guide's "2-3 jobs in flight" does not
  * fit these chains of small jobs).
  */
private[graft] object Par {

  /** Default concurrency bound, `GRAFT_PAR_MAX`-overridable. The
    * guide's §2.6 "2-3 jobs in flight" advice is calibrated for FEW
    * WIDE jobs that saturate executors; every caller here submits a
    * CHAIN of many small sequential jobs (index build = tokenize →
    * shuffle → clustered write → stats → marker), so 3-wide leaves
    * the scheduler idle between a chain's jobs. Measured round 15 at
    * sf0.1/local[32] (QueryProfile, same box, best-of-2): bound 3 vs
    * 8 = q328 10.2 → 6.9 s, q332 13.0 → 11.8 s, q331 5.7 → 5.2 s.
    * A cluster deployment whose builds DO saturate executors sets
    * GRAFT_PAR_MAX=2..3.
    */
  private[graft] val defaultMax: Int =
    sys.env.get("GRAFT_PAR_MAX").map(_.toInt).getOrElse(8)

  def run(tasks: Seq[() => Unit], maxConcurrent: Int = Par.defaultMax): Unit = {
    if (tasks.sizeIs <= 1) { tasks.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(tasks.size, math.max(1, maxConcurrent)))
    try {
      val futs = tasks.map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = t()
        })
      }
      var first: Throwable = null
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (first == null) first = e.getCause
        }
      }
      if (first != null) throw first
    } finally pool.shutdown()
  }
}
