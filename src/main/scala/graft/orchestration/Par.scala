package graft.orchestration

/** Overlap INDEPENDENT Spark actions from driver threads (optimization
  * guide §2.6): Spark's scheduler happily runs several jobs at once inside
  * one application — actions are only sequential because driver code calls
  * them sequentially. Submitting independent actions (scans of different
  * tables, writes to different paths) from a small pool lets the next
  * job's tasks back-fill executors freed by the current job's tail, and on
  * a cluster it also overlaps the per-job scheduling round-trips that
  * dominate orchestration-heavy operators (erasure footprint scans, multi-
  * sink gold writes, store commits).
  *
  * Contract: tasks must be INDEPENDENT — no task may read a path another
  * task of the same batch writes, and shared input frames should be
  * staged (localCheckpoint/persist) first so concurrent consumers don't
  * race to compute the same uncached plan. FIFO scheduling (the default)
  * gives exactly the back-fill behavior the guide describes.
  */
object Par {

  /** Evaluate every thunk concurrently (bounded pool), return results in
    * order. The first failure (in task order) propagates with its ORIGINAL
    * exception type (unwrapped from ExecutionException) after every task
    * has settled, carrying every later failure as a suppressed exception —
    * Spark actions are not safely interruptible mid-commit, so remaining
    * tasks are awaited, not cancelled.
    */
  def eval[A](tasks: Seq[() => A], parallelism: Int = 4): Seq[A] = {
    if (tasks.isEmpty) return Nil
    if (tasks.size == 1) return Seq(tasks.head())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, tasks.size))
    try {
      val futs = tasks.map(t =>
        pool.submit(new java.util.concurrent.Callable[A] {
          def call(): A = t()
        }))
      // settle all first (await every task), then surface the first error
      val results = futs.map(f => scala.util.Try(f.get()).recoverWith {
        case e: java.util.concurrent.ExecutionException =>
          scala.util.Failure(e.getCause)
      })
      results.collect { case scala.util.Failure(e) => e } match {
        case first +: rest =>
          rest.filter(_ ne first).foreach(first.addSuppressed)
          throw first
        case _ => results.map(_.get)
      }
    } finally pool.shutdown()
  }

  /** Run independent side-effecting actions concurrently. */
  def run(tasks: Seq[() => Unit], parallelism: Int = 4): Unit = {
    eval[Unit](tasks, parallelism)
    ()
  }
}
