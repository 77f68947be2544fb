package graft.exec

import java.util.concurrent.{ExecutionException, Executors, FutureTask, TimeUnit}

/** Run independent driver-side branches (each a short chain of Spark
  * jobs: a collect, a model fit) at the same time, so that one branch's
  * planning and scheduling gaps overlap the others' execution.
  *
  * Every [[run]] owns its pool: one named daemon thread per branch
  * (`<name>-<branch>`), shut down in a `finally`. The call returns only
  * after every branch has ended, so no Spark job a branch started
  * outlives it. If any branch failed, the first failure in branch order
  * is rethrown with the others attached as suppressed. Each branch's
  * result is read back through [[Branch.get]], so results keep the
  * caller's order whatever order the branches finished in.
  */
object FanOut {

  /** One branch: `body` runs on its own thread during [[run]]. */
  final class Branch[A](val name: String, body: => A) {
    private[FanOut] val task = new FutureTask[A](() => body)

    /** The branch's result, once [[run]] has returned normally. */
    def get: A = task.get()
  }

  def run(name: String, branches: Seq[Branch[_]]): Unit = {
    // a fixed pool starts one thread per submit until it is full, so the
    // k-th thread created runs (and is named after) the k-th branch
    val names = branches.iterator.map(b => s"$name-${b.name}")
    val pool = Executors.newFixedThreadPool(math.max(1, branches.size), r => {
      val t = new Thread(r, names.next())
      t.setDaemon(true)
      t
    })
    try {
      branches.foreach(b => pool.execute(b.task))
      val failures = branches.flatMap { b =>
        try { b.task.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdownNow()
      while (!pool.awaitTermination(1, TimeUnit.MINUTES)) ()
    }
  }
}
