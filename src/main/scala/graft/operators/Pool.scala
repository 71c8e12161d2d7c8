package graft.operators

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import scala.util.{Failure, Try}

/** Independent Spark jobs of one query run side by side from a small
  * driver thread pool, so later jobs back-fill the task tails of earlier
  * ones (q303's pins and verdicts, q206's layout writes). */
object Pool {

  /** Run `tasks` on `threads` driver threads and return their results in
    * order. Every task is awaited before the first failure is rethrown,
    * so no job is left running when this returns to race whatever runs
    * next. A failure surfaces as the task's own exception, not the
    * pool's `ExecutionException` wrapper. Job descriptions are
    * thread-local, so a task may set its own. */
  def runAll[T](threads: Int)(tasks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futs = tasks.map(t => pool.submit(new Callable[T] { def call(): T = t() }))
      futs.map(f => Try(f.get())).map {
        case Failure(e: ExecutionException) if e.getCause != null => throw e.getCause
        case r => r.get
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.MINUTES): Unit
    }
  }
}
