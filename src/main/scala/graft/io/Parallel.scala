package graft.io

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

/** Driver-side fan-out for independent Spark actions: each item's body
  * (a write, a write plus its [[Swap.promote]]) runs on its own driver
  * thread, so the scheduler overlaps their jobs instead of paying one
  * driver-blocking round trip per item.
  *
  * The pool is created per call, at most [[MaxThreads]] threads, and its
  * threads are started by the calling thread — so they inherit the
  * caller's Spark local properties: a [[graft.api.ProgressTracker]] job
  * group, a [[graft.QueryProfile]] job tag, any span a tracer keeps there.
  */
object Parallel {

  val MaxThreads = 8

  /** `items.map(f)` with the bodies run concurrently; results in item
    * order. When a body throws, every other body still runs to its end
    * (queued ones included) before the first failure in item order is
    * rethrown — a caller that catches and retries never races its retry
    * against a write still in flight.
    */
  def map[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.isEmpty) Nil
    else {
      val pool = Executors.newFixedThreadPool(math.min(items.size, MaxThreads))
      try {
        val futures = items.map(a => pool.submit(new Callable[B] { def call(): B = f(a) }))
        futures.map { fu =>
          try fu.get()
          catch { case e: ExecutionException => throw e.getCause }
        }
      } finally {
        pool.shutdown()
        while (!pool.awaitTermination(1, TimeUnit.MINUTES)) ()
      }
    }
}
