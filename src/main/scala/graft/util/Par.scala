package graft.util

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.Duration
import scala.util.Try

/** Driver-side concurrency for independent per-partition Spark work:
  * submitting jobs from several driver threads lets Spark's scheduler
  * interleave them instead of running P serial critical paths. Only
  * valid when the tasks are independent and their outputs are
  * order-canonical (see BundleIO's sorted writes).
  */
object Par {
  /** Evaluate `f` over `items` concurrently; results keep item order.
    * Every task is DRAINED before the first failure is rethrown: each
    * future completes with a `Try`, so a failing partition never leaves
    * sibling Spark jobs running (and mutating shared caches) behind an
    * already-propagated exception.
    */
  def mapAll[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    // `blocking`: each `f` parks its pool thread in SparkContext.runJob,
    // so the global pool adds threads for other work while it waits —
    // the tasks of those jobs submit their own futures (the GraphSAGE
    // kernels) to this same pool, and with one item per pool thread
    // they would otherwise queue forever behind the parked waits
    val tries = Await.result(
      Future.sequence(items.map(a => Future(Try(blocking(f(a)))))), Duration.Inf)
    tries.map(_.get)
  }
}
