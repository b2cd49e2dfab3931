package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Try}

/** Independent driver-side actions ("legs") run side by side.
  *
  * A Spark job keeps the cores busy only as far as its own task count
  * reaches; a chain of small, data-independent jobs (the lake writes of
  * one load batch, the rank legs of a retrieval eval) leaves most of them
  * idle while each waits its turn. Running the legs on driver threads lets
  * the scheduler fill the cores from several jobs at once. Spark actions
  * are thread-safe, and each leg thread inherits the caller's local
  * properties (job group, scheduler pool) when it starts.
  *
  * Legs must be independent: no leg may read what another writes, and no
  * two legs may append to the same table — `FileOutputCommitter` stages
  * every job of one output path under the same `_temporary` directory, so
  * concurrent appends to one path can commit or delete each other's
  * files.
  */
object Legs {

  /** Run every leg on its own thread and return their results in argument
    * order. Waits for ALL legs even when one fails — a failure never leaves
    * a sibling's write in flight behind the caller — then rethrows the
    * first failing leg's exception (in argument order), with the other
    * legs' failures attached as suppressed. */
  def inParallel[T](legs: (() => T)*): Seq[T] = {
    val pool = Executors.newFixedThreadPool(legs.size max 1)
    try {
      val running = legs.map(leg => pool.submit(new Callable[T] { def call(): T = leg() }))
      val outcomes = running.map(f => Try(f.get()).recoverWith {
        case e: ExecutionException => Failure(e.getCause)
      })
      outcomes.collect { case Failure(e) => e } match {
        case first +: rest =>
          rest.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        case _ => outcomes.map(_.get)
      }
    } finally pool.shutdown()
  }
}
