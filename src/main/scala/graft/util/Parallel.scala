package graft.util

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Try}

/** Fork-join over a handful of independent bodies that reports only once
  * every body has finished: a failing body never leaves its siblings
  * running (writing files, submitting jobs) behind the caller's back.
  */
object Parallel {

  /** Runs `bodies` at once, the first on the calling thread and the rest
    * on `ec`, and returns each outcome in order after all have finished.
    * Only an interrupt of the calling thread ends the wait early. */
  def settle[T](bodies: Seq[() => T])(implicit ec: ExecutionContext): IndexedSeq[Try[T]] = {
    val forked = bodies.drop(1).map(b => Future(b()))
    val first = bodies.take(1).map(b => Try(b()))
    (first ++ forked.map(f => Try(Await.result(f, Duration.Inf)))).toIndexedSeq
  }

  /** [[settle]], then the values in order, or the failure of the lowest
    * index rethrown. */
  def all[T](bodies: (() => T)*)(implicit ec: ExecutionContext): IndexedSeq[T] = {
    val done = settle(bodies)
    done.collectFirst { case Failure(e) => throw e }
    done.map(_.get)
  }
}
