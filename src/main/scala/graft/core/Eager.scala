package graft.core

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, Future,
  ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

/** Runs independent eager driver bodies (each typically ends in a Spark
  * action or `localCheckpoint`) at once, so a caller pays the slowest body,
  * not the sum. Apart from Bench's harness pool, this is the only place
  * graft starts driver-side threads.
  *
  * Bodies 2..n go to one shared pool; body 1 runs on the caller's thread.
  * The pool is bounded at 8 across ALL in-flight calls (a bench pool of
  * parallel queries shares it rather than multiplying threads), daemon so it
  * never blocks JVM exit, and process-lifetime so there is no per-call
  * shutdown path to leak on a failed body.
  *
  * Every sibling is joined before `all` returns or throws: a failed body
  * never leaves another body's job running unobserved on the cluster. The
  * join does not give up on an interrupt either: it keeps waiting, then
  * restores the caller's interrupt flag.
  *
  * Bodies must not call `Eager.all` themselves: a body running on the
  * bounded pool that waits for siblings queued behind it can deadlock.
  */
object Eager {

  private lazy val pool: ExecutorService =
    Executors.newFixedThreadPool(8, new ThreadFactory {
      private val n = new AtomicInteger(0)
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-eager-${n.getAndIncrement()}")
        t.setDaemon(true); t
      }
    })

  /** Runs every body and returns their results in argument order. On any
    * failure, rethrows the error of the first failed body in argument order,
    * after every body has finished.
    */
  def all[T](bodies: (() => T)*): Seq[T] = {
    if (bodies.isEmpty) return Seq.empty
    val siblings = bodies.tail.map(b => pool.submit(new Callable[T] { def call(): T = b() }))
    val first = try Right(bodies.head()) catch { case t: Throwable => Left(t) }
    val results = first +: siblings.map(join)
    results.collectFirst { case Left(t) => t }.foreach(t => throw t)
    results.map(_.toOption.get)
  }

  /** [[all]] for two bodies of different types. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val r = all[Any](() => a, () => b)
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  /** Waits for `f` however often the caller is interrupted, then restores
    * the interrupt flag if it was. */
  private def join[T](f: Future[T]): Either[Throwable, T] = {
    var interrupted = false
    var result: Option[Either[Throwable, T]] = None
    while (result.isEmpty)
      try result = Some(Right(f.get()))
      catch {
        case _: InterruptedException => interrupted = true
        case e: ExecutionException => result = Some(Left(e.getCause))
      }
    if (interrupted) Thread.currentThread().interrupt()
    result.get
  }
}
