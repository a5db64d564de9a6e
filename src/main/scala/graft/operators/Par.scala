package graft.operators

import java.util.concurrent.{Executors, ThreadFactory, TimeoutException}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Shared daemon pool for the refresh families' concurrent driver-job
  * submission (guide §2.6 — actions are only sequential because the
  * driver calls them sequentially). One lazy pool for the whole JVM:
  * the pre-r15 code built a fresh 2-thread pool per refresh call,
  * trivially costly but noisy, and every call site re-implemented the
  * await/first-failure logic. Cached (not fixed-size) so concurrent
  * refreshes of DIFFERENT states never deadlock on pool slots; threads
  * are daemons so a hung Spark action cannot block JVM exit. */
private[graft] object Par {
  private lazy val pool = Executors.newCachedThreadPool(new ThreadFactory {
    private val n = new java.util.concurrent.atomic.AtomicInteger
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-refresh-par-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })
  private lazy val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  /** How long [[all]] waits for its legs by default. A leg is one
    * refresh stage or commit, seconds at benchmark sizes; a leg that
    * has not finished in ten minutes is hung, and an hour of silence
    * hid that. */
  val DefaultTimeout: FiniteDuration = 10.minutes

  /** Run the named legs concurrently, await ALL (a still-running leg
    * must not outlive the call — awaiting just one would leak a running
    * Spark job), then rethrow the FIRST failure if any. A leg still
    * running at `timeout` fails the call with a [[TimeoutException]]
    * naming every unfinished leg; the hung leg's thread is a daemon
    * and is left to finish or die with the JVM. */
  def all[T](legs: Seq[(String, () => T)],
             timeout: FiniteDuration = DefaultTimeout): Seq[T] = {
    val fs = legs.map { case (_, b) =>
      Future(b())(ec)
        .map(Right(_): Either[Throwable, T])(ec)
        .recover { case e => Left(e) }(ec)
    }
    val rs =
      try Await.result(Future.sequence(fs)(
        scala.collection.BuildFrom.buildFromIterableOps, ec), timeout)
      catch {
        case _: TimeoutException =>
          val hung = legs.zip(fs).collect {
            case ((name, _), f) if !f.isCompleted => name }
          throw new TimeoutException(
            s"Par.all: leg(s) ${hung.mkString("'", "', '", "'")} of " +
              s"${legs.map(_._1).mkString("[", ", ", "]")} still running " +
              s"after $timeout")
      }
    rs.collectFirst { case Left(e) => throw e }
    rs.map(_.toOption.get)
  }

  /** Two-legged [[all]] — the common stage/commit pair shape. */
  def par2[A, B](na: String, a: => A, nb: String, b: => B): (A, B) = {
    val rs = all[Any](Seq(na -> (() => a), nb -> (() => b)))
    (rs(0).asInstanceOf[A], rs(1).asInstanceOf[B])
  }

  /** Three-legged [[all]] — commit, commit, stage-the-next-phase. */
  def par3[A, B, C](na: String, a: => A, nb: String, b: => B,
                    nc: String, c: => C): (A, B, C) = {
    val rs = all[Any](Seq(na -> (() => a), nb -> (() => b), nc -> (() => c)))
    (rs(0).asInstanceOf[A], rs(1).asInstanceOf[B], rs(2).asInstanceOf[C])
  }
}
