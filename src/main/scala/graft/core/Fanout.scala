package graft.core

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

/** The one way the engine submits independent Spark actions
  * concurrently: a chain-day's loader writes, the verifier's table
  * counts, the transfer tables, the parse decode jobs and the
  * per-partition compactions of a maintenance pass. In the reference
  * each of these is its own Airflow task or SparkSubmit, gated only on
  * its sensors; submitting them one at a time from one driver thread
  * leaves the executors idle between small jobs and behind every
  * one-task write stage.
  *
  * Only the actions fan out: callers build their plans (and run any
  * caller-supplied closure) on their own thread first, then hand
  * `map` the work that submits jobs. */
object Fanout {

  /** FAIR scheduler pool every fanned-out job lands in, so concurrent
    * submitters share executors instead of head-of-line blocking behind
    * one job (a no-op when the context scheduler is FIFO). */
  private val Pool = "graft-fanout"

  /** Apply `action` to every item from a bounded pool of `width` driver
    * threads; results come back in submission order regardless of
    * completion order. With `width <= 1` or a single item everything
    * runs on the calling thread.
    *
    * Failure: once an item fails, items not yet started are cancelled,
    * `map` waits for every started sibling to finish, then rethrows the
    * first failure in submission order. So when `map` returns or
    * throws, no job it submitted is still running, and the caller may
    * release the inputs those jobs read (unpersist, delete a scratch
    * root).
    *
    * Pool threads are created by the calling thread, so they inherit
    * its Spark local properties (job group, description) as of the
    * call; the scheduler pool is then set to [[Pool]] on each of them,
    * on the active (else default) session's SparkContext — one per JVM.
    * Without a session there is nothing to set. */
  def map[A, B](width: Int, items: Seq[A])(action: A => B): Seq[B] =
    if (width <= 1 || items.size <= 1) items.map(action)
    else {
      val sc = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
      val pool = Executors.newFixedThreadPool(math.min(width, items.size))
      val submitted = try items.map { a =>
        pool.submit(new Callable[B] {
          def call(): B = {
            sc.foreach(_.setLocalProperty("spark.scheduler.pool", Pool))
            action(a)
          }
        })
      } finally pool.shutdown()
      var failure: Option[Throwable] = None
      val results = submitted.flatMap { f =>
        if (failure.nonEmpty) None
        else try Some(f.get()) catch {
          case e: ExecutionException =>
            failure = Some(e.getCause)
            // a cancelled running task keeps running; awaitTermination
            // below is what waits for it
            submitted.foreach(_.cancel(false))
            None
        }
      }
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      failure.foreach(e => throw e)
      results
    }
}
