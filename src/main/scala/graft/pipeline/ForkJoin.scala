package graft.pipeline

import java.util.concurrent.{CompletionException, Executors, ThreadFactory}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Fork-join for a batch's independent driver-side actions (the three
  * validated-table writes, the two KPI store commits). Each task runs on a
  * thread of its own, and [[all]] returns or throws only after EVERY task
  * has finished: no thread is still writing or committing once the caller
  * has control back.
  *
  * Each thread carries the caller's active session, Spark local properties
  * (job group, description, scheduler pool, any caller tag) and job
  * artifact state ([[SQLExecution.withThreadLocalCaptured]]), so the jobs
  * it launches are attributed exactly as if the caller had run them.
  *
  * Failure: the first failing task in argument order is rethrown, the
  * other tasks' failures attached to it with `addSuppressed`. The tasks
  * that succeeded keep their effects; each is its own commit.
  *
  * Threads are created per call and released on return: the callers fan
  * out two or three tasks once per batch, so there is nothing to size.
  */
object ForkJoin {

  private val threads: ThreadFactory = r => {
    val t = new Thread(r, "graft-fork-join")
    t.setDaemon(true)
    t
  }

  def all[A](spark: SparkSession)(tasks: Seq[() => A]): Seq[A] = {
    val pool = Executors.newCachedThreadPool(threads)
    try {
      val session =
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val running = tasks.map(t =>
        SQLExecution.withThreadLocalCaptured(session, pool)(t()))
      // join() keeps waiting through an interrupt (and restores the flag),
      // so an interrupted caller still cannot return before its tasks end
      val outcomes = running.map { f =>
        try Right(f.join())
        catch { case e: CompletionException => Left(e.getCause) }
      }
      outcomes.collect { case Left(e) => e } match {
        case first +: rest =>
          rest.foreach(first.addSuppressed)
          throw first
        case _ => outcomes.collect { case Right(a) => a }
      }
    } finally pool.shutdown()
  }
}
