package graft.util

import java.util.concurrent.{CompletionException, Executors}
import scala.util.{Failure, Try}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Independent Spark work of one caller, run at once. */
object Parallel {

  /** Run `bodies` at once on a pool of at most `threads` threads, and
    * wait for EVERY one: a caller never acts on one failure while
    * another body still runs. Returns each body's outcome, in order.
    *
    * Each pool thread carries the calling thread's Spark local
    * properties and active session, as Spark's own broadcast and
    * subquery futures do (`SQLExecution.withThreadLocalCaptured`): the
    * jobs a body starts belong to the caller's job group, so stopping
    * a streaming query cancels them too. The pool lives for this call
    * only. */
  def all[T](spark: SparkSession, threads: Int)(bodies: Seq[() => T]): Seq[Try[T]] = {
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(threads, bodies.size)))
    try {
      val started = bodies.toVector.map(b => SQLExecution.withThreadLocalCaptured(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool)(b()))
      started.map(f => Try(f.join()).recoverWith {
        case e: CompletionException => Failure(e.getCause)
      })
    } finally pool.shutdown()
  }
}
