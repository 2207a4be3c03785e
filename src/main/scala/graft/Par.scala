package graft

import java.util.concurrent.{CompletionException, Executors}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.jdk.FutureConverters._

/** Tiny fixed pool for OVERLAPPING independent Spark actions from the
  * driver (optimization guide §2.6, "Stragglers and idle capacity"):
  * Spark's scheduler happily runs several jobs at once inside one
  * application — actions are only sequential because driver code calls
  * them sequentially. Replay operators that publish several independent
  * outputs per micro-batch (q128's tf/dl/assigned writes, q146's two
  * mart writes and its pre-image materialization) submit them here, so
  * the next job's tasks back-fill executors freed by the current job's
  * tail and the local disk sees overlapping small writes instead of
  * serialized write → barrier → write.
  *
  * Scheduling stays Spark-default FIFO: the earlier job gets resources
  * first and later jobs use what is left — exactly the back-fill the
  * guide recommends. The pool is deliberately small (2-3 jobs in flight
  * fills a tail; more fight for executors) and daemon (must never hold
  * the JVM open). Each caller awaits its own futures before the results
  * are consumed — the overlap changes scheduling, never the data: every
  * submitted action still runs exactly once, to its own output.
  */
object Par {
  private lazy val pool = Executors.newFixedThreadPool(4, r => {
    val t = new Thread(r, "graft-par")
    t.setDaemon(true)
    t
  })

  /** Submit an independent action; pair with [[await]]. The body runs
    * with the submitter's Spark thread-locals, captured at submit time as
    * if it ran on the submitting thread: its active session (or the
    * default one) and its SparkContext local properties (job group,
    * description, SQL execution id). A pool thread would otherwise keep the ones it
    * inherited from whichever thread created it, so a caller's job group
    * could neither meter nor cancel the body's jobs. */
  def submit[A](body: => A): Future[A] =
    SQLExecution.withThreadLocalCaptured(SparkSession.active, pool)(body).asScala

  /** Join a submitted action, rethrowing its failure on the caller. */
  def await[A](f: Future[A]): A =
    try Await.result(f, Duration.Inf)
    catch { case e: CompletionException if e.getCause != null => throw e.getCause }
}
