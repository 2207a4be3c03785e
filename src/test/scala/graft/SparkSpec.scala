package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all suites (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Classes Janino compiled while `body` ran. The counter is JVM-wide;
    * the suites run one at a time. */
  def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Spark jobs started while `body` ran. Listener events arrive
    * asynchronously but in order, so marker jobs before and after `body`
    * bound its jobs (and the wait for them). */
  def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobsMarker"
    val marker = s"jobs-marker-${System.nanoTime()}"
    val started = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p => Option(p.getProperty(key))).getOrElse(""))
    }
    def runMarker(edge: String): Unit = {
      sc.setLocalProperty(key, s"$marker-$edge")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      runMarker("start")
      body
      runMarker("end")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!started.contains(s"$marker-end") && System.nanoTime() < deadline)
        Thread.sleep(20)
      started.asScala.toSeq
        .dropWhile(_ != s"$marker-start").drop(1)
        .takeWhile(_ != s"$marker-end").size
    } finally sc.removeSparkListener(listener)
  }

  /** The executed plan of every query action `body` runs, as text, in
    * completion order. Query listeners are called asynchronously, in
    * order, so marker queries run before and after `body` bound its
    * plans (and the wait for them). */
  def executedPlans(body: => Unit): Seq[String] = {
    val marker = s"executed-plans-marker-${System.nanoTime()}"
    def runMarker(edge: String): Unit =
      spark.range(1).selectExpr(s"'$marker-$edge' AS m").collect()
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe.executedPlan.toString)
    }
    spark.listenerManager.register(listener)
    try {
      runMarker("start")
      body
      runMarker("end")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!plans.asScala.exists(_.contains(s"$marker-end")) && System.nanoTime() < deadline)
        Thread.sleep(20)
      plans.asScala.toSeq
        .dropWhile(!_.contains(s"$marker-start")).drop(1)
        .takeWhile(!_.contains(s"$marker-end"))
    } finally spark.listenerManager.unregister(listener)
  }
}

object SparkSpec {
  /** Built with the engine's [[Graft.StaticConf]], so the specs compile
    * and cache generated classes the way an engine session does. */
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .config(Graft.StaticConf)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
