package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/**
 * Spans around the benchmark's calls into each layer, plus the engine
 * work each span caused. A span is (name, start, end, parent, request
 * id); its layer is the name up to the first dot. Spans stay in memory
 * and are written out when the run ends.
 *
 * Engine counters come from a listener owned by the benchmark: a job is
 * charged to the span whose id its submitting thread carried as a local
 * property, or, when that span has already closed (a pooled thread that
 * inherited a stale property), to the most recently opened span still
 * open. Every task of the job is charged to the same span.
 *
 * With tracing off every call is a plain pass-through.
 */
final class Trace(spark: SparkSession, val on: Boolean) {
  import Trace.Span

  final class Work {
    val jobs = new LongAdder; val tasks = new LongAdder; val taskMs = new LongAdder
    val shuffleBytes = new LongAdder; val spillBytes = new LongAdder
  }

  private val Prop = "perfbench.span"
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ConcurrentHashMap[Int, (String, Long)]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val work = new ConcurrentHashMap[Int, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val seenTasks = new LongAdder

  private def workOf(id: Int): Work = work.computeIfAbsent(id, _ => new Work)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tagged = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).filter(open.containsKey)
      val id = tagged.getOrElse {
        val live = open.asScala.toSeq
        if (live.isEmpty) 0 else live.maxBy(_._2._2)._1
      }
      workOf(id).jobs.increment()
      e.stageIds.foreach(s => stageSpan.put(s, id))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      seenTasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        val w = workOf(stageSpan.getOrDefault(e.stageId, 0))
        w.tasks.increment()
        w.taskMs.add(e.taskInfo.duration)
        w.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        w.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  if (on) spark.sparkContext.addSparkListener(listener)

  /** Run `body` inside a span named `name`; `req` groups the spans of one
    * request. */
  def apply[T](name: String, req: Long = 0L)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val prevProp = sc.getLocalProperty(Prop)
      val t0 = System.nanoTime()
      open.put(id, (name, t0))
      stack.set(id :: parents)
      sc.setLocalProperty(Prop, id.toString)
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Prop, prevProp)
        stack.set(parents)
        open.remove(id)
        done.add(Span(id, name, parents.headOption.getOrElse(0), req, t0, t1))
      }
    }

  /** Wait until listener delivery has caught up (task count stable). */
  def settle(): Unit = if (on) {
    var last = -1L; var stable = 0
    val deadline = System.nanoTime() + 10000000000L
    while (stable < 4 && System.nanoTime() < deadline) {
      val now = seenTasks.sum()
      if (now == last) stable += 1 else { stable = 0; last = now }
      Thread.sleep(50)
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Span duration minus the union of its children's intervals. */
  def selfSeconds(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  /** Self seconds summed per span name, over the spans `keep` selects. */
  def selfByName(keep: Span => Boolean = _ => true): Map[String, Double] = {
    val all = spans
    all.filter(keep).groupBy(_.name).map { case (n, ss) => n -> ss.map(selfSeconds(_, all)).sum }
  }

  /** Engine counters per layer: (jobs, tasks, taskMs, shuffle, spill, selfS). */
  def workByLayer: Map[String, (Long, Long, Long, Long, Long, Double)] = {
    val all = spans
    val layerOf = all.map(s => s.id -> s.layer).toMap
    val self = all.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfSeconds(_, all)).sum }
    val sums = work.asScala.toSeq.groupBy { case (id, _) => layerOf.getOrElse(id, "none") }
    self.keys.map { l =>
      val ws = sums.getOrElse(l, Nil).map(_._2)
      l -> (ws.map(_.jobs.sum).sum, ws.map(_.tasks.sum).sum, ws.map(_.taskMs.sum).sum,
        ws.map(_.shuffleBytes.sum).sum, ws.map(_.spillBytes.sum).sum, self(l))
    }.toMap
  }

  /** Spans as JSON lines (ids, parent, request id, ns since `originNs`). */
  def write(path: java.nio.file.Path, originNs: Long): Unit = if (on) {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
        s""""start_ns":${s.startNs - originNs},"end_ns":${s.endNs - originNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  def close(): Unit = if (on) spark.sparkContext.removeSparkListener(listener)
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, req: Long,
                        startNs: Long, endNs: Long) {
    def layer: String = name.takeWhile(_ != '.')
    def seconds: Double = (endNs - startNs) / 1e9
  }
}
