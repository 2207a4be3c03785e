package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.SparkSession

/**
 * One benchmark run: `Main --workload W --seed S --seconds T --trace 0|1
 * --work DIR --launch-ms EPOCH_MS`. Prints one line per metric
 * (`metric <name> <value> <unit>`), one line per output check, and last a
 * `RESULT {json}` line that `run.py` turns into the benchmark's result.
 *
 * The session is the engine's own `Graft.session` at the host's core
 * count; the benchmark sets no session config of its own.
 */
object Main {

  final case class Check(name: String, ok: Boolean, detail: String)

  /** What a workload measured: the inputs of the end-to-end metrics,
    * `layer` the traced per-layer numbers, `detail` the workload's own
    * named figures (printed, not in the result line). */
  final case class Outcome(prepSeconds: Seq[Double], warmSeconds: Double,
                           opP50Ms: Double, throughput: Double, heapMb: Double,
                           storedBytesRatio: Double,
                           attempted: Long, failedOps: Long,
                           checks: Seq[Check],
                           detail: Seq[(String, Double, String)],
                           layer: Map[String, Double])

  final case class Ctx(spark: SparkSession, trace: Trace, seed: Long, seconds: Double,
                       work: Path)

  def medianOf(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2 }

  /** The highest percentile with at least 10 samples beyond it, with the
    * percentile it landed on; p95 once there are 200 samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, 0.0)
    else {
      val p = math.min(0.95, math.max(0.0, (n - 10).toDouble / n))
      val idx = math.max(0, math.ceil(p * n).toInt - 1)
      (s(idx), p * 100)
    }
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Live heap: the least used heap over three full collections, a
    * moment apart so that cleanup the collections trigger (Spark's
    * context cleaner) has run. The status listeners (job, stage and SQL
    * UI data, which the heap holds) first catch up with every job run so
    * far, so a run on a slow host does not read a smaller heap for
    * events still queued. */
  def liveHeapMb(spark: SparkSession): Double = {
    awaitStatus(spark)
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Run a marker job and wait until the status tracker reports it done:
    * the status listeners handle events in order, so every earlier event
    * has been applied by then. */
  def awaitStatus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val group = s"perfbench-marker-${System.nanoTime()}"
    sc.setJobGroup(group, "status marker")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    def done = sc.statusTracker.getJobIdsForGroup(group).exists { id =>
      sc.statusTracker.getJobInfo(id).exists(_.status == JobExecutionStatus.SUCCEEDED)
    }
    while (!done && System.nanoTime() < deadline) Thread.sleep(20)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceOn = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val launchMs = a("launch-ms").toLong
    Gen.deleteTree(work.toFile)
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.Graft.session(cores = cores, appName = s"perfbench-$workload")
    val bootS = (System.currentTimeMillis() - launchMs) / 1000.0
    val originNs = System.nanoTime()
    val trace = new Trace(spark, traceOn)
    val ctx = Ctx(spark, trace, seed, seconds, work)
    val out = workload match {
      case "refresh_batch"   => RefreshBatch.run(ctx)
      case "live_ingest"     => LiveIngest.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    trace.settle()
    trace.write(work.resolve("spans.jsonl"), originNs)

    val setupS = bootS + medianOf(out.prepSeconds) + out.warmSeconds
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_ms", out.opP50Ms, "ms"),
      ("throughput_per_s", out.throughput, "1/s"),
      ("heap_live_mb", out.heapMb, "MB"),
      ("stored_bytes_ratio", out.storedBytesRatio, "ratio"))
    val layer = if (traceOn) out.layer ++ engineCounters(trace, cores) else Map.empty[String, Double]
    val failedChecks = out.checks.count(!_.ok)
    val jvm = ManagementFactory.getRuntimeMXBean
    val posture = Seq(
      ("host.nproc", cores.toDouble, "count"),
      ("host.heap_mb", Runtime.getRuntime.maxMemory / 1048576.0, "MB"),
      ("setup.boot_s", bootS, "s"),
      ("setup.prepare_median_s", medianOf(out.prepSeconds), "s"),
      ("setup.prepare_reps", out.prepSeconds.size.toDouble, "count"),
      ("setup.warmup_s", out.warmSeconds, "s"),
      ("error_rate", (out.failedOps + failedChecks).toDouble / math.max(1L, out.attempted), "ratio"))

    (e2e ++ posture ++ out.detail).foreach { case (n, v, u) => println(s"metric $n ${num(v)} $u") }
    layer.toSeq.sortBy(_._1).foreach { case (n, v) => println(s"layer $n ${num(v)}") }
    out.checks.foreach(c => println(s"check ${if (c.ok) "ok  " else "FAIL"} ${c.name}: ${c.detail}"))
    println(s"host jvm=${System.getProperty("java.version")} vm=${jvm.getVmName} " +
      s"spark=${spark.version} scala=${scala.util.Properties.versionNumberString} " +
      s"nproc=$cores heap_max_mb=${Runtime.getRuntime.maxMemory / 1048576}")

    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val json = obj(Seq(
      "attempted" -> out.attempted.toString,
      "failed" -> (out.failedOps + failedChecks).toString,
      "e2e" -> obj(e2e.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> ("\"" + u + "\""))) }),
      "layer" -> obj(layer.toSeq.sortBy(_._1).map { case (n, v) => n -> num(v) })))
    trace.close()
    spark.stop()
    println(s"RESULT $json")
  }

  /** `<layer>.jobs|tasks|shuffle_bytes|spill_bytes|busy_ratio` for every
    * layer the benchmark traces; a layer the workload never entered reads 0. */
  def engineCounters(trace: Trace, cores: Int): Map[String, Double] = {
    val w = trace.workByLayer
    Layers.flatMap { l =>
      val (jobs, tasks, taskMs, shuffle, spill, selfS) = w.getOrElse(l, (0L, 0L, 0L, 0L, 0L, 0.0))
      Seq(s"$l.jobs" -> jobs.toDouble, s"$l.tasks" -> tasks.toDouble,
        s"$l.shuffle_bytes" -> shuffle.toDouble, s"$l.spill_bytes" -> spill.toDouble,
        s"$l.busy_ratio" -> (if (selfS > 0) taskMs / 1000.0 / (selfS * cores) else 0.0))
    }.toMap
  }

  val Layers = Seq("sources", "models", "sinks", "checks", "operators", "streaming")

  /** Every per-layer metric a traced run reports, whatever the workload;
    * each workload fills the ones it exercises. */
  def layerDefaults: Map[String, Double] =
    (RefreshBatch.LayerMetrics ++ LiveIngest.LayerMetrics).map(_ -> 0.0).toMap

  /** Directory size and file count (hidden and marker files excluded). */
  def treeSize(dir: Path): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val walk = Files.walk(dir)
      try {
        val files = walk.iterator().asScala.filter(Files.isRegularFile(_))
          .filterNot { p => val n = p.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
          .toSeq
        (files.map(Files.size).sum, files.size.toLong)
      } finally walk.close()
    }
  }
}
