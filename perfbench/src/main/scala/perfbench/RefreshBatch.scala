package perfbench

import graft.checks.Checks
import graft.models.{AeCountsQ, FactAdverseEvents, Pipeline, StgMaude}
import graft.sources.MaudeIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import perfbench.Main._

/**
 * refresh_batch: the nightly `dbt run` analog. One refresh is
 * `Pipeline.run` with the marts written, then `Checks.run` over
 * `Pipeline.checks`, then a collect of `v_ae_early_signals`. The landing
 * streams through once per model that reads it, so no program cache
 * holds the working set.
 */
object RefreshBatch {

  val Records = 30000L
  val FileCount = 4
  val PrepReps = 3
  val MinRefreshes = 2
  val ReplayReps = 3

  val LayerMetrics = Seq("sources.parse_s", "models.stg_s", "models.fact_s",
    "models.counts_s", "models.pipeline_run_s", "models.signals_s", "sinks.write_s",
    "sinks.bytes_written", "sinks.files_written",
    "checks.run_s", "trace.refresh_unaccounted_s")

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val landing = c.work.resolve("landing")
    val seedCsv = c.work.resolve("seed/manufacturer.csv")
    val marts = c.work.resolve("marts").toString

    val prep = (1 to PrepReps).map { _ =>
      Gen.deleteTree(landing.toFile)
      timed {
        Gen.manufacturerCsv(seedCsv)
        Gen.maudeBatch(c.seed, Records, FileCount, landing)
      }
    }
    val planted = prep.last._1

    // `req` numbers the refresh; 0 is the warm-up
    def refresh(req: Long, in: String, to: String): (Map[String, Long], Int) = {
      val m = c.trace("models.pipeline_run", req) {
        Pipeline.run(spark, in, seedCsv.toString, Some(to))
      }
      val fails = c.trace("checks.run", req) { Checks.run(Pipeline.checks(m)) }
      val sig = c.trace("models.signals", req) { m.vAeEarlySignals.collect() }
      (fails, sig.length)
    }

    // warm-up: one full refresh, so plan compilation and JIT are paid
    // before timing
    val (_, warmS) = timed(refresh(0L, landing.toString, marts))

    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var last: (Map[String, Long], Int) = null
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (times.size < MinRefreshes || elapsed + medianOf(times.toSeq) / 2 < c.seconds) {
      val (r, s) = timed(refresh(times.size + 1L, landing.toString, marts))
      last = r; times += s
    }
    val refreshS = medianOf(times.toSeq)
    val heapMb = Main.liveHeapMb(spark)

    // ---- output checks (outside the timed region) ----
    val (fails, nSignals) = last
    val f = spark.read.parquet(s"$marts/fact_adverse_events").agg(
      count(lit(1)), countDistinct(col("event_id")), countDistinct(col("mdr_report_key")),
      sum(when(substring(col("mdr_report_key"), 4, 10).cast("long").between(0L, Records - 1), 1)
        .otherwise(0)),
      sum(when(col("date_received").isNotNull, 1).otherwise(0))).head()
    val (rows, distinctIds, distinctKeys, inRange, dated) =
      (f.getLong(0), f.getLong(1), f.getLong(2), f.getLong(3), f.getLong(4))
    val countSum = spark.read.parquet(s"$marts/ae_counts_q").agg(sum(col("n_events"))).head().getLong(0)
    val expectFails = Map(
      "fact_date_received_not_null" -> planted.badDates,
      "stg_report_number_not_null" -> planted.missingReportNumbers).withDefaultValue(0L)
    val checks = Seq(
      Check("fact_keys_unique", rows == distinctIds && rows == distinctKeys,
        s"rows=$rows distinct_event_id=$distinctIds distinct_keys=$distinctKeys"),
      Check("fact_keys_equal_generated", distinctKeys == planted.distinctKeys && inRange == rows,
        s"distinct_keys=$distinctKeys generated=${planted.distinctKeys} in_range=$inRange"),
      Check("counts_sum_equals_dated_facts",
        countSum == dated && dated == planted.distinctKeys - planted.badDates,
        s"sum_n_events=$countSum dated_facts=$dated expected=${planted.distinctKeys - planted.badDates}"),
      Check("contract_failures_as_planted", fails.forall { case (k, v) => v == expectFails(k) },
        fails.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v/${expectFails(k)}" }.mkString(" ")),
      Check("signals_nonempty", nSignals > 0, s"rows=$nSignals"))

    val (martBytes, martFiles) = Main.treeSize(java.nio.file.Paths.get(marts))

    val layer = if (!c.trace.on) Map.empty[String, Double] else {
      // One pass of each layer, measured by replaying its prefix of the
      // DAG into the no-op sink: in the fused plan the layers run row by
      // row inside one stage, so a layer's time is its prefix's time minus
      // the previous prefix's.
      def noop(name: String)(df: => DataFrame): Double = medianOf((1 to ReplayReps).map { _ =>
        timed(c.trace(name)(df.write.format("noop").mode("overwrite").save()))._2
      })
      val raw = MaudeIngest.batch(spark, landing.toString)
      val mfr = MaudeIngest.manufacturerSeed(spark, seedCsv.toString)
      val pParse = noop("sources.parse")(raw)
      val pStg = noop("models.stg")(StgMaude(raw))
      val pFact = noop("models.fact")(FactAdverseEvents(StgMaude(raw), mfr))
      val pCounts = noop("models.counts")(AeCountsQ(FactAdverseEvents(StgMaude(raw), mfr)))
      val self = c.trace.selfByName(_.req > 0)
      val n = times.size
      val pipelineS = self("models.pipeline_run") / n
      val checksS = self("checks.run") / n
      val signalsS = self("models.signals") / n
      Map(
        "sources.parse_s" -> pParse,
        "models.stg_s" -> (pStg - pParse),
        "models.fact_s" -> (pFact - pStg),
        "models.counts_s" -> (pCounts - pFact),
        "models.pipeline_run_s" -> pipelineS,
        "models.signals_s" -> signalsS,
        // Pipeline.run computes the fact rows and the counts rows once
        // each; what it takes beyond that is the sink's
        "sinks.write_s" -> (pipelineS - pFact - pCounts),
        "sinks.bytes_written" -> martBytes.toDouble,
        "sinks.files_written" -> martFiles.toDouble,
        "checks.run_s" -> checksS,
        "trace.refresh_unaccounted_s" -> (times.sum / n - pipelineS - checksS - signalsS))
    }

    Outcome(
      prepSeconds = prep.map(_._2), warmSeconds = warmS,
      opP50Ms = refreshS * 1000, throughput = planted.records / refreshS, heapMb = heapMb,
      storedBytesRatio = martBytes.toDouble / planted.bytes,
      attempted = times.size.toLong, failedOps = 0L, checks = checks,
      detail = Seq(
        ("refresh_s", refreshS, "s"),
        ("refreshes", times.size.toDouble, "count"),
        ("refresh_min_s", times.min, "s"),
        ("refresh_max_s", times.max, "s"),
        ("input_records", planted.records.toDouble, "count"),
        ("input_bytes", planted.bytes.toDouble, "bytes")),
      layer = Main.layerDefaults ++ layer)
  }
}
