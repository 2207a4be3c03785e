package graft

import org.apache.spark.sql.functions._

class MetricsSpec extends SparkSpec {
  import spark.implicits._

  test("measure captures shuffle, input, and task counts for a tagged block") {
    val (result, m) = Metrics.measure(spark, "metrics-spec") {
      (1 to 50000).toDF("x")
        .groupBy(col("x") % 100).agg(count(lit(1)))
        .collect().length
    }
    assert(result === 100)
    assert(m.tag === "metrics-spec")
    assert(m.jobs >= 1L && m.tasks > 0L)
    assert(m.shuffleWriteBytes > 0L, "a groupBy must shuffle")
    assert(m.shuffleReadBytes > 0L)
    assert(m.taskTimeMs > 0L)
  }

  test("resourceMonitor: under-budget workload completes with a clean report") {
    val (result, report) = Metrics.resourceMonitor(spark, "rm-under",
      Metrics.ResourceBudget(maxShuffleBytes = 1L << 30)) {
      (1 to 10000).toDF("x").groupBy(col("x") % 10).count().collect().length
    }
    assert(result === Some(10))
    assert(report.exceeded.isEmpty && !report.suspended)
    assert(report.metrics.shuffleWriteBytes > 0L)
  }

  test("resourceMonitor: budget breach is detected and suspends the workload") {
    // a 1-byte shuffle budget must be crossed by the first shuffling
    // job; the monitor cancels the group, so the multi-job loop cannot
    // run to completion. The breach axis is always reported; whether
    // cancellation caught a job mid-flight (suspended) or the breach
    // landed with a job's final task decides Some/None — the contract
    // ties them together.
    val (result, report) = Metrics.resourceMonitor(spark, "rm-over",
      Metrics.ResourceBudget(maxShuffleBytes = 1L)) {
      (0 until 30).map { i =>
        (1 to 20000).toDF("x").groupBy(col("x") % 50).count().count()
      }.sum
    }
    assert(report.exceeded === Some("shuffle_bytes"))
    assert(report.suspended === result.isEmpty)
    assert(report.suspended, "a 30-job loop must be caught mid-flight")
  }

  test("resourceMonitor: a cancelled group does not poison later work") {
    Metrics.resourceMonitor(spark, "rm-poison",
      Metrics.ResourceBudget(maxShuffleBytes = 1L)) {
      (0 until 10).foreach(_ =>
        (1 to 20000).toDF("x").groupBy(col("x") % 50).count().count())
    }
    // the session must be fully usable afterwards
    assert(spark.range(100).count() === 100L)
  }

  test("usageReport folds measured blocks into a per-tag cost table") {
    val (_, a1) = Metrics.measure(spark, "ingest") {
      spark.range(20000).groupBy(col("id") % 7).count().collect() }
    val (_, a2) = Metrics.measure(spark, "ingest") {
      spark.range(20000).groupBy(col("id") % 5).count().collect() }
    val (_, b) = Metrics.measure(spark, "search") {
      spark.range(1000).select(sum(col("id"))).collect() }
    val rep = Metrics.usageReport(spark, Seq(a1, a2, b))
      .collect().map(r => r.getAs[String]("tag") -> r).toMap
    assert(rep.keySet === Set("ingest", "search"))
    assert(rep("ingest").getAs[Long]("runs") === 2L)
    assert(rep("ingest").getAs[Long]("jobs") === a1.jobs + a2.jobs)
    assert(rep("ingest").getAs[Long]("shuffle_write_bytes") ===
      a1.shuffleWriteBytes + a2.shuffleWriteBytes)
    assert(rep("search").getAs[Long]("runs") === 1L)
  }

  test("measure isolates concurrent untagged work from the group's metrics") {
    // run an untagged shuffle FIRST; its stages must not leak into the
    // next capture (stage filtering is by the group's own job starts)
    spark.range(10000).groupBy(col("id") % 7).count().collect()
    val (_, m) = Metrics.measure(spark, "isolated") {
      spark.range(1000).select(sum(col("id"))).collect()
    }
    // a global sum is a tiny 2-stage job: metrics present but small
    assert(m.jobs >= 1L && m.tasks > 0L)
    assert(m.shuffleWriteBytes < 1000000L)
  }

  test("measure and resourceMonitor leave the caller's job group in place") {
    val sc = spark.sparkContext
    sc.setJobGroup("outer", "caller's group")
    try {
      Metrics.measure(spark, "inner-measure")(spark.range(10).count())
      assert(sc.getLocalProperty("spark.jobGroup.id") === "outer")
      Metrics.resourceMonitor(spark, "inner-monitor",
        Metrics.ResourceBudget())(spark.range(10).count())
      assert(sc.getLocalProperty("spark.jobGroup.id") === "outer")
      assert(sc.getLocalProperty("spark.job.description") === "caller's group")
      assert(sc.getLocalProperty("spark.job.interruptOnCancel") === "false")
    } finally sc.clearJobGroup()
  }
}
