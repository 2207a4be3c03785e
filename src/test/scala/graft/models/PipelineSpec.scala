package graft.models

import graft.SparkSpec
import graft.sources.MaudeIngest
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** End-to-end vigilance pipeline semantics over the NDJSON fixture. */
class PipelineSpec extends SparkSpec {

  private lazy val (landing, seed) =
    MaudeFixture.write(Files.createTempDirectory("maude_fixture"))

  private lazy val models = Pipeline.build(
    MaudeIngest.batch(spark, landing),
    MaudeIngest.manufacturerSeed(spark, seed))

  private def stgRow(key: String) =
    models.stgMaude.filter(s"mdr_report_key = '$key'").collect().head

  private def factRow(key: String) =
    models.factAdverseEvents.filter(s"mdr_report_key = '$key'").collect().head

  test("outer flatten preserves every report (no record loss)") {
    assert(models.stgMaude.count() === 6)
  }

  test("scan-side staging is row-identical to the flatten/groupBy spec") {
    val raw = MaudeIngest.batch(spark, landing)
    // load_ts is current_timestamp() — evaluated per plan, so drop it from
    // the comparison (every other column must match bit-for-bit)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.drop("load_ts").collect().map(r => r.getString(0) -> r.toSeq).toMap
    val fast = rows(StgMaude(raw))
    val spec = rows(StgMaude.applyFlatten(raw))
    assert(fast === spec)
    // and the scale primary's physical plan has no exchange at all
    val plan = StgMaude(raw).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Generate"),
      s"staging must be a single scan-side projection, got:\n$plan")
  }

  test("narrative reassembly: index order, blank fragments skipped") {
    val r1 = stgRow("1001")
    assert(r1.getAs[String]("narrative_text") === "part A\npart C")
    assert(r1.getAs[Int]("narrative_len") === 13)
  }

  test("missing mdr_text yields empty narrative with len 0, not NULL") {
    for (k <- Seq("1002", "1006")) {
      val r = stgRow(k)
      assert(r.getAs[String]("narrative_text") === "")
      assert(r.getAs[Int]("narrative_len") === 0)
    }
  }

  test("event_type normalization covers all branches") {
    val expected = Map(
      "1001" -> "Injury", "1002" -> "Malfunction", "1003" -> "No Answer Provided",
      "1004" -> "Death", "1005" -> "Other", "1006" -> "No Answer Provided")
    expected.foreach { case (k, v) =>
      assert(stgRow(k).getAs[String]("event_type") === v, s"key $k")
    }
  }

  test("empty-string top-level fields win the coalesce (Snowflake semantics)") {
    val r2 = stgRow("1002")
    assert(r2.getAs[String]("device_name") === "")
    assert(r2.getAs[String]("brand_name") === "")
  }

  test("devices_agg: blanks ineligible, MAX order among non-blank values") {
    val r3 = stgRow("1003")
    assert(r3.getAs[String]("manufacturer_name") === "MedTech GmbH")
    assert(r3.getAs[String]("brand_name") === "BrandX")
    assert(stgRow("1004").getAs[String]("manufacturer_name") === "Zeta Devices")
  }

  test("malformed and calendar-invalid dates parse to NULL, not errors") {
    assert(stgRow("1003").getAs[java.sql.Date]("date_received") === null)
    assert(stgRow("1005").getAs[java.sql.Date]("date_received") === null)
    assert(stgRow("1001").getAs[java.sql.Date]("date_received").toString === "2020-01-15")
  }

  test("event_id is the exact SHA2-256 of reportNumber|mdrKey|date") {
    val expected = MessageDigest.getInstance("SHA-256")
      .digest("RN-1|1001|2020-01-15".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(factRow("1001").getAs[String]("event_id") === expected)
  }

  test("manufacturer canonicalization is case-insensitive with NULL-safe fallback") {
    val r2 = factRow("1002")
    assert(r2.getAs[Long]("manufacturer_id") === 1L)
    assert(r2.getAs[String]("canonical_mfr") === "Acme Corporation")
    assert(factRow("1004").getAs[Long]("manufacturer_id") === 3L)
    val r5 = factRow("1005")
    assert(r5.isNullAt(r5.fieldIndex("manufacturer_id")))
    assert(r5.getAs[String]("canonical_mfr") === "NoSuch Inc")
  }

  test("failure-mode ladder: order and NULL default") {
    assert(factRow("1003").getAs[String]("failure_mode") === "LEAK")
    assert(factRow("1004").getAs[String]("failure_mode") === "FRACTURE") // not FRACTURE/BREAK
    assert(factRow("1005").getAs[String]("failure_mode") === "THROMBUS/CLOT")
    assert(factRow("1001").getAs[String]("failure_mode") === null)
  }

  test("year_quarter label") {
    assert(factRow("1001").getAs[String]("year_quarter") === "2020-Q1")
    assert(factRow("1004").getAs[String]("year_quarter") === "2020-Q2")
    assert(factRow("1006").getAs[String]("year_quarter") === null)
  }

  test("ae_counts_q excludes NULL dates and defaults unknowns") {
    val rows = models.aeCountsQ.collect()
      .map(r => (r.getAs[String]("canonical_mfr"), r.getAs[String]("failure_mode"),
        r.getAs[Long]("quarter_index"), r.getAs[Long]("n_events"))).toSet
    assert(rows === Set(
      ("Acme Corporation", "(unknown)", 2020L * 4 + 1, 2L),
      ("Zeta Devices", "FRACTURE", 2020L * 4 + 2, 1L)))
  }

  test("early signals view: single-quarter groups have NULL mean/std/z") {
    val sig = models.vAeEarlySignals.collect()
    assert(sig.length === 2)
    sig.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("mean_4")))
      assert(r.isNullAt(r.fieldIndex("std_4")))
      assert(r.isNullAt(r.fieldIndex("z_score")))
    }
  }

  test("reference dbt tests: green except the declared-but-unenforced date contract") {
    val results = graft.checks.Checks.run(Pipeline.checks(models))
    // The reference's fact test demands non-NULL dates while the fact model
    // never filters them (SURVEY.md §3) — our fixture has 3 such rows.
    assert(results.filter(_._2 > 0) === Map("fact_date_received_not_null" -> 3L))
  }

  // ---- Pipeline.run: staged per run, same rows as the lazy DAG ----

  /** Rows of a model, order-free; `load_ts` is one value per run in
    * `run` and one per query in `build`, so it is left out. */
  private def rowsOf(df: DataFrame): Seq[Row] =
    df.drop("load_ts").collect().toSeq.sortBy(_.toString)

  private def modelRows(m: Pipeline.Models): Seq[Seq[Row]] =
    Seq(m.stgMaude, m.factAdverseEvents, m.aeCountsQ, m.vAeEarlySignals).map(rowsOf)

  private def builtFrom(landing: String, seed: String): Pipeline.Models =
    Pipeline.build(MaudeIngest.batch(spark, landing), MaudeIngest.manufacturerSeed(spark, seed))

  test("run with marts returns the build DAG's rows, and the marts hold them") {
    val base = Files.createTempDirectory("maude_run")
    val (land, sd) = MaudeFixture.write(base)
    val marts = base.resolve("marts").toString
    val ran = Pipeline.run(spark, land, sd, Some(marts))
    val built = builtFrom(land, sd)
    assert(modelRows(ran) === modelRows(built))

    val fact = built.factAdverseEvents
    val factMart = spark.read.parquet(s"$marts/fact_adverse_events")
      .select(fact.columns.map(col).toSeq: _*)
    assert(rowsOf(factMart) === rowsOf(fact))
    val counts = built.aeCountsQ
    val countsMart = spark.read.parquet(s"$marts/ae_counts_q")
      .select(counts.columns.map(col).toSeq: _*)
    assert(rowsOf(countsMart) === rowsOf(counts))
  }

  test("a second run over a changed landing serves the new rows, not the staged ones") {
    val base = Files.createTempDirectory("maude_rerun")
    val (land, sd) = MaudeFixture.write(base)
    val marts = base.resolve("marts").toString
    val first = Pipeline.run(spark, land, sd, Some(marts))
    assert(first.stgMaude.count() === 6)

    val added = """{"mdr_report_key":"1007","report_number":"RN-7","date_received":"20200520",""" +
      """"event_type":"Injury","manufacturer_d_name":"ZETA DEVICES","mdr_text":[{"text":"leak"}]}"""
    Files.writeString(Path.of(land, "maude_part0.json"),
      (MaudeFixture.ndjson.take(4) :+ added).mkString("\n"))
    val second = Pipeline.run(spark, land, sd, Some(marts))
    val keys = second.stgMaude.select("mdr_report_key").collect().map(_.getString(0)).toSet
    assert(keys === Set("1001", "1002", "1003", "1004", "1007"))
    assert(modelRows(second) === modelRows(builtFrom(land, sd)))
    assert(spark.table("stg_maude").count() === 5)
    assert(spark.read.parquet(s"$marts/fact_adverse_events").count() === 5)
  }

  test("a warm run compiles at most the staging projection") {
    val base = Files.createTempDirectory("maude_warm_run")
    val (land, sd) = MaudeFixture.write(base)
    def run(): Unit = { Pipeline.run(spark, land, sd, Some(base.resolve("marts").toString)); () }
    run(); run()
    // the staging projection inlines the run's load_ts literal
    assert(compiles(run()) <= 1)
  }

  test("run tags its stages but leaves the caller's job group in place") {
    val base = Files.createTempDirectory("maude_group")
    val (land, sd) = MaudeFixture.write(base)
    val sc = spark.sparkContext
    sc.setJobGroup("outer", "caller's group")
    try {
      Pipeline.run(spark, land, sd, Some(base.resolve("marts").toString))
      assert(sc.getLocalProperty("spark.jobGroup.id") === "outer")
      assert(sc.getLocalProperty("spark.job.description") === "caller's group")
    } finally sc.clearJobGroup()
  }

  test("one refresh (run + checks + signals) scans the NDJSON landing in one plan") {
    val base = Files.createTempDirectory("maude_scans")
    val (land, sd) = MaudeFixture.write(base)
    val plans = executedPlans {
      val m = Pipeline.run(spark, land, sd, Some(base.resolve("marts").toString))
      graft.checks.Checks.run(Pipeline.checks(m))
      m.vAeEarlySignals.collect()
    }
    val jsonScans = plans.filter(_.contains("FileScan json"))
    assert(jsonScans.size === 1, jsonScans.mkString("\n\n"))
  }
}
