package graft.models

import graft.Par
import graft.checks.Checks
import graft.sources.MaudeIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * DAG runner for the vigilance models (reference `dbt run` semantics,
 * SURVEY.md §3 E1): builds the models in topological order —
 * seed → stg_maude → fact_adverse_events → ae_counts_q →
 * v_ae_early_signals. Marts are persisted (dbt_project.yml:13-15).
 *
 * Per-run materialization: in the reference `stg_maude` is a view
 * (dbt_project.yml:10-12) that the fact model and five schema tests
 * read, and the fact is read by four more tests and the counts mart, so
 * a literal copy parses the NDJSON landing once per consumer. [[run]]
 * instead stages `stg_maude` and `ae_counts_q` once per run with a
 * non-eager `localCheckpoint(DISK_ONLY)`: each fills inside its first
 * consumer's job, and every later consumer (fact, the mart writes, the
 * checks, the signals view) reads the staged blocks. The fact and the
 * signals view stay lazy over them. DISK_ONLY keeps the staged rows in
 * the block manager's local files, off the JVM heap. The blocks belong
 * to the returned DataFrames (and the temp views registered over them):
 * once a run's DataFrames are dropped, Spark's ContextCleaner frees the
 * blocks at the next GC.
 *
 * `load_ts` (`current_timestamp()` at ingest) is fixed when staging is
 * planned, so it is one value per [[run]]; over the lazy [[build]] DAG
 * it is evaluated per query instead.
 *
 * Each stage is tagged via the job group (the QUERY_TAG / FinOps analog,
 * README.md:128-133), and the caller's own job group is restored after
 * each stage. Mart writes are partitioned by receive-year so
 * time-scoped reads prune at 100 TB; the two mart writes are independent
 * and run overlapped through [[graft.Par]].
 */
object Pipeline {

  final case class Models(
      stgMaude: DataFrame,
      factAdverseEvents: DataFrame,
      aeCountsQ: DataFrame,
      vAeEarlySignals: DataFrame)

  /** Build the DAG from a landing DataFrame + seed. `stage` is applied to
    * the models with several consumers (`stg_maude`, `ae_counts_q`); the
    * default leaves the whole DAG lazy. */
  def build(maudeRaw: DataFrame, manufacturer: DataFrame,
            stage: DataFrame => DataFrame = identity): Models = {
    val stg    = stage(StgMaude(maudeRaw))
    val fact   = FactAdverseEvents(stg, manufacturer)
    val counts = stage(AeCountsQ(fact))
    val sig    = VAeEarlySignals(counts)
    Models(stg, fact, counts, sig)
  }

  /** The local properties `SparkContext.setJobGroup` sets. */
  private val JobGroupKeys = Seq(
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  /** Run end-to-end from paths; optionally persist marts under `martsDir`
    * (parquet, facts partitioned by receive-year). Stages `stg_maude` and
    * `ae_counts_q` for this run (see the object doc), registers every model
    * as a temp view and returns the DAG. */
  def run(spark: SparkSession, landingPath: String, seedPath: String,
          martsDir: Option[String] = None): Models = {
    def tagged[T](tag: String)(body: => T): T = {
      val sc = spark.sparkContext
      val saved = JobGroupKeys.map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(tag, s"vigilance:$tag", interruptOnCancel = false)
      try body finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }

    // adaptive execution runs the counts checkpoint's shuffle stage while
    // planning it, and that stage fills the staged stg_maude
    val models = tagged("stg_maude") {
      build(
        MaudeIngest.batch(spark, landingPath),
        MaudeIngest.manufacturerSeed(spark, seedPath),
        _.localCheckpoint(eager = false, StorageLevel.DISK_ONLY))
    }

    models.stgMaude.createOrReplaceTempView("stg_maude")
    models.factAdverseEvents.createOrReplaceTempView("fact_adverse_events")
    models.aeCountsQ.createOrReplaceTempView("ae_counts_q")
    models.vAeEarlySignals.createOrReplaceTempView("v_ae_early_signals")

    martsDir.foreach { dir =>
      val writes = Seq(
        Par.submit(tagged("fact_adverse_events") {
          models.factAdverseEvents
            .withColumn("yyyy", year(col("date_received")))
            .write.mode("overwrite").partitionBy("yyyy")
            .parquet(s"$dir/fact_adverse_events")
        }),
        Par.submit(tagged("ae_counts_q") {
          models.aeCountsQ.write.mode("overwrite").parquet(s"$dir/ae_counts_q")
        }))
      writes.foreach(Par.await)
    }
    models
  }

  /** The reference's schema tests (`dbt test`, SURVEY.md §3 E3). */
  def checks(m: Models): Map[String, DataFrame] = Map(
    "stg_mdr_report_key_not_null" -> Checks.notNull(m.stgMaude, "mdr_report_key"),
    "stg_mdr_report_key_unique"   -> Checks.unique(m.stgMaude, "mdr_report_key"),
    "stg_report_number_not_null"  -> Checks.notNull(m.stgMaude, "report_number"),
    "stg_event_type_accepted"     -> Checks.acceptedValues(m.stgMaude, "event_type",
      Seq("Injury", "Malfunction", "Death", "Other", "No Answer Provided")),
    "stg_narrative_conditional"   -> Checks.notNull(m.stgMaude, "narrative_text",
      col("narrative_len") > 0),
    "fact_event_id_not_null"      -> Checks.notNull(m.factAdverseEvents, "event_id"),
    "fact_event_id_unique"        -> Checks.unique(m.factAdverseEvents, "event_id"),
    // The reference declares this even though the fact model never filters
    // NULL dates (models/marts/schema.yml:9-10; SURVEY.md §3 note) — it
    // fails whenever the data has date gaps, by design.
    "fact_date_received_not_null" -> Checks.notNull(m.factAdverseEvents, "date_received"),
    "fact_narrative_conditional"  -> Checks.notNull(m.factAdverseEvents, "narrative_text",
      col("narrative_len") > 0))
}
