package graft

import graft.checks.Checks
import graft.models.Pipeline

/**
 * CLI entry for the vigilance pipeline: ingest a MAUDE NDJSON landing dir +
 * manufacturer seed CSV, build stg → fact → counts → signals, run the
 * reference's schema tests, and print the strongest early signals.
 *
 * Usage: runMain graft.VigilanceDemo <landingDir> <seedCsv> [martsOutDir]
 *
 * The session is [[Graft.session]] with `SPARK_GRAFT_CPUS` cores (default:
 * every available processor).
 */
object VigilanceDemo {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: VigilanceDemo <landingDir> <seedCsv> [martsOutDir]")
    val spark = Graft.session(
      cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      appName = "vigilance")
    spark.sparkContext.setLogLevel("WARN")

    val models = Pipeline.run(spark, args(0), args(1), args.lift(2))

    println(s"[vigilance] stg_maude rows:  ${models.stgMaude.count()}")
    println(s"[vigilance] fact rows:       ${models.factAdverseEvents.count()}")
    println(s"[vigilance] quarterly rows:  ${models.aeCountsQ.count()}")

    println("[vigilance] dbt-style checks (failures per test):")
    Checks.run(Pipeline.checks(models)).toSeq.sortBy(_._1).foreach {
      case (name, n) => println(f"[vigilance]   $name%-34s $n%d")
    }

    println("[vigilance] top early signals by |z|:")
    models.vAeEarlySignals
      .where("z_score IS NOT NULL")
      .orderBy(org.apache.spark.sql.functions.abs(
        org.apache.spark.sql.functions.col("z_score")).desc)
      .show(10, truncate = false)

    // UC1 "similar cases" (reference README.md:73,117): hybrid BM25 + vector
    // top-K over the fact narratives. Embeddings come from the stub codec
    // (a real encoder drops in behind the same Codec trait).
    import org.apache.spark.sql.functions._
    val corpus = models.factAdverseEvents
      .where(col("narrative_text").isNotNull && col("narrative_len") > 0)
      .select(col("event_id"), col("narrative_text"),
        col("narrative_text").cast("binary").as("payload"),
        lit("text").as("modality"),
        xxhash64(col("event_id")).as("asset_id"))
    val codec = new graft.operators.Multimodal.StubCodec(16)
    val embedded = graft.operators.Multimodal
      .featurize(corpus, codec).toDF()
      .select(col("asset_id"), col("feature"))
      .join(corpus, Seq("asset_id"))
    val queryText = "pump leak detected"
    val queryVec = codec.decodeAndEmbed(
      queryText.getBytes("UTF-8")).map(_.toDouble).toSeq
    println(s"""[vigilance] UC1 similar cases for "$queryText":""")
    graft.operators.HybridSearch.similarCases(
        embedded, "event_id", "narrative_text", "feature",
        queryText, queryVec, k = 5)
      .show(5, truncate = 60)

    // Interactive serving path (the P95 < 1.5 s SLO shape,
    // README.md:87,139): build the search index once — cached BM25
    // postings + IVF assignment — then answer repeated queries warm.
    // The serving block runs under Metrics.measure (QUERY_TAG-style),
    // feeding the FinOps usage report below.
    val centroids = embedded.limit(8)
      .select(col("event_id"), col("feature"))
    val idx = graft.operators.HybridSearch.buildIndex(
      embedded, "event_id", "narrative_text", "feature", centroids)
    val queries = Seq("battery depleted", "software error code")
    val (_, searchCost) = Metrics.measure(spark, "search") {
      try {
        queries.foreach { q =>
          val qv = codec.decodeAndEmbed(q.getBytes("UTF-8")).map(_.toDouble).toSeq
          println(s"""[vigilance] warm similar cases for "$q":""")
          graft.operators.HybridSearch
            .similarCasesIndexed(idx, q, qv, k = 3, nProbe = 2)
            .show(3, truncate = 60)
        }
      } finally idx.close()
    }

    // Retrieval-quality gate (the reference's "Recall@20 >= 0.7 on a
    // validation sample", README.md:86,138): grade the IVF-indexed
    // ranking against the exact brute-force twin with the full eval
    // set — recall/precision/MRR + nDCG + MAP, all from RetrievalEval.
    import graft.operators.{Knn, RetrievalEval}
    val evalQueries = embedded.limit(5)
      .select(col("event_id").as("qid"), col("feature"))
    val vecs = embedded.select(col("event_id"), col("feature"))
    val (_, evalCost) = Metrics.measure(spark, "eval") {
      val truth = Knn.bruteTopK(vecs, evalQueries.withColumnRenamed("qid", "event_id"),
          "event_id", "feature", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val ranked = Knn.ivfTopK(vecs,
          evalQueries.withColumnRenamed("qid", "event_id"),
          centroids, "event_id", "feature", k = 10, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val per = RetrievalEval.evaluate(ranked, truth,
        "query_id", "neighbor_id", "rank", k = 5)
      println("[vigilance] retrieval quality (macro):")
      RetrievalEval.summarize(per).show(truncate = false)
      println("[vigilance] graded metrics (mean nDCG@5, MAP@5):")
      RetrievalEval.summarizeGraded(
        RetrievalEval.ndcg(ranked, truth, "query_id", "neighbor_id", "rank", 5),
        RetrievalEval.averagePrecision(ranked, truth,
          "query_id", "neighbor_id", "rank", 5),
        "query_id").show(truncate = false)
    }

    // Governance (README.md:63,132): the analyst-facing governed view —
    // manufacturer partial-masked, report number tokenized (joins still
    // work), narrative redacted; a compliance reader of the SAME view
    // definition sees raw values.
    import graft.operators.Privacy
    import graft.operators.Privacy.MaskPolicy
    val policies = Seq(
      MaskPolicy("canonical_mfr", Set("compliance"), Privacy.maskTail(_, 3)),
      MaskPolicy("report_number", Set("compliance"), Privacy.maskHash),
      MaskPolicy("narrative_text", Set("compliance"), Privacy.maskFull))
    println("[vigilance] governed view (role = analyst):")
    Privacy.applyMaskingPolicies(
        models.factAdverseEvents.select(col("event_id"), col("report_number"),
          col("canonical_mfr"), col("narrative_text")),
        role = "analyst", policies)
      .show(3, truncate = 40)

    // FinOps (README.md:128-133): the per-tag cost report over the
    // measured blocks — the ACCOUNT_USAGE-style rollup.
    println("[vigilance] usage report by tag:")
    Metrics.usageReport(spark, Seq(searchCost, evalCost)).show(truncate = false)
    spark.stop()
  }
}
