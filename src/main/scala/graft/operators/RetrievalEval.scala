package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Ranked-retrieval quality metrics — the evaluation harness for the
 * engine's search tier ([[Knn]], [[Bm25]], [[HybridSearch]]): given a
 * system's ranked lists and a ground-truth relevance set, compute the
 * standard per-query metrics (recall@k, precision@k, reciprocal rank,
 * success@k) that the reference's own retrieval SLO states as
 * "recall@20 ≥ 0.7" (reference README.md:87,139), as a first-class,
 * oracle-checkable query over arbitrary (ranking, truth) pairs — e.g. grading an ANN index against brute-force truth, or a new
 * ranker against editorial judgments.
 *
 * Metric definitions (per query):
 *  - `n_rel`        — |relevant set| (0 for queries absent from qrels)
 *  - `hits_at_k`    — |top-k ∩ relevant|
 *  - `recall_at_k`  — hits_at_k / n_rel (NULL when n_rel = 0, the
 *                     undefined case — not 0, which would conflate
 *                     "nothing to find" with "found nothing")
 *  - `precision_at_k` — hits_at_k / k
 *  - `rr`           — 1 / rank of the FIRST relevant result anywhere in
 *                     the ranked list (0.0 when none is retrieved)
 *  - `success_at_k` — whether any relevant result landed in the top-k
 *
 * All ratios are exact integer divisions rounded to 6dp — engine-
 * portable with no transcendental functions. The graded tier lives in
 * [[ndcg]] (harmonic-discount rational-gain nDCG; the classic
 * 1/log2(r+1) discount is transcendental and stays out of oracled
 * outputs for the house last-ulp reason) and [[averagePrecision]]
 * (exact-rational AP; its macro mean is MAP via [[summarizeGraded]]).
 *
 * Plan shape: ONE left join of the ranked lists against the qrels on
 * (query, doc) — broadcast when the truth set is small, hash otherwise —
 * folded by ONE query-keyed aggregate, plus the n_rel side-aggregate
 * joined back query-keyed. At 100 TB of ranked output (offline eval of
 * a full query log) everything is keyed by query id: no stage is wider
 * than the ranking itself.
 */
object RetrievalEval {

  /**
   * @param ranked ranked lists: (queryCol, docCol, rankCol) with rank
   *               1-based and dense per query (ties already broken)
   * @param qrels  ground truth: (queryCol, docCol) distinct relevant pairs
   */
  /** Shared skeleton of every metric here: distinct qrels, per-query
    * truth size (`rel`: n_rel), and the ranked list left-joined against
    * the truth pairs (`flagged`: a non-NULL `rel` column marks a
    * relevant retrieved row). One (query, doc)-keyed join + one
    * query-keyed aggregate — the only shuffles any metric pays. */
  private def flagAgainstTruth(ranked: DataFrame, qrels: DataFrame,
                               queryCol: String, docCol: String)
      : (DataFrame, DataFrame) = {
    val q = col(queryCol)
    val qrelsD = qrels.select(q, col(docCol)).distinct()
    val rel = qrelsD.groupBy(q).agg(count(lit(1)).as("n_rel"))
    val flagged = ranked.join(qrelsD.withColumn("rel", lit(1)),
      Seq(queryCol, docCol), "left")
    (flagged, rel)
  }

  /** lcm(1..k) — the integer scale making every 1/r (r ≤ k) term exact;
    * k ≤ 40 keeps it inside a Long (and under 2^53 for exact DOUBLE
    * division). */
  private def lcmScale(k: Int): Long = {
    require(k >= 1 && k <= 40, "k in [1, 40] (lcm(1..k) must fit a Long)")
    (1 to k).foldLeft(1L)((l, r) => l / gcd(l, r) * r)
  }

  def evaluate(ranked: DataFrame, qrels: DataFrame, queryCol: String,
               docCol: String, rankCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val q = col(queryCol)
    val (flagged, rel) = flagAgainstTruth(ranked, qrels, queryCol, docCol)
    val perQuery = flagged.groupBy(q).agg(
      sum(when(col("rel").isNotNull && col(rankCol) <= k, 1L).otherwise(0L))
        .as("hits_at_k"),
      min(when(col("rel").isNotNull, col(rankCol))).as("first_rel_rank"))
    // FULL outer against the truth side: a query the system returned NO
    // results for must still appear, with recall 0 — driving the eval
    // off `ranked` alone would silently drop exactly the failures a
    // recall gate exists to catch (a system answering 1 of 10 truth
    // queries perfectly would otherwise report mean_recall = 1.0).
    val hits = coalesce(col("hits_at_k"), lit(0L))
    perQuery.join(rel, Seq(queryCol), "full_outer")
      .select(q,
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        hits.as("hits_at_k"),
        round(hits.cast("double") / col("n_rel"), 6).as("recall_at_k"),
        round(hits.cast("double") / k, 6).as("precision_at_k"),
        round(coalesce(lit(1.0) / col("first_rel_rank"), lit(0.0)), 6)
          .as("rr"),
        (hits > 0).as("success_at_k"))
  }

  /**
   * Rational-gain nDCG@k — the graded-ranking metric that completes the
   * standard eval set next to [[evaluate]]'s recall/precision/MRR. The
   * classic nDCG discount is 1/log2(rank+1); logs are transcendental,
   * and the house rule (last-ulp portability — libm vs StrictMath can
   * differ in the final bit, flipping a 6dp hash) keeps them out of
   * oracled outputs. This variant uses the HARMONIC discount 1/rank —
   * the same monotone top-weighted family (it is exactly MRR's weight
   * curve extended from "first hit" to "all hits") — because it makes
   * the whole metric EXACT RATIONAL arithmetic (the q94 PRR precedent):
   * with binary gains,
   *
   *   DCG@k  = Σ_{relevant hits at rank r ≤ k} 1/r
   *   IDCG@k = Σ_{r = 1 .. min(n_rel, k)} 1/r
   *   nDCG@k = DCG@k / IDCG@k           (NULL when n_rel = 0)
   *
   * Both sums are computed as INTEGERS scaled by L = lcm(1..k) — every
   * L/r is exact, integer addition is order-insensitive, so the only
   * floating-point step is the final correctly-rounded division of two
   * exact integers. No accumulation-order nondeterminism exists anywhere
   * in the plan, in either engine. k ≤ 40 keeps L inside a Long
   * (lcm(1..40) ≈ 5.3e15 < 2^63; it also stays under 2^53, so the
   * DOUBLE-typed division is exact on its inputs).
   *
   * The integer numerators are part of the output (`dcg_num`/`idcg_num`
   * at scale L): they make the rational-arithmetic contract itself
   * hash-checkable, not just the rounded ratio.
   *
   * Plan shape: identical to [[evaluate]] — one (query, doc)-keyed left
   * join, one query-keyed aggregate, the truth-side count joined back
   * full-outer (a query with no retrieved rows still appears, nDCG 0;
   * a query with no truth appears with nDCG NULL). IDCG is a per-row
   * array fold (`aggregate(sequence(...))`) — no extra shuffle.
   */
  def ndcg(ranked: DataFrame, qrels: DataFrame, queryCol: String,
           docCol: String, rankCol: String, k: Int): DataFrame = {
    val scale = lcmScale(k)
    val q = col(queryCol)
    val (flagged, rel) = flagAgainstTruth(ranked, qrels, queryCol, docCol)
    // L/r is an exact integer for r ≤ k by construction of L; the DOUBLE
    // division is exact (both operands < 2^53), floor is a no-op cast
    val perQuery = flagged.groupBy(q).agg(
      sum(when(col("rel").isNotNull && col(rankCol) <= k,
          floor(lit(scale.toDouble) / col(rankCol)).cast("long"))
        .otherwise(0L)).as("dcg_num"))
    val dcg = coalesce(col("dcg_num"), lit(0L))
    val nRel = coalesce(col("n_rel"), lit(0L))
    val idcg = when(nRel > 0,
      aggregate(sequence(lit(1L), least(nRel, lit(k.toLong))), lit(0L),
        (acc, r) => acc + floor(lit(scale.toDouble) / r).cast("long")))
      .otherwise(lit(0L))
    perQuery.join(rel, Seq(queryCol), "full_outer")
      .select(q,
        nRel.as("n_rel"),
        dcg.as("dcg_num"),
        idcg.as("idcg_num"),
        when(idcg > 0, round(dcg.cast("double") / idcg.cast("double"), 6))
          .as("ndcg_at_k"))
  }

  /**
   * Textbook log2-discount nDCG@k — the 1/log2(rank+1) metric users of
   * the standard literature expect, provided NEXT TO [[ndcg]]'s exact-
   * rational harmonic variant rather than instead of it. The discount is
   * transcendental, so this column lives in the TOLERANCE LANE (SURVEY
   * §8): it is epsilon-compared in specs against an independent
   * StrictMath reference, and deliberately NOT part of any
   * hash-compared declared query (libm vs StrictMath can differ in the
   * final ulp; the house rule keeps transcendentals out of oracled
   * outputs — [[ndcg]]'s scaladoc carries the full argument).
   *
   * Determinism WITHIN the engine is still by construction, not luck:
   * each query's relevant ranks are collected, SORTED, and folded
   * SEQUENTIALLY by an array `aggregate` — the float additions happen in
   * rank order every run, never in shuffle-arrival order — so repeated
   * runs of the same input are bit-identical even though the value
   * itself is lane-restricted. IDCG folds `sequence(1, min(n_rel, k))`
   * the same way.
   *
   * Plan shape: identical to [[ndcg]] — one (query, doc)-keyed join, one
   * query-keyed aggregate (collect_list is bounded by the ranking's
   * per-query row count, which a top-k ranking caps at k' rows), the
   * truth count joined back full-outer. NULL when n_rel = 0; 0.0 when
   * truth exists but nothing relevant was retrieved.
   */
  def ndcgLog2(ranked: DataFrame, qrels: DataFrame, queryCol: String,
               docCol: String, rankCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val q = col(queryCol)
    val (flagged, rel) = flagAgainstTruth(ranked, qrels, queryCol, docCol)
    def disc(r: Column): Column = lit(1.0) / log2(r.cast("double") + lit(1.0))
    // when() without otherwise yields NULL for non-relevant rows, and
    // collect_list drops NULLs: the array is exactly the relevant ranks
    val perQuery = flagged.groupBy(q).agg(
      sort_array(collect_list(
        when(col("rel").isNotNull && col(rankCol) <= k, col(rankCol))))
        .as("rel_ranks"))
    val dcg = coalesce(
      aggregate(col("rel_ranks"), lit(0.0), (acc, r) => acc + disc(r)),
      lit(0.0))
    val nRel = coalesce(col("n_rel"), lit(0L))
    val idcg = aggregate(sequence(lit(1L), least(nRel, lit(k.toLong))),
      lit(0.0), (acc, r) => acc + disc(r))
    perQuery.join(rel, Seq(queryCol), "full_outer")
      .select(q,
        nRel.as("n_rel"),
        when(nRel > 0, round(dcg / idcg, 6)).as("ndcg_log2_at_k"))
  }

  /**
   * Exact-rational average precision @k — the last member of the
   * standard eval set (recall/precision/MRR/success from [[evaluate]],
   * nDCG from [[ndcg]], AP here; the macro mean of this column IS MAP).
   * With binary relevance,
   *
   *   AP@k = Σ_{relevant ranks r ≤ k} P(r) / min(n_rel, k),
   *   P(r) = |relevant in top r| / r
   *
   * Every P(r) has denominator ≤ k, so at scale L = lcm(1..k) each term
   * `cumhits(r) · L/r` is an exact integer (cumhits ≤ k, so terms are
   * tiny); `ap_num` is their order-insensitive integer sum and the
   * denominator is `L · min(n_rel, k)`. As in [[ndcg]], the only
   * floating-point step is the final correctly-rounded division — no
   * accumulation-order nondeterminism in either engine. NULL when
   * n_rel = 0 (undefined), 0 when truth exists but nothing relevant was
   * retrieved; unanswered truth queries appear via the full-outer.
   *
   * Plan shape: [[evaluate]]'s join plus ONE query-partitioned window
   * (running relevant count in rank order — never partition-less), one
   * query-keyed aggregate, truth count joined back. Nothing wider than
   * the ranking.
   */
  def averagePrecision(ranked: DataFrame, qrels: DataFrame, queryCol: String,
                       docCol: String, rankCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scale = lcmScale(k)
    val q = col(queryCol)
    val (flagged, rel) = flagAgainstTruth(ranked, qrels, queryCol, docCol)
    val w = Window.partitionBy(q).orderBy(col(rankCol))
    val cum = flagged.withColumn("cumhits",
      sum(when(col("rel").isNotNull, 1L).otherwise(0L)).over(w))
    val perQuery = cum.groupBy(q).agg(
      sum(when(col("rel").isNotNull && col(rankCol) <= k,
          col("cumhits") *
            floor(lit(scale.toDouble) / col(rankCol)).cast("long"))
        .otherwise(0L)).as("ap_num"))
    val apNum = coalesce(col("ap_num"), lit(0L))
    val nRel = coalesce(col("n_rel"), lit(0L))
    val apDen = lit(scale) * least(nRel, lit(k.toLong))
    perQuery.join(rel, Seq(queryCol), "full_outer")
      .select(q,
        nRel.as("n_rel"),
        apNum.as("ap_num"),
        apDen.as("ap_den"),
        when(nRel > 0,
          round(apNum.cast("double") / apDen.cast("double"), 6))
          .as("ap_at_k"))
  }

  /**
   * Corpus-level summary of the graded metrics — the q136 analog for
   * [[ndcg]] and [[averagePrecision]]: one row of n_queries, mean nDCG
   * and MAP (the macro mean of AP IS the textbook MAP). Undefined
   * per-query values (n_rel = 0 → NULL) are excluded by avg's own
   * NULL-skipping semantics on both engines, mirroring
   * [[summarize]]'s mean_recall rule. Join is query-keyed; one
   * single-row fold.
   */
  def summarizeGraded(perNdcg: DataFrame, perAp: DataFrame,
                      queryCol: String): DataFrame =
    perNdcg.select(col(queryCol), col("ndcg_at_k"))
      .join(perAp.select(col(queryCol), col("ap_at_k")), Seq(queryCol),
        "full_outer")
      .agg(
        count(lit(1)).as("n_queries"),
        round(avg(col("ndcg_at_k")), 6).as("mean_ndcg"),
        round(avg(col("ap_at_k")), 6).as("map"))

  @annotation.tailrec
  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /**
   * Corpus-level (macro-averaged) retrieval quality — the single-row
   * summary a regression gate or dashboard consumes (mean recall@k IS
   * the reference's "recall@20 ≥ 0.7" number): per-query metrics from
   * [[evaluate]] folded into n_queries, macro recall/precision, MRR,
   * and success rate. Queries with n_rel = 0 (recall undefined) are
   * excluded from mean_recall — Spark's avg and the oracle's AVG both
   * skip NULLs, so the exclusion is the aggregate's own semantics —
   * but still count toward precision/MRR/success (retrieving junk for
   * an unanswerable query is still junk). One single-row aggregate
   * over the per-query table; nothing wider than [[evaluate]] itself.
   */
  def summarize(perQuery: DataFrame): DataFrame =
    perQuery.agg(
      count(lit(1)).as("n_queries"),
      round(avg(col("recall_at_k")), 6).as("mean_recall"),
      round(avg(col("precision_at_k")), 6).as("mean_precision"),
      round(avg(col("rr")), 6).as("mrr"),
      round(avg(col("success_at_k").cast("double")), 6).as("success_rate"))
}
