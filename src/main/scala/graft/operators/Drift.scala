package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distribution-drift screens between two cohorts of one table — the
 * data-quality gate a training pipeline runs between corpus versions,
 * ingest epochs, or serving windows before trusting a refresh:
 *
 *  - PSI (population stability index), the industry-standard monitoring
 *    score: `Σ_bins (p_a − p_b) · ln(p_a / p_b)`; rule-of-thumb bands
 *    <0.1 stable, 0.1–0.25 shifting, >0.25 drifted;
 *  - the chi-square test of homogeneity on the same 2×K contingency
 *    table: `Σ (obs − exp)² / exp` over both cohorts, with
 *    `exp = row_total · cohort_total / N`.
 *
 * One grouped aggregate computes the whole contingency table (cohort
 * membership rides as a conditional count inside the bin's shuffle —
 * never two scans), cohort totals come back as a broadcast single-row
 * aggregate over the BIN-sized result (the declared surface bans
 * partition-less windows), and every derived number is arithmetic on
 * exact integer counts: shares and expectations are single or chained
 * correctly-rounded float ops on identical operands (deterministic
 * cross-engine, the q163 discipline), so chi2 terms hash raw. The PSI
 * term alone passes through `ln` — a transcendental, so libm may differ
 * by an ulp across engines — and is therefore rounded (6dp), the same
 * lane every ln/exp-bearing query in the gate uses.
 *
 * Bins empty in EITHER cohort get a NULL psi_term (ln undefined /
 * infinite — the caller chooses a smoothing policy; silently inventing
 * an epsilon would corrupt the score) while chi2_term stays defined
 * whenever the expectation is positive.
 *
 * Scale shape: one shuffle (bin-keyed aggregate), one window over
 * #bins rows, zero joins. The bin column is caller-derived (a category,
 * a `floor(value/width)` band, a quantile id), so the operator never
 * touches row-level width.
 */
object Drift {

  /** Per-bin drift terms between the `inA` cohort and its complement.
    * Emits (bin, n_a, n_b, p_a, p_b, psi_term, chi2_term). */
  def stability(df: DataFrame, binCol: Column, inA: Column): DataFrame =
    stabilityFromCounts(df.groupBy(binCol.as("bin")).agg(
      sum(when(inA, 1L).otherwise(0L)).as("n_a"),
      sum(when(inA, 0L).otherwise(1L)).as("n_b")))

  /** The derived-metric tail over an ALREADY-AGGREGATED contingency
    * table `(bin, n_a, n_b)` — the serving half an incrementally
    * maintained drift monitor reads: the counts mart lives under the
    * [[graft.operators.Incremental]] aggregate/merge lifecycle and only
    * this bin-sized projection runs per refresh (q180's shape; the
    * batch [[stability]] is exactly contingency-aggregate ∘ this). */
  def stabilityFromCounts(table: DataFrame): DataFrame = {
    // cohort totals as a broadcast 1-row aggregate over the BIN-sized
    // table (the q121 bounds idiom) — never a partition-less window
    val totals = table.agg(sum(col("n_a")).as("__ta"),
      sum(col("n_b")).as("__tb"))
    val withTotals = table.crossJoin(broadcast(totals))
    val ta = col("__ta")
    val tb = col("__tb")
    val pa = col("n_a").cast("double") / ta.cast("double")
    val pb = col("n_b").cast("double") / tb.cast("double")
    val psi = when(col("n_a") > 0 && col("n_b") > 0,
      round((pa - pb) * log(pa / pb), 6))
    val n = (ta + tb).cast("double")
    val ea = (col("n_a") + col("n_b")).cast("double") * ta.cast("double") / n
    val eb = (col("n_a") + col("n_b")).cast("double") * tb.cast("double") / n
    val chi2 = (col("n_a").cast("double") - ea) * (col("n_a").cast("double") - ea) / ea +
      (col("n_b").cast("double") - eb) * (col("n_b").cast("double") - eb) / eb
    withTotals.select(col("bin"), col("n_a"), col("n_b"),
      pa.as("p_a"), pb.as("p_b"),
      psi.as("psi_term"), chi2.as("chi2_term"))
  }

  /**
   * Term keyness between two sub-corpora — "which terms over-represent
   * in cohort A vs B" (Dunning 1993's log-likelihood ratio G², the
   * corpus-linguistics standard; in a training pipeline this is the
   * shard/source vocabulary-drift screen that [[stability]]'s
   * fixed-bin PSI can't express):
   *
   *   G² = 2 · [ a·ln(a/E_a) + b·ln(b/E_b) ],
   *   E_x = (a + b) · N_x / (N_a + N_b)
   *
   * with the usual convention that a zero observed count contributes 0
   * (the x·ln x limit). `leans` marks the over-representing cohort by
   * the exact INTEGER cross-product comparison a·N_b vs b·N_a — no
   * float ever decides a label. G² passes through `ln`, so it is
   * rounded 6dp (the engine's transcendental lane).
   *
   * One shuffle: the (cohort-conditional) term counts; corpus token
   * totals come back as a broadcast single-row aggregate over the
   * VOCABULARY-sized result. The `minCount` floor bounds the output
   * without touching the totals (rare terms still weigh in N_a/N_b).
   */
  def keyness(df: DataFrame, tokensCol: Column, inA: Column,
              minCount: Long = 5L): DataFrame = {
    val counts = df.select(inA.as("__a"), explode(tokensCol).as("term"))
      .groupBy(col("term")).agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("n_b"))
    val withTotals = counts
      .crossJoin(broadcast(counts.agg(sum(col("n_a")).as("__ta"),
        sum(col("n_b")).as("__tb"))))
      .filter(col("n_a") + col("n_b") >= minCount)
    val n = (col("__ta") + col("__tb")).cast("double")
    val ea = (col("n_a") + col("n_b")).cast("double") *
      col("__ta").cast("double") / n
    val eb = (col("n_a") + col("n_b")).cast("double") *
      col("__tb").cast("double") / n
    val g2 = lit(2.0) * (
      when(col("n_a") > 0,
        col("n_a").cast("double") * log(col("n_a").cast("double") / ea))
        .otherwise(lit(0.0)) +
      when(col("n_b") > 0,
        col("n_b").cast("double") * log(col("n_b").cast("double") / eb))
        .otherwise(lit(0.0)))
    val leans = when(col("n_a") * col("__tb") > col("n_b") * col("__ta"), "A")
      .when(col("n_a") * col("__tb") < col("n_b") * col("__ta"), "B")
      .otherwise("=")
    withTotals.select(col("term"), col("n_a"), col("n_b"),
      leans.as("leans"), round(g2, 6).as("g2"))
  }

  /**
   * Association strength between two categorical columns: the full R×C
   * chi-square with Cramér's V effect size — the general-contingency
   * sibling of [[stability]]'s 2×K cohort screen ("are event type and
   * weekday independent", "does source predict language"). V ∈ [0, 1]
   * normalizes χ² by table size, so it is comparable across tables:
   *
   *   V = √( χ² / (n · min(R−1, C−1)) )
   *
   * One (r, c) cell aggregate; marginals come back as broadcast
   * aggregates over the CELL-sized table (dimension-sized by
   * construction — no partition-less window); expectations are chained
   * correctly-rounded ops on integer counts. The χ² SUM accumulates
   * across cells, so it is rounded 6dp — and V is computed FROM the
   * rounded χ² (sqrt and division are correctly rounded), keeping V
   * deterministic without a second lane. Emits one row:
   * (n, r_levels, c_levels, chi2, cramers_v).
   */
  def cramersV(df: DataFrame, rowCol: Column, colCol: Column): DataFrame = {
    val cells = df.filter(rowCol.isNotNull && colCol.isNotNull)
      .groupBy(rowCol.as("__r"), colCol.as("__c"))
      .agg(count(lit(1)).as("__n"))
    val rTot = cells.groupBy(col("__r")).agg(sum(col("__n")).as("__rt"))
    val cTot = cells.groupBy(col("__c")).agg(sum(col("__n")).as("__ct"))
    val tot = cells.agg(sum(col("__n")).as("__t"),
      count_distinct(col("__r")).as("__rl"),
      count_distinct(col("__c")).as("__cl"))
    val exp = col("__rt").cast("double") * col("__ct").cast("double") /
      col("__t").cast("double")
    val term = (col("__n").cast("double") - exp) *
      (col("__n").cast("double") - exp) / exp
    val chi2 = round(sum(term), 6)
    // the FULL R×C grid, not just observed cells: a zero-observed cell
    // still contributes (0 − exp)²/exp — dropping it understates χ²
    // exactly when association is strongest (both marginals positive ⇒
    // exp > 0, so the term is always defined)
    rTot.crossJoin(broadcast(cTot))
      .join(cells, Seq("__r", "__c"), "left")
      .withColumn("__n", coalesce(col("__n"), lit(0L)))
      .crossJoin(broadcast(tot))
      .groupBy(col("__t"), col("__rl"), col("__cl"))
      .agg(chi2.as("chi2"))
      .select(col("__t").as("n"), col("__rl").as("r_levels"),
        col("__cl").as("c_levels"), col("chi2"),
        // a degenerate single-level dimension makes min(R−1, C−1) = 0;
        // V is undefined there, so emit NULL (the file's convention —
        // mutualInfo's nmi) instead of the
        // NaN/Infinity a raw division would produce
        when(least(col("__rl") - lit(1), col("__cl") - lit(1)) > 0,
          sqrt(col("chi2") / (col("__t") *
            least(col("__rl") - lit(1), col("__cl") - lit(1))).cast("double")))
          .as("cramers_v"))
  }

  /**
   * Mutual information between two categorical columns — the
   * information-theoretic member of the dependence toolkit next to
   * [[cramersV]] (χ²-normalized effect size) and the q193 entropy
   * profile (per-column dispersion):
   *
   *   MI = Σ_{x,y} p(x,y) · ln( p(x,y) / (p(x)·p(y)) )
   *
   * in nats, plus the normalized variant MI / min(H(X), H(Y)) ∈ [0,1]
   * (the "uncertainty-coefficient-style" scale that makes tables of
   * different cardinalities comparable). Only OBSERVED cells contribute
   * — a zero cell's term is 0 by the x·ln x → 0 limit, so unlike χ²
   * nothing is owed on the unobserved grid and the plan never widens
   * beyond observed cells.
   *
   * Counts are exact Longs; every p is counts/total on the cell frame;
   * MI and the entropies accumulate logs → round-6 lane, and the
   * normalization divides the ROUNDED values (the q179 discipline:
   * derived-from-rounded keeps one lane). Emits one row:
   * (n, x_levels, y_levels, mi, h_x, h_y, nmi — NULL if either margin
   * is constant).
   */
  def mutualInfo(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val cells = df.filter(xCol.isNotNull && yCol.isNotNull)
      .groupBy(xCol.as("__x"), yCol.as("__y"))
      .agg(count(lit(1)).as("__n"))
    val xTot = cells.groupBy(col("__x")).agg(sum(col("__n")).as("__xt"))
    val yTot = cells.groupBy(col("__y")).agg(sum(col("__n")).as("__yt"))
    val tot = cells.agg(sum(col("__n")).as("__t"),
      count_distinct(col("__x")).as("__xl"),
      count_distinct(col("__y")).as("__yl"))
    def h(cnt: Column, t: Column): Column = {
      val p = cnt.cast("double") / t.cast("double")
      -p * log(p)
    }
    val joined = cells
      .join(broadcast(xTot), Seq("__x"))
      .join(broadcast(yTot), Seq("__y"))
      .crossJoin(broadcast(tot))
    val pxy = col("__n").cast("double") / col("__t").cast("double")
    val miTerm = pxy * log(pxy * col("__t").cast("double") *
      col("__t").cast("double") /
      (col("__xt").cast("double") * col("__yt").cast("double")))
    val hx = broadcast(xTot.crossJoin(broadcast(tot))
      .agg(round(sum(h(col("__xt"), col("__t"))), 6).as("h_x")))
    val hy = broadcast(yTot.crossJoin(broadcast(tot))
      .agg(round(sum(h(col("__yt"), col("__t"))), 6).as("h_y")))
    joined.groupBy(col("__t"), col("__xl"), col("__yl"))
      .agg(round(sum(miTerm), 6).as("mi"))
      .crossJoin(hx).crossJoin(hy)
      .select(col("__t").as("n"), col("__xl").as("x_levels"),
        col("__yl").as("y_levels"), col("mi"), col("h_x"), col("h_y"),
        when(least(col("h_x"), col("h_y")) > 0.0,
          round(col("mi") / least(col("h_x"), col("h_y")), 6)).as("nmi"))
  }

  /**
   * Jensen–Shannon divergence between two cohorts' categorical
   * distributions — the BOUNDED, symmetric member of the drift toolkit
   * next to [[stability]]'s PSI (which blows up on bins one cohort
   * lacks) and χ² (which scales with n):
   *
   *   JSD = ½·KL(P‖M) + ½·KL(Q‖M),  M = (P+Q)/2
   *
   * in nats, with the [0,1] normalization JSD/ln 2 (JSD ≤ ln 2 always,
   * so the normalized score is corpus-size- and cardinality-free — the
   * "how different are these two corpus versions" dial). A category
   * absent from one cohort contributes its x·ln x → 0 limit from that
   * side only, so unlike PSI nothing is undefined on partial support.
   *
   * One grouped pass builds the 2×K table (cohort membership as
   * conditional sums inside the category shuffle), totals broadcast
   * back as a single row; the JSD sum accumulates logs → round-6 lane,
   * normalized FROM the rounded value (q179 discipline). A fully empty
   * input yields an EMPTY result (no categories → no cells → the
   * groupBy emits nothing); an input where only ONE cohort has rows
   * yields the single summary row with jsd/jsd_norm NULL (the
   * statistic is undefined against an empty distribution — the NULL-
   * not-NaN convention).
   *
   * Emits one row: (n_p, n_q, k_cats, jsd, jsd_norm).
   */
  def jensenShannon(df: DataFrame, inP: Column, cat: Column): DataFrame = {
    val cells = df.filter(cat.isNotNull)
      .groupBy(cat.cast("string").as("__c"))
      .agg(sum(when(inP, 1L).otherwise(0L)).as("__p"),
        sum(when(inP, 0L).otherwise(1L)).as("__q"))
    val tot = cells.agg(sum(col("__p")).as("n_p"), sum(col("__q")).as("n_q"),
      count(lit(1)).as("k_cats"))
    // guard the share divisions: with an EMPTY cohort the output is
    // NULL via the aggregate-level when below, but ANSI mode would
    // throw on the per-cell x/0 before that guard ever applies
    val p = when(col("n_p") > 0L,
      col("__p").cast("double") / col("n_p").cast("double")).otherwise(0.0)
    val q = when(col("n_q") > 0L,
      col("__q").cast("double") / col("n_q").cast("double")).otherwise(0.0)
    val m = (p + q) / lit(2.0)
    val term = when(col("__p") > 0L, p * log(p / m)).otherwise(lit(0.0)) +
      when(col("__q") > 0L, q * log(q / m)).otherwise(lit(0.0))
    cells.crossJoin(broadcast(tot))
      .groupBy(col("n_p"), col("n_q"), col("k_cats"))
      .agg(when(min(col("n_p")) > 0L && min(col("n_q")) > 0L,
        round(sum(term) / lit(2.0), 6)).as("jsd"))
      .select(col("n_p"), col("n_q"), col("k_cats"), col("jsd"),
        round(col("jsd") / lit(math.log(2.0)), 6).as("jsd_norm"))
  }

  /**
   * Two-sample Kolmogorov–Smirnov statistic over a NON-NEGATIVE integer
   * value (cents, micro-units — the q163/q185 integer-lane convention):
   * `D = max_v |F_A(v) − F_B(v)|`, the distribution-free "are these two
   * score/price/latency distributions the same" screen. The contract is
   * ENFORCED: NULL and negative values are filtered out before
   * bucketing (a signed measure must be shifted into non-negative units
   * at the call site) — the
   * training-eval companion to [[jensenShannon]] for CONTINUOUS values,
   * where binning choices would move a PSI but D is bin-free.
   *
   * The empirical-CDF prefix is the [[graft.operators.Tokenize]]
   * coverageCutoff two-phase distributed prefix applied to a value
   * order (the declared surface bans partition-less windows): values
   * bucket by `bit_length(v)` — monotone in v, so buckets hold
   * contiguous value ranges; per-bucket class totals (≤ 64 rows,
   * bounded driver metadata) fold into prefix offsets, broadcast back,
   * and each bucket's cumulative window ranks only its own rows.
   *
   * Exactness: D's argmax is decided in cross-multiplied Longs
   * (`|cum_a·n_b − cum_b·n_a|` — exact while n_a·n_b < 2^63, i.e. both
   * classes under ~3e9 rows; beyond that, pre-aggregate values into
   * micro-unit bins first) and the returned D is ONE exact-integer
   * division (raw, q163 discipline).
   *
   * Emits one row: (n_a, n_b, n_values, d_stat).
   */
  def ksStatistic(df: DataFrame, value: Column, inA: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the non-negative contract stated above is enforced LOUDLY but for
    // FREE (r13 review: the first cut paid a second full input scan for
    // a min-aggregate): negatives route to a sentinel bucket -1 inside
    // the one grouped pass (conv() is never evaluated for them — its
    // two's-complement string would break the monotone bucketing, the
    // original silent-wrongness bug), and the bounded per-bucket stats
    // collect below throws if the sentinel ever appears — a violating
    // caller gets an error naming the fix, never a plausible statistic.
    val g = df.filter(value.isNotNull)
      .select(value.cast("long").as("__v"), inA.as("__a"))
      .groupBy(col("__v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("__cb"))
      .withColumn("__bk", when(col("__v") < 0L, lit(-1))
        .otherwise(length(conv(col("__v") + lit(1L), 10, 2)).cast("int")))
      .localCheckpoint() // feeds the offset collect AND the window plan
    val stats = g.groupBy(col("__bk"))
      .agg(sum(col("__ca")).as("a"), sum(col("__cb")).as("b"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(stats.forall(_._1 >= 0),
      "ksStatistic: value column holds negatives; shift the signed " +
        "measure into non-negative units at the call site")
    val (na, nb) = (stats.map(_._2).sum, stats.map(_._3).sum)
    var (accA, accB) = (0L, 0L)
    val offsets = stats.map { case (bk, a, b) =>
      val row = (bk, accA, accB); accA += a; accB += b; row
    }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__bk", "__offa", "__offb")
    val w = Window.partitionBy(col("__bk")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.join(broadcast(offDf), Seq("__bk"))
      .select((col("__offa") + sum(col("__ca")).over(w)).as("__cuma"),
        (col("__offb") + sum(col("__cb")).over(w)).as("__cumb"))
      .agg(max(abs(col("__cuma") * lit(nb) - col("__cumb") * lit(na)))
        .as("__dnum"), count(lit(1)).as("n_values"))
      .select(lit(na).as("n_a"), lit(nb).as("n_b"), col("n_values"),
        when(lit(na) > 0L && lit(nb) > 0L,
          col("__dnum").cast("double") /
            (lit(na).cast("double") * lit(nb).cast("double"))).as("d_stat"))
  }
}
