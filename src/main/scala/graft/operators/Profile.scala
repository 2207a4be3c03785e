package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * One-pass column profiling — the ANALYZE TABLE / data-quality tier
 * (reference README.md:57 "testami i kontraktami" generalized: the
 * contract checks in [[graft.checks.Checks]] assert specific rules; the
 * profiler measures the table so rules can be chosen). For every
 * requested column in ONE aggregate pass over ONE scan: row count, null
 * count, distinct count, and min/max rendered as strings (computed on
 * the native type FIRST — lexicographic min/max of stringified numbers
 * would be wrong — then cast for a uniform schema).
 *
 * Plan shape: a single global aggregate (map-side partials) producing one
 * wide row, exploded driver-light into one row per column (the explode
 * input is exactly 1 row). [[profile]] counts distincts exactly — Spark
 * plans the multi-column distinct via its Expand rewrite, which
 * multiplies scanned rows by the number of distinct-counted columns:
 * fine at mart scale, and the DuckDB-oracle-able form. [[profileApprox]]
 * is the 100 TB path: HLL partials (`approx_count_distinct`), no Expand,
 * fixed-size aggregation state per column regardless of cardinality.
 */
object Profile {

  private def profiled(df: DataFrame, cols: Seq[String],
                       nd: String => Column): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"$c#nn"),
      nd(c).as(s"$c#nd"),
      min(col(c)).cast("string").as(s"$c#min"),
      max(col(c)).cast("string").as(s"$c#max"))) :+ count(lit(1)).as("#n")
    val row = df.agg(aggs.head, aggs.tail: _*)
    val entries = array(cols.map(c => struct(
      lit(c).as("col_name"),
      col("`#n`").as("n"),
      (col("`#n`") - col(s"`$c#nn`")).as("n_null"),
      col(s"`$c#nd`").as("n_distinct"),
      col(s"`$c#min`").as("min_v"),
      col(s"`$c#max`").as("max_v"))): _*)
    row.select(explode(entries).as("p")).select("p.*")
  }

  /** Exact distinct counts (multi-distinct Expand plan — the oracle-able
    * form; q120). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    profiled(df, cols, c => countDistinct(col(c)))

  /** HLL distinct counts (no Expand, O(1) state per column — the scale
    * path; cross-checked against [[profile]] in ProfileSpec). */
  def profileApprox(df: DataFrame, cols: Seq[String],
                    rsd: Double = 0.05): DataFrame =
    profiled(df, cols, c => approx_count_distinct(col(c), rsd))

  /**
   * Equi-width histogram of an integral column — the distribution half
   * of profiling: `buckets` equal-width bins over the observed
   * [min, max], each reporting its count and its own min/max (so a
   * reader can see intra-bin skew). Bin assignment is
   * INTEGER arithmetic — `(v - min) * buckets DIV (max - min + 1)` — so
   * any engine reproduces the exact same binning; a floating-point
   * `floor` would disagree at bin boundaries. Empty bins are absent (a
   * histogram of a 100 TB column must not materialize 0-rows for holes).
   *
   * Plan: one tiny bounds aggregate broadcast back, then ONE grouped
   * aggregate over the scan — rows shuffle once, as (bucket, partials).
   * NULLs are excluded (they carry no position on the value axis;
   * [[profile]] counts them).
   */
  def histogram(df: DataFrame, value: Column, buckets: Int = 20): DataFrame = {
    require(buckets >= 1 && buckets <= 100000, "buckets in [1, 100000]")
    val v = df.select(value.cast("long").as("v")).filter(col("v").isNotNull)
    val bounds = v.agg(min(col("v")).as("v_min"), max(col("v")).as("v_max"))
    v.crossJoin(broadcast(bounds))
      // DIV, not `/`: Spark's Column `/` is double division; DIV keeps
      // the binning integer-exact (ANSI fails the product on overflow)
      .withColumn("bucket",
        expr(s"(v - v_min) * $buckets DIV (v_max - v_min + 1)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("v")).as("lo"), max(col("v")).as("hi"))
  }

  /**
   * Exact WEIGHTED median (lower) per group: the smallest value whose
   * cumulative weight reaches half the group's total — "the quantity at
   * which half the money sits", the mass-weighted sibling of
   * row-weighted quantiles. The decision is pure integer arithmetic
   * (`2·cum ≥ total` crossing with `2·(cum − w) < total`), so any
   * engine lands on the identical row with no float anywhere.
   *
   * Plan: one (group, value)-grouped weight sum (the only fact-sized
   * shuffle — ties collapse BEFORE the window), then a cumulative
   * window over the DISTINCT-value curve (bounded-domain class) and a
   * crossing-row filter. Weights must be non-negative integers (cents,
   * counts); NULL-weight rows carry no mass and are dropped.
   *
   * Emits (keys…, median, w_at, cum_w, total_w) — one row per group.
   */
  def weightedMedian(df: DataFrame, keys: Seq[String], value: Column,
                     weight: Column): DataFrame = {
    val g = df.filter(weight.isNotNull && value.isNotNull)
      .groupBy(keys.map(col) :+ value.as("__v"): _*)
      .agg(sum(weight.cast("long")).as("__w"))
    import org.apache.spark.sql.expressions.Window
    val cumW = Window.partitionBy(keys.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.partitionBy(keys.map(col): _*)
    g.withColumn("cum_w", sum(col("__w")).over(cumW))
      .withColumn("total_w", sum(col("__w")).over(allW))
      .filter(lit(2) * col("cum_w") >= col("total_w") &&
        lit(2) * (col("cum_w") - col("__w")) < col("total_w"))
      .select(keys.map(col) :+ col("__v").as("median") :+
        col("__w").as("w_at") :+ col("cum_w") :+ col("total_w"): _*)
  }

  /**
   * Concentration profile per group: the Gini coefficient and the
   * Herfindahl–Hirschman index over member masses — the "is this
   * source/supplier/shard dominating" audit a curation pipeline runs on
   * its mixture ([[graft.operators.Curate.mixByTokenBudget]] decides
   * the mixture; this measures how concentrated it came out).
   *
   *   Gini = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n   (xᵢ ascending, i = 1…n)
   *   HHI  = Σᵢ (xᵢ / Σx)²
   *
   * Masses are exact integers (cents, tokens): `Σ i·x` and `n·Σx` stay
   * Long-exact, so the Gini is two correctly-rounded divisions and a
   * subtraction on identical operands — hash-raw deterministic (the
   * q163 discipline). The HHI sums SQUARED doubles — accumulation-order
   * territory — and is rounded 6dp like every such aggregate. (At
   * populations where `Σ i·x` would overflow 2^63, lift the two sums to
   * DECIMAL(38,0); the gate's scales stay far below.)
   *
   * Plan: one (group, member) mass aggregate, one group-keyed
   * rank window over the member curve, one grouped reduction. Emits
   * (keys…, n_members, total_mass, gini, hhi).
   */
  def concentration(df: DataFrame, keys: Seq[String], memberCol: Column,
                    mass: Column): DataFrame = {
    val g = df.groupBy(keys.map(col) :+ memberCol.as("__m"): _*)
      .agg(sum(mass.cast("long")).as("__x"))
    import org.apache.spark.sql.expressions.Window
    val rank = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__x").asc, col("__m").asc)
    val ranked = g.withColumn("__i", row_number().over(rank).cast("long"))
    val agg = ranked.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n_members"),
      sum(col("__x")).as("total_mass"),
      sum(col("__i") * col("__x")).as("__s"),
      sum(col("__x").cast("double") * col("__x").cast("double")).as("__sq"))
    agg.select(keys.map(col) :+ col("n_members") :+ col("total_mass") :+
      ((lit(2.0) * col("__s").cast("double")) /
        (col("n_members") * col("total_mass")).cast("double") -
        (col("n_members") + lit(1)).cast("double") /
          col("n_members").cast("double")).as("gini") :+
      round(col("__sq") / (col("total_mass").cast("double") *
        col("total_mass").cast("double")), 6).as("hhi"): _*)
  }

  /**
   * Equi-DEPTH histogram — the optimizer-statistics sibling of
   * [[histogram]]'s equi-width buckets: boundaries are the value's own
   * quantiles, so every bucket holds ~n/B rows regardless of skew (the
   * form planners keep, because selectivity per bucket is constant by
   * construction; an equi-width histogram wastes its resolution on
   * empty ranges under skew).
   *
   * Shape is the q176 bounds idiom: ONE exact-percentile aggregate
   * (B−1 interpolated boundaries) broadcast back, bucket assignment as
   * scan-side boundary comparisons on identical doubles, one grouped
   * pass for the per-bucket stats — no global ranking window anywhere
   * (the NTILE formulation is a single-partition sort at scale; this
   * is two aggregates). Exact Long min/max/count per bucket.
   *
   * EXACT `percentile` buffers every value in one aggregation buffer —
   * a single-task-merge ceiling, and a deliberate choice here: it is
   * the oracle-matchable form (DuckDB's `quantile_cont`
   * interpolates identically on the dyadic fractions). At 100 TB use
   * [[equiDepthHistogramApprox]] — same plan, mergeable bounded
   * summary for the boundary aggregate.
   *
   * Emits one row per non-empty bucket: (bucket, n, v_min, v_max).
   */
  def equiDepthHistogram(df: DataFrame, value: Column,
                         buckets: Int): DataFrame =
    equiDepthFrom(df, value, buckets, exact = true, accuracy = 0)

  /** The scale twin of [[equiDepthHistogram]]: boundaries from
    * `percentile_approx` (Greenwald–Khanna style mergeable summary,
    * rank error ≤ n/accuracy per boundary — at the default 10000 each
    * bucket's population is n/B ± n/10000, i.e. ±1% of the bucket at
    * B = 100), so map-side partial aggregation ships O(accuracy) state
    * regardless of row count. Not oracled directly
    * (approximate summaries are not bit-stable across engines);
    * PropertySpec asserts the per-bucket depth bound against the exact
    * twin. */
  def equiDepthHistogramApprox(df: DataFrame, value: Column, buckets: Int,
                               accuracy: Int = 10000): DataFrame =
    equiDepthFrom(df, value, buckets, exact = false, accuracy = accuracy)

  private def equiDepthFrom(df: DataFrame, value: Column, buckets: Int,
                            exact: Boolean, accuracy: Int): DataFrame = {
    require(buckets >= 2 && buckets <= 1024, "buckets in [2, 1024]")
    val base = df.select(value.cast("long").as("__v"))
    val qs = array((1 until buckets).map(i =>
      lit(i.toDouble / buckets)): _*)
    val bAgg =
      if (exact) percentile(col("__v"), qs)
      else percentile_approx(col("__v"), qs, lit(accuracy)).cast("array<double>")
    val bounds = base.agg(bAgg.as("__b"))
    val bucket = (1 until buckets).map(i =>
      (col("__v").cast("double") > element_at(col("__b"), i)).cast("long"))
      .foldLeft(lit(0L))(_ + _)
    base.crossJoin(broadcast(bounds))
      .select(bucket.as("bucket"), col("__v"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("__v")).as("v_min"),
        max(col("__v")).as("v_max"))
  }

  /**
   * Categorical distribution profile per dimension — the qualitative
   * companion to [[profile]]'s min/max/null counts: MODE (most frequent
   * value, ties broken to the LEXICALLY SMALLEST — ties are real in
   * production data and an unpinned mode is a flaky gate) and Shannon
   * entropy with its [0,1] normalization (entropy / ln(k): 0 = constant
   * column, 1 = uniform — the screen for "is this column informative or
   * degenerate").
   *
   * Shape: one grouped pass to the (dim, value) cells, then everything
   * else happens on that vocabulary-sized frame — a deterministic rank
   * window picks the mode, cell-level `−p·ln p` terms sum per dim.
   * Counts exact Longs; entropy accumulates logs → round-6 lane.
   *
   * Emits one row per dim: (dim, n, n_distinct, mode_value, mode_n,
   * entropy, norm_entropy — NULL for a single-valued dim).
   */
  def categoricalProfile(cells: DataFrame, dim: Column,
                         value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = cells.select(dim.as("dim"), value.cast("string").as("__v"))
      .groupBy(col("dim"), col("__v")).agg(count(lit(1)).as("__c"))
    val byFreq = Window.partitionBy(col("dim"))
      .orderBy(col("__c").desc, col("__v").asc)
    val wDim = Window.partitionBy(col("dim"))
    val withN = g
      .withColumn("__rk", row_number().over(byFreq))
      .withColumn("__n", sum(col("__c")).over(wDim))
    val p = col("__c").cast("double") / col("__n").cast("double")
    withN
      .withColumn("__h", -p * log(p))
      .groupBy(col("dim"))
      .agg(max(col("__n")).as("n"),
        count(lit(1)).as("n_distinct"),
        max(when(col("__rk") === 1, col("__v"))).as("mode_value"),
        max(when(col("__rk") === 1, col("__c"))).as("mode_n"),
        round(sum(col("__h")), 6).as("entropy"))
      .withColumn("norm_entropy",
        when(col("n_distinct") > 1L,
          round(col("entropy") / log(col("n_distinct").cast("double")), 6)))
  }
}
