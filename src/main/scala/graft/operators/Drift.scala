package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distribution-drift screen between two cohorts of one table: the
 * two-sample Kolmogorov–Smirnov statistic, the bin-free "are these two
 * distributions the same" check a pipeline runs between corpus
 * versions, ingest epochs or serving windows before trusting a refresh.
 * No catalog query calls it; its spec is its only caller.
 */
object Drift {

  /**
   * Two-sample Kolmogorov–Smirnov statistic over a NON-NEGATIVE integer
   * value (cents, micro-units — the q163 integer-lane convention):
   * `D = max_v |F_A(v) − F_B(v)|`, the distribution-free "are these two
   * score/price/latency distributions the same" screen. The contract is
   * ENFORCED: NULL and negative values are filtered out before
   * bucketing (a signed measure must be shifted into non-negative units
   * at the call site). Binning choices would move a PSI; D is bin-free.
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
    // the non-negative contract stated above is enforced LOUDLY but
    // without a second input scan for a min-aggregate: negatives route
    // to a sentinel bucket -1 inside the one grouped pass (conv() is
    // never evaluated for them — its two's-complement string would
    // break the monotone bucketing and silently drop them), and the
    // bounded per-bucket stats collect below throws if the sentinel
    // ever appears — a violating caller gets an error naming the fix,
    // never a plausible statistic.
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
