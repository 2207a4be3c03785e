package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Incremental aggregate maintenance — the dbt-incremental-model tier for
 * aggregate marts (reference `dbt_project.yml` materializes its counts
 * mart as a table rebuilt per run; at 100 TB the rebuild is the cost and
 * this is the replacement): keep the mart as per-key PARTIAL aggregates
 * of decomposable measures (sum / count / min / max — each merges by
 * re-applying itself), and fold each new delta batch in by
 * re-aggregating `mart ∪ agg(delta)`. The facts behind the mart are
 * never rescanned: a nightly refresh shuffles the delta plus the
 * mart's own key rows, not the history.
 *
 * Algebra (IncrementalSpec pins both, and q106's oracle re-derives the
 * merged mart from the raw facts in DuckDB):
 *  - associativity: `merge(agg(A), agg(B)) == agg(A ∪ B)` for any split,
 *  - idempotent re-entry: the merged output has the same schema as its
 *    inputs, so tonight's mart is tomorrow's base.
 *
 * Non-decomposable measures don't belong here: AVG is derivable
 * (sum/count) at read; COUNT DISTINCT needs a mergeable state (a
 * distinct-count sketch), which this operator does not keep.
 */
object Incremental {

  /**
   * Per-key partial aggregates of `facts`: `sums`/`counts` become
   * `sum_<c>` / `n` (row count), `mins`/`maxs` become `min_<c>` /
   * `max_<c>`. The output is a valid [[mergeAggregates]] input AND
   * output — `aggregate` then repeated `mergeAggregates` is the
   * incremental lifecycle.
   */
  def aggregate(facts: DataFrame, keys: Seq[String], sums: Seq[String],
                mins: Seq[String] = Nil, maxs: Seq[String] = Nil): DataFrame = {
    val aggs = sums.map(c => sum(col(c)).as(s"sum_$c")) ++
      mins.map(c => min(col(c)).as(s"min_$c")) ++
      maxs.map(c => max(col(c)).as(s"max_$c")) :+
      count(lit(1)).as("n")
    facts.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Fold partial-aggregate frames (the current mart and one or more
   * delta aggregates, all in [[aggregate]]'s schema) into one: sums and
   * counts re-sum, mins/maxs re-min/max. One aggregate shuffle over the
   * UNION of the partials — each leg aggregates map-side first, so the
   * exchange carries at most one row per key per input partition.
   */
  def mergeAggregates(parts: Seq[DataFrame], keys: Seq[String],
                      sums: Seq[String], mins: Seq[String] = Nil,
                      maxs: Seq[String] = Nil): DataFrame = {
    require(parts.nonEmpty, "mergeAggregates needs at least one input")
    val unioned = parts.reduce(_.unionByName(_))
    val aggs = sums.map(c => sum(col(s"sum_$c")).as(s"sum_$c")) ++
      mins.map(c => min(col(s"min_$c")).as(s"min_$c")) ++
      maxs.map(c => max(col(s"max_$c")).as(s"max_$c")) :+
      sum(col("n")).as("n")
    unioned.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * UPSERT-aware incremental count maintenance — [[aggregate]]/
   * [[mergeAggregates]] handle append-only deltas; this handles the
   * grouped-count mart over a keyed UPSERTING base (an SCD-1 state,
   * where a new version of a key can MOVE its row between groups): fold
   * the touched keys' pre-images (`removed`) and post-images (`added`)
   * into the mart as signed ±1 rows and re-sum. A key whose new image
   * lands in the same group contributes +1 and −1 to it — a no-op by
   * arithmetic, no special-casing — and a group whose count reaches
   * zero leaves the mart (a mart row "n_events = 0" and "absent" must
   * mean the same thing for the maintained mart to equal the
   * recomputed one).
   *
   * ONE aggregate shuffle over `mart ∪ ±images` — O(mart keys + touched
   * rows), the facts behind the mart are never rescanned. The caller
   * supplies images at the mart's ROW grain (one per affected base row,
   * already restricted to the touched keys and filtered the way the
   * mart's own derivation filters).
   */
  def maintainCounts(mart: DataFrame, removed: DataFrame, added: DataFrame,
                     keys: Seq[String], countCol: String = "n_events"): DataFrame = {
    val sel = keys.map(col)
    val deltas = added.select(sel: _*).withColumn(countCol, lit(1L))
      .unionByName(removed.select(sel: _*).withColumn(countCol, lit(-1L)))
    mart.select((sel :+ col(countCol)): _*).unionByName(deltas)
      .groupBy(sel: _*).agg(sum(col(countCol)).as(countCol))
      .filter(col(countCol) =!= 0L)
  }

  /**
   * Partition-local view maintenance — the window-tier analog of
   * [[maintainCounts]]: a view whose every output row depends only on
   * its own key partition (any `Window.partitionBy(keys)` computation,
   * e.g. the rolling z-score tier over a counts mart) is maintained by
   * recomputing ONLY the partitions a delta touched and carrying every
   * other partition forward untouched:
   *
   *   view' = view ⟍ touched  ∪  recompute(base' ⋉ touched)
   *
   * `fresh` is the recomputation already restricted to the touched
   * partitions (the caller semi-joins the maintained base to `touched`
   * and reapplies the view's own derivation — correct BECAUSE the view
   * is partition-local: rows of untouched partitions cannot change).
   * Cost is O(view + touched partitions' base rows) with no wide stage:
   * the anti-join is key-partitioned, and at 100 TB the carried-forward
   * leg is a file copy the writer can even skip by partition-aligned
   * storage.
   */
  def patchPartitions(view: DataFrame, fresh: DataFrame, touched: DataFrame,
                      keys: Seq[String]): DataFrame =
    view.join(touched.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(fresh)

  /**
   * Incremental equi-JOIN maintenance — the delta-join identity for join
   * materialized views, the join sibling of [[aggregate]]/
   * [[mergeAggregates]]'s aggregate IVM: for a view V = A ⋈ B and
   * append-only deltas,
   *
   *   ΔV = (ΔA ⋈ B_old) ∪ (A_old ⋈ ΔB) ∪ (ΔA ⋈ ΔB)
   *   V_new = V_old ∪ ΔV
   *
   * — exact by distributivity of ⋈ over ∪ (the three legs partition the
   * new pairs by which side contributed the new row; the ΔA ⋈ ΔB leg is
   * the one naive formulations forget, and the spec's random-split
   * property would catch its absence). Deletes/updates are upstream
   * concerns: fold the changelog with [[Cdc.merge]] first, then treat the
   * fold's row images as deltas.
   *
   * At 100 TB this is the reason join views are maintained rather than
   * rebuilt: each leg's shuffle is O(delta + matched base rows) — with
   * the base sides published bucketed on the join keys (Spark's
   * `bucketBy` tables) the base never reshuffles,
   * and a nightly refresh moves the day's delta, not the history. The
   * delta legs broadcast when small; nothing in the identity requires a
   * full A ⋈ B recompute ever again.
   */
  def joinDelta(baseA: DataFrame, deltaA: DataFrame,
                baseB: DataFrame, deltaB: DataFrame,
                keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "joinDelta needs at least one equi-join key")
    deltaA.join(baseB, keys)
      .unionByName(baseA.join(deltaB, keys))
      .unionByName(deltaA.join(deltaB, keys))
  }
}
