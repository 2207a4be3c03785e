package graft

import org.apache.spark.sql.SparkSessionExtensions

/**
 * Standard Catalyst extensions entry point: start any session with
 *
 * {{{
 *   spark-submit --conf spark.sql.extensions=graft.GraftSparkExtensions ...
 *   // or
 *   SparkSession.builder().withExtensions(new GraftSparkExtensions) ...
 * }}}
 *
 * and every graft native expression (`graft_cosine_sim`,
 * `graft_minhash`, `graft_simhash64`, the SHA oracle-parity kernels, the
 * vector-sum aggregate, `graft_bloom_might_contain`, …) is
 * registered at session build, SQL-visible, and available on every
 * executor without the imperative
 * [[graft.functions.expressions.GraftExpressions.register]] call the
 * operator entry points also perform defensively. Same builder list as
 * that imperative path — one source of truth. Functions only: the
 * optimizer stays stock Catalyst.
 */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.expressions.GraftExpressions.all.foreach(ext.injectFunction)
  }
}
