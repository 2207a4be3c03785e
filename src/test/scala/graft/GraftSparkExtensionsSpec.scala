package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.scalatest.funsuite.AnyFunSuite

class GraftSparkExtensionsSpec extends AnyFunSuite {

  test("extensions inject every native expression (one source of truth)") {
    // the extensions class must consume the SAME builder list the
    // imperative GraftExpressions.register path uses — a kernel added to
    // one but not the other would work in tests and vanish under
    // spark.sql.extensions deployment
    val ext = new SparkSessionExtensions
    (new GraftSparkExtensions)(ext) // must inject without throwing
    val names = graft.functions.expressions.GraftExpressions.all.map(_._1.funcName)
    assert(names.distinct.size === names.size, "duplicate function names")
    // the exact registry: adding or retiring a kernel updates this list
    assert(names.toSet === Set(
      "graft_cosine_sim", "graft_shingles", "graft_simhash64", "graft_minhash",
      "graft_lsh_sig", "graft_lsh_sig_sha", "graft_minhash_sha",
      "graft_simhash_sha", "graft_vector_sum", "graft_nearest_centroid",
      "graft_nearest_centroids", "graft_pq_encode", "graft_bloom_might_contain",
      "graft_nfc", "graft_jaro_winkler", "graft_ring_owner"))
  }
}
