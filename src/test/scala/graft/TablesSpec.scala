package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins [[Tables.cycleEmbeddings]]' load-bearing invariant: the dense
  * index `__vidx` it builds equals the RANK of `vec_id` — i.e. doc `i`
  * attaches to the (i mod n)-th vector in vec_id order — even when the
  * embedding frame arrives shuffled across multiple partitions and its
  * id space is HOLED (the tiled scale-up shape that broke the raw-id pmod
  * join at sf1, CORRECTNESS_sf1 round 14). The helper relies on
  * `monotonically_increasing_id` being evaluated ABOVE the
  * coalesce(1)+sortWithinPartitions in plan order; that is an
  * optimizer-sensitive placement of a nondeterministic expression, so
  * this spec is the tripwire if a future Spark version ever reorders it
  * (ADVICE r14). */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("cycleEmbeddings dense index == rank of vec_id on shuffled, holed, multi-partition input") {
    // holed id space: 3 tiles of 4 ids each, stride 10 (tiled scale-up shape)
    val vecIds = Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 13L, 20L, 21L, 22L, 23L)
    val emb = vecIds.map(i => (i, Array.tabulate(4)(d => (i * 100 + d).toFloat)))
      .toDF("vec_id", "embedding")
      .repartition(4, col("vec_id") * 7 % 5) // shuffled, multi-partition
    val nEmb = vecIds.length.toLong
    val docs = spark.range(0, 40).select(col("id").as("doc_id"))

    val got = Tables.cycleEmbeddings(docs, emb, nEmb)
      .select(col("doc_id"), col("embedding"))

    // oracle: explicit row_number over vec_id order — the definitional
    // dense index, paid as a window here because it's a 12-row fixture
    val ranked = emb.withColumn("__rn",
      row_number().over(Window.orderBy(col("vec_id"))) - 1)
    val want = docs.join(ranked, pmod(col("doc_id"), lit(nEmb)) === col("__rn"))
      .select(col("doc_id"), col("embedding"))

    def canon(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Float]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val g = canon(got)
    assert(g.size === 40, "every document must attach exactly one vector")
    assert(g === canon(want))
    // spot-pin the mod cycle itself: doc 0 and doc 12 share vector rank 0
    assert(g(0L) === g(12L) && g(0L).head === 0f)
    // doc 4 → rank 4 → vec_id 10 (the first id after the hole)
    assert(g(4L).head === 1000f)
  }
}
