package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic sf0.1 → sf1 scale-up (the data behind `BENCH_sf1.json`,
 * measured by the retired `graft.Bench` harness, and the sf1 correctness
 * run `CORRECTNESS_sf1.json`, through [[Verify]]): derives a 10× corpus
 * from the driver's sf0.1 tables by TILE replication — replica `r`
 * offsets every entity key by `r × stride(entity)` with one shared
 * stride per entity id space (custkey, suppkey, partkey, orderkey, doc,
 * vec, event, user), so referential integrity, per-key fan-in, degree
 * distributions and group cardinalities all scale exactly 10× while
 * region/nation (genuinely fixed dimensions) stay fixed. It exists to check that the heavy plans'
 * results and shuffle / state behavior survive a decade of growth
 * (VERDICT r10 item 1).
 *
 * Design notes, in decreasing order of subtlety:
 *  - **Tiles are key-disjoint**: the sf1 key space (and so every
 *    join graph over it) is 10 disjoint copies of the sf0.1 one. That
 *    is the honest shape for a scale bench — iterative operators carry
 *    10× state per round at the same diameter — and avoids fabricating
 *    topology the generator would have to invent. Queries whose inputs
 *    are capped by literal key filters (q93 `doc_id < 1000`, q96
 *    `doc_id < 1500`) keep a constant probe side over a 10× corpus — the
 *    fixed-query/growing-data posture; their ratios read ~1 by design.
 *  - **Document text is salted per tile** (a `tNN` token inserted every
 *    5 words, tile 0 left verbatim): verbatim clones would make every
 *    cross-tile pair an artificial near-duplicate, and q20's LSH pair
 *    OUTPUT would grow ~100× for 10× input — a data-construction
 *    blowup, not a plan property. The salt keeps within-tile similarity
 *    structure (both members of a near-dup pair get the same insertion
 *    cadence) while pushing cross-tile shingle Jaccard far below
 *    banding thresholds.
 *  - Strides are the next power of 10 above the max key, so a scaled id
 *    is readable as (tile, original id) by eye.
 *  - `embeddings` replicates with offset ids only (vectors verbatim) —
 *    no heavy-tier query ranks across tiles by cosine, and perturbing
 *    float vectors deterministically would change what the operator
 *    computes, not how it scales.
 *
 * Usage: `runMain graft.ScaleUp <srcDir> <dstDir> [factor=10]`.
 */
object ScaleUp {

  private def nextPow10(x: Long): Long = {
    var p = 1L
    while (p <= x) p *= 10
    p
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor >= 1 && factor <= 1000, "factor in [1, 1000]")
    val spark = Graft.session(appName = "scaleup")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(dst).mkdirs()

    def read(name: String): DataFrame = Tables.table(spark, src, name)
    def stride(df: DataFrame, key: String): Long =
      nextPow10(df.agg(max(col(key).cast("long"))).head().getLong(0))

    // one stride per entity ID SPACE, shared by every table that
    // references it — this is what keeps the tiles referentially closed
    val sCust = stride(read("customer"), "c_custkey")
    val sSupp = stride(read("supplier"), "s_suppkey")
    val sPart = stride(read("part"), "p_partkey")
    val sOrd = stride(read("orders"), "o_orderkey")
    val sDoc = stride(read("documents"), "doc_id")
    val sVec = stride(read("embeddings"), "vec_id")
    val sEvt = stride(read("events"), "event_id")
    val sUser = stride(read("events"), "user_id")

    // replicate: crossJoin a factor-sized range (broadcast by Catalyst —
    // one scan of the source, factor output rows per input row, fully
    // parallel; never a driver-side loop of unions)
    def tiled(df: DataFrame)(remap: (Column, DataFrame) => DataFrame): DataFrame = {
      val r = col("__tile")
      remap(r, df.crossJoin(
        broadcast(spark.range(factor).toDF("__tile")))).drop("__tile")
    }
    def off(c: String, s: Long, r: Column): Column =
      (col(c).cast("long") + r * lit(s)).as(c)

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")

    // fixed dimensions: verbatim copy (a real deployment's region/nation
    // tables do not grow with the fact volume)
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    write(tiled(read("customer")) { (r, d) =>
      d.select(off("c_custkey", sCust, r), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    }, "customer", 4)

    write(tiled(read("supplier")) { (r, d) =>
      d.select(off("s_suppkey", sSupp, r), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
    }, "supplier", 1)

    write(tiled(read("part")) { (r, d) =>
      d.select(off("p_partkey", sPart, r), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"))
    }, "part", 4)

    write(tiled(read("orders")) { (r, d) =>
      d.select(off("o_orderkey", sOrd, r), off("o_custkey", sCust, r),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }, "orders", 8)

    write(tiled(read("lineitem")) { (r, d) =>
      d.select(off("l_orderkey", sOrd, r), off("l_partkey", sPart, r),
        off("l_suppkey", sSupp, r), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    }, "lineitem", 16)

    write(tiled(read("events")) { (r, d) =>
      d.select(off("event_id", sEvt, r), col("ts"), off("user_id", sUser, r),
        col("event_type"), col("value"), col("props"))
    }, "events", 8)

    // tile salt (see scaladoc): tile 0 verbatim; tile r>0 inserts a
    // per-tile token every 5 words, breaking cross-tile shingle overlap
    // without disturbing within-tile near-dup structure
    write(tiled(read("documents")) { (r, d) =>
      val salted = when(r === 0, col("text")).otherwise(
        array_join(flatten(transform(
          // chunk words into groups of 5, append the tile token to each
          expr("transform(sequence(0, " +
            "cast(floor((size(split(text, ' ')) - 1) / 5) as int)), " +
            "i -> slice(split(text, ' '), i * 5 + 1, 5))"),
          chunk => concat(chunk, array(concat(lit("t"), col("__tile")))))),
          " "))
      d.select(off("doc_id", sDoc, r), salted.as("text"), col("lang"),
        col("source"), (length(salted)).cast("long").as("n_chars"))
    }, "documents", 8)

    write(tiled(read("embeddings")) { (r, d) =>
      d.select(off("vec_id", sVec, r), col("embedding"), col("label"))
    }, "embeddings", 4)

    val counts = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .map(t => t -> spark.read.parquet(s"$dst/$t.parquet").count())
    counts.foreach { case (t, n) => println(s"[scaleup] $t: $n rows") }
    spark.stop()
  }
}
