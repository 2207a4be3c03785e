package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/**
 * Loaders for the driver-generated benchmark tables
 * (`/root/testdata/sf*` — see TESTDATA.md). One parquet file per table.
 *
 * The driver has shipped `events.parquet` with two physical encodings of the
 * `ts` column across rounds: INT64 TIMESTAMP(NANOS) (which Spark's parquet
 * reader rejects by default — [PARQUET_TYPE_ILLEGAL] — and we read via
 * `spark.sql.legacy.parquet.nanosAsLong` + truncate to micros) and plain
 * TIMESTAMP(MICROS) without timezone (which Spark reads as TIMESTAMP_NTZ).
 * `events()` normalizes both to the same session-TZ TimestampType column:
 * every session in this repo pins `spark.sql.session.timeZone=UTC`, so the
 * NTZ→LTZ cast is micros-bit-identical to what DuckDB (the correctness
 * oracle) sees reading the same file into its native TIMESTAMP.
 */
object Tables {

  /** Per-path parquet SCHEMA memo (r17, guide §1.2 — don't compute things
    * you throw away): `spark.read.parquet(path)` re-infers the schema on
    * EVERY call — a footer read + resolve measured at ~71 ms per relation
    * on this host (OPTIMIZATION_r17.md, "The per-query floor": 355.6 ms
    * inferred vs 26.8 ms explicit-schema across the 5 hottest tables) —
    * and the bench constructs ~850 relations per full run (219 queries
    * × 3 repeats).
    * A catalog table pays this once at definition time; these loaders are
    * the repo's catalog, so they do the same: infer once per (immutable)
    * path, then pass the schema explicitly. This memoizes METADATA only —
    * every query still scans the parquet inputs in full; the memo is
    * per-JVM and only ever applied to the driver-generated base tables,
    * which are immutable for the life of a run (replay/state dirs, which
    * are rewritten per invocation and can evolve schema — q219 — never go
    * through this loader). */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaMemo.computeIfAbsent(path,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Attach one embedding per document by CYCLING the embedding table:
    * doc `i` gets the `(i mod nEmb)`-th vector in `vec_id` order — the
    * fixture convention q128 and the bench SLO corpus use to give every
    * document a vector leg. The mapping goes through a DENSE index of
    * the vector table, never its raw id: vec ids are contiguous on the
    * driver testdata but HOLED on tiled scale-up corpora (a tiling
    * that offsets each tile by a power of 10), and the
    * previous `pmod(doc_id, nEmb) === vec_id` equi-join silently
    * dropped every document whose residue fell in a hole — found as a
    * 19,270-vs-48,170-row q128 mismatch in the first sf1 correctness
    * gate (CORRECTNESS_sf1, round 14); the driver-sf hashes are
    * unchanged because there `__vidx == vec_id`. The single-partition
    * index pass is sound because the embedding table is this join's
    * BROADCAST side by construction (serving-cache-sized); the ids are
    * contiguous 0..n-1 because `monotonically_increasing_id` numbers
    * rows consecutively within one partition. */
  def cycleEmbeddings(docs: DataFrame, emb: DataFrame, nEmb: Long): DataFrame = {
    val embIdx = emb.select(col("vec_id"), col("embedding"))
      .coalesce(1).sortWithinPartitions(col("vec_id"))
      .select(col("embedding"), monotonically_increasing_id().as("__vidx"))
    docs.join(broadcast(embIdx),
        pmod(col("doc_id"), lit(nEmb)) === col("__vidx"))
      .drop("__vidx")
  }

  /** `events` with `ts` as a microsecond TimestampType column (see scaladoc). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }
}
