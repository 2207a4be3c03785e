package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Bloom-filter membership pruning for exact-dedup admission — the
 * complement of [[Dedup.admitIncremental]]'s near-dup admission (reference
 * corpus-scale posture README.md:45-47; BASELINE.json's 100 TB dedup north
 * star): a NEW ingest batch is tested against the already-admitted corpus
 * WITHOUT joining the batch against corpus digests row-for-row.
 *
 * Mechanics: the corpus' xxhash64 text hashes are folded into one Bloom
 * filter with `DataFrame.stat.bloomFilter` (a distributed treeAggregate of
 * mergeable bit maps — each executor fills a local filter, merge is
 * bitwise OR, so the build is one corpus scan, no shuffle of values). The
 * serialized filter rides into the batch plan as a FOLDABLE binary
 * literal evaluated by Spark's own
 * `BloomFilterMightContain` predicate — the exact scan-side shape
 * `InjectRuntimeFilter` plans for runtime-pruned joins, but against a
 * filter that can be PERSISTED and reused across ingest batches.
 *
 * Exactness: a Bloom filter has no false negatives, so `might = false`
 * admits immediately; only the `might = true` sliver (true duplicates +
 * `fpp` of the novel rows) reaches the SHA-256 verify join. The output is
 * therefore EXACT — the filter only routes rows — which is what makes the
 * operator DuckDB-oracle-able despite the probabilistic core.
 *
 * Scale: filter size is O(expectedItems·ln(1/fpp)) bits, independent of
 * document payloads (2^16 items at 1% ≈ 77 KiB; size from a distinct
 * count estimate). Per batch row the fast path is
 * O(k) bit probes inside the scan; the corpus digest table is only
 * scanned, never shuffled wide, and the verify join input is the pruned
 * sliver, not the batch.
 */
object Bloom {

  /** Distributed mergeable build: one Bloom filter over `hashCol` (must
    * be a LongType hash, e.g. `xxhash64(text)`), serialized for reuse as
    * a foldable literal. NULL hash inputs are skipped (a NULL never
    * matches exact-equality dedup anyway). */
  def buildLong(df: DataFrame, hashCol: Column,
                expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    val bf = df.select(hashCol.as("h")).filter(col("h").isNotNull)
      .stat.bloomFilter("h", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Membership probe of a serialized filter against a LongType hash
    * column — codegen'd scan-side predicate, no false negatives. */
  def mightContain(filterBytes: Array[Byte], hash: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.expressions.GraftExpressions.register)
    call_function("graft_bloom_might_contain", lit(filterBytes), hash)
  }

  /**
   * Exact-dedup batch admission: one row per batch doc,
   * `(doc, admitted)` — admitted iff no corpus doc has byte-identical
   * text. Batch rows whose bloom probe misses are admitted scan-side
   * (never joined); only probe hits are verified against the corpus'
   * SHA-256 digests. NULL-text rows are always admitted (NULL equals
   * nothing under exact dedup), matching a `LEFT JOIN ... ON text =
   * text` oracle.
   */
  def admitExact(corpus: DataFrame, batch: DataFrame,
                 idCol: String, textCol: String,
                 expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    // xxhash64 of a NULL row yields the seed, not NULL — exclude NULL
    // texts BEFORE hashing or they'd insert the seed into the filter
    val filter = buildLong(corpus.filter(col(textCol).isNotNull),
      xxhash64(col(textCol)), expectedItems, fpp)
    val prep = batch.select(col(idCol).as("doc"), col(textCol).as("t"))
      .withColumn("might",
        col("t").isNotNull && mightContain(filter, xxhash64(col("t"))))
    val fastAdmit = prep.filter(!col("might"))
      .select(col("doc"), lit(true).as("admitted"))
    // Verify shape mirrors admitIncremental's contract: the corpus digest
    // scan is probed by the BROADCAST hit sliver (bounded by the batch,
    // further pruned by the bloom) — the corpus is scanned once and never
    // shuffled or distinct-aggregated, at any corpus size. The hit sliver
    // is evaluated twice (here and in the decision join); it is
    // batch-bounded by construction.
    val hits = prep.filter(col("might"))
      .select(col("doc"), sha2(col("t"), 256).as("digest"))
    val rejected = corpus.filter(col(textCol).isNotNull)
      .select(sha2(col(textCol), 256).as("digest"))
      .join(broadcast(hits), Seq("digest"))
      .select(col("doc")).distinct()
      .withColumn("dup", lit(1))
    val verified = hits.select(col("doc"))
      .join(broadcast(rejected), Seq("doc"), "left")
      .select(col("doc"), col("dup").isNull.as("admitted"))
    fastAdmit.unionByName(verified)
  }
}
