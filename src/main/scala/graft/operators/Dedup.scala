package graft.operators

import graft.functions.{ShaLanes, Text, Vec}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus deduplication operators for training-data pipelines (beyond
 * the reference surface — the BASELINE.json 100 TB north-star extension;
 * corpus scale posture per reference README.md:45-47), in increasing
 * order of fuzziness:
 *
 *  - [[exact]]            — hash-groupBy exact dedup (one shuffle on text hash)
 *  - [[ngramJaccardPairs]] — exact n-gram Jaccard over an inverted shingle
 *                            index (self-join on shingle, never a cross join)
 *  - [[minhashSignatures]] / [[minhashLshPairs]] — MinHash + banded LSH: the
 *                            100 TB-scale near-dup path; candidate pairs only
 *                            form inside identical (band, bandHash) buckets
 *  - [[simhash]] / [[simhashPairs]] — 64-bit SimHash fingerprints; near-dups
 *                            bucket by fingerprint prefix and verify Hamming
 *  - [[embeddingNearDups]] — cosine near-dup over an embedding column
 *
 * Everything is pure DataFrame/Column code: hashes are `xxhash64` (seeded by
 * prepending a literal, avoiding ANSI-overflow-prone affine permutations),
 * and the per-bit SimHash sums are 64 parallel aggregate expressions rather
 * than a 64× row explosion.
 */
object Dedup {

  /** Exact dedup: one representative (min id) per identical text, with the
    * duplicate count. Groups by the SHA-256 of the text, not the text —
    * the shuffle moves 64-byte digests instead of document payloads, which
    * at corpus scale is the difference between shuffling hashes and
    * shuffling the entire corpus. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), sha2(col(textCol), 256).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"), col("text_hash"))

  /** doc → exploded distinct word-n-gram shingles (the inverted index). */
  private def shingleIndex(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(
        col(idCol).as("doc"),
        explode(Text.shingles(Text.tokens(col(textCol)), n)).as("sh"))

  /**
   * Exact Jaccard similarity over distinct word n-gram shingles for every
   * pair of documents sharing ≥1 shingle, filtered to `>= threshold`.
   *
   * Plan shape: explode → self-equi-join on shingle → count per pair →
   * join per-doc shingle counts (broadcast — it is |docs| rows). The
   * self-join blows up on very common shingles, so at scale this is the
   * *verifier* for LSH candidates ([[minhashLshPairs]]), not the scanner.
   */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame = {
    val sh = shingleIndex(df, idCol, textCol, n)
    val counts = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    // identical exchanges on both sides → ReuseExchange tokenizes and
    // shingles the corpus once for the self-join (see bandedPairs)
    val inter = sh.as("a").hint("shuffle_hash")
      .join(sh.as("b").hint("shuffle_hash"),
        col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    val jac = col("n_inter") /
      (col("ca.n_sh") + col("cb.n_sh") - col("n_inter"))
    inter
      .join(broadcast(counts.as("ca")), col("doc_a") === col("ca.doc"))
      .join(broadcast(counts.as("cb")), col("doc_b") === col("cb.doc"))
      .filter(jac >= threshold)
      .select(col("doc_a"), col("doc_b"), round(jac, 6).as("jaccard"))
  }

  /**
   * ASYMMETRIC containment pairs — the subset-duplication detector
   * Jaccard structurally misses: a short document quoted wholesale
   * inside a long one has `|A∩B|/|A| ≈ 1` but Jaccard
   * `|A∩B|/|A∪B| ≈ |A|/|B|`, arbitrarily small — so a quote-dedup
   * pass keyed on Jaccard lets every wrapped copy through (the C4
   * "exact substring" class, stated set-wise over shingles).
   * Containment is directional; both directions are emitted and a pair
   * qualifies when EITHER reaches `threshold`.
   *
   * Same inverted-index shape as [[ngramJaccardPairs]] (one shingle
   * self-equi-join, per-doc shingle counts broadcast back — |docs|
   * rows), so the same scale caveat: at 100 TB this is the VERIFIER
   * behind a candidate generator ([[minhashLshPairs]] banding, or
   * prefix filtering under the containment bound |A| − ⌈t·|A|⌉ + 1),
   * never the scanner. Counts exact Longs; each containment is one
   * exact-integer-operand division (raw inside the filter, round-6 on
   * the emitted columns — q163 discipline).
   *
   * Emits (doc_a, doc_b, n_inter, contain_a_in_b, contain_b_in_a).
   */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val sh = shingleIndex(df, idCol, textCol, n)
    val counts = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a").hint("shuffle_hash")
      .join(sh.as("b").hint("shuffle_hash"),
        col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    val cab = col("n_inter") / col("ca.n_sh")
    val cba = col("n_inter") / col("cb.n_sh")
    inter
      .join(broadcast(counts.as("ca")), col("doc_a") === col("ca.doc"))
      .join(broadcast(counts.as("cb")), col("doc_b") === col("cb.doc"))
      .filter(greatest(cab, cba) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        round(cab, 6).as("contain_a_in_b"),
        round(cba, 6).as("contain_b_in_a"))
  }

  /**
   * Prefix-filtered exact Jaccard self-join — the SSJoin/PPJoin candidate
   * generation (Chaudhuri et al. ICDE'06, Xiao et al. WWW'08) applied to
   * [[ngramJaccardPairs]]'s problem: same output, asymptotically fewer
   * candidate pairs. EXACT, unlike the MinHash path: prefix filtering is
   * lossless, so this is the 100 TB primary for exact-threshold Jaccard
   * while [[ngramJaccardPairs]]'s full inverted index remains the
   * small-corpus verifier.
   *
   * Principle: order every doc's distinct shingles by a GLOBAL canonical
   * order (ascending document frequency, rarest first — ties by shingle).
   * If J(a,b) ≥ t then the overlap o ≥ ⌈t·|a|⌉ and o ≥ ⌈t·|b|⌉, and two
   * sorted sets with overlap ≥ α must share a token within their first
   * (size − α + 1) tokens — so only the PREFIX of each doc enters the
   * self-join index. Common shingles land at the END of the canonical
   * order, so the prefixes that generate candidates are built from RARE
   * shingles: exactly the high-fan-out buckets that blow up the full
   * inverted-index join never reach it. A size filter (t·|b| ≤ |a| ≤
   * |b|/t) prunes inside the join; survivors verify EXACT Jaccard over
   * their full shingle arrays, so false candidates cost one array
   * intersection, never a wrong row.
   *
   * Scale shape: document frequencies are one groupBy over the shingle
   * index (ReuseExchange with the index's own shuffle); per-doc canonical
   * sort happens inside a groupBy(doc) aggregate (sort_array — no window);
   * the self-join index holds only ~(1−t)·|shingles| prefix rows; the
   * candidate set (distinct pairs) then drives two id-keyed joins against
   * the doc→array table. Prefix lengths carry +1 slack beyond
   * ⌈size−t·size⌉+1 so a last-ulp float ceil can never shorten a prefix
   * below the sound bound.
   */
  /** Prefix length sound for Jaccard ≥ `threshold` on a set of `nSh`
    * elements: ⌈nSh − t·nSh⌉ + 1 per the prefix-filtering principle, plus
    * one slack token so a last-ulp float `ceil` can never shorten the
    * prefix below the sound bound. Shared by the operator and its prune
    * spec so the sizing cannot drift between them. */
  private[operators] def jaccardPrefixLen(nSh: Column, threshold: Double): Column =
    least(nSh, nSh - ceil(nSh * lit(threshold)) + lit(2)).cast("int")

  /** Docs with shingles in global canonical order (ascending document
    * frequency, rarest first, ties by shingle): `(doc, toks, n_sh)`. */
  private[operators] def canonicalShingleDocs(df: DataFrame, idCol: String,
                                              textCol: String, n: Int): DataFrame = {
    // document frequency as a COUNT window over the shingle key (the
    // [[rareNgramStats]] one-scan discipline): the index is scanned and
    // tokenized ONCE and shuffled once by shingle, where the old
    // groupBy-then-rejoin form recomputed the whole index for the join's
    // probe side
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))
    shingleIndex(df, idCol, textCol, n)
      .withColumn("df", count(lit(1)).over(w))
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ranked"))
      .select(
        col("doc"),
        transform(col("ranked"), s => s.getField("sh")).as("toks"),
        size(col("ranked")).cast("long").as("n_sh"))
  }

  /** The self-join index: only each doc's canonical-order prefix. */
  private[operators] def jaccardPrefixIndex(docs: DataFrame,
                                            threshold: Double): DataFrame =
    docs.select(
      col("doc"), col("n_sh"),
      explode(slice(col("toks"), lit(1),
        jaccardPrefixLen(col("n_sh"), threshold))).as("sh"))

  def prefixFilteredJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                                 n: Int, threshold: Double): DataFrame = {
    // the doc→ranked-array table is consumed FOUR times (both self-join
    // prefix sides + both verify joins) with different prunings, so
    // ReuseExchange never fires across them — cache it once (the
    // [[connectedComponents]] edge-cache precedent; O(corpus shingles)
    // rows, distributed, spills to disk — never a driver structure)
    val docs = canonicalShingleDocs(df, idCol, textCol, n).cache()
    val prefix = jaccardPrefixIndex(docs, threshold)
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc") &&
        // size filter: J >= t forces t·|b| <= |a| and t·|a| <= |b|
        // (epsilon-slacked — the exact-Jaccard verify owns correctness)
        col("a.n_sh").cast("double") >= col("b.n_sh") * lit(threshold) - lit(1e-9) &&
        col("b.n_sh").cast("double") >= col("a.n_sh") * lit(threshold) - lit(1e-9))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    val a = docs.select(col("doc").as("doc_a"), col("toks").as("toks_a"),
      col("n_sh").as("na"))
    val b = docs.select(col("doc").as("doc_b"), col("toks").as("toks_b"),
      col("n_sh").as("nb"))
    val nInter = size(array_intersect(col("toks_a"), col("toks_b"))).cast("long")
    val jac = col("n_inter") / (col("na") + col("nb") - col("n_inter"))
    cands.join(a, "doc_a").join(b, "doc_b")
      .withColumn("n_inter", nInter)
      .filter(jac >= threshold)
      .select(col("doc_a"), col("doc_b"), round(jac, 6).as("jaccard"))
  }

  /**
   * MinHash signature per doc: `numHashes` columns, component i =
   * min over shingles of xxhash64(i, shingle).
   *
   * Computed per-row by the native
   * [[graft.functions.expressions.MinHashSig]] expression — a scan-side
   * projection with ZERO shuffle (the aggregation form shuffles every
   * shingle). Docs with fewer than `shingleN` tokens have no shingles and
   * are dropped, matching the aggregation form. [[minhashSignaturesAgg]]
   * keeps the aggregation formulation as the cross-checked spec.
   */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, numHashes: Int): DataFrame = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.expressions.GraftExpressions.register)
    // The kernel yields NULL exactly when the tokens are NULL or fewer
    // than shingleN (no shingles). Filter on THAT cheap condition instead
    // of `sig.isNotNull`: predicate pushdown would otherwise move the
    // signature kernel into the scan Filter and evaluate it TWICE per row
    // (once in the Filter, once in the Project).
    val sig = df
      .filter(size(Text.tokens(col(textCol))) >= lit(shingleN))
      .select(col(idCol).as("doc"),
        call_function("graft_minhash", Text.tokens(col(textCol)),
          lit(shingleN), lit(numHashes)).as("sig"))
    sig.select(col("doc") +:
      (0 until numHashes).map(i => col("sig").getItem(i).as(s"mh_$i")): _*)
  }

  /** Aggregation-form MinHash signatures (the executable spec for
    * [[minhashSignatures]]). */
  def minhashSignaturesAgg(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int, numHashes: Int): DataFrame = {
    val sh = shingleIndex(df, idCol, textCol, shingleN)
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("sh"))).as(s"mh_$i"))
    sh.groupBy(col("doc")).agg(mins.head, mins.tail: _*)
  }

  /**
   * Shared banding step: bucket rows carry the doc's FULL signature next
   * to the band key, so the estimated Jaccard is computed directly on the
   * joined pair — the signature frame is consumed exactly once (no cache,
   * no signature re-join; duplicate band collisions carry identical
   * signatures, so `dropDuplicates` after scoring is deterministic).
   * Shuffle cost is O(|docs| × bands) rows of ~numHashes longs each.
   */
  /** Bucket rows for banded LSH: one row per (doc, band) carrying the
    * band key components `v0..v{rowsPerBand-1}` AND the doc's full
    * signature (`mh_*`), so downstream joins can score estimated Jaccard
    * without re-joining the signature table. This is the persistable
    * index layout behind [[lshIndex]]/[[admitIncremental]] as well as the
    * in-plan shape of [[minhashLshPairs]]. */
  private def bandBuckets(sig: DataFrame, numHashes: Int,
                          bands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band") +:
        (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}").as(s"v$r")): _*)
    }
    val sigCols = (0 until numHashes).map(i => col(s"mh_$i"))
    sig
      .select(col("doc") +: sigCols :+ explode(array(bandStructs: _*)).as("bk"): _*)
      .select(col("doc") +: sigCols ++: (0 until rowsPerBand).map(r => col(s"bk.v$r").as(s"v$r")) :+
        col("bk.band").as("band"): _*)
  }

  /** Equi-join condition over two aliased [[bandBuckets]] frames: same
    * band, all band components equal. */
  private def bucketJoinCond(x: String, y: String, rowsPerBand: Int): Column =
    (0 until rowsPerBand)
      .map(r => col(s"$x.v$r") === col(s"$y.v$r"))
      .foldLeft(col(s"$x.band") === col(s"$y.band"))(_ && _)

  /** Fraction of equal signature components between two aliased frames
    * carrying `mh_*` columns — the banded-LSH Jaccard estimate. */
  private def estJaccard(x: String, y: String, numHashes: Int): Column =
    (0 until numHashes)
      .map(i => when(col(s"$x.mh_$i") === col(s"$y.mh_$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / lit(numHashes.toDouble)

  private def bandedPairs(sig: DataFrame, numHashes: Int,
                          bands: Int, rowsPerBand: Int): DataFrame = {
    val buckets = bandBuckets(sig, numHashes, bands, rowsPerBand)
    val joinCond = bucketJoinCond("x", "y", rowsPerBand) && col("x.doc") < col("y.doc")
    // Route BOTH sides of the self-join through identical hash exchanges
    // (shuffle_hash hint): Catalyst's ReuseExchange then computes the
    // signature scan ONCE and feeds both sides, where a broadcast join
    // would leave the stream side exchange-free and re-run the whole
    // signature scan per side. A corpus self-join can't broadcast at
    // scale anyway — the shuffled shape is the 100 TB plan, and at small
    // scale it halves the kernel work.
    buckets.as("x").hint("shuffle_hash")
      .join(buckets.as("y").hint("shuffle_hash"), joinCond)
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"),
        round(estJaccard("x", "y", numHashes), 6).as("est_jaccard"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /**
   * Banded-LSH candidate pairs with their estimated Jaccard (fraction of
   * equal signature components). `numHashes` must equal `bands *
   * rowsPerBand`. Docs collide iff some band's components all match —
   * shuffle cost is O(|docs| × bands), independent of pair count.
   */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 4): DataFrame =
    bandedPairs(minhashSignatures(df, idCol, textCol, shingleN, bands * rowsPerBand),
      bands * rowsPerBand, bands, rowsPerBand)

  /**
   * Oracle-parity MinHash signatures ([[minhashLshPairsSha]]'s signature
   * step): lanes come from SHA-256 ([[ShaLanes]] — bit-reproducible in
   * DuckDB) instead of xxhash64. Lane i = min over shingles of 60-bit lane
   * i%4 of `sha256((i/4) || '|' || shingle)`.
   *
   * Computed per-row by the native
   * [[graft.functions.expressions.MinHashShaSig]] kernel — a scan-side
   * projection with ZERO shuffle, like the xxhash64 primary
   * ([[minhashSignatures]]). [[minhashSignaturesShaAgg]] keeps the
   * pure-built-in aggregation formulation (codegen'd `sha2`/`conv` +
   * groupBy MINs — the exact shape the DuckDB oracle runs) as the
   * cross-checked executable spec.
   */
  def minhashSignaturesSha(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int, numHashes: Int): DataFrame = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.expressions.GraftExpressions.register)
    // same cheap-equivalent pre-filter as [[minhashSignatures]] — keeps
    // the 4-digest SHA kernel out of the pushed-down Filter (it would
    // otherwise run twice per row)
    val sig = df
      .filter(size(Text.tokens(col(textCol))) >= lit(shingleN))
      .select(col(idCol).as("doc"),
        call_function("graft_minhash_sha", Text.tokens(col(textCol)),
          lit(shingleN), lit(numHashes)).as("sig"))
    sig.select(col("doc") +:
      (0 until numHashes).map(i => col("sig").getItem(i).as(s"mh_$i")): _*)
  }

  /** Aggregation-form SHA MinHash signatures (the executable spec for
    * [[minhashSignaturesSha]], and the shape its DuckDB oracle runs). */
  def minhashSignaturesShaAgg(df: DataFrame, idCol: String, textCol: String,
                              shingleN: Int, numHashes: Int): DataFrame = {
    val nDigests = (numHashes + 3) / 4
    val sh = shingleIndex(df, idCol, textCol, shingleN)
    val digests = sh.select(col("doc") +:
      (0 until nDigests).map(s => sha2(concat(lit(s"$s|"), col("sh")), 256).as(s"d$s")): _*)
    val mins = (0 until numHashes).map { i =>
      min(ShaLanes.hexLane(col(s"d${i / 4}"), ShaLanes.LaneOffsets(i % 4))).as(s"mh_$i")
    }
    digests.groupBy(col("doc")).agg(mins.head, mins.tail: _*)
  }

  /**
   * Persistable banded-LSH dedup index: one row per (doc, band) carrying
   * the band-key components (`v0..v{rowsPerBand-1}`, `band`) AND the
   * doc's full signature (`mh_*`) — [[bandBuckets]]' layout. Write it out
   * once (e.g. parquet, or a table bucketed on the band key with
   * Spark's `bucketBy`) and every future batch is
   * admitted against it with [[admitIncremental]] — the already-admitted
   * corpus is never re-shingled or re-signed.
   *
   * `sigFn` selects the signature family: [[minhashSignatures]] (xxhash64
   * kernel, scale default) or [[minhashSignaturesSha]] (oracle parity).
   */
  def lshIndex(df: DataFrame, idCol: String, textCol: String,
               shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
               sigFn: (DataFrame, String, String, Int, Int) => DataFrame =
                 minhashSignatures): DataFrame =
    bandBuckets(sigFn(df, idCol, textCol, shingleN, bands * rowsPerBand),
      bands * rowsPerBand, bands, rowsPerBand)

  /**
   * Incremental dedup admission: test a batch of NEW documents against an
   * existing [[lshIndex]] (and against each other) without touching the
   * indexed corpus' text. Returns one row per batch doc:
   * `(doc, dup_of, est_jaccard, admitted)` where `dup_of` is the smallest
   * doc id — across the whole index plus smaller-id batch docs — whose
   * banded signature collides with ≥ `threshold` estimated Jaccard, NULL
   * (admitted = true) when none does.
   *
   * Decision rule is collision-based, not admission-chained: a batch doc
   * can be `dup_of` a batch doc that is itself a duplicate — chained
   * resolution is [[connectedComponents]]' job (exactly as for the batch
   * pair operators). Batch ids must be disjoint from index ids. Docs too
   * short to shingle (< shingleN tokens) have no signature and are always
   * admitted.
   *
   * Scale shape: the batch is signed scan-side (zero shuffle), its
   * buckets are BROADCAST against the index — the index is scanned once,
   * never shuffled, any corpus size — and the in-batch check is
   * [[bandedPairs]] on the batch alone. Per-admission cost is O(index
   * scan + batch²-within-buckets), independent of corpus text size.
   */
  def admitIncremental(index: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String, threshold: Double,
                       shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                       sigFn: (DataFrame, String, String, Int, Int) => DataFrame =
                         minhashSignatures): DataFrame = {
    val numHashes = bands * rowsPerBand
    val newBuckets =
      bandBuckets(sigFn(batch, idCol, textCol, shingleN, numHashes),
        numHashes, bands, rowsPerBand)
    // duplicate band collisions of one (index doc, batch doc) pair carry
    // identical signatures → identical estimates, so dropDuplicates on the
    // pair is deterministic (same argument as bandedPairs)
    val vsIndex = index.as("x")
      .join(broadcast(newBuckets.as("y")), bucketJoinCond("x", "y", rowsPerBand))
      .select(col("y.doc").as("doc"), col("x.doc").as("cand"),
        round(estJaccard("x", "y", numHashes), 6).as("est_jaccard"))
      .dropDuplicates("doc", "cand")
    val inBatch = newBuckets.as("x")
      .join(broadcast(newBuckets.as("y")),
        bucketJoinCond("x", "y", rowsPerBand) && col("x.doc") < col("y.doc"))
      .select(col("y.doc").as("doc"), col("x.doc").as("cand"),
        round(estJaccard("x", "y", numHashes), 6).as("est_jaccard"))
      .dropDuplicates("doc", "cand")
    // min-by-candidate-id: struct ordering compares cand first; est is a
    // pure function of the (doc, cand) signatures, so this IS arg-min
    val best = vsIndex.unionByName(inBatch)
      .filter(col("est_jaccard") >= threshold)
      .groupBy(col("doc"))
      .agg(min(struct(col("cand"), col("est_jaccard"))).as("m"))
      .select(col("doc"), col("m.cand").as("dup_of"),
        col("m.est_jaccard").as("est_jaccard"))
    // `best` is bounded by the batch size (one row per matched batch doc)
    // — broadcast it so the decision join never shuffles either side
    batch.select(col(idCol).as("doc"))
      .join(broadcast(best), Seq("doc"), "left")
      .select(col("doc"), col("dup_of"), col("est_jaccard"),
        col("dup_of").isNull.as("admitted"))
  }

  /**
   * Oracle-parity banded-LSH candidate pairs: same banding/verification as
   * [[minhashLshPairs]] but over [[minhashSignaturesSha]] signatures, and
   * band buckets keyed by the raw component tuple (equality on `rowsPerBand`
   * longs) rather than an engine-specific band hash — every step is exactly
   * reproducible in ANSI SQL, so the whole pipeline hash-matches the
   * DuckDB oracle. Shuffle cost is unchanged: O(|docs| × bands).
   */
  def minhashLshPairsSha(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 4): DataFrame =
    bandedPairs(minhashSignaturesSha(df, idCol, textCol, shingleN, bands * rowsPerBand),
      bands * rowsPerBand, bands, rowsPerBand)

  /**
   * 64-bit SimHash fingerprint per doc: bit j of the fingerprint is set iff
   * Σ_tokens (±1 by bit j of xxhash64(token)) > 0.
   *
   * Computed per-row by the native
   * [[graft.functions.expressions.SimHash64]] expression — a scan-side
   * projection with ZERO shuffle; only 8-byte fingerprints ever move.
   * [[simhashAgg]] keeps the aggregation formulation (explode + 64
   * map-side-combinable SUMs, one shuffle) as the cross-checked spec.
   */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.expressions.GraftExpressions.register)
    // NULL text → NULL fingerprint (the kernel's only NULL case), but NO
    // row at all in the aggregation formulation (explode of null emits
    // nothing) — drop those rows via the cheap input condition rather
    // than `simhash.isNotNull`, which pushdown would turn into a second
    // per-row kernel evaluation inside the scan Filter.
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc"),
        call_function("graft_simhash64", Text.tokens(col(textCol))).as("simhash"))
  }

  /** Aggregation-form SimHash (the executable spec for [[simhash]]). */
  def simhashAgg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
      explode(Text.tokens(col(textCol))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"w_$j")
    }
    val agg = toks.groupBy(col("doc")).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 64)
      .map(j => when(col(s"w_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    agg.select(col("doc"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs: bucket by the top `prefixBits` bits (cheap LSH
    * for skew-free partitioning), verify Hamming distance ≤ maxHamming. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, prefixBits: Int = 12): DataFrame = {
    val fp = simhash(df, idCol, textCol)
      .withColumn("bucket", shiftrightunsigned(col("simhash"), 64 - prefixBits))
    val hamming = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    // identical exchanges on both sides → ReuseExchange runs the
    // fingerprint scan once (see bandedPairs)
    fp.as("a").hint("shuffle_hash")
      .join(fp.as("b").hint("shuffle_hash"),
        col("a.bucket") === col("b.bucket") && col("a.doc") < col("b.doc"))
      .filter(hamming <= maxHamming)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        hamming.cast("long").as("hamming"))
  }

  /**
   * Oracle-parity SimHash: 60-bit fingerprints from SHA-256 token lanes
   * ([[ShaLanes]]) so the whole pipeline — token hash, bit sums, prefix
   * bucketing, Hamming verify — is bit-reproducible in DuckDB.
   *
   * Computed per-row by the native
   * [[graft.functions.expressions.SimHashSha]] kernel — a scan-side
   * projection with ZERO shuffle, like the xxhash64 primary ([[simhash]]).
   * [[simhashShaAgg]] keeps the pure-built-in aggregation formulation
   * (explode + 60 map-side-combinable SUMs — the exact shape the DuckDB
   * oracle runs) as the cross-checked executable spec.
   */
  def simhashSha(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.expressions.GraftExpressions.register)
    // as in [[simhash]]: align NULL-text handling with the agg spec via
    // the cheap input condition (keeps the SHA kernel out of the Filter)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc"),
        call_function("graft_simhash_sha", Text.tokens(col(textCol))).as("simhash"))
  }

  /** Aggregation-form SHA SimHash (the executable spec for [[simhashSha]],
    * and the shape its DuckDB oracle runs). */
  def simhashShaAgg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bits = 60
    val toks = df.select(col(idCol).as("doc"),
      explode(Text.tokens(col(textCol))).as("tok"))
      .withColumn("h", ShaLanes.lane(col("tok")))
    val bitSums = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"w_$j")
    }
    val agg = toks.groupBy(col("doc")).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until bits)
      .map(j => when(col(s"w_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col("doc"), fp.as("simhash"))
  }

  /** Oracle-parity SimHash near-dup pairs over [[simhashSha]] fingerprints:
    * bucket by the top `prefixBits` of the 60-bit fingerprint, verify
    * Hamming ≤ maxHamming — the DuckDB-checkable twin of [[simhashPairs]]. */
  def simhashPairsSha(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 8, prefixBits: Int = 8): DataFrame = {
    val fp = simhashSha(df, idCol, textCol)
      .withColumn("bucket", shiftright(col("simhash"), 60 - prefixBits))
    val hamming = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    // identical exchanges on both sides → ReuseExchange runs the
    // fingerprint scan once (see bandedPairs)
    fp.as("a").hint("shuffle_hash")
      .join(fp.as("b").hint("shuffle_hash"),
        col("a.bucket") === col("b.bucket") && col("a.doc") < col("b.doc"))
      .filter(hamming <= maxHamming)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        hamming.cast("long").as("hamming"))
  }

  /**
   * Connected components over near-dup pairs: label every document with
   * the min doc id reachable through the (symmetric closure of the) pair
   * graph — the canonicalization step that turns pairwise near-dup
   * evidence into keep/drop decisions for a training corpus.
   *
   * Iterative min-label propagation: each round, a doc's label becomes
   * the min of its own and its neighbors' labels; converges in
   * O(component diameter) rounds (near-dup clusters are shallow, so
   * usually 2-3). Each round is one shuffle of (edge, label) — the
   * corpus-scale pattern; no driver-side graph.
   */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 20,
                          driverBudgetBytes: Long = 64L << 20): DataFrame = {
    val fwd = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst")).cache()
    val nEdges = fwd.count()

    // Small graphs (the common case after LSH banding): collect the edge
    // list and union-find on the driver — the component step then costs
    // one job instead of O(diameter) iterative joins. The threshold is a
    // BYTE budget (an edge is two longs = 16 bytes; default 64 MiB ≈ 4M
    // edges), the same sizing logic as a broadcast-join threshold; the
    // distributed path below stays the answer when the pair graph itself
    // is large.
    if (nEdges * 16L <= driverBudgetBytes) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val edgeArr = fwd.as[(Long, Long)].collect()
      fwd.unpersist()
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edgeArr.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val labels = parent.keys.toSeq.map(v => (v, find(v))).sorted
      return labels.toDF("doc", "component")
    }

    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst"))).cache()
    // Each round's labels are localCheckpoint'ed, not cached: caching
    // materializes the data but leaves the LOGICAL plan growing — the
    // round-N plan embeds round-N-1's twice (once through neighborMin,
    // once through the left join), so lineage doubles per round and a
    // diameter-8 component already pushes the analyzer past the 2 GiB
    // plan-string cap. localCheckpoint truncates lineage each round:
    // every round's plan is one join over a flat scan, regardless of
    // depth, and the checkpoint blocks are GC-managed (ContextCleaner
    // drops them when the frame is unreachable).
    var labels = edges.select(col("src").as("doc")).distinct()
      .select(col("doc"), col("doc").as("component")).localCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // shuffle_hash on the label probe: the label table is NODE-sized
      // and constant across rounds, so the hash build is a per-partition
      // slice of a node-sized vector and the per-round SORTS of the
      // edge-scale join go away (a hash build over a table that GROWS
      // per round measured the opposite)
      val neighborMin = edges
        .join(labels.hint("shuffle_hash"), edges("dst") === labels("doc"))
        .groupBy(col("src")).agg(min(col("component")).as("nmin"))
      val next = labels
        .join(neighborMin.hint("shuffle_hash"),
          labels("doc") === neighborMin("src"), "left")
        .select(col("doc"), col("component").as("old"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("component"))
        .localCheckpoint()
      converged = next.filter(col("component") < col("old")).isEmpty
      labels = next.select(col("doc"), col("component"))
      it += 1
    }
    fwd.unpersist()
    edges.unpersist()
    // Fail loudly on non-convergence: returning partially-propagated
    // labels would be a WRONG component labeling with no error signal —
    // detectable only if an oracle happens to cover that input. A graph
    // needing more than maxIters min-label rounds has a component of
    // diameter > maxIters; the caller should raise maxIters (cost is
    // O(diameter) shuffles, still bounded) rather than accept bad labels.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: label propagation did not converge in " +
          s"$maxIters rounds ($nEdges edges) — a component has diameter > " +
          s"$maxIters; re-run with a larger maxIters")
    labels
  }

  /** Keep-set after near-dup clustering: one representative (the min id)
    * per component; documents absent from `pairs` keep themselves. */
  def canonicalize(docs: DataFrame, idCol: String,
                   pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
    docs.join(comp, docs(idCol) === comp("doc"), "left")
      .filter(col("doc").isNull || col("component") === docs(idCol))
      .drop("doc", "component")
  }

  /**
   * Eval-set decontamination: for every training document, count how many
   * of its distinct word-n-gram shingles also occur anywhere in the eval
   * set (benchmark/test corpus), and flag the doc as contaminated when
   * `minHits` or more shingles overlap — the standard n-gram-overlap
   * decontamination rule for LLM training corpora (train docs that quote
   * benchmark items must not be trained on).
   *
   * Scale shape: the eval set is benchmark-sized (thousands of docs, not
   * the corpus), so its distinct shingle universe is BROADCAST; the train
   * corpus is shingled scan-side (native [[graft.functions.expressions.WordShingles]]
   * kernel), probed against the broadcast set with a left join that
   * cannot multiply rows (the probe side is distinct), and aggregated
   * per doc — exactly ONE shuffle of (doc, tiny counts), the train text
   * itself never moves. Docs too short to shingle (< n tokens, or NULL
   * text) are appended scan-side as trivially-uncontaminated — no extra
   * join against the train table.
   */
  def decontaminate(train: DataFrame, eval: DataFrame,
                    idCol: String, textCol: String,
                    shingleN: Int = 3, minHits: Int = 2): DataFrame = {
    val trainSh = shingleIndex(train, idCol, textCol, shingleN)
    val evalSh = eval
      .select(explode(Text.shingles(Text.tokens(col(textCol)), shingleN)).as("sh"))
      .distinct()
      .withColumn("hit", lit(1))
    val flagged = trainSh
      .join(broadcast(evalSh), Seq("sh"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hit"))
    val tooShort = train
      .filter(col(textCol).isNull ||
        size(Text.tokens(col(textCol))) < lit(shingleN))
      .select(col(idCol).as("doc"),
        lit(0L).as("n_shingles"), lit(0L).as("n_hit"))
    flagged.unionByName(tooShort)
      .select(col("doc"), col("n_shingles"), col("n_hit"),
        (col("n_hit") >= minHits).as("contaminated"))
  }

  /**
   * Embedding-space eval-set decontamination — the SEMANTIC sibling of
   * [[decontaminate]]'s n-gram screen: a train vector is contaminated
   * when some eval vector in the SAME IVF list sits at cosine ≥
   * `threshold` (a paraphrased or re-worded eval item shares no shingles
   * but lands next to its source in embedding space — the leakage the
   * lexical test misses).
   *
   * Scale shape — the [[semanticDedup]] discipline: both sides learn
   * their list id scan-side (native nearest-centroid kernel, zero
   * exchanges), candidates form through the cid equi-join only
   * (O(Σ |train_c|·|eval_c|), never train × eval), and the flag is a
   * left_semi probe so the pair relation is never materialized. Same
   * approximation contract as every IVF member: a cross-list near-pair
   * is missed by construction; raise the centroid count or probe width
   * where that risk matters. Cosines compare at round-6 (the
   * bit-reproducible oracle contract).
   *
   * Returns one row per train vector: (idCol, cid, contaminated).
   */
  def semanticDecontaminate(train: DataFrame, eval: DataFrame,
                            centroids: DataFrame, idCol: String,
                            vecCol: String, threshold: Double): DataFrame = {
    val matrix = Knn.centroidMatrix(
      centroids.select(col(idCol).as("cid"), col(vecCol).as("cv")))
    def assign(df: DataFrame) = df
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .filter(col("vec").isNotNull)
      .withColumn("cid", Vec.nearestCentroid(col("vec"), matrix).cast("long"))
    val t = assign(train)
    val ev = assign(eval)
    val hit = t.as("a").hint("shuffle_hash")
      .join(ev.as("b").hint("shuffle_hash"),
        col("a.cid") === col("b.cid") &&
          round(Vec.cosine(col("a.vec"), col("b.vec")), 6) >= threshold,
        "left_semi")
      .select(col("id"))
    t.join(hit.withColumn("hit", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cid"),
        coalesce(col("hit"), lit(false)).as("contaminated"))
  }

  /**
   * Memorization-risk / rarity stats: how much of each document is made
   * of n-grams that occur NOWHERE else in the corpus. Documents dominated
   * by globally-unique n-grams are the ones a model can only reproduce by
   * memorizing (PII, serials, leaked keys, single-source text) — the
   * inverse question of [[decontaminate]]'s overlap test. Returns
   * (doc, n_ngrams, n_unique, uniq_frac, risky) per doc with ≥ 1 n-gram,
   * where `n_unique` counts the doc's distinct n-grams whose corpus-wide
   * doc-frequency is exactly 1.
   *
   * Plan shape — ONE scan, ONE digest-keyed shuffle: the corpus-wide
   * instance count attaches to each (doc, shingle) pair as a COUNT
   * window over the shingle digest, so tokenize+shingle+hash runs once
   * and the shuffle carries O(doc-shingles) 16-byte (doc, digest) rows,
   * never text, and nothing is ever all-pairs. The earlier
   * groupBy-then-rejoin form paid a second full scan (the probe side
   * recomputed every shingle hash) and either re-shuffled the pairs a
   * second time or — worse at 100 TB — AQE broadcast the O(distinct
   * shingles) count table, which is NOT broadcastable by construction
   * (unlike [[Curate.dsirWeights]]'s bucketed table). Hot-shingle skew
   * is identical in both forms (every instance of one digest meets in
   * one partition either way); the window adds only a per-partition
   * sort of 8-byte keys.
   */
  def rareNgramStats(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 5, riskFrac: Double = 0.5): DataFrame =
    // xxhash64 digests scan-side so the two shuffles move longs, not
    // n-token strings (collisions at corpus scale are the standard
    // minhash-tier accepted risk)
    rareNgramsWith(df, idCol, textCol, shingleN, riskFrac,
      sh => xxhash64(lit("rare|"), sh))

  /** Oracle-parity twin of [[rareNgramStats]]: SHA-256 lane digests
    * ([[ShaLanes]]) instead of xxhash64, bit-reproducible in DuckDB. */
  def rareNgramStatsSha(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 5, riskFrac: Double = 0.5): DataFrame =
    rareNgramsWith(df, idCol, textCol, shingleN, riskFrac,
      sh => ShaLanes.lane(concat(lit("rare|"), sh)))

  private def rareNgramsWith(df: DataFrame, idCol: String, textCol: String,
                             shingleN: Int, riskFrac: Double,
                             hashOf: Column => Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    df.select(col(idCol).as("doc"),
        explode(Text.shingles(Text.tokens(col(textCol)), shingleN)).as("sh"))
      .select(col("doc"), hashOf(col("sh")).as("h"))
      .withColumn("df", count(lit(1)).over(w))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc"), col("n_ngrams"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_ngrams"), 6).as("uniq_frac"),
        (col("n_unique").cast("double") / col("n_ngrams") > riskFrac).as("risky"))
  }

  /**
   * Cross-document passage-level exact dedup — repeated-passage removal
   * for training corpora (boilerplate, quoted headers, license blocks):
   * every passage (text split on `sep`) keeps exactly its FIRST occurrence
   * in (doc, pos) order across the whole corpus; later byte-identical
   * copies are dropped and each doc's text is rebuilt from its surviving
   * passages in original order. This is the document-boundary-respecting
   * Spark form of exact-substring dedup (suffix-array dedup's practical
   * cousin) — near-dup TEXT dedup is [[minhashLshPairs]]; this operator
   * removes repeated passages *inside otherwise-distinct docs*.
   *
   * Plan: split+posexplode scan-side; first-occurrence = row_number over
   * (sha2(passage)) ordered by (doc, pos) — ONE shuffle keyed by the
   * passage digest; rebuild = one groupBy doc with sort-inside-agg
   * (shuffle-order deterministic, the [[graft.functions.F.orderedListagg]]
   * idiom). Two shuffles total, no joins, passage payloads move once per
   * shuffle. Per-doc passage counts ride from the scan (no extra pass).
   */
  def passageDedup(df: DataFrame, idCol: String, textCol: String,
                   sepRegex: String = "\\. ", sepOut: String = ". "): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc"), col("pos"))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc"),
        size(split(col(textCol), sepRegex)).cast("long").as("n_passages"),
        posexplode(split(col(textCol), sepRegex)).as(Seq("pos", "passage")))
      .withColumn("h", sha2(col("passage"), 256))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("doc"))
      .agg(first(col("n_passages")).as("n_passages"),
        count(lit(1)).as("n_kept"),
        graft.functions.F.orderedListagg(col("passage"), col("pos"), sepOut)
          .as("clean_text"))
  }

  /**
   * Corpus-frequency boilerplate removal (the CCNet/RefinedWeb cleaning
   * step [[passageDedup]] does NOT cover): drop every passage whose
   * corpus-wide occurrence count exceeds `maxFreq` — headers, nav bars,
   * cookie banners, licence blurbs — from EVERY document, including the
   * first occurrence (where passageDedup keeps firsts, this keeps only
   * rare passages). Documents whose passages are all boilerplate have no
   * surviving rows and are absent from the output (they'd be empty).
   *
   * Plan: split+posexplode scan-side; corpus frequency = count over a
   * window partitioned by the passage's SHA-256 digest — ONE shuffle
   * keyed by the digest, no join against a counts table; rebuild = one
   * groupBy doc with sort-inside-agg. Two shuffles total, the exact
   * [[passageDedup]] shape (passage payloads move once per shuffle).
   */
  def passageFrequencyFilter(df: DataFrame, idCol: String, textCol: String,
                             maxFreq: Int, sepRegex: String = "\\. ",
                             sepOut: String = ". "): DataFrame = {
    require(maxFreq >= 1, "maxFreq must be positive")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc"),
        size(split(col(textCol), sepRegex)).cast("long").as("n_passages"),
        posexplode(split(col(textCol), sepRegex)).as(Seq("pos", "passage")))
      .withColumn("h", sha2(col("passage"), 256))
      .withColumn("freq", count(lit(1)).over(w))
      .filter(col("freq") <= maxFreq)
      .groupBy(col("doc"))
      .agg(first(col("n_passages")).as("n_passages"),
        count(lit(1)).as("n_kept"),
        graft.functions.F.orderedListagg(col("passage"), col("pos"), sepOut)
          .as("clean_text"))
  }

  /**
   * ANN embedding near-duplicates — the declared scale path for
   * embedding-level dedup ([[embeddingNearDups]] is its brute-force
   * executable spec/verifier). Sign-LSH bucketing bounds candidate
   * generation: each vector is signed into 2^bits buckets in each of
   * `tables` independent hash tables (signatures are scan-side native
   * projections — [[Knn.lshSignature]] / [[Knn.lshSignatureSha]] kernels,
   * zero shuffle), candidate pairs exist only INSIDE a (table, signature)
   * bucket, and each surviving pair is verified with an exact cosine ≥
   * `threshold`. Precision is therefore 1.0 relative to the brute baseline
   * — only recall is approximate, and `tables` trades shuffle volume for
   * recall (a pair is found if it collides in ANY table).
   *
   * Scale shape at 100 TB: the bucket self-join is an equi-join on
   * (table, signature) — shuffle volume is tables × corpus, never
   * corpus², and per-bucket work is sum(bucket²) with bucket sizes
   * controlled by `bits`. High thresholds (near-dup territory, cos ≥ 0.9)
   * are exactly where sign-LSH collision probability is high, so few
   * tables suffice; the brute form stays the verifier at sample scale.
   */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, bits: Int = 8, tables: Int = 4,
                      sig: (Column, Int, Int) => Column = Knn.lshSignature): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .filter(col("vec").isNotNull)
    val sigs = (0 until tables).map(t =>
      struct(lit(t).as("t"), sig(col("vec"), bits, t).as("sig")))
    val b = v.select(col("id"), col("vec"), explode(array(sigs: _*)).as("bk"))
      .select(col("id"), col("vec"), col("bk.t").as("t"), col("bk.sig").as("sig"))
    // vectors ride through the bucket join so verification needs no extra
    // corpus joins (tables × ~256B per row of extra shuffle — the price of
    // a 2-stage plan instead of 4); identical exchanges on both sides →
    // ReuseExchange runs the signature scan once (see bandedPairs)
    b.as("a").hint("shuffle_hash").join(b.as("b").hint("shuffle_hash"),
        col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.vec").as("va"), col("b.vec").as("vb"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        round(Vec.cosine(col("va"), col("vb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic dedup: cluster the embedding space, then
    * within each cluster drop every vector that has a SMALLER-id
    * cluster-mate with cosine ≥ threshold (so the survivor of any
    * near-duplicate neighborhood is its minimum id — deterministic, no
    * RNG, no iteration). Returns every input row as
    * (id, cid, kept: boolean).
    *
    * `centroids` is a (idCol, vecCol) frame as produced by
    * [[Knn.kmeansCentroids]]/[[Knn.kmeansCentroidsSha]] — training is the
    * caller's (declared q47); this operator is the pruning pass.
    *
    * Scale shape (the reason SemDeDup beats all-pairs at corpus scale):
    * assignment is a scan-side projection via the native nearest-centroid
    * kernel (zero exchanges — the q27 IVF shape), and the only shuffle is
    * the cid equi-join, so candidate pairs form within clusters only:
    * O(Σ|cluster|²) instead of O(n²). k controls the bound — at 100 TB
    * you train thousands of centroids so clusters stay ~1e4-ish; a runaway
    * cluster is a k (or skew-salt) tuning problem, never a cross join. */
  def semanticDedup(df: DataFrame, centroids: DataFrame, idCol: String,
                    vecCol: String, threshold: Double): DataFrame = {
    val matrix = Knn.centroidMatrix(
      centroids.select(col(idCol).as("cid"), col(vecCol).as("cv")))
    val assigned = df
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .filter(col("vec").isNotNull)
      .withColumn("cid", Vec.nearestCentroid(col("vec"), matrix).cast("long"))
    // rows with a smaller-id near-dup cluster-mate; left_semi so the
    // pair relation is never materialized wider than the match probe.
    // Cosines compare at round-6 like every declared threshold (the
    // vec-vs-vec cosine is the bit-reproducible oracle contract).
    val dropped = assigned.as("b").hint("shuffle_hash")
      .join(assigned.as("a").hint("shuffle_hash"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id") &&
          round(Vec.cosine(col("a.vec"), col("b.vec")), 6) >= threshold,
        "left_semi")
      .select(col("id"))
    assigned
      .join(dropped.withColumn("is_dup", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cid"),
        col("is_dup").isNull.as("kept"))
  }

  /** Embedding-cosine near-duplicates: all pairs with cosine ≥ threshold.
    * Brute self-join — correct baseline and the executable spec verifying
    * [[lshNearDupPairs]]; the top-k ANN path is [[Knn.lshTopK]]. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val cos = Vec.cosine(col("a.vec"), col("b.vec"))
    // Explicit sides: broadcast one copy, and repartition the streamed side
    // so the O(n²) cosine work parallelizes even when the input is a single
    // parquet file (a 1-partition scan would otherwise run the whole
    // nested-loop join in one task).
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    v.repartition(p).as("a").join(broadcast(v.as("b")), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(cos, 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /**
   * Edit-distance near-dup verification: Levenshtein distance over
   * length-banded candidate pairs — the character-exact final verifier a
   * dedup pipeline runs after a cheap candidate stage (LSH buckets, or
   * here the (group, length-band) equi-join: two texts within `maxDist`
   * edits differ in length by at most `maxDist`, so true pairs land in
   * the same or adjacent band when `bandChars > maxDist`; production
   * unions the adjacent-band join the same way).
   *
   * Scale shape: candidates form inside (groupCols, band) buckets via an
   * equi-join — never global all-pairs — and the per-pair cost is bounded
   * by the `threshold` argument of Spark's banded Levenshtein kernel
   * (O(len × maxDist) with early abandon, returning -1 past the bound,
   * instead of the O(len²) full matrix). But bucket populations grow
   * LINEARLY with corpus size, so the in-bucket pair count grows
   * quadratically — this form is for small scopes (one skew group, a
   * re-verify of a day's delta) with tight bands; the corpus-scale
   * composition is [[editDistanceVerify]] over LSH candidates, which is
   * what q83 declares.
   *
   * Returns (id_a, id_b, dist) with id_a < id_b and dist ≤ maxDist.
   */
  /**
   * Character-exact verification of an externally-produced candidate
   * pair set: join the texts back to `(doc_a, doc_b)` candidates and
   * keep pairs within `maxDist` edits under Spark's threshold-banded
   * Levenshtein kernel (O(len × maxDist) with early abandon, -1 past
   * the bound). This is the composition a production dedup pipeline
   * actually runs — candidates from a sub-quadratic stage
   * ([[minhashLshPairs]] buckets, [[simhashPairs]] prefixes, …), edit
   * distance only on those — so the Levenshtein work is O(candidates),
   * never O(n²/buckets) like [[editDistancePairs]]'s length-band join,
   * whose buckets grow quadratically with corpus size (measured: 59 s
   * at sf0.1 vs sub-second composed; at 100 TB the band join is a
   * non-starter while this form stays proportional to the near-dup
   * rate). Text payloads shuffle once per side of the id equi-joins;
   * AQE broadcasts the candidate side when it is small.
   *
   * Returns (id_a, id_b, dist) with dist ≤ maxDist.
   */
  def editDistanceVerify(df: DataFrame, idCol: String, textCol: String,
                         candidates: DataFrame, maxDist: Int): DataFrame = {
    val t = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol).as("t"))
    candidates.select(col("doc_a"), col("doc_b"))
      .join(t.as("ta"), col("doc_a") === col("ta.id"))
      .join(t.as("tb"), col("doc_b") === col("tb.id"))
      .withColumn("dist",
        levenshtein(col("ta.t"), col("tb.t"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("dist"))
  }

  /**
   * Canonical-survivor selection — the decision step a dedup pipeline
   * runs AFTER pair finding and component labeling: per near-dup
   * component, keep the single best doc and count what it replaces.
   * `components` is [[connectedComponents]] output `(doc, component)`;
   * `quality` maps each doc id to a comparable score (tokens, a model
   * score, …). The survivor is argmax quality, ties to the SMALLEST doc
   * id — fully deterministic, so reruns and engines agree. Singleton
   * docs (no near-dup pair) never reach the component graph and are
   * trivially their own canonical upstream.
   *
   * Returns (component, n_docs, kept_doc, kept_quality).
   *
   * Scale shape: one hash shuffle on `component` feeds BOTH the
   * row_number window and the aggregate (same key, exchange reused);
   * the quality join is id-keyed — scores ride, payloads don't.
   */
  def canonicalize(components: DataFrame, quality: DataFrame,
                   idCol: String, qualityCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col(qualityCol).desc, col("doc").asc)
    components
      .join(quality, col("doc") === col(idCol))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        max(when(col("rn") === 1, col("doc"))).as("kept_doc"),
        max(when(col("rn") === 1, col(qualityCol))).as("kept_quality"))
  }

  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        groupCols: Seq[String], bandChars: Int,
                        maxDist: Int): DataFrame = {
    require(bandChars > maxDist, "bandChars must exceed maxDist")
    val v = df.filter(col(textCol).isNotNull)
      .select((col(idCol).as("id") +: groupCols.map(col)) :+
        col(textCol).as("t") :+
        floor(length(col(textCol)) / bandChars).as("band"): _*)
    val joinKeys = groupCols :+ "band"
    val cond = joinKeys.map(k => col(s"a.$k") === col(s"b.$k"))
      .reduce(_ && _) && col("a.id") < col("b.id")
    v.as("a").join(v.as("b"), cond)
      .withColumn("dist",
        levenshtein(col("a.t"), col("b.t"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("dist"))
  }

  /**
   * Prefix-blocked Jaro-Winkler name matching — the entity-resolution
   * stage next to [[editDistanceVerify]]'s Levenshtein tier: candidate
   * pairs form ONLY inside a blocking bucket (first `blockPrefix`
   * lowercased chars — the classic ER blocking key). Blocking is a
   * RECALL-TRADING heuristic, not a completeness guarantee: JW's prefix
   * bonus makes same-prefix pairs score higher, but long names differing
   * only by a LEADING typo/substitution (prefix bonus 0) can still score
   * above 0.9 and land in different buckets — that missed-match class is
   * the price of the O(corpus) shuffle. When it matters, lengthen recall
   * via multi-key blocking (add a phonetic code or length band as a
   * second pass) rather than widening the prefix, which only grows
   * buckets. Each candidate is verified by the native
   * [[graft.functions.expressions.JaroWinkler]] codegen kernel. Exact
   * duplicates (score 1.0) are excluded by default — they belong to
   * [[exact]]; this operator's yield is the NEAR matches an MDM/dedup
   * review queue actually wants.
   *
   * Scale: the blocking join is an equi-join on the prefix key — shuffle
   * is O(corpus), per-bucket work is sum(bucket²) with bucket sizes set
   * by the prefix length (lengthen the prefix or add a second key —
   * length band, phonetic code — when buckets grow). Run it on the
   * DISTINCT name vocabulary, not raw rows: names repeat heavily in
   * fact data and the vocabulary is orders of magnitude smaller.
   */
  def nameMatchPairs(df: DataFrame, idCol: String, nameCol: String,
                     threshold: Double, blockPrefix: Int = 2,
                     includeExact: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val v = df.filter(col(nameCol).isNotNull)
      .select(col(idCol).as("id"), col(nameCol).as("nm"),
        substring(lower(col(nameCol)), 1, blockPrefix).as("blk"))
    val upper = if (includeExact) lit(true) else col("jw") < 1.0
    v.as("a").join(v.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Text.jaroWinkler(col("a.nm"), col("b.nm")).as("jw"))
      .filter(col("jw") >= threshold && upper)
      .select(col("id_a"), col("id_b"), round(col("jw"), 6).as("jw"))
  }

  /**
   * Exact duplicated-SPAN removal — the separator-free, alignment-blind
   * exact-substring dedup of the suffix-array corpus-cleaning literature
   * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
   * Better"), in its sliding-window distributed form: every `win`-token
   * window of every document is digested; a window whose token sequence
   * occurs more than once corpus-wide is a duplicated span everywhere
   * EXCEPT its first occurrence in (doc, pos) order, and a token survives
   * iff NO duplicated window covers it (overlapping duplicated windows
   * therefore merge into maximal removed spans for free). Contrast with
   * [[passageDedup]], which only finds repeats that agree with a
   * separator; this finds byte-identical repeats at ANY token alignment —
   * quoted boilerplate mid-sentence, templated fragments, licence tails.
   *
   * Plan shape: window digests are a scan-side `transform` over
   * `sequence(0, n-win)` (O(n·win) hash work, ZERO shuffle, inside
   * whole-stage codegen); duplicate detection is ONE shuffle keyed by the
   * 256-bit digest (`row_number` over (doc, pos) — the [[passageDedup]]
   * idiom); the duplicated window STARTS — not token-level rows — return
   * to their documents through one doc-keyed aggregate + join, so shuffle
   * volume is O(#windows) digests out and O(#duplicated windows) ints
   * back, never O(tokens × win). The rebuild (an exists-over-starts
   * coverage test per token index) is again a pure scan-side projection.
   *
   * At 100 TB: #windows ≈ #tokens, so the digest shuffle is the same
   * order as tokenizing the corpus once — the known lower bound for exact
   * substring dedup without a global suffix array — and the only joins
   * are doc-keyed (payloads move once). No all-pairs stage at any scale.
   * Docs shorter than `win` tokens pass through untouched by definition.
   *
   * `hashOf` follows the house convention (see [[rareNgramsWith]]):
   * xxhash64 is the scale primary (8-byte shuffle lanes, cheap to
   * compute); the declared query passes `sha2(_, 256)` for DuckDB oracle
   * parity — and because the oracle re-derives duplicates from the raw
   * window TEXT, the hash-match also certifies the digesting introduced
   * no collisions on the gated corpus.
   */
  def dupSpanDedup(df: DataFrame, idCol: String, textCol: String,
                   win: Int = 5,
                   hashOf: Column => Column = xxhash64(_)): DataFrame = {
    require(win >= 2, "window must span at least 2 tokens")
    val base = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc"), Text.tokens(col(textCol)).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
    val wins = base.filter(col("n_tokens") >= win)
      .select(col("doc"),
        posexplode(transform(
          sequence(lit(0), (col("n_tokens") - win).cast("int")),
          i => hashOf(concat_ws(" ", slice(col("toks"), i + 1, lit(win))))))
          .as(Seq("pos", "h")))
    val firstW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc"), col("pos"))
    val dupStarts = wins
      .withColumn("rn", row_number().over(firstW))
      .filter(col("rn") > 1)
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(col("pos"))).as("dup_starts"))
    val ds = coalesce(col("dup_starts"), array().cast("array<int>"))
    val covered = (i: Column) =>
      exists(ds, s => s <= i && i < s + win)
    val kept = filter(sequence(lit(0), (col("n_tokens") - 1).cast("int")),
      i => !covered(i))
    base.join(dupStarts, Seq("doc"), "left")
      .select(col("doc"), col("n_tokens"),
        size(ds).cast("long").as("n_dup_windows"),
        (col("n_tokens") - size(kept)).cast("long").as("n_removed"),
        concat_ws(" ",
          transform(kept, i => element_at(col("toks"), i + 1))).as("clean_text"))
  }
}
