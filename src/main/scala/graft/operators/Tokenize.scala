package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Tokenizer-induction operators: the corpus-statistics side of training a
 * subword vocabulary (BPE, Sennrich et al. 2016 — "Neural Machine
 * Translation of Rare Words with Subword Units"). A BPE trainer is an
 * iterated reduction: count adjacent symbol pairs weighted by word
 * frequency, merge the argmax, repeat. The count step is the part that
 * touches the corpus, and the part that must scale; the merge loop itself
 * operates on the (tiny) distinct-word table.
 *
 * Scale shape: the corpus collapses to the DISTINCT-WORD frequency table
 * in one map-side-combined aggregate (the word count shuffle moves one
 * (word, count) row per distinct word, never per token — the classic
 * heavy-tail win: a 100 TB corpus has ~1e7 distinct words), and pair
 * extraction runs over that table, so the pair-count shuffle is bounded
 * by distinct words × avg word length with 2-char keys. No explode of
 * the corpus, no window, no join anywhere.
 */
object Tokenize {

  /**
   * One BPE count step at the character level: adjacent character-pair
   * frequencies over the corpus, weighted by word frequency — the
   * statistic whose argmax is the next BPE merge. Returns the top
   * `topK` pairs as (pair, cnt), deterministically tie-broken by pair
   * string ascending (TakeOrderedAndProject — no global sort
   * materializes, no partition-less window).
   *
   * Words are whitespace tokens ([[Text.tokens]]); single-character
   * words carry no pairs and are dropped before the word aggregate.
   */
  def bpePairCounts(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val words = docs.filter(col(textCol).isNotNull)
      .select(explode(Text.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    words
      // char_length(w) >= 2 here, so the sequence is always ascending
      .select(explode(expr(
        "transform(sequence(1, char_length(w) - 1), i -> substr(w, i, 2))"))
        .as("pair"), col("c"))
      .groupBy(col("pair")).agg(sum(col("c")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(topK)
  }

  /**
   * Encode one word under a learned merge-rank table: repeatedly find the
   * present pair with the LOWEST rank and merge ALL its occurrences in
   * one left-to-right pass, until no mergeable pair remains — the
   * standard greedy BPE encode loop (GPT-2's `bpe()` order: rank decides
   * which pair merges next, position only breaks occurrence order within
   * a pass). Pure function, shared by the operator and its specs.
   */
  private[operators] def encodeWord(w: String,
                                    ranks: Map[(String, String), Int]): Array[String] = {
    if (w.isEmpty) return Array.empty
    var parts: Vector[String] = w.map(_.toString).toVector
    var done = false
    while (!done && parts.length >= 2) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < parts.length - 1) {
        val r = ranks.getOrElse((parts(i), parts(i + 1)), Int.MaxValue)
        if (r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < parts.length) {
          if (j < parts.length - 1 &&
              ranks.getOrElse((parts(j), parts(j + 1)), Int.MaxValue) == bestRank) {
            out += parts(j) + parts(j + 1)
            j += 2
          } else {
            out += parts(j)
            j += 1
          }
        }
        parts = out.result()
      }
    }
    parts.toArray
  }

  /**
   * Apply a learned BPE merge list to the corpus: every whitespace word
   * of every document encodes to subword tokens under the merge ranks
   * (list order = rank = training order, the argmax sequence
   * [[bpePairCounts]] produces one step of). Output:
   * `(id, tokens array<string>, n_tokens)`.
   *
   * This is a CODEC boundary, not relational logic — the per-word merge
   * loop is inherently iterative (each merge changes what pairs exist),
   * so it cannot be a Catalyst expression; like
   * [[Enrich]]/[[Multimodal]], it runs as a typed map with the merge
   * table BROADCAST (a vocabulary is ≤ ~100k pairs — dimension-sized),
   * and the corpus is never shuffled: encoding is embarrassingly
   * parallel over partitions. Not DuckDB-oracle-able (iterative), so its
   * contract is spec-pinned instead: losslessness (token concatenation
   * rebuilds the words), rank-priority order, determinism under
   * repartitioning, and agreement with an independently-written
   * reference encoder on random vocabularies (TokenizeDiffSpec).
   */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val bc = spark.sparkContext.broadcast(ranks)
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, text) =>
        val toks =
          if (text == null) Array.empty[String]
          else text.split(" ").iterator.filter(_.nonEmpty)
            .flatMap(w => encodeWord(w, bc.value)).toArray
        (id, toks)
      }
      .toDF(idCol, "tokens")
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
  }

  /**
   * Nucleus (top-p) vocabulary coverage cutoff: the smallest
   * frequency-ranked vocabulary prefix whose cumulative token count
   * reaches `pctTimes100`% of the corpus — the tokenizer-sizing /
   * OOV-budget question ("how many types cover 95% of tokens?") asked
   * before fixing a vocab size, and the data-side dual of
   * [[graft.operators.LangModel]]'s fixed-`vocabSize` head.
   *
   * A term is IN the cutoff iff coverage was still short of the target
   * before it: `100·(cum − cnt) < pct·total` under (count DESC, term
   * ASC) order — minimal by construction, and decided entirely in
   * Long arithmetic (counts, cumulative sums, cross-multiplied
   * percentages), so both engines agree bit-exactly with no rounding
   * lane.
   *
   * The global rank/running-sum is a TWO-PHASE distributed prefix (the
   * declared surface bans partition-less windows): terms bucket by
   * `bit_length(cnt)` — an integer-exact, monotone function of the sort
   * key, so every bucket holds a contiguous rank range and equal counts
   * never split; per-bucket row/mass totals (≤ 64 rows — bounded driver
   * metadata, the centroid/offset-collect class) fold into prefix
   * offsets on the driver, broadcast back, and each bucket's window
   * ranks only its own rows (the [[graft.operators.Pack]] shard-offset
   * idiom applied to a sort order).
   *
   * Plan: one token-count aggregate (the only fact-sized shuffle), a
   * ≤64-row collect, then one BUCKET-partitioned window over the
   * vocabulary. Emits (term, cnt, rk, cum_cnt, total_cnt).
   */
  def coverageCutoff(docs: DataFrame, tokensCol: Column,
                     pctTimes100: Long = 95L): DataFrame = {
    require(pctTimes100 >= 1 && pctTimes100 <= 100,
      s"pct in [1, 100], got $pctTimes100")
    rankedTermCounts(docs, tokensCol)
      .filter(lit(100L) * (col("cum_cnt") - col("cnt")) <
        lit(pctTimes100) * col("total_cnt"))
      .drop("__bk", "__offn", "__offw")
  }

  /** The two-phase distributed frequency ranking shared by
    * [[coverageCutoff]] and [[zipfSlope]]: (term, cnt, rk, cum_cnt,
    * total_cnt) under (cnt DESC, term ASC) order, with `__bk`-bucketed
    * windows only — see [[coverageCutoff]]'s scaladoc for the shape
    * argument. */
  private def rankedTermCounts(docs: DataFrame, tokensCol: Column): DataFrame = {
    // localCheckpoint: the token-count aggregate feeds BOTH the
    // driver-side bucket-stats collect and the final bucketed-window
    // plan — without materializing it the fact-sized explode+groupBy
    // executes twice
    val counts = docs.select(explode(tokensCol).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      // bit_length: bucket 63 = largest counts; conv() is codegen'd
      .withColumn("__bk", length(conv(col("cnt"), 10, 2)).cast("int"))
      .localCheckpoint()
    val stats = counts.groupBy(col("__bk"))
      .agg(count(lit(1)).as("n"), sum(col("cnt")).as("w"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(-_._1) // rank order: larger counts (higher buckets) first
    val total = stats.map(_._3).sum
    var accN = 0L
    var accW = 0L
    val offsets = stats.map { case (bk, n, w) =>
      val row = (bk, accN, accW)
      accN += n; accW += w
      row
    }
    import docs.sparkSession.implicits._
    val offDf = offsets.toSeq.toDF("__bk", "__offn", "__offw")
    val order = Window.partitionBy(col("__bk"))
      .orderBy(col("cnt").desc, col("term"))
    val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.join(broadcast(offDf), Seq("__bk"))
      .withColumn("rk",
        (col("__offn") + row_number().over(order)).cast("long"))
      .withColumn("cum_cnt", col("__offw") + sum(col("cnt")).over(run))
      .withColumn("total_cnt", lit(total))
  }

  /**
   * Zipf slope of the frequency spectrum's head — the OLS fit of
   * `ln cnt = intercept + slope·ln rk` over the `topK`
   * frequency-ranked types: natural text sits near slope −1
   * (Zipf 1949); a much flatter head reads as templated/synthetic
   * text and a much steeper one as a degenerate vocabulary — the
   * corpus-level naturalness screen next to [[repetitionStats]]'s
   * per-document one.
   *
   * Ranking is [[rankedTermCounts]]'s two-phase bucketed prefix (no
   * partition-less window); the fit aggregates the five OLS sufficient
   * statistics (n, Σx, Σy, Σx², Σxy) in ONE pass over the topK-sized
   * head, with logs in place of integer moments. The sums stay RAW and only the final
   * slope/intercept round to 6dp (the chi2 lane: rounding the inputs
   * would bias the fit by the rounding scale itself — measured 1e-6 on
   * an exact cnt = K/r spectrum — while accumulation-order noise on the
   * raw sums is ~1e-13 relative and dies in the final round). topK < 2
   * (ranks are distinct integers, so k ≥ 2 guarantees positive
   * variance) yields NULL, never NaN.
   *
   * Emits one row: (k_terms, zipf_slope, zipf_intercept).
   */
  def zipfSlope(docs: DataFrame, tokensCol: Column, topK: Int = 100): DataFrame = {
    require(topK >= 2 && topK <= 100000, s"topK in [2, 100000], got $topK")
    val head = rankedTermCounts(docs, tokensCol)
      .filter(col("rk") <= topK)
      .select(log(col("rk").cast("double")).as("__x"),
        log(col("cnt").cast("double")).as("__y"))
    val s = head.agg(count(lit(1)).as("k_terms"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__x") * col("__y")).as("__sxy"))
    val n = col("k_terms").cast("double")
    val det = n * col("__sxx") - col("__sx") * col("__sx")
    val slope = (n * col("__sxy") - col("__sx") * col("__sy")) / det
    s.select(col("k_terms"),
      when(col("k_terms") > 1L, round(slope, 6)).as("zipf_slope"),
      when(col("k_terms") > 1L,
        round((col("__sy") - slope * col("__sx")) / n, 6))
        .as("zipf_intercept"))
  }

  /**
   * Within-document n-gram repetition profile — the Gopher/C4-family
   * "repetitious text" quality filter (Rae et al. 2021 §A1.1: drop docs
   * whose duplicate n-gram fraction or top-n-gram share exceeds a
   * band): boilerplate, keyboard mashing and template spam all surface
   * as a document REUSING its own n-grams.
   *
   * Entirely scan-side — the interesting part. The naive shape
   * (explode n-grams → groupBy (doc, gram) → re-group by doc) shuffles
   * an n-gram-sized table; here each document's stats fold inside ONE
   * projection: build the n-gram array (slice HOF), `array_sort` it so
   * equal grams are adjacent (ANY total order works — collation
   * differences between engines cannot change a run-length maximum),
   * and take the longest run with one `aggregate` fold. Zero shuffles,
   * zero joins; cost O(L log L) per document in its own length.
   *
   * Exactness: counts are Longs; `dup_frac = (total − distinct)/total`
   * and `top_share = top/total` are single divisions of exact integer
   * operands (raw, q163 discipline). Documents shorter than n tokens
   * are excluded (no n-grams to profile — same WHERE in the oracle).
   *
   * Emits one row per doc: (doc_id, n_ngrams, n_distinct, top_cnt,
   * dup_frac, top_share).
   */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    require(n >= 1 && n <= 10, s"n in [1, 10], got $n")
    val base = docs
      .select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= n)
    val grams = transform(sequence(lit(0), size(col("__t")) - n),
      i => array_join(slice(col("__t"), i + lit(1), lit(n)), " "))
    val z = struct(lit("").as("p"), lit(0L).as("r"), lit(0L).as("m"))
    val topRun = aggregate(array_sort(col("__g")), z,
      (acc, x) => {
        val run = when(x === acc.getField("p"), acc.getField("r") + lit(1L))
          .otherwise(lit(1L))
        struct(x.as("p"), run.as("r"),
          greatest(acc.getField("m"), run).as("m"))
      },
      acc => acc.getField("m"))
    base.withColumn("__g", grams)
      .select(col("doc_id"),
        size(col("__g")).cast("long").as("n_ngrams"),
        size(array_distinct(col("__g"))).cast("long").as("n_distinct"),
        topRun.as("top_cnt"))
      .withColumn("dup_frac",
        (col("n_ngrams") - col("n_distinct")).cast("double") /
          col("n_ngrams").cast("double"))
      .withColumn("top_share",
        col("top_cnt").cast("double") / col("n_ngrams").cast("double"))
  }

  /**
   * Chao1 vocabulary-richness estimate — "how many token TYPES exist,
   * including the ones this corpus hasn't surfaced yet" (Chao 1984, the
   * ecology species-richness estimator applied to vocabulary): the
   * corpus-growth planning question next to [[coverageCutoff]]'s
   * coverage question. Uses the bias-corrected form, defined even with
   * no doubletons:
   *
   *   chao1 = S_obs + f₁·(f₁ − 1) / (2·(f₂ + 1))
   *
   * where f₁/f₂ are the singleton/doubleton type counts — the rarest
   * types carry all the information about the unseen mass (the same
   * insight as Good–Turing).
   *
   * Plan: ONE token-count aggregate (the only fact-sized shuffle), then
   * one single-row fold over the vocabulary-sized counts. All counts
   * exact Longs; the estimate is one exact-integer-operand division
   * (raw, q163 discipline) — `f₁² ` stays in Long for any vocabulary
   * under ~3e9 types.
   *
   * Emits one row: (n_tokens, n_types, f1, f2, chao1).
   */
  def chao1Richness(docs: DataFrame, tokensCol: Column): DataFrame =
    docs.select(explode(tokensCol).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c")).as("n_tokens"), count(lit(1)).as("n_types"),
        coalesce(sum(when(col("__c") === 1L, 1L)), lit(0L)).as("f1"),
        coalesce(sum(when(col("__c") === 2L, 1L)), lit(0L)).as("f2"))
      .select(col("n_tokens"), col("n_types"), col("f1"), col("f2"),
        (col("n_types").cast("double") +
          (col("f1") * (col("f1") - lit(1L))).cast("double") /
            (lit(2L) * (col("f2") + lit(1L))).cast("double")).as("chao1"))
}
