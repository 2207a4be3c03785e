package graft.operators

import graft.functions.Vec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Hybrid BM25 + vector retrieval (reference README.md:61,73,117: UC1
 * "similar cases" — text + metadata filters → top-K, Recall@20 ≥ 0.7 SLO).
 *
 * Fusion is Reciprocal Rank Fusion (RRF): score = Σ 1/(k0 + rank_modality),
 * scale-free (no score normalization across BM25 and cosine) and the
 * standard robust choice for hybrid retrieval.
 *
 * Scale shape (the r1 form ranked the *whole corpus* through two
 * partition-less windows — the one genuine scale-killer that round found):
 *  - each leg produces only its top-`candidates` rows via a distributed
 *    top-N (`TakeOrderedAndProject` — every partition keeps N, no global
 *    sort, no window);
 *  - RRF only needs ranks *within the fused candidate pool*, so ranks are
 *    assigned over the ≤2·candidates fused rows ([[rankCandidates]] —
 *    bounded gather + array_sort, no WindowExec at all);
 *  - the vector leg optionally probes an IVF assignment (`centroids` +
 *    `nProbe`) so it scores ~nProbe/|centroids| of the corpus instead of
 *    all of it; omit centroids for the exact (full-scan, still top-N)
 *    twin that small-scale oracles verify against.
 *
 * Metadata filters push into the corpus scan before any scoring work.
 */
object HybridSearch {

  val RrfK = 60.0

  /**
   * Rank a bounded candidate set by (`scoreCol` DESC, doc ASC) without a
   * window: gather the ≤`candidates` rows into one array, sort with an
   * explicit comparator, posexplode — rank = position + 1. The single-row
   * gather is bounded by the candidate cap that produced the input (same
   * cost class as the top-N itself), so no partition-less WindowExec ever
   * appears in the plan.
   */
  private def rankCandidates(cand: DataFrame, scoreCol: String,
                             rankName: String): DataFrame = {
    val byScoreDescDocAsc = (l: Column, r: Column) =>
      when(l.getField("s") > r.getField("s"), -1)
        .when(l.getField("s") < r.getField("s"), 1)
        .when(l.getField("doc") < r.getField("doc"), -1)
        .when(l.getField("doc") > r.getField("doc"), 1)
        .otherwise(0)
    cand
      .agg(collect_list(struct(col(scoreCol).as("s"), col("doc").as("doc"))).as("cs"))
      .select(posexplode(array_sort(col("cs"), byScoreDescDocAsc)).as(Seq("pos", "c")))
      .select(col("c.doc").as("doc"), col("c.s").as(scoreCol),
        (col("pos") + 1).cast("long").as(rankName))
  }

  /** IVF corpus assignment: every vector to its nearest centroid, as a
    * scan-side projection via the native
    * [[graft.functions.expressions.NearestCentroid]] kernel — the corpus
    * is never crossJoined, shuffled, or windowed to learn its list ids
    * (the r2 form materialized corpus × |centroids| rows per build).
    * `centroids` must carry the corpus's id/vec columns; `cid` in the
    * result is the centroid's ascending-id INDEX (assignment, probing and
    * the list join all speak indices — original ids never matter). */
  def assignIvf(corpus: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame): DataFrame =
    assignOn(corpus, idCol, vecCol, Knn.centroidMatrix(
      centroids.select(col(idCol).as("cid"), col(vecCol).as("cv"))))

  private def assignOn(corpus: DataFrame, idCol: String, vecCol: String,
                       matrix: Seq[Seq[Double]]): DataFrame =
    corpus.select(col(idCol).as("doc"), col(vecCol).as("vec"))
      .filter(col("vec").isNotNull)
      .withColumn("cid", Vec.nearestCentroid(col("vec"), matrix))

  /** The query vector as an ARRAY LITERAL column. A non-primitive
    * literal is a codegen REFERENCE object (never inlined into the
    * generated source), so repeated interactive calls still share
    * byte-identical whole-stage code — Janino serves them from its
    * cache — while the plan drops the one-row broadcast frame the r2-r6
    * form shipped the vector in: one BroadcastExchange job + one
    * nested-loop join fewer per warm call. */
  private def queryVecLit(queryVec: Seq[Double]): Column =
    typedlit(queryVec.toArray)

  /** Query-side IVF probe, computed ON THE DRIVER: the query is one
    * vector and the centroid matrix is already driver-resident (≤ k × dim
    * doubles), so the top-`nProbe` list ids are a tiny local loop through
    * the same [[graft.functions.expressions.NearestCentroidUtil]] kernel
    * the executors run — bit-identical to a distributed probe, minus an
    * entire Spark job per interactive call (the r2 warm path's largest
    * per-call overhead). */
  private def probeDriver(matrix: Seq[Seq[Double]], queryVec: Seq[Double],
                          nProbe: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    graft.functions.expressions.NearestCentroidUtil
      .top(new GenericArrayData(queryVec.toArray),
        matrix.map(_.toArray).toArray, false, nProbe)
      .toIntArray().toSeq
  }

  /** Restrict an assigned corpus to the probed lists. The probe set
    * enters as an ARRAY LITERAL (a codegen reference object, like the
    * query vector's one-row frame): the generated code stays
    * byte-identical across calls — Janino cache — and the filter sits
    * directly on the cached assigned scan, no join, no extra job. */
  private def probedPool(assigned: DataFrame, probed: Seq[Int]): DataFrame =
    assigned.filter(array_contains(typedlit(probed), col("cid")))
      .select(col("doc"), col("vec"))

  /** RRF-fuse two ranked candidate frames and keep the top k.
    * Fusion is union + one tiny groupBy rather than a full-outer join:
    * each doc appears at most once per leg, so `max` recovers exactly the
    * outer-join row — and the plan drops the join's two sort stages,
    * which matters at interactive latency. */
  private def fuse(lexical: DataFrame, vector: DataFrame, k: Int): DataFrame = {
    val lexSide = lexical.select(col("doc"), col("bm25"), col("r_lex"),
      lit(null).cast("double").as("cos"), lit(null).cast("long").as("r_vec"))
    val vecSide = vector.select(col("doc"),
      lit(null).cast("double").as("bm25"), lit(null).cast("long").as("r_lex"),
      col("cos"), col("r_vec"))
    val rrf =
      coalesce(lit(1.0) / (lit(RrfK) + col("r_lex")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(RrfK) + col("r_vec")), lit(0.0))
    lexSide.unionByName(vecSide)
      .groupBy(col("doc"))
      .agg(max(col("bm25")).as("bm25"), max(col("r_lex")).as("r_lex"),
        max(col("cos")).as("cos"), max(col("r_vec")).as("r_vec"))
      .withColumn("rrf", rrf)
      .orderBy(col("rrf").desc, col("doc").asc)
      .limit(k)
  }

  private def search(lexScores: DataFrame, vecPool: DataFrame, qv: Column,
                     k: Int, candidates: Int): DataFrame = {
    val lexCand = lexScores
      .orderBy(col("bm25").desc, col("doc").asc).limit(candidates)
    val vecCand = vecPool
      .select(col("doc"), Vec.cosine(col("vec"), qv).as("cos"))
      .orderBy(col("cos").desc, col("doc").asc).limit(candidates)
    fuse(rankCandidates(lexCand, "bm25", "r_lex"),
      rankCandidates(vecCand, "cos", "r_vec"), k)
  }

  private def terms(queryText: String): Seq[String] =
    queryText.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)

  /**
   * One-shot interactive search.
   *
   * @param corpus     documents with id, text and embedding columns
   * @param queryText  whitespace-tokenized query for the lexical leg
   * @param queryVec   embedding of the query for the vector leg
   * @param filters    metadata predicates (product_code, manufacturer, date…)
   * @param k          results to return
   * @param candidates per-leg candidate cap fed to the rank/fusion step
   * @param centroids  IVF centroid set (same id/vec column names as the
   *                   corpus) — when given, the vector leg scores only the
   *                   `nProbe` probed lists; when None it scans the
   *                   filtered corpus (exact twin, still window-free)
   */
  def similarCases(corpus: DataFrame, idCol: String, textCol: String, vecCol: String,
                   queryText: String, queryVec: Seq[Double],
                   filters: Seq[Column] = Nil, k: Int = 20,
                   candidates: Int = 100,
                   centroids: Option[DataFrame] = None, nProbe: Int = 4): DataFrame = {
    val filtered = filters.foldLeft(corpus)((df, p) => df.filter(p))
    val lexScores = Bm25.score(filtered, idCol, textCol, terms(queryText))
    val vecPool = centroids match {
      case Some(c) =>
        val matrix = Knn.centroidMatrix(
          c.select(col(idCol).as("cid"), col(vecCol).as("cv")))
        probedPool(assignOn(filtered, idCol, vecCol, matrix),
          probeDriver(matrix, queryVec, nProbe))
      case None =>
        filtered.select(col(idCol).as("doc"), col(vecCol).as("vec"))
    }
    search(lexScores, vecPool, queryVecLit(queryVec), k, candidates)
  }

  /**
   * Prebuilt state for repeated interactive queries (the reference's
   * P95 < 1.5 s similar-cases SLO, README.md:87,139): BM25 postings +
   * document lengths and the IVF-assigned corpus are cached once; each
   * [[similarCasesIndexed]] call touches only its own query terms'
   * postings and its probed IVF lists. The caller owns the lifecycle —
   * call [[SearchIndex.close]] to release the cached state (storage is
   * NOT released implicitly; this is the documented ownership contract).
   */
  /** `matrix` is the ascending-cid centroid matrix ([[Knn.centroidMatrix]]):
    * driver-resident, so every warm call probes it locally instead of
    * launching a probe job. */
  final case class SearchIndex(bm25: Bm25.Index, assigned: DataFrame,
                               matrix: Seq[Seq[Double]]) {
    def close(): Unit = {
      bm25.close()
      assigned.unpersist(); ()
    }
  }

  def buildIndex(corpus: DataFrame, idCol: String, textCol: String, vecCol: String,
                 centroids: DataFrame): SearchIndex = {
    val matrix = Knn.centroidMatrix(
      centroids.select(col(idCol).as("cid"), col(vecCol).as("cv")))
    // repartition by doc before caching: a corpus assembled from a few
    // parquet files (or one broadcast-joined scan) otherwise caches as
    // 1-2 partitions and the per-call cosine leg runs single-threaded —
    // the serving scan should spread across the session's parallelism
    val assigned = assignOn(corpus, idCol, vecCol, matrix)
      .repartition(16, col("doc")).cache()
    SearchIndex(Bm25.buildIndex(corpus, idCol, textCol), assigned, matrix)
  }

  /** Warm-path search against a prebuilt [[SearchIndex]]. Same result as
    * [[similarCases]] with `centroids` set, but the per-call plan touches
    * only the cached postings + assigned scans: the IVF probe runs on the
    * driver and enters the plan as data (array-literal filter), so a call
    * is one collect-job whose generated code Janino serves from cache. */
  def similarCasesIndexed(index: SearchIndex, queryText: String, queryVec: Seq[Double],
                          k: Int = 20, candidates: Int = 100,
                          nProbe: Int = 4): DataFrame = {
    val vecPool = probedPool(index.assigned,
      probeDriver(index.matrix, queryVec, nProbe))
    search(Bm25.scoreIndexed(index.bm25, terms(queryText)), vecPool,
      queryVecLit(queryVec), k, candidates)
  }
}
