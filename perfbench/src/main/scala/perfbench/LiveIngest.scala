package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import graft.operators.{Bm25, HybridSearch}
import graft.sources.MaudeIngest
import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import perfbench.Main._

/**
 * live_ingest: `target_lag` freshness. A catch-up phase runs
 * `Streams.incrementalPipeline` (Trigger.AvailableNow) over a backlog of
 * landed MAUDE files and upserts their documents into the search index
 * with `Streams.searchIndexBatch`. A live phase then lands MAUDE files
 * and their documents one after another; each landing is refreshed the
 * same way, then one hybrid search runs against the uncached,
 * parquet-backed index (`Streams.readSearchIndex`), whose `batch_id=`
 * directories keep accumulating, before the next file lands. Every file after the
 * first re-delivers some records of earlier files; the pipeline must
 * drop them.
 */
object LiveIngest {

  val BacklogFiles = 3
  val BacklogRecordsPerFile = 4000
  val LiveRecordsPerFile = 1000
  val RedeliveryPerMille = 20
  val CycleSeconds = 6.5
  val MinLandings = 4
  val Centroids = 16
  val PrepReps = 2

  val LayerMetrics = Seq("streaming.fact_batch_ms", "streaming.index_batch_ms",
    "streaming.read_index_ms", "streaming.batch_dirs", "streaming.dedup_dropped",
    "operators.search_call_ms", "operators.bm25_ms", "operators.postings_rows_per_result")

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType))))

  /** One landing: the MAUDE record ids it carries (new ones first, then
    * re-deliveries) and how many of them are new. */
  final case class Landing(ids: IndexedSeq[Long], fresh: Int)

  def plan(seed: Long, files: Int, perFile: Int, firstId: Long): IndexedSeq[Landing] = {
    val r = Gen.seeded(seed, 31L + firstId)
    (0 until files).map { f =>
      // ids below `start` have landed already
      val start = firstId + f.toLong * perFile
      val resend = if (start == 0) 0 else perFile * RedeliveryPerMille / 1000
      val again = IndexedSeq.fill(resend)(r.nextLong(start))
      Landing((start until start + perFile) ++ again, perFile)
    }
  }

  private def name(n: Int) = f"landing-$n%04d.json"

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    import spark.implicits._
    val root = c.work.resolve("live")
    val landing = root.resolve("landing")
    val staged = root.resolve("staged")
    val out = root.resolve("out").toString
    val idxOut = root.resolve("index").toString
    val ckpt = root.resolve("ckpt").toString
    val seedCsv = root.resolve("seed/manufacturer.csv")

    val backlog = plan(c.seed, BacklogFiles, BacklogRecordsPerFile, 0L)
    val backlogIds = BacklogFiles.toLong * BacklogRecordsPerFile
    val liveN = math.max(MinLandings, (c.seconds / CycleSeconds).ceil.toInt)
    val live = plan(c.seed, liveN, LiveRecordsPerFile, backlogIds)
    val all = backlog ++ live

    // stage every landing (MAUDE NDJSON + documents NDJSON), land the backlog
    val prep = (1 to PrepReps).map { _ =>
      Gen.deleteTree(root.toFile)
      timed {
        Gen.manufacturerCsv(seedCsv)
        all.zipWithIndex.foreach { case (l, n) =>
          Gen.writeMaudeFile(c.seed, l.ids, staged.resolve("maude").resolve(name(n)))
          Gen.writeLines(l.ids.take(l.fresh).iterator.map(Gen.docRecord(c.seed, _)),
            staged.resolve("docs").resolve(name(n)))
        }
        backlog.indices.foreach(land(staged, landing, _))
      }._2
    }
    val centroids: DataFrame = {
      val r = Gen.seeded(c.seed, 19L)
      (0 until Centroids).map(i => (i.toLong, Gen.vector(r).map(_.toFloat).toArray))
        .toDF("doc_id", "embedding")
    }
    val mfr = MaudeIngest.manufacturerSeed(spark, seedCsv.toString)
    def docs(path: Path): DataFrame = spark.read.schema(DocSchema).json(path.toString)

    def refreshFacts(maude: Path, outDir: String, ckptDir: String, req: Long): Unit =
      c.trace("streaming.fact_batch", req) {
        Streams.incrementalPipeline(MaudeIngest.stream(spark, maude.toString), mfr, outDir)
          .option("checkpointLocation", ckptDir).start().awaitTermination()
      }
    def upsertIndex(docsPath: Path, batchId: Long, outDir: String, req: Long): Unit =
      c.trace("streaming.index_batch", req) {
        Streams.searchIndexBatch(docs(docsPath), batchId, "doc_id", "text", "embedding",
          centroids, outDir)
      }
    val queries = {
      val r = Gen.seeded(c.seed, 13L)
      IndexedSeq.fill(500)((Gen.narrativeTerms(r), Gen.vector(r)))
    }
    var searches = 0
    var shortResults = 0
    def search(outDir: String, req: Long): Double = {
      val (terms, vec) = queries(searches % queries.size)
      searches += 1
      val (n, s) = timed(c.trace("operators.search_call", req) {
        val idx = c.trace("streaming.read_index", req) {
          Streams.readSearchIndex(spark, outDir, centroids, "doc_id", "embedding")
        }
        HybridSearch.similarCasesIndexed(idx, terms, vec, k = 20, candidates = 100).collect().length
      })
      if (n != 20) shortResults += 1
      s
    }

    // warm-up: the same calls over one backlog file, in throwaway dirs
    val (_, warmS) = timed {
      val wm = root.resolve("warm/maude")
      Files.createDirectories(wm)
      Files.copy(landing.resolve("maude").resolve(name(0)), wm.resolve(name(0)))
      val wIdx = root.resolve("warm/index").toString
      refreshFacts(wm, root.resolve("warm/out").toString, root.resolve("warm/ckpt").toString, 0L)
      upsertIndex(landing.resolve("docs").resolve(name(0)), 0L, wIdx, 0L)
      (0 until 2).foreach(_ => search(wIdx, 0L))
    }
    searches = 0

    // catch-up over the backlog
    val (_, catchupS) = timed {
      refreshFacts(landing.resolve("maude"), out, ckpt, 0L)
      upsertIndex(landing.resolve("docs"), 0L, idxOut, 0L)
    }
    val backlogRows = backlog.map(_.ids.size).sum

    // live phase: each landing is refreshed and upserted, then one search
    // runs against the index before the next file lands (none after the
    // last). Freshness runs from the moment a landing's files are in place.
    val searchMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val fresh = live.indices.map { j =>
      val n = backlog.size + j
      val landed = System.nanoTime()
      land(staged, landing, n)
      refreshFacts(landing.resolve("maude"), out, ckpt, j + 1L)
      upsertIndex(landing.resolve("docs").resolve(name(n)), j + 1L, idxOut, j + 1L)
      val freshness = (System.nanoTime() - landed) / 1e6
      if (j < live.size - 1) searchMs += search(idxOut, j + 1L) * 1000
      freshness
    }
    val heapMb = Main.liveHeapMb(spark)

    // ---- output checks ----
    val landedKeys = all.flatMap(_.ids).distinct.size.toLong
    val landedLines = all.map(_.ids.size).sum.toLong
    val planted = landedLines - landedKeys
    val fr = spark.read.parquet(s"$out/fact_adverse_events_stream")
      .agg(count(lit(1)), countDistinct(col("mdr_report_key"))).head()
    val (factRows, factKeys) = (fr.getLong(0), fr.getLong(1))
    val indexDocs = spark.read.parquet(s"$idxOut/dl").count()
    val landedDocs = all.map(_.fresh.toLong).sum
    val dropped = landedLines - factRows
    val checks = Seq(
      Check("facts_exactly_once", factRows == factKeys && factKeys == landedKeys,
        s"fact_rows=$factRows distinct_keys=$factKeys landed_keys=$landedKeys"),
      Check("index_docs_equal_landed", indexDocs == landedDocs,
        s"index_docs=$indexDocs landed_docs=$landedDocs"),
      Check("redeliveries_dropped", dropped == planted, s"dropped=$dropped planted=$planted"),
      Check("searches_return_k", shortResults == 0, s"searches returning fewer than 20: $shortResults"))

    def batchDirs(dir: String): Int =
      Option(new java.io.File(dir).listFiles()).map(_.count(_.getName.startsWith("batch_id="))).getOrElse(0)
    val dirs = Seq("tf", "dl", "assigned").map(t => batchDirs(s"$idxOut/$t")).sum +
      batchDirs(s"$out/fact_adverse_events_stream")
    val storedBytes = Main.treeSize(java.nio.file.Paths.get(out))._1 +
      Main.treeSize(java.nio.file.Paths.get(idxOut))._1
    val landedBytes = Main.treeSize(landing)._1

    val layer = if (!c.trace.on) Map.empty[String, Double] else {
      val liveSpans = c.trace.spans.filter(_.req > 0)
      def med(span: String) = medianOf(liveSpans.filter(_.name == span).map(_.seconds * 1000))
      // the BM25 leg alone, and the postings it reads per result returned
      val idx = Streams.readSearchIndex(spark, idxOut, centroids, "doc_id", "embedding")
      val sample = queries.take(5).map(_._1.split(" ").toSeq)
      val bm25 = sample.map { terms =>
        timed(c.trace("operators.bm25") {
          Bm25.scoreIndexed(idx.bm25, terms).write.format("noop").mode("overwrite").save()
        })._2 * 1000
      }
      val examined = sample.map { terms =>
        idx.bm25.docFreq.filter(col("term").isin(terms.distinct: _*))
          .agg(coalesce(sum(col("df")), lit(0L))).head().getLong(0).toDouble
      }
      Map(
        "streaming.fact_batch_ms" -> med("streaming.fact_batch"),
        "streaming.index_batch_ms" -> med("streaming.index_batch"),
        "streaming.read_index_ms" -> med("streaming.read_index"),
        "streaming.batch_dirs" -> dirs.toDouble,
        "streaming.dedup_dropped" -> dropped.toDouble,
        "operators.search_call_ms" -> med("operators.search_call"),
        "operators.bm25_ms" -> medianOf(bm25),
        "operators.postings_rows_per_result" -> medianOf(examined) / 20)
    }

    val (tailMs, tailPct) = tail(fresh)
    Outcome(
      prepSeconds = prep, warmSeconds = warmS,
      opP50Ms = medianOf(fresh), throughput = backlogRows / catchupS, heapMb = heapMb,
      storedBytesRatio = storedBytes.toDouble / landedBytes,
      attempted = 1L + live.size + searchMs.size, failedOps = shortResults.toLong, checks = checks,
      detail = Seq(
        ("catchup_rows_per_s", backlogRows / catchupS, "1/s"),
        ("catchup_s", catchupS, "s"),
        ("catchup_rows", backlogRows.toDouble, "count"),
        ("freshness_p50_ms", medianOf(fresh), "ms"),
        ("freshness_tail_ms", tailMs, "ms"),
        ("freshness_tail_percentile", tailPct, "%"),
        ("freshness_samples", fresh.size.toDouble, "count"),
        ("freshness_min_ms", fresh.min, "ms"),
        ("freshness_max_ms", fresh.max, "ms"),
        ("live_search_p50_ms", medianOf(searchMs.toSeq), "ms"),
        ("live_searches", searchMs.size.toDouble, "count"),
        ("batch_dirs", dirs.toDouble, "count"),
        ("stored_bytes", storedBytes.toDouble, "bytes"),
        ("landed_bytes", landedBytes.toDouble, "bytes"),
        ("dedup_dropped", dropped.toDouble, "count")),
      layer = Main.layerDefaults ++ layer)
  }

  /** Land staged landing `n`: documents first, then the MAUDE file, each
    * by an atomic rename so no reader sees a partial file. */
  private def land(staged: Path, landing: Path, n: Int): Unit =
    Seq("docs", "maude").foreach { kind =>
      Files.createDirectories(landing.resolve(kind))
      Files.move(staged.resolve(kind).resolve(name(n)), landing.resolve(kind).resolve(name(n)),
        StandardCopyOption.ATOMIC_MOVE)
    }
}
