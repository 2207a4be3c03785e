package graft.streaming

import graft.SparkSpec
import graft.models.MaudeFixture
import graft.operators.{Bm25, HybridSearch}
import graft.sources.MaudeIngest
import java.nio.file.Files
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  /** One AvailableNow run of [[Streams.incrementalPipeline]] over the
    * fixture landing under `base`; asserts the landing was ONE micro-batch
    * (a stateless stream runs no watermark no-data batch). */
  private def pipelineRun(base: java.nio.file.Path, landing: String,
                          seed: String): Unit = {
    val q = Streams.incrementalPipeline(MaudeIngest.stream(spark, landing),
        MaudeIngest.manufacturerSeed(spark, seed), base.resolve("marts").toString)
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length === 1)
  }

  private def factBatchDirs(base: java.nio.file.Path): Seq[String] =
    new java.io.File(base.resolve("marts/fact_adverse_events_stream").toString)
      .listFiles().filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(_.getName).sorted.toSeq

  private def landFile(landing: String, name: String, lines: String*): Unit = {
    Files.writeString(java.nio.file.Paths.get(landing, name), lines.mkString("\n"))
    ()
  }

  test("incremental pipeline: streamed landing files land in the fact sink") {
    val base = Files.createTempDirectory("maude_stream")
    val (landing, seed) = MaudeFixture.write(base)
    val out = base.resolve("marts").toString
    def fact = spark.read.parquet(s"$out/fact_adverse_events_stream")

    pipelineRun(base, landing, seed)
    assert(fact.count() === 6)
    assert(factBatchDirs(base).length === 1)

    // a late-arriving file is picked up incrementally, not reprocessed
    landFile(landing, "maude_part1.json",
      """{"mdr_report_key":"2001","report_number":"RN-7","date_received":"20210101","event_type":"INJURY","mdr_text":[{"text":"late leak"}]}""")
    pipelineRun(base, landing, seed)
    assert(fact.count() === 7)
    assert(factBatchDirs(base).length === 2)
    assert(fact.filter(col("mdr_report_key") === "2001")
      .collect().head.getAs[String]("failure_mode") === "LEAK")

    // the generic batch-dir compactor folds both micro-batch partitions
    // into one; rows and the uniqueness contract survive
    Streams.compactBatchPartitions(spark, s"$out/fact_adverse_events_stream")
    assert(factBatchDirs(base) === Seq("batch_id=1"))
    assert(fact.count() === 7)
    assert(fact.groupBy(col("mdr_report_key")).count()
      .filter(col("count") > 1).isEmpty)

    // the compacted partition is still the seen set: re-delivering a key
    // that now lives only in it adds no row
    landFile(landing, "maude_part2.json",
      """{"mdr_report_key":"1001","report_number":"RN-1","date_received":"20200115","event_type":"INJURY","mdr_text":[{"text":"resent after compaction"}]}""")
    pipelineRun(base, landing, seed)
    assert(factBatchDirs(base) === Seq("batch_id=1", "batch_id=2"))
    assert(fact.count() === 7)
    assert(fact.filter(col("mdr_report_key") === "1001").count() === 1)
  }

  test("incremental pipeline drops cross-file re-deliveries of the same report key") {
    val base = Files.createTempDirectory("maude_dedup")
    val (landing, seed) = MaudeFixture.write(base)
    val out = base.resolve("marts").toString
    def fact = spark.read.parquet(s"$out/fact_adverse_events_stream")
    // one file carrying the same key twice, and a keyless record
    landFile(landing, "maude_dup.json",
      """{"mdr_report_key":"3001","report_number":"RN-8","date_received":"20210201","event_type":"INJURY","mdr_text":[{"text":"first copy"}]}""",
      """{"mdr_report_key":"3001","report_number":"RN-8","date_received":"20210201","event_type":"INJURY","mdr_text":[{"text":"second copy"}]}""",
      """{"report_number":"RN-9","date_received":"20210202","event_type":"INJURY","mdr_text":[{"text":"no key"}]}""")
    pipelineRun(base, landing, seed)
    val n0 = fact.count()
    assert(n0 === 8)
    assert(fact.filter(col("mdr_report_key") === "3001").count() === 1)
    assert(factBatchDirs(base).length === 1)

    // the same report key re-delivered in a later landing file must NOT
    // produce a second fact row (fact_event_id_unique contract), and a
    // second keyless record collapses onto the first (null-safe match)
    landFile(landing, "maude_redelivery.json",
      """{"mdr_report_key":"1001","report_number":"RN-1","date_received":"20210101","event_type":"INJURY","mdr_text":[{"text":"resent record"}]}""",
      """{"report_number":"RN-10","date_received":"20210303","event_type":"INJURY","mdr_text":[{"text":"no key again"}]}""")
    pipelineRun(base, landing, seed)
    assert(factBatchDirs(base).length === 2)
    assert(fact.count() === n0)
    assert(fact.filter(col("mdr_report_key").isNull).count() === 1)
    assert(fact.groupBy(col("event_id")).count().filter(col("count") > 1).isEmpty)
  }

  test("incremental pipeline: a batch replayed after a lost commit keeps its own rows") {
    val base = Files.createTempDirectory("maude_replay")
    val (landing, seed) = MaudeFixture.write(base)
    val out = base.resolve("marts").toString
    def fact = spark.read.parquet(s"$out/fact_adverse_events_stream")
    pipelineRun(base, landing, seed)
    landFile(landing, "maude_part1.json",
      """{"mdr_report_key":"2001","report_number":"RN-7","date_received":"20210101","event_type":"INJURY","mdr_text":[{"text":"late leak"}]}""",
      """{"mdr_report_key":"1002","report_number":"RN-2","date_received":"20200215","event_type":"malfunction"}""")
    pipelineRun(base, landing, seed)
    assert(fact.count() === 7)

    // crash after batch 1 wrote its partition, before its commit: the
    // restart replays batch 1 against the committed batch 0 only
    val commits = base.resolve("ckpt/commits")
    val last = Files.list(commits).iterator().asScala
      .map(_.getFileName.toString).filter(_.forall(_.isDigit)).maxBy(_.toLong)
    assert(last === "1")
    Files.delete(commits.resolve(last))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    pipelineRun(base, landing, seed)
    assert(Files.exists(commits.resolve(last)))
    assert(fact.count() === 7)
    assert(spark.read.parquet(s"$out/fact_adverse_events_stream/batch_id=1")
      .select("mdr_report_key").collect().map(_.getString(0)).toSeq === Seq("2001"))
    assert(fact.groupBy(col("mdr_report_key")).count()
      .filter(col("count") > 1).isEmpty)
  }

  test("incremental pipeline: warm landings reuse the classes compiled for earlier ones") {
    val base = Files.createTempDirectory("maude_compiles")
    val (landing, seed) = MaudeFixture.write(base)
    // batch 0 has no seen set; batch 1 plans the seen-set join first
    pipelineRun(base, landing, seed)
    val compiled = (1 to 5).map { n =>
      landFile(landing, s"maude_warm$n.json",
        s"""{"mdr_report_key":"${5000 + n}","report_number":"RN-W$n","date_received":"20210101","event_type":"INJURY","mdr_text":[{"text":"warm leak $n"}]}""")
      compiles(pipelineRun(base, landing, seed))
    }
    // from the 3rd landing on, only the source projection, which inlines
    // the batch's load_ts literal, is new (see the incrementalPipeline
    // scaladoc)
    assert(compiled.drop(1).forall(_ <= 2), s"classes compiled per landing: $compiled")
  }

  test("incremental search index: new docs become searchable without a rebuild") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Files.createTempDirectory("inc_index").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Array[Double])]
    val docStream = input.toDS().toDF("doc_id", "text", "embedding")
    val centroids = Seq(
      (0L, "c", Array(1.0, 0.0)), (1L, "c", Array(0.0, 1.0))
    ).toDF("doc_id", "text", "embedding").select(col("doc_id"), col("embedding"))

    val q = Streams.incrementalSearchIndex(docStream, "doc_id", "text", "embedding",
        centroids, base)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try {
      input.addData((10L, "pump leak detected", Array(1.0, 0.1)),
        (11L, "battery depleted early", Array(0.1, 1.0)))
      q.processAllAvailable()
      val idx1 = Streams.readSearchIndex(spark, base, centroids, "doc_id", "embedding")
      val hits1 = Bm25.scoreIndexed(idx1.bm25, Seq("leak"))
        .collect().map(_.getLong(0)).toSet
      assert(hits1 === Set(10L))

      // a late-landing doc is indexed by its own micro-batch only —
      // postings/assignments for docs 10/11 are not recomputed
      input.addData((12L, "valve leak observed twice leak", Array(0.9, 0.2)))
      q.processAllAvailable()
      val idx2 = Streams.readSearchIndex(spark, base, centroids, "doc_id", "embedding")
      val hits2 = Bm25.scoreIndexed(idx2.bm25, Seq("leak"))
        .collect().map(_.getLong(0)).toSet
      assert(hits2 === Set(10L, 12L))
      val top = HybridSearch.similarCasesIndexed(idx2, "valve leak", Seq(1.0, 0.0),
        k = 2, nProbe = 1).collect().map(_.getAs[Long]("doc"))
      assert(top.contains(12L))
      // assignment table covers exactly the landed docs
      assert(idx2.assigned.select("doc").collect().map(_.getLong(0)).toSet ===
        Set(10L, 11L, 12L))

      // ---- read-after-compaction equivalence ----
      def snapshot(idx: HybridSearch.SearchIndex) = (
        idx.bm25.postings.collect().map(_.toSeq).toSet,
        idx.assigned.collect().map(_.toSeq).toSet,
        HybridSearch.similarCasesIndexed(idx, "valve leak", Seq(1.0, 0.0),
          k = 2, nProbe = 1).collect().map(_.toSeq).toSeq)
      val before = snapshot(idx2)
      Streams.compactSearchIndex(spark, base, filesPerTable = 2)
      // two micro-batch dirs collapsed into one per table
      for (t <- Seq("tf", "dl", "assigned")) {
        val dirs = new java.io.File(s"$base/$t").listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
        assert(dirs.length === 1, s"$t should hold exactly one compacted partition")
      }
      val idx3 = Streams.readSearchIndex(spark, base, centroids, "doc_id", "embedding")
      assert(snapshot(idx3) === before)

      // the live stream keeps appending after compaction (checkpointed
      // batch ids never collide with the compacted partition)
      input.addData((13L, "pump leak recurrence", Array(0.8, 0.3)))
      q.processAllAvailable()
      val idx4 = Streams.readSearchIndex(spark, base, centroids, "doc_id", "embedding")
      assert(Bm25.scoreIndexed(idx4.bm25, Seq("leak"))
        .collect().map(_.getLong(0)).toSet === Set(10L, 12L, 13L))

      // ---- bucketed publication: same answers, shuffle-free assemble join ----
      Streams.publishSearchIndex(spark, base, "idx_spec", buckets = 4)
      val pub = Streams.readPublishedIndex(spark, "idx_spec", centroids,
        "doc_id", "embedding")
      assert(Bm25.scoreIndexed(pub.bm25, Seq("leak"))
        .collect().map(_.getLong(0)).toSet === Set(10L, 12L, 13L))
      assert(pub.assigned.select("doc").collect().map(_.getLong(0)).toSet ===
        Set(10L, 11L, 12L, 13L))
      val savedBt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val joinPlan = spark.table("idx_spec_tf").join(spark.table("idx_spec_dl"), "doc")
          .queryExecution.executedPlan.toString
        assert(!joinPlan.contains("Exchange hashpartitioning"),
          s"bucketed tf-dl join must not shuffle, got:\n$joinPlan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBt)
    } finally q.stop()
  }

  test("incremental index: in-line compaction bounds partitions, answers unchanged") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Files.createTempDirectory("inc_autocompact").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Array[Double])]
    val docStream = input.toDS().toDF("doc_id", "text", "embedding")
    val centroids = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0))
    ).toDF("doc_id", "embedding")

    val q = Streams.incrementalSearchIndex(docStream, "doc_id", "text", "embedding",
        centroids, base, compactEvery = 2)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try {
      // 4 micro-batches -> the hook fires inside batches 1 and 3, folding
      // only COMMITTED ids (strictly below the running batch): batch 1's
      // fold is a no-op (one committed partition), batch 3 folds 0-2 into
      // batch_id=2. The running batch never joins the fold — its replay
      // overwrites batch_id=3, which must not be the compacted directory.
      for (i <- 0L until 4L) {
        input.addData((i, s"leak event number $i", Array(1.0 - i * 0.1, i * 0.1)))
        q.processAllAvailable()
      }
      for (t <- Seq("tf", "dl", "assigned")) {
        val dirs = new java.io.File(s"$base/$t").listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
          .map(_.getName).sorted
        assert(dirs.toSeq === Seq("batch_id=2", "batch_id=3"),
          s"$t should hold the compacted committed prefix plus the live batch, got ${dirs.mkString(",")}")
      }
      val idx = Streams.readSearchIndex(spark, base, centroids, "doc_id", "embedding")
      assert(Bm25.scoreIndexed(idx.bm25, Seq("leak"))
        .collect().map(_.getLong(0)).toSet === Set(0L, 1L, 2L, 3L))
      assert(idx.assigned.count() === 4)
    } finally q.stop()
  }

  test("incremental vector index: new vectors queryable, laid out by list id") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Files.createTempDirectory("inc_vec").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Double])]
    val vecStream = input.toDS().toDF("vec_id", "embedding")
    import graft.operators.Pq
    val dim = 8
    val cb = Pq.shaCodebook(m = 2, k = 4, subDim = 4)
    // two orthogonal lists
    val matrix = Seq(
      Seq(1.0, 0, 0, 0, 0, 0, 0, 0), Seq(0, 1.0, 0, 0, 0, 0, 0, 0))
    def v(axis: Int, seed: Int): Array[Double] =
      Array.tabulate(dim)(d => (if (d == axis) 2.0 else 0.0) + 0.01 * ((seed + d) % 3))

    val q = Streams.incrementalVectorIndex(vecStream, "vec_id", "embedding",
        matrix, cb, s"$base/idx")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try {
      input.addData((1L, v(0, 1)), (2L, v(1, 2)))
      q.processAllAvailable()
      input.addData((3L, v(0, 3)))
      q.processAllAvailable()
      val idx = Streams.readVectorIndex(spark, s"$base/idx")
      // all three vectors landed, codes match the batch encoder bit-for-bit
      val expect = Pq.encodePacked(
        Seq((1L, v(0, 1)), (2L, v(1, 2)), (3L, v(0, 3)))
          .toDF("vec_id", "embedding"), "vec_id", "embedding", cb)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      // the partition column (cid) moves to the end on read-back: name-based access
      val got = idx.select("vec_id", "codes").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(got === expect)
      // probe-time pruning: a query along axis 0 with nProbe=1 sees only list 0
      val pruned = Pq.ivfPqQuery(idx, matrix, "vec_id", cb,
        Seq(1.0, 0, 0, 0, 0, 0, 0, 0), k = 10, nProbe = 1)
      assert(pruned.collect().map(_.getLong(0)).toSet === Set(1L, 3L))
      // and the list filter prunes FILES, not rows: it lands in the
      // scan's PartitionFilters (the whole point of the cid= layout)
      val scan = pruned.queryExecution.executedPlan.toString
      val pf = scan.linesIterator.find(_.contains("PartitionFilters"))
      assert(pf.exists(_.contains("cid")),
        s"cid probe must be a partition filter:\n$scan")
      // physical layout: each batch dir is partitioned by list id
      val cidDirs = new java.io.File(s"$base/idx/batch_id=0").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cid="))
      assert(cidDirs.nonEmpty, "index must be laid out by cid for file pruning")

      // ---- read-after-compaction equivalence, cid layout preserved ----
      def snapshot() = Streams.readVectorIndex(spark, s"$base/idx")
        .select("vec_id", "cid", "codes").collect().map(_.toSeq).toSet
      val before = snapshot()
      Streams.compactVectorIndex(spark, s"$base/idx")
      val batchDirs = new java.io.File(s"$base/idx").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      assert(batchDirs.length === 1, "batch dirs must fold into one")
      assert(batchDirs.head.listFiles().exists(f =>
        f.isDirectory && f.getName.startsWith("cid=")),
        "compaction must preserve the cid= sublayout")
      assert(snapshot() === before)
    } finally q.stop()
  }

  test("compaction recovery: commit marker decides roll-back vs roll-forward") {
    val base = Files.createTempDirectory("reco").toString
    val t = s"$base/tbl"
    // committed batch 2 on disk
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$t/batch_id=2")
    // pre-commit crash: tmp written but NO marker — every source is
    // intact, so the (bogus) tmp content must be rolled BACK
    Seq((9L, "junk")).toDF("id", "v").write.parquet(s"$base/.compact_tmp_tbl_b2")
    // mid-delete crash of an earlier fold (dest id 1): the marker exists,
    // the tmp holds the COMPLETE fold of sources {0, 1}, source
    // batch_id=0 was already deleted, and batch_id=1 — the dest id
    // itself — still lingers. The old dest-exists heuristic would have
    // dropped this tmp and permanently lost batch 0's rows; the marker
    // rolls it FORWARD: delete the remnant, install the tmp.
    Seq((0L, "z"), (5L, "w")).toDF("id", "v")
      .write.parquet(s"$base/.compact_tmp_tbl_b1")
    Seq((5L, "w")).toDF("id", "v").write.parquet(s"$t/batch_id=1")
    assert(new java.io.File(s"$base/.compact_commit_tbl_b1").createNewFile())
    // post-rename crash of an even earlier fold: marker only — swept
    assert(new java.io.File(s"$base/.compact_commit_tbl_b0").createNewFile())
    // PRE-MARKER-ERA leftover (old delete-then-rename code crashed after
    // its deletes): tmp with NO marker and dest batch_id=4 GONE — the
    // upgrade path must complete the old swap, not destroy the only copy
    Seq((7L, "old")).toDF("id", "v").write.parquet(s"$base/.compact_tmp_tbl_b4")
    Streams.compactBatchPartitions(spark, t)
    val rows = spark.read.parquet(t).drop("batch_id")
      .collect().map(_.toSeq).toSet
    assert(rows === Set(Seq(0L, "z"), Seq(5L, "w"), Seq(1L, "a"), Seq(7L, "old")),
      "rolled-forward + legacy rows recovered exactly once, rolled-back junk gone")
    val dirs = new java.io.File(t).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(dirs.length === 1, "recovered batch re-folds with the committed one")
    assert(!new java.io.File(base).listFiles()
      .exists(f => f.getName.startsWith(".compact_tmp") ||
        f.getName.startsWith(".compact_commit")),
      "no stranded tmp or marker remains")
  }

  test("streaming CMS deltas: live read equals the batch sketch; compaction pre-sums") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Files.createTempDirectory("inc_cms").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val q = Streams.incrementalCmsCounters(input.toDS().toDF("tok"),
        col("tok"), s"$base/cms", d = 4, w = 16, compactEvery = 2)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try {
      val b0 = Seq("a", "b", "a", "c"); val b1 = Seq("b", "b", "d")
      val b2 = Seq("a", "e", "e", "e"); val b3 = Seq("c", "a")
      Seq(b0, b1, b2, b3).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
      def counters(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      // linearity: summed deltas == one sketch over the whole stream
      val live = counters(Streams.readCmsCounters(spark, s"$base/cms"))
      val whole = counters(graft.operators.Sketch.cmsCounters(
        (b0 ++ b1 ++ b2 ++ b3).toDF("tok"), col("tok"), d = 4, w = 16))
      assert(live === whole)
      // the fold at batch 3 pre-summed committed batches 0-2 into one dir
      // (dest = max committed id); batch 3's own delta then landed beside
      // it — exactly two batch dirs remain
      val dirs = new java.io.File(s"$base/cms").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
        .map(_.getName).sorted
      assert(dirs.toSeq === Seq("batch_id=2", "batch_id=3"), dirs.mkString(","))
      // estimates over the live counters are sane (CMS never undercounts)
      val est = graft.operators.Sketch.cmsEstimate(
          Streams.readCmsCounters(spark, s"$base/cms"),
          Seq("a", "b", "e", "zz").toDF("k"), col("k"), d = 4, w = 16)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est("a") >= 3L && est("b") >= 3L && est("e") >= 3L)
    } finally q.stop()
  }

  test("streaming HLL deltas: live read equals the one-pass estimate; max-merge is idempotent") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Files.createTempDirectory("inc_hll").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val lane = graft.operators.Sketch.shaLane(col("tok"))
    val q = Streams.incrementalDistinct(input.toDS().toDF("tok"),
        lane, s"$base/hll", p = 6, compactEvery = 2)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try {
      val b0 = (0 until 300).map(i => s"t$i")
      val b1 = (200 until 500).map(i => s"t$i") // overlaps b0
      val b2 = b0                               // full re-ingestion of b0
      val b3 = (500 until 600).map(i => s"t$i")
      Seq(b0, b1, b2, b3).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
      val live = Streams.readDistinct(spark, s"$base/hll", p = 6)
        .head().getDouble(0)
      // register max-merge == one HLL pass over everything ingested:
      // identical registers, hence an exactly identical estimate
      val whole = graft.operators.Sketch.hllDistinct(
          (b0 ++ b1 ++ b2 ++ b3).toDF("tok"), Nil, lane, p = 6)
        .head().getDouble(0)
      assert(live === whole)
      // idempotence: b2 re-ingested b0 verbatim, so dropping it from the
      // union changes nothing — re-observation cannot inflate the count
      val withoutReplay = graft.operators.Sketch.hllDistinct(
          (b0 ++ b1 ++ b3).toDF("tok"), Nil, lane, p = 6)
        .head().getDouble(0)
      assert(live === withoutReplay)
      // the fold at batch 3 pre-maxed committed batches 0-2 into one dir
      val dirs = new java.io.File(s"$base/hll").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
        .map(_.getName).sorted
      assert(dirs.toSeq === Seq("batch_id=2", "batch_id=3"), dirs.mkString(","))
      // and the estimate is in the right neighborhood (600 true distinct,
      // m=64 -> RSE ~13%)
      assert(math.abs(live - 600.0) / 600.0 < 0.5, s"estimate $live")
    } finally q.stop()
  }

  test("streaming heavy hitters: live merge keeps the whole-stream MG bound") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Files.createTempDirectory("inc_mg").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val k = 6
    val q = Streams.incrementalHeavyHitters(input.toDS().toDF("tok"),
        col("tok"), s"$base/mg", k = k, compactEvery = 2)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try {
      // 'whale' dominates across batches; chaff rotates so no single
      // batch summary alone proves the global answer
      val batches = Seq(
        Seq("whale", "a1", "a2", "whale", "a3", "whale"),
        Seq("b1", "whale", "b2", "b3", "whale", "b4"),
        Seq("whale", "c1", "c2", "c3", "whale", "c4"),
        Seq("whale", "d1", "whale", "d2", "d3", "whale"))
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      val all = batches.flatten
      val truth = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = all.size
      val live = Streams.readHeavyHitters(spark, s"$base/mg", k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(live.size <= k)
      // no false negative above the whole-stream threshold...
      truth.filter { case (_, c) => c * (k + 1) > n }.keys.foreach { hh =>
        assert(live.contains(hh), s"heavy '$hh' missing from $live") }
      // ...and weights are lower bounds within the merged deficit
      live.foreach { case (item, w) =>
        assert(w <= truth(item), s"$item weight $w above truth")
        assert(w >= truth(item) - n / (k + 1), s"$item deficit too large") }
      // the fold at batch 3 pre-summed batches 0-2 into one dir
      val dirs = new java.io.File(s"$base/mg").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
        .map(_.getName).sorted
      assert(dirs.toSeq === Seq("batch_id=2", "batch_id=3"), dirs.mkString(","))
    } finally q.stop()
  }

  test("streaming dedup admission: index grows by admitted docs only") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Files.createTempDirectory("inc_admit").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = Streams.incrementalDedupAdmit(input.toDS().toDF("doc_id", "text"),
        "doc_id", "text", s"$base/index", s"$base/decisions", threshold = 0.5)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try {
      // batch 0: two fresh docs + an in-batch exact dup
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2L, "data pipelines shuffle partitions across executors during wide transformations"),
        (3L, "the quick brown fox jumps over the lazy dog near the river bank"))
      q.processAllAvailable()
      // batch 1: a dup of an indexed doc, an appended-token near-dup
      // (high Jaccard, so banding collides for sure), and fresh content
      input.addData(
        (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (11L, "data pipelines shuffle partitions across executors during wide transformations today"),
        (12L, "astronomy telescopes observe distant galaxies through adaptive optics tonight"))
      q.processAllAvailable()

      val decisions = spark.read.parquet(s"$base/decisions")
        .collect().map(r => r.getLong(0) ->
          (Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(3))).toMap
      assert(decisions(1L) === (None, true))
      assert(decisions(2L) === (None, true))
      assert(decisions(3L) === (Some(1L), false))   // in-batch dup
      assert(decisions(10L) === (Some(1L), false))  // dup of indexed doc
      assert(decisions(11L) === (Some(2L), false))  // near-dup of indexed doc
      assert(decisions(12L) === (None, true))
      // the index holds band buckets for admitted docs ONLY
      assert(spark.read.parquet(s"$base/index").select("doc").distinct()
        .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 12L))
    } finally q.stop()
  }

  test("compaction survives a checkpoint replay of the in-flight batch") {
    // The failure mode the belowId contract exists for: foreachBatch(N)
    // returns (having compacted), the process dies BEFORE the checkpoint
    // commit, and batch N replays — re-running its mode("overwrite") write
    // to batch_id=N. If N had been folded into the compacted directory,
    // that overwrite would silently destroy every earlier batch's rows.
    val base = Files.createTempDirectory("compact_replay").toString
    def writeBatch(id: Long, rows: Seq[Long]): Unit =
      rows.toDF("v").write.mode("overwrite").parquet(s"$base/t/batch_id=$id")
    writeBatch(0, Seq(0L, 1L))
    writeBatch(1, Seq(2L))
    writeBatch(2, Seq(3L))

    // in-line compaction during batch 2: fold only ids < 2
    Streams.compactBatchPartitions(spark, s"$base/t", belowId = 2)
    val dirs = new java.io.File(s"$base/t").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(_.getName).sorted
    assert(dirs.toSeq === Seq("batch_id=1", "batch_id=2"))

    // crash-before-commit: batch 2 replays and overwrites ITS OWN partition
    writeBatch(2, Seq(3L))
    assert(spark.read.parquet(s"$base/t").select("v")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L, 3L))
  }

  test("incremental SCD-1 state: bucket-partial rewrites equal the batch merge") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Files.createTempDirectory("scd1_state").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long, Long, String)]
    val stream = input.toDS().toDF("k", "state", "seq", "id", "op")
    val dir = s"$base/state"
    val q = Streams.incrementalScd1(stream, Seq("k"), Seq("seq", "id"),
        dir, nBuckets = 8)
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      val b1 = Seq((1L, "a", 1L, 1L, "U"), (2L, "x", 1L, 2L, "U"),
        (3L, "m", 1L, 3L, "U"))
      input.addData(b1: _*); q.processAllAvailable()
      assert(Streams.readScd1State(spark, dir, "op", "D").select("k", "state")
        .as[(Long, String)].collect().toMap ===
        Map(1L -> "a", 2L -> "x", 3L -> "m"))

      // batch 2 updates k=1, tombstones k=2, never mentions k=3
      val b2 = Seq((1L, "b", 2L, 4L, "U"), (2L, "x", 2L, 5L, "D"))
      input.addData(b2: _*); q.processAllAvailable()
      val live = Streams.readScd1State(spark, dir, "op", "D")
      assert(live.select("k", "state").as[(Long, String)].collect().toMap ===
        Map(1L -> "b", 3L -> "m"))
      // the tombstone is RETAINED in raw storage (it must order against
      // late-arriving older updates), only filtered from the served state
      assert(Streams.readScd1Raw(spark, dir).filter(col("k") === 2L)
        .select("op").as[String].collect().toSeq === Seq("D"))

      // state == one-shot Cdc.merge of the whole log (schema included)
      val log = (b1 ++ b2).toDF("k", "state", "seq", "id", "op")
      val oneShot = graft.operators.Cdc.merge(log, Seq("k"),
        Seq(col("seq").desc, col("id").desc), "op", "D")
      assert(live.drop("bucket").exceptAll(oneShot).isEmpty &&
        oneShot.exceptAll(live.drop("bucket")).isEmpty)

      // bucket-partial: a bucket batch 2 never touched is still served
      // from batch 1's version dir (only touched buckets rewrote)
      val bucketOf = Seq(1L, 2L, 3L).map(k => k ->
        Seq(k).toDF("k").select(pmod(xxhash64(col("k")), lit(8L)))
          .head().getLong(0)).toMap
      if (!Set(bucketOf(1L), bucketOf(2L)).contains(bucketOf(3L)))
        assert(new java.io.File(s"$dir/v=0/bucket=${bucketOf(3L)}").isDirectory,
          "untouched bucket must remain in its original version dir")

      // batch 3: re-touch k=1 (retires superseded versions) and send a
      // LATE, OLDER update for deleted k=2 — the retained tombstone must
      // win the merge, not resurrect the key
      input.addData((1L, "c", 3L, 6L, "U"), (2L, "late", 1L, 7L, "U"))
      q.processAllAvailable()
      val vDirs = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("v="))
        .flatMap(vd => vd.listFiles()
          .filter(b => b.isDirectory && b.getName == s"bucket=${bucketOf(1L)}"))
      assert(vDirs.length <= 2,
        s"bucket of k=1 holds ${vDirs.length} versions")
      assert(Streams.readScd1State(spark, dir, "op", "D").select("k", "state")
        .as[(Long, String)].collect().toMap ===
        Map(1L -> "c", 3L -> "m"))
    } finally q.stop()
  }

  test("bucket-restricted state read: only requested buckets, None before state exists") {
    val dir = s"${Files.createTempDirectory("scd1_buckets")}/state"
    // no state yet: the pre-image of a first batch is None, not a throw
    assert(Streams.readScd1RawBuckets(spark, dir, Set(0L, 1L)).isEmpty)
    val rows = (0 until 40).map(i => (i.toLong, s"s$i", 1L))
      .toDF("k", "state", "seq")
    Streams.scd1MergeBatch(rows, 0L, Seq("k"), Seq("seq"), dir, nBuckets = 8)
    val bucketOf = (0 until 40).map { k =>
      k.toLong -> Seq(k.toLong).toDF("k")
        .select(pmod(xxhash64(col("k")), lit(8L))).head().getLong(0)
    }.toMap
    val want = Set(0L, 3L)
    val got = Streams.readScd1RawBuckets(spark, dir, want).get
      .select("k").as[Long].collect().toSet
    assert(got === bucketOf.collect { case (k, b) if want(b) => k }.toSet,
      "exactly the requested buckets' keys")
    // buckets that do not exist resolve to None rather than a read error
    assert(Streams.readScd1RawBuckets(spark, dir, Set(99L)).isEmpty)
    // agreement with the full read restricted the expensive way (the
    // dir-addressed read carries no bucket column; re-derive it)
    val full = Streams.readScd1Raw(spark, dir)
      .filter(pmod(xxhash64(col("k")), lit(8L)).isin(want.toSeq: _*))
      .select("k").as[Long].collect().toSet
    assert(got === full)
  }

  test("merge with caller-supplied bucket set == merge that derives it (r17 dedup of the collect)") {
    // r17: q146 already collects the delta's bucket set for its image
    // reads, so the merge accepts it and skips its own distinct+collect
    // (and the now-single-consumer delta cache). The two paths must
    // produce the SAME state — including when the supplied set is
    // derived exactly the way the merge would derive it.
    val rowsB0 = (0 until 40).map(i => (i.toLong, s"s$i", 1L))
      .toDF("k", "state", "seq")
    val rowsB1 = Seq((3L, "upd", 9L), (77L, "new", 9L), (5L, "stale", 0L))
      .toDF("k", "state", "seq")
    def run(supply: Boolean): Map[Long, (String, Long)] = {
      val dir = s"${Files.createTempDirectory("scd1_cbuckets")}/state"
      def buckets(df: org.apache.spark.sql.DataFrame): Option[Set[Long]] =
        if (!supply) None
        else Some(df.select(pmod(xxhash64(col("k")), lit(8L)).as("b"))
          .distinct().collect().map(_.getLong(0)).toSet)
      Streams.scd1MergeBatch(rowsB0, 0L, Seq("k"), Seq("seq"), dir,
        nBuckets = 8, changedBuckets = buckets(rowsB0))
      Streams.scd1MergeBatch(rowsB1, 1L, Seq("k"), Seq("seq"), dir,
        nBuckets = 8, changedBuckets = buckets(rowsB1))
      Streams.readScd1Raw(spark, dir).select("k", "state", "seq")
        .as[(Long, String, Long)].collect()
        .map { case (k, s2, q) => k -> ((s2, q)) }.toMap
    }
    val derived = run(supply = false)
    val supplied = run(supply = true)
    assert(supplied === derived, "caller-supplied bucket set changes nothing")
    assert(supplied(3L) === (("upd", 9L)) && supplied(77L) === (("new", 9L))
      && supplied(5L) === ((s"s5", 1L)), s"merge semantics intact: $supplied")
  }

  test("change feed: insert/update taxonomy, unchanged co-bucketed keys silent") {
    val dir = s"${Files.createTempDirectory("scd1_feed")}/state"
    // one bucket so every key co-resides: the no-change case is REAL
    // (carried forward in the same rewritten file, must emit nothing)
    Streams.scd1MergeBatch(
      Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L)).toDF("k", "v", "seq"),
      0L, Seq("k"), Seq("seq"), dir, nBuckets = 1)
    Streams.scd1MergeBatch(
      Seq((2L, "B", 5L),            // update: newer seq, new value
          (4L, "d", 6L),            // insert: key unseen before
          (3L, "zzz", 1L)).toDF("k", "v", "seq"), // stale: loses keep-latest
      1L, Seq("k"), Seq("seq"), dir, nBuckets = 1)
    val feed = Streams.scd1ChangeFeed(spark, dir, 1L, Seq("k"))
      .select(col("k"), col("op"), col("before.v").as("bv"),
        col("after.v").as("av"), col("after.seq").as("aseq"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3))).toMap
    assert(feed === Map(
      2L -> (("update", "b", "B")),
      4L -> (("insert", null, "d"))),
      s"keys 1 (untouched) and 3 (stale delta lost) must be silent: $feed")
    // feed of the FIRST batch against empty state: all inserts
    val first = Streams.scd1ChangeFeed(spark, dir, 0L, Seq("k"))
      .select(col("op")).collect().map(_.getString(0)).toSet
    assert(first === Set("insert"))
  }

  test("scd2 fold: intervals close half-open on change, silent keys carry forward") {
    val dir = s"${Files.createTempDirectory("scd2")}/state"
    def mergeAndFeed(rows: Seq[(Long, String, Long)], b: Long) = {
      Streams.scd1MergeBatch(rows.toDF("k", "v", "seq"), b, Seq("k"),
        Seq("seq"), dir, nBuckets = 1)
      Streams.scd1ChangeFeed(spark, dir, b, Seq("k"))
    }
    val f0 = mergeAndFeed(Seq((1L, "a", 1L), (2L, "b", 2L)), 0L)
    val empty = f0.limit(0).select(col("k"), col("after.v").as("v"),
      col("after.seq").as("seq"), lit(0L).as("valid_from"),
      lit(null).cast("long").as("valid_to"))
    val h0 = Streams.scd2Fold(empty, f0, 0L, Seq("k")).localCheckpoint()
    // batch 1 updates key 2, inserts key 3; key 1 silent
    val h1 = Streams.scd2Fold(h0,
      mergeAndFeed(Seq((2L, "B", 5L), (3L, "c", 6L)), 1L), 1L, Seq("k"))
    val got = h1.select(col("k"), col("v"), col("valid_from"),
        col("valid_to")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got === Set(
      (1L, "a", 0L, -1L),   // silent: still current from batch 0
      (2L, "b", 0L, 1L),    // closed half-open at the changing batch
      (2L, "B", 1L, -1L),   // the new current version
      (3L, "c", 1L, -1L)),  // insert opens at its batch
      s"history: $got")
  }

  test("hard delete: purge emits feed deletes, scd2 closes forever, empty buckets don't resurrect") {
    val dir = s"${Files.createTempDirectory("scd_purge")}/state"
    // one bucket: keys co-reside, so the purge rewrites survivors and
    // removes tombstoned keys from the SAME file
    Streams.scd1MergeBatch(
      Seq((1L, "a", "U", 1L), (2L, "b", "D", 2L), (3L, "c", "U", 3L))
        .toDF("k", "v", "op", "seq"),
      0L, Seq("k"), Seq("seq"), dir, nBuckets = 1)
    Streams.scd1PurgeBatch(spark, dir, 1L, Seq("k"), "op", "D", nBuckets = 1)
    val feed = Streams.scd1ChangeFeed(spark, dir, 1L, Seq("k"))
      .select(col("k"), col("op"), col("before.v").as("bv"),
        col("after.v").as("av")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        r.getString(3)))).toMap
    assert(feed === Map(2L -> (("delete", "b", null))),
      s"only the tombstoned key is a delete; survivors are silent: $feed")
    // purged state serves only the survivors
    assert(Streams.readScd1Raw(spark, dir).select("k").collect()
      .map(_.getLong(0)).toSet === Set(1L, 3L))
    // scd2: the delete closes the interval WITHOUT reopening
    val f0 = Streams.scd1ChangeFeed(spark, dir, 0L, Seq("k"))
    val genesis = f0.limit(0).select(col("k"), col("after.v").as("v"),
      col("after.op").as("op"), col("after.seq").as("seq"),
      lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
    val hist = Streams.scd2Fold(
      Streams.scd2Fold(genesis, f0, 0L, Seq("k")),
      Streams.scd1ChangeFeed(spark, dir, 1L, Seq("k")), 1L, Seq("k"))
    val got = hist.select(col("k"), col("valid_from"), col("valid_to"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got === Set((1L, 0L, -1L), (2L, 0L, 1L), (3L, 0L, -1L)),
      s"key 2 closed forever, no reopened row: $got")
  }

  test("hard delete: all-tombstone bucket empties without resurrecting; purge replay idempotent") {
    val dir = s"${Files.createTempDirectory("scd_purge_all")}/state"
    Streams.scd1MergeBatch(
      Seq((1L, "a", "D", 1L), (2L, "b", "D", 2L)).toDF("k", "v", "op", "seq"),
      0L, Seq("k"), Seq("seq"), dir, nBuckets = 1)
    Streams.scd1PurgeBatch(spark, dir, 1L, Seq("k"), "op", "D", nBuckets = 1)
    // the emptied v=1 bucket is the newest version: zero rows, NOT the
    // resurrected v=0 tombstones
    assert(Streams.readScd1RawBuckets(spark, dir, Set(0L)).isEmpty,
      "file-less newest version must read as no rows")
    val feed = Streams.scd1ChangeFeed(spark, dir, 1L, Seq("k"))
      .select(col("op")).collect().map(_.getString(0))
    assert(feed.toSet === Set("delete") && feed.length === 2)
    // replay of the same purge batch (at-least-once): discovery reads
    // versions strictly below the batch id, so the rerun regenerates the
    // same (empty) output instead of resurrecting anything
    Streams.scd1PurgeBatch(spark, dir, 1L, Seq("k"), "op", "D", nBuckets = 1)
    assert(Streams.readScd1RawBuckets(spark, dir, Set(0L)).isEmpty)
    // a later merge over the emptied base treats it as genesis
    Streams.scd1MergeBatch(
      Seq((1L, "z", "U", 9L)).toDF("k", "v", "op", "seq"),
      2L, Seq("k"), Seq("seq"), dir, nBuckets = 1)
    assert(Streams.readScd1Raw(spark, dir).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === Set((1L, "z")))
  }

  test("hard delete: NULL-op rows survive the purge; fully-purged state reads empty") {
    val dir = s"${Files.createTempDirectory("scd_purge_null")}/state"
    // k=1 carries a NULL op (an upsert from a source without op
    // tracking) — the purge's survivor filter must be null-safe or the
    // row is PHYSICALLY lost and fed downstream as a spurious delete
    Streams.scd1MergeBatch(
      Seq((1L, "a", null, 1L), (2L, "b", "D", 2L))
        .toDF("k", "v", "op", "seq"),
      0L, Seq("k"), Seq("seq"), dir, nBuckets = 1)
    Streams.scd1PurgeBatch(spark, dir, 1L, Seq("k"), "op", "D", nBuckets = 1)
    assert(Streams.readScd1Raw(spark, dir).select("k").collect()
      .map(_.getLong(0)).toSet === Set(1L),
      "the NULL-op row must survive the purge")
    val feed = Streams.scd1ChangeFeed(spark, dir, 1L, Seq("k"))
      .select(col("k"), col("op")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed === Set((2L, "delete")), s"k=1 must not appear: $feed")
    // readScd1State's tombstone filter is null-safe too
    assert(Streams.readScd1State(spark, dir, "op", "D").select("k")
      .collect().map(_.getLong(0)).toSet === Set(1L))
    // purge EVERYTHING (treat NULL as the tombstone marker is not
    // possible, so tombstone k=1 via a new merge) and read the fully
    // file-less state: schema from a retained older version, zero rows
    Streams.scd1MergeBatch(
      Seq((1L, "a2", "D", 9L)).toDF("k", "v", "op", "seq"),
      2L, Seq("k"), Seq("seq"), dir, nBuckets = 1)
    Streams.scd1PurgeBatch(spark, dir, 3L, Seq("k"), "op", "D", nBuckets = 1)
    val raw = Streams.readScd1Raw(spark, dir)
    assert(raw.count() === 0L)
    assert(raw.columns.contains("v"), "schema must survive a full purge")
    assert(Streams.readScd1State(spark, dir, "op", "D").count() === 0L)
  }

  test("scd2 as-of: past states reconstructed, deleted keys absent, current = latest") {
    val dir = s"${Files.createTempDirectory("scd2_asof")}/state"
    def mergeAndFeed(rows: Seq[(Long, String, String, Long)], b: Long) = {
      Streams.scd1MergeBatch(rows.toDF("k", "v", "op", "seq"), b, Seq("k"),
        Seq("seq"), dir, nBuckets = 1)
      Streams.scd1ChangeFeed(spark, dir, b, Seq("k"))
    }
    val f0 = mergeAndFeed(Seq((1L, "a", "U", 1L), (2L, "b", "D", 2L)), 0L)
    val genesis = f0.limit(0).select(col("k"), col("after.v").as("v"),
      col("after.op").as("op"), col("after.seq").as("seq"),
      lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
    var hist = Streams.scd2Fold(genesis, f0, 0L, Seq("k")).localCheckpoint()
    // batch 1: update key 1; batch 2: purge tombstoned key 2
    hist = Streams.scd2Fold(hist,
      mergeAndFeed(Seq((1L, "A", "U", 5L)), 1L), 1L, Seq("k"))
      .localCheckpoint()
    Streams.scd1PurgeBatch(spark, dir, 2L, Seq("k"), "op", "D", nBuckets = 1)
    hist = Streams.scd2Fold(hist,
      Streams.scd1ChangeFeed(spark, dir, 2L, Seq("k")), 2L, Seq("k"))
    def asOf(t: Long) = Streams.scd2AsOf(hist, t)
      .select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(asOf(0L) === Set((1L, "a"), (2L, "b")), "state as of batch 0")
    assert(asOf(1L) === Set((1L, "A"), (2L, "b")), "update visible at 1")
    assert(asOf(2L) === Set((1L, "A")), "hard-deleted key absent at 2")
    // the interval bookkeeping columns are dropped from the read
    assert(!Streams.scd2AsOf(hist, 0L).columns.contains("valid_from"))
  }

  test("stateful sessionize: in-batch close, timeout close, exact durations") {
    import StatefulSessionize.{Event, Session}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ev(user: Long, offSec: Long, id: Long) =
      Event(user, new java.sql.Timestamp(t0 + offSec * 1000), id)

    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val q = StatefulSessionize(input.toDS(), gapSeconds = 60, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // batch 1: one user, a 3-event session then a gap-breaking event →
      // the first session closes in-batch
      input.addData(ev(1, 0, 1), ev(1, 30, 2), ev(1, 45, 3), ev(1, 200, 4))
      q.processAllAvailable()
      val afterB1 = spark.table("sessions").as[Session].collect()
      assert(afterB1.map(s => (s.user_id, s.n_events, s.duration_sec)).toSet ===
        Set((1L, 3, 45L)))

      // batch 2: far-future event advances the watermark past the open
      // session's gap horizon; batch 3 (empty-ish nudge) fires the timeout
      input.addData(ev(2, 10000, 5))
      q.processAllAvailable()
      input.addData(ev(2, 10001, 6))
      q.processAllAvailable()
      val all = spark.table("sessions").as[Session].collect()
      assert(all.map(s => (s.user_id, s.n_events, s.duration_sec)).toSet ===
        Set((1L, 3, 45L), (1L, 1, 0L)))
    } finally q.stop()
  }

  test("stateful funnel emits stage transitions; final stages match the batch operator") {
    import StatefulFunnel.{Event, StageReached}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ev(user: Long, offSec: Long, id: Long, t: String) =
      Event(user, new java.sql.Timestamp(t0 + offSec * 1000), id, t)
    val steps = Seq("view", "click", "purchase")

    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val q = StatefulFunnel(input.toDS(), steps, watermark = "0 seconds")
      .writeStream.format("memory").queryName("funnel").outputMode("append").start()
    try {
      // batch 1: u1 views+clicks (purchase pending); u2 clicks before
      // viewing (only the view advances); noise types ignored
      input.addData(
        ev(1, 0, 1, "view"), ev(1, 10, 2, "click"), ev(1, 11, 3, "error"),
        ev(2, 0, 4, "click"), ev(2, 10, 5, "view"))
      q.processAllAvailable()
      // batch 2: u1 converts; u2's click NOW arrives after its view
      input.addData(ev(1, 20, 6, "purchase"), ev(2, 20, 7, "click"))
      q.processAllAvailable()

      val rows = spark.table("funnel").as[StageReached].collect()
      val byUser = rows.groupBy(_.user_id).view
        .mapValues(_.map(r => (r.stage, r.converted)).sortBy(_._1).toSeq).toMap
      assert(byUser(1L) === Seq((1L, false), (2L, false), (3L, true)))
      assert(byUser(2L) === Seq((1L, false), (2L, false)))

      // in-order feed ⇒ final stage per user == the batch operator's
      val history = Seq(
        (1L, 0L, 1L, "view"), (1L, 10L, 2L, "click"), (1L, 11L, 3L, "error"),
        (2L, 0L, 4L, "click"), (2L, 10L, 5L, "view"),
        (1L, 20L, 6L, "purchase"), (2L, 20L, 7L, "click"))
        .toDF("user_id", "ord", "event_id", "event_type")
      val batch = graft.operators.Funnel.stages(history, col("user_id"),
          col("ord"), col("event_id"), col("event_type"), steps)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val finalStage = rows.groupBy(_.user_id).view
        .mapValues(_.map(_.stage).max).toMap
      assert(finalStage === batch)
    } finally q.stop()
  }

  test("stateful sessionize agrees with the batch Sessionize oracle") {
    import StatefulSessionize.Event
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val events = for (u <- 1L to 5L; i <- 0L until 20L) yield
      Event(u, new java.sql.Timestamp(t0 + (i * 700 + u * 13) * 1000), u * 100 + i)

    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val q = StatefulSessionize(input.toDS(), gapSeconds = 1800, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions2").outputMode("append").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      // push the watermark far past every gap horizon, then fire timeouts
      input.addData(Event(99L, new java.sql.Timestamp(t0 + 20_000_000L * 1000), 0L))
      q.processAllAvailable()
      input.addData(Event(99L, new java.sql.Timestamp(t0 + 20_000_001L * 1000), 1L))
      q.processAllAvailable()
      val streamed = spark.table("sessions2")
        .filter(col("user_id") <= 5)
        .select(col("user_id"), col("n_events").cast("long"), col("duration_sec"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

      val batch = graft.operators.Sessionize(
          events.toDF(), col("user_id"), col("ts"), col("event_id"), gapSeconds = 1800)
        .select(col("user_id"), col("n_events"), col("duration_sec"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming dedup drops re-deliveries within the watermark horizon") {
    import StatefulSessionize.Event
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ev(key: Long, offSec: Long) =
      Event(key, new java.sql.Timestamp(t0 + offSec * 1000), key)

    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val deduped = Streams.dedupWithinWatermark(
      input.toDS().toDF(), "ts", Seq("user_id"), watermark = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // key 1 delivered three times, key 2 once — within one horizon
      input.addData(ev(1, 0), ev(1, 10), ev(2, 20))
      q.processAllAvailable()
      input.addData(ev(1, 30))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").collect().map(_.getLong(0)).toSeq
      assert(ids.sorted === Seq(1L, 2L))
    } finally q.stop()
  }

  test("session_window semantics (batch-mode evaluation of the streaming op)") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Long) = new java.sql.Timestamp(t0.getTime + s * 1000)
    val events = Seq((1L, ts(0)), (1L, ts(100)), (1L, ts(5000)), (2L, ts(10)))
      .toDF("user_id", "ts")
    val out = events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_events"))
    assert(out.count(_._1 == 1L) === 2)  // gap 4900s > 30min splits user 1
    assert(out.count(_._1 == 2L) === 1)
  }

  test("stream-stream interval join: in-window matches, bound exclusion, outer nulls") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ts(offSec: Long) = new java.sql.Timestamp(t0 + offSec * 1000)

    val imps = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    val clicks = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = Streams.streamIntervalJoin(
      imps.toDF().toDF("user_id", "imp_id", "imp_ts"),
      clicks.toDF().toDF("user_id", "click_id", "click_ts"),
      keyCols = Seq("user_id"), leftTs = "imp_ts", rightTs = "click_ts",
      within = "15 minutes", leftWatermark = "10 seconds",
      rightWatermark = "10 seconds", joinType = "left_outer")
      .select(col("l.imp_id"), col("r.click_id"))
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      // u1: click 60s after imp (in window) and another at 16min (out);
      // u2: click BEFORE the imp (out — the bound is one-directional);
      // u3: imp with no click at all (outer-null once watermark proves it)
      imps.addData((1L, 10L, ts(0)), (2L, 20L, ts(0)), (3L, 30L, ts(0)))
      clicks.addData((1L, 100L, ts(60)), (1L, 101L, ts(16 * 60)),
        (2L, 200L, ts(-60)))
      q.processAllAvailable()
      val matched = spark.table("attrib")
        .filter(col("click_id").isNotNull).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(matched === Set((10L, 100L)),
        "only the in-window same-key click may match")

      // advance BOTH watermarks far past imp_ts+within so the unmatched
      // impressions' no-match proof completes, then nudge a batch through
      imps.addData((9L, 90L, ts(4000)))
      clicks.addData((9L, 900L, ts(4000)))
      q.processAllAvailable()
      imps.addData((9L, 91L, ts(4001)))
      clicks.addData((9L, 901L, ts(4001)))
      q.processAllAvailable()
      val unmatched = spark.table("attrib")
        .filter(col("click_id").isNull).collect()
        .map(_.getLong(0)).toSet
      assert(Set(20L, 30L).subsetOf(unmatched),
        "watermark-expired impressions must emit outer nulls")
      assert(!unmatched.contains(10L), "matched impression must not re-emit")
    } finally q.stop()
  }

  test("live tail: ProcessingTime trigger folds mid-stream drops; stopped state equals the batch fold") {
    // the continuous-tailing half of the reference's `target_lag`
    // statement (q218 proves AvailableNow catch-up; this exercises the
    // async-trigger lifecycle nothing else does): the query starts
    // under Trigger.ProcessingTime with only drop 0 landed, drops 1 and
    // 2 arrive MID-STREAM, and `processAllAvailable()` is the barrier
    // after each landing — deterministic, no sleeps. stop() then ends
    // the async lifecycle (any in-flight trigger completes or is
    // checkpoint-consistent), and the stopped state must equal the
    // batch-replayed fold — a THIRD micro-batch split (live arrival
    // order) against the same split-invariance oracle.
    val d = "/root/testdata/sf0.001"
    val base = Files.createTempDirectory("maude_live_tail")
    val landing = graft.MaudeFixture.landing(spark, d)
    val tailDir = base.resolve("landing")
    Files.createDirectories(tailDir)
    def drop(i: Int): Unit = {
      val src = new java.io.File(landing, s"b=$i")
      src.listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            tailDir.resolve(s"b${i}_${f.getName}"))
          ()
        }
    }
    drop(0)
    val stateDir = base.resolve("state").toString
    val q = Streams.incrementalScd1(
        MaudeIngest.stream(spark, tailDir.toString),
        Seq("mdr_report_key"), Seq("seq"), stateDir, nBuckets = 16,
        stage = graft.MaudeFixture.stageFull)
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("100 milliseconds"))
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    try {
      q.processAllAvailable() // drop 0 folded by the live trigger
      drop(1)
      q.processAllAvailable() // mid-stream landing picked up
      drop(2)
      q.processAllAvailable()
      assert(q.isActive, "ProcessingTime query must still be live at the barrier")
    } finally q.stop()
    q.awaitTermination() // stop() semantics: returns only after quiesce
    assert(!q.isActive)
    // one checkpointed batch per landing barrier at minimum
    val offsets = new java.io.File(base.resolve("ckpt").toString, "offsets")
      .listFiles().count(f => f.getName.forall(_.isDigit))
    assert(offsets >= 3, s"expected >=3 live micro-batches, got $offsets")
    val cols0 = Seq("mdr_report_key", "report_number", "date_received",
      "event_type", "product_code", "manufacturer_name", "brand_name",
      "narrative_len", "seq").map(col)
    def canon0(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(cols0: _*).collect().map(_.toString).sorted.toSeq
    val live = canon0(Streams.readScd1Raw(spark, stateDir))
    val batched = canon0(Streams.readScd1Raw(spark,
      graft.MaudeFixture.ingestState(spark, d)))
    assert(live.nonEmpty && live === batched)
  }

  test("q218: genuine streaming SCD-1 ingest state equals the batch-replayed fold") {
    // the batch≡stream identity behind sharing q140's oracle: the SAME
    // landing files, once folded by the real streaming engine
    // (readStream → AvailableNow → incrementalScd1 with staging inside
    // foreachBatch) and once by the batch replay (MaudeFixture
    // .ingestState's 3 time-sliced scd1MergeBatch calls), must produce
    // identical state — the merge is micro-batch-split-invariant.
    val d = "/root/testdata/sf0.001"
    val base = Files.createTempDirectory("maude_stream_scd1")
    val landing = graft.MaudeFixture.landing(spark, d)
    val stateDir = base.resolve("state").toString
    // q218's own cap formula: max(1, ⌊files/3⌋) guarantees ≥3 micro-
    // batches whenever ≥3 files landed (ceil(n/⌊n/3⌋) ≥ 3 for n ≥ 3 —
    // the r15 ADVICE counterexample was ⌈n/3⌉ giving 2 batches at n=4)
    val nFiles = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0
        else 1
      walk(new java.io.File(landing))
    }
    val q = Streams.incrementalScd1(
        MaudeIngest.stream(spark, landing,
          maxFilesPerTrigger = Some(math.max(1, nFiles / 3))),
        Seq("mdr_report_key"), Seq("seq"), stateDir, nBuckets = 16,
        stage = graft.MaudeFixture.stageFull)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    q.awaitTermination()
    // the catch-up genuinely ran as MULTIPLE checkpointed micro-batches
    // (different boundaries than the batch replay's drops — the point);
    // ≥3 is the q218 contract's own claim whenever the landing has ≥3
    // files, so this pins the floor formula, not just "more than one"
    val offsets = new java.io.File(base.resolve("ckpt").toString, "offsets")
      .listFiles().count(f => f.getName.forall(_.isDigit))
    val wantBatches = if (nFiles >= 3) 3 else 2
    assert(offsets >= wantBatches,
      s"expected >=$wantBatches micro-batches for $nFiles files, got $offsets")
    val cols = Seq("mdr_report_key", "report_number", "date_received",
      "event_type", "product_code", "manufacturer_name", "brand_name",
      "narrative_len", "seq").map(col)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(cols: _*).collect().map(_.toString).sorted.toSeq
    val streamed = canon(Streams.readScd1Raw(spark, stateDir))
    val batched = canon(Streams.readScd1Raw(spark,
      graft.MaudeFixture.ingestState(spark, d)))
    assert(streamed.nonEmpty && streamed === batched)
  }
}
