package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** EarlySignals window-frame semantics, Enrich, Multimodal. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("early signals: empty frame, 1-row frame, zero-variance guard, spike") {
    val counts = Seq(
      ("m", 1L, 10L), ("m", 2L, 12L), ("m", 3L, 11L),
      ("m", 4L, 13L), ("m", 5L, 10L), ("m", 6L, 30L))
      .toDF("k", "quarter_index", "n_events")
    val out = EarlySignals.signals(counts, Seq("k"))
      .orderBy("quarter_index").collect()

    def opt(r: org.apache.spark.sql.Row, c: String): Option[Double] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getDouble(r.fieldIndex(c)))

    assert(opt(out(0), "mean_4") === None)           // empty frame
    assert(opt(out(0), "z_score") === None)
    assert(opt(out(1), "mean_4") === Some(10.0))     // 1-row frame
    assert(opt(out(1), "std_4") === None)            // stddev_samp(n=1) = NULL
    assert(opt(out(1), "z_score") === None)
    assert(opt(out(4), "mean_4") === Some(11.5))     // full 4-row frame
    val z5 = opt(out(5), "z_score").get               // spike quarter
    assert(math.abs(z5 - (30.0 - 11.5) / 1.2909944487358056) < 1e-9)
  }

  test("disproportionality: PRR/ROR/chi2/se against hand-computed 2x2 cells") {
    val reports = (Seq.fill(8)(("X", "head")) ++ Seq.fill(2)(("X", "nausea")) ++
      Seq.fill(4)(("Y", "head")) ++ Seq.fill(16)(("Y", "nausea")) ++
      Seq.fill(1)(("Z", "head"))).toDF("drug", "reaction")
    val out = EarlySignals.disproportionality(reports, "drug", "reaction")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap

    // (Z,head) a=1 and (X,nausea) a=2 are screened (minCount=3), but their
    // reports still count in every margin: n_head=13, n_nausea=18, N=31
    assert(out.keySet === Set(("X", "head"), ("Y", "head"), ("Y", "nausea")))
    val xh = out(("X", "head")) // a=8 b=2 c=5 d=16
    assert(xh.getLong(5) === 31L && xh.getLong(4) === 13L)
    assert(xh.getDouble(7) === 3.36)    // PRR (8/10)/(5/21)
    assert(xh.getDouble(8) === 12.8)    // ROR 128/10
    assert(xh.getDouble(9) === 0.9421)  // sqrt(1/8+1/2+1/5+1/16)
    assert(xh.getDouble(10) === 8.784)  // 31*(128-10)^2/(10*21*13*18)
    assert(xh.getBoolean(11))
    val yh = out(("Y", "head"))  // a=4 b=16 c=9 d=2: protective, not a signal
    assert(yh.getDouble(7) === 0.2444 && yh.getDouble(8) === 0.0556)
    assert(yh.getDouble(10) === 11.1378 && !yh.getBoolean(11))
    val yn = out(("Y", "nausea")) // a=16 b=4 c=2 d=9
    assert(yn.getDouble(7) === 4.4 && yn.getDouble(8) === 18.0)
    assert(yn.getBoolean(11))
  }

  test("disproportionality: fully-concentrated margins yield NULL ratios, signal from chi2+Inf") {
    val reports = (Seq.fill(3)(("W", "solo")) ++ Seq.fill(5)(("V", "other")))
      .toDF("drug", "reaction")
    val out = EarlySignals.disproportionality(reports, "drug", "reaction")
      .collect().map(r => r.getString(0) -> r).toMap
    val w = out("W") // a=3 b=0 c=0 d=5: PRR/ROR/se undefined, chi2=8
    assert(w.isNullAt(7) && w.isNullAt(8) && w.isNullAt(9))
    assert(w.getDouble(10) === 8.0)
    assert(w.getBoolean(11)) // prr -> +Inf >= 2 and chi2 >= 4
  }

  test("early signals guard: zero variance yields NULL z, not error") {
    val flat = Seq(("m", 1L, 10L), ("m", 2L, 10L), ("m", 3L, 10L), ("m", 4L, 10L))
      .toDF("k", "quarter_index", "n_events")
    val out = EarlySignals.signals(flat, Seq("k")).orderBy("quarter_index").collect()
    assert(out(2).isNullAt(out(2).fieldIndex("z_score"))) // std = 0
  }

  test("heuristic enrichment: topic, severity, guarded summary") {
    val df = Seq(
      (1L, "BATTERY depleted, patient died"),
      (2L, "software ERROR CODE 42 shown"),
      (3L, "x" * 300),
      (4L, null.asInstanceOf[String]))
      .toDF("id", "narrative")
    val out = HeuristicEnricher(df, "narrative").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("topic") === "power_system")
    assert(out(1L).getAs[Int]("severity") === 3)
    assert(out(2L).getAs[String]("topic") === "software")
    assert(out(3L).getAs[String]("summary").length === 201) // 200 + ellipsis
    assert(out(4L).getAs[Int]("severity") === 0)
  }

  test("batched enrichment: agrees with column heuristic, respects batch size") {
    val docs = (0L until 97L).map { i =>
      (i, Seq("BATTERY failure", "software ERROR CODE", "routine wire LEAD check",
        "PUMP occlusion alarm", "nothing notable")(i.toInt % 5))
    }.toDF("id", "narrative")

    val sizes = spark.sparkContext.collectionAccumulator[Int]("batches")
    val counting: BatchedEnrich.Model = batch => {
      sizes.add(batch.length); BatchedEnrich.stubModel(batch)
    }
    val batched = BatchedEnrich(docs, "id", "narrative", counting, batchSize = 10)
      .collect().map(e => e.id -> ((e.topic, e.severity, e.summary))).toMap

    val columnar = HeuristicEnricher(docs, "narrative").collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[String]("topic"), r.getAs[Int]("severity"), r.getAs[String]("summary")))).toMap
    assert(batched === columnar)
    import scala.jdk.CollectionConverters._
    val observed = sizes.value.asScala
    assert(observed.nonEmpty && observed.forall(_ <= 10),
      s"model must see <= batchSize rows per call, saw $observed")
  }

  test("multimodal featurize: deterministic stub features, per-partition codec") {
    val assets = Seq(
      (1L, "image", Array[Byte](1, 2, 3, 4)),
      (2L, "audio", Array[Byte](9, 8, 7))).toDF("asset_id", "modality", "payload")
    val codec = new Multimodal.StubCodec(dim = 8)
    val a = Multimodal.featurize(assets, codec).collect().sortBy(_.asset_id)
    val b = Multimodal.featurize(assets.repartition(3), codec).collect().sortBy(_.asset_id)
    assert(a.length === 2)
    assert(a.head.feature.length === 8)
    assert(a.head.n_bytes === 4L)
    assert(a.map(_.feature.toSeq).toSeq === b.map(_.feature.toSeq).toSeq)
  }

  test("sequence packing: chunk boundaries from running token budget, sharded") {
    val docs = Seq(
      (1L, 0L, 3000L), (2L, 0L, 2000L), (3L, 0L, 100L),  // shard 0
      (4L, 1L, 5000L), (5L, 1L, 10L))                    // shard 1
      .toDF("doc_id", "shard", "n")
    // global order: cum_before 0, 3000, 5000, 5100, 10100 → chunks 0,0,1,1,2
    val global = Pack.sequential(docs, col("doc_id"), col("n"), budget = 4096)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("chunk_id")).toMap
    assert(global === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 2L))
    // sharded: each shard restarts its running sum (the parallel scale path)
    val sharded = Pack.sequential(docs, col("doc_id"), col("n"), budget = 4096,
        shardCol = Some(col("shard")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("chunk_id")).toMap
    assert(sharded === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L, 5L -> 1L))
  }

  test("two-phase sharded packing is bit-equal to the global running sum") {
    // sparse non-contiguous ids, skewed token counts, several shard widths
    val rnd = new scala.util.Random(7)
    val docs = (0 until 500).map { i =>
      (i.toLong * 7 + (i % 3), 1L + rnd.nextInt(3000).toLong)
    }.toDF("doc_id", "n").repartition(8)
    val global = Pack.sequential(docs, col("doc_id"), col("n"), budget = 4096)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("chunk_id")).toMap
    for (shards <- Seq(1, 4, 32, 1000)) {
      val sharded = Pack.sharded(docs, col("doc_id"), col("n"), budget = 4096,
          nShards = shards)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("chunk_id")).toMap
      assert(sharded === global, s"nShards=$shards diverged from the global form")
    }
    // empty input: no rows, no exceptions
    assert(Pack.sharded(docs.filter(lit(false)), col("doc_id"), col("n"), 4096)
      .count() === 0)
  }

  test("sharded packing fails fast on NULL or negative order keys") {
    val bad = Seq((Some(1L), 10L), (None, 20L), (Some(-3L), 30L))
      .toDF("doc_id", "n")
    val e = intercept[IllegalArgumentException] {
      Pack.sharded(bad, col("doc_id"), col("n"), budget = 100)
    }
    assert(e.getMessage.contains("non-NULL, non-negative"))
  }

  test("token-window chunking: coverage, overlap, and edge docs") {
    val docs = Seq(
      1L -> (1 to 10).map(i => s"t$i").mkString(" "), // 10 tokens
      2L -> "a b c",                                  // shorter than a window
      3L -> "",                                       // one empty token
      4L -> null.asInstanceOf[String]                 // nothing to chunk
    ).toDF("doc_id", "text")
    val out = Pack.chunk(docs, "doc_id", "text", chunkSize = 4, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getString(3)))).toMap
    // 10 tokens, windows start 0,2,4,6: every token covered, 2-token overlap
    assert(out.keys.count(_._1 == 1L) === 4)
    assert(out((1L, 0L)) === ((4L, "t1 t2 t3 t4")))
    assert(out((1L, 1L)) === ((4L, "t3 t4 t5 t6")))
    assert(out((1L, 3L)) === ((4L, "t7 t8 t9 t10")))
    // short doc: exactly one (partial) window
    assert(out.keys.count(_._1 == 2L) === 1)
    assert(out((2L, 0L)) === ((3L, "a b c")))
    // empty text tokenizes to [""]: one window, "" text
    assert(out((3L, 0L)) === ((1L, "")))
    // NULL text yields no rows
    assert(!out.keys.exists(_._1 == 4L))
  }

  test("lm surprisal: hand-computed smoothed unigram, OOV bucket, null text dropped") {
    // corpus: "a" ×4, "b" ×2, "z" ×1 → N=7; vocabSize=2 keeps {a, b}, z is OOV
    val docs = Seq(
      1L -> "a a b",
      2L -> "a b z",
      3L -> "a",
      4L -> null.asInstanceOf[String]
    ).toDF("doc_id", "text")
    val out = LangModel.surprisal(docs, "doc_id", "text", vocabSize = 2, alpha = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // denom = N + α(K+1) = 7 + 0.5·3 = 8.5
    val pa = -math.log(4.5 / 8.5); val pb = -math.log(2.5 / 8.5)
    val pz = -math.log(0.5 / 8.5)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) === ((3L, r4((pa + pa + pb) / 3), 0.0)))
    assert(out(2L) === ((3L, r4((pa + pb + pz) / 3), 0.333333)))
    assert(out(3L) === ((1L, r4(pa), 0.0)))
  }

  test("multimodal resize plan: aspect preserved, capped longest side, no upscale") {
    val assets = Seq(
      (1L, "image", 4000, 3000),   // downscale 4:3
      (2L, "image", 300, 200),     // already small — untouched
      (3L, "image", 1000, 4000),   // portrait
      (4L, "video", 4000, 3000))   // wrong modality — excluded
      .toDF("asset_id", "modality", "w", "h")
      .select(col("asset_id"), col("modality"),
        struct(col("w").as("width"), col("h").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta"))
    val out = Multimodal.resizePlan(assets, maxSide = 1024).collect()
      .map(r => r.getLong(0) -> ((r.getInt(3), r.getInt(4)))).toMap
    assert(out === Map(1L -> ((1024, 768)), 2L -> ((300, 200)), 3L -> ((256, 1024))))
  }

  test("multimodal frame sampling: even offsets from duration, pre-decode") {
    val assets = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, "video", "video/mp4", Array[Byte](0),
          org.apache.spark.sql.Row(null, null, 1000L)),
        org.apache.spark.sql.Row(2L, "image", "image/png", Array[Byte](0),
          org.apache.spark.sql.Row(64, 64, null)))),
      Multimodal.assetSchema)
    val offsets = Multimodal.frameSampleOffsets(assets, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(offsets.toSeq.sorted === Seq((1L, 0L), (1L, 250L), (1L, 500L), (1L, 750L)))
  }
}
