package graft

import graft.functions.{F, Text}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Property-based tests (SURVEY.md §5 item 4): determinism and invariance
 * properties that example-based specs can't pin down. ScalaCheck generates
 * the data (deterministic seeds); each property evaluates as a handful of
 * Spark jobs over the whole generated sample rather than a job per case.
 */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  private val word: Gen[String] = Gen.choose(1, 8)
    .flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))

  test("orderedListagg is invariant to input row order") {
    val frags = sample(Gen.zip(Gen.choose(1L, 20L), Gen.choose(0, 30), word), 300)
      .map { case (g, idx, w) => (g, idx, w) }
    def agg(rows: Seq[(Long, Int, String)]) =
      rows.toDF("g", "idx", "txt")
        .groupBy($"g")
        .agg(F.orderedListagg($"txt", $"idx", "\n").as("joined"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val forward = agg(frags)
    val shuffled = agg(new scala.util.Random(7).shuffle(frags))
    val reversed = agg(frags.reverse)
    assert(forward === shuffled && forward === reversed)
  }

  test("surrogateKey: deterministic per input, distinct for distinct inputs") {
    val rows = sample(Gen.zip(Gen.choose(0L, 1000000L), word), 400).distinct
    val df = rows.toDF("id", "s")
    val keyed = df.select($"id", $"s",
      F.surrogateKey($"id".cast("string"), $"s").as("sk"))
    val twice = keyed.unionAll(keyed)
    // same row always hashes identically
    assert(twice.select("id", "s", "sk").distinct().count() === rows.size)
    // distinct inputs never collide (sha2-256 over the generated domain)
    assert(keyed.select("sk").distinct().count() === rows.size)
  }

  test("explode_outer preserves every parent row (flatten 'no lost records')") {
    val arrGen = Gen.oneOf(
      Gen.const(null.asInstanceOf[Seq[String]]),
      Gen.const(Seq.empty[String]),
      Gen.listOfN(3, word).map(_.toSeq))
    val rows = sample(Gen.zip(Gen.choose(0L, 100000L), arrGen), 200)
      .zipWithIndex.map { case ((_, a), i) => (i.toLong, a) }
    val df = rows.toDF("parent", "arr")
    val exploded = df.select($"parent", explode_outer($"arr").as("item"))
    assert(exploded.select("parent").distinct().count() === rows.size)
  }

  test("native shingles ≡ HOF shingles on random token arrays") {
    val toksGen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, word))
    val rows = sample(toksGen, 150).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = rows.toDF("id", "toks")
    for (n <- Seq(1, 2, 3, 5)) {
      val bad = df.select(
          Text.shingles($"toks", n).as("fast"),
          Text.shinglesHof($"toks", n).as("ref"))
        .filter(!($"fast" <=> $"ref")).count()
      assert(bad === 0, s"n=$n")
    }
  }

  test("sequence packing: chunk ids nondecreasing in order, budget respected") {
    val rows = sample(Gen.choose(1L, 500L), 300).zipWithIndex
      .map { case (n, i) => (i.toLong, n) }
    val df = rows.toDF("doc_id", "n")
    val packed = graft.operators.Pack.sequential(df, $"doc_id", $"n", budget = 1000)
      .orderBy($"doc_id")
      .select($"doc_id", $"n_tokens", $"chunk_id").collect()
    val chunkIds = packed.map(_.getLong(2))
    assert(chunkIds.zip(chunkIds.tail).forall { case (a, b) => a <= b },
      "chunk ids must be nondecreasing in pack order")
    // every chunk's token total (minus its possibly-straddling last doc)
    // stays within budget
    packed.groupBy(_.getLong(2)).foreach { case (_, docs) =>
      val total = docs.map(_.getLong(1)).sum
      val last = docs.map(_.getLong(1)).last
      assert(total - last <= 1000, s"chunk overflow beyond a straddling doc")
    }
  }

  test("token chunking covers every token; overlap and sizes honor the contract") {
    val doc: Gen[String] = Gen.choose(1, 150)
      .flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val docs = sample(doc, 120).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    for ((cs, st) <- Seq((16, 16), (16, 8), (5, 3))) {
      val chunks = graft.operators.Pack
        .chunk(docs.toDF("doc_id", "text"), "doc_id", "text", cs, st)
        .collect()
        .groupBy(_.getLong(0))
        .map { case (d, rs) => d -> rs.sortBy(_.getLong(1)).map(r =>
          (r.getLong(2), r.getString(3))) }
      docs.foreach { case (id, text) =>
        val toks = text.split(" ")
        val got = chunks(id)
        // every window except possibly the last is exactly chunkSize; the
        // reassembled stride-prefixes reproduce the document (coverage)
        got.init.foreach { case (n, _) => assert(n === cs.toLong) }
        assert(got.last._1 >= 1L && got.last._1 <= cs.toLong)
        val rebuilt = got.init.map(_._2.split(" ").take(st)).flatten ++
          got.last._2.split(" ")
        assert(rebuilt.toSeq === toks.toSeq, s"doc $id cs=$cs st=$st")
      }
    }
  }

  test("passage dedup: survivors are exactly the first occurrences, text conserved") {
    val passage: Gen[String] = Gen.choose(1, 4)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee")))
      .map(_.mkString(" "))
    val doc: Gen[String] = Gen.choose(1, 6)
      .flatMap(n => Gen.listOfN(n, passage)).map(_.mkString(". "))
    val docs = sample(doc, 150).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val out = graft.operators.Dedup
      .passageDedup(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // reference computation: first (doc, pos) occurrence per passage text
    val seen = scala.collection.mutable.Set[String]()
    val expected = docs.map { case (id, text) =>
      val ps = text.split("\\. ", -1)
      val kept = ps.filter(p => seen.add(p))
      id -> ((ps.length.toLong, kept.length.toLong, kept.mkString(". ")))
    }.filter(_._2._2 > 0).toMap
    assert(out === expected)
  }

  test("dup-span dedup agrees with a reference implementation on random corpora") {
    // 3-token alphabet + window 3 => dense window collisions, so overlap
    // merging, first-occurrence-keeps, and full-removal all exercise
    val tok: Gen[String] = Gen.oneOf("a", "b", "c")
    val doc: Gen[String] = Gen.choose(1, 12)
      .flatMap(n => Gen.listOfN(n, tok)).map(_.mkString(" "))
    val docs = sample(doc, 120).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val win = 3
    val out = graft.operators.Dedup
      .dupSpanDedup(docs.toDF("doc_id", "text"), "doc_id", "text", win)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // reference: global first-occurrence scan in (doc, pos) order, then
    // per-doc coverage subtraction
    val firsts = scala.collection.mutable.Set[String]()
    val dupStarts = scala.collection.mutable.Map[Long, Vector[Int]]()
      .withDefaultValue(Vector.empty)
    for ((id, text) <- docs) {
      val ts = text.split(" ", -1)
      for (p <- 0 to ts.length - win) {
        val key = ts.slice(p, p + win).mkString(" ")
        if (!firsts.add(key)) dupStarts(id) = dupStarts(id) :+ p
      }
    }
    val expected = docs.map { case (id, text) =>
      val ts = text.split(" ", -1)
      val ds = dupStarts(id)
      val kept = ts.indices.filterNot(i => ds.exists(s => s <= i && i < s + win))
      id -> ((ts.length.toLong, ds.length.toLong,
        (ts.length - kept.length).toLong, kept.map(ts).mkString(" ")))
    }.toMap
    assert(out === expected)
  }

  test("lm surprisal is invariant to corpus row order") {
    val doc: Gen[String] = Gen.choose(1, 30)
      .flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val docs = sample(doc, 150).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    def run(rows: Seq[(Long, String)]) = graft.operators.LangModel
      .surprisal(rows.toDF("doc_id", "text"), "doc_id", "text",
        vocabSize = 40, alpha = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val forward = run(docs)
    val shuffled = run(new scala.util.Random(3).shuffle(docs))
    assert(forward === shuffled)
    // smoothed log-probs are genuine probabilities: surprisal > 0
    forward.values.foreach { case (_, s, oov) =>
      assert(s > 0.0 && oov >= 0.0 && oov <= 1.0) }
  }

  test("semantic dedup is idempotent: re-running on survivors keeps them all") {
    val vec: Gen[Array[Float]] = Gen.listOfN(8, Gen.choose(-5, 5))
      .map(_.map(_.toFloat).toArray)
    val rows = sample(vec, 120).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = rows.toDF("vec_id", "embedding")
    val cents = graft.operators.Knn
      .kmeansCentroids(df, "vec_id", "embedding", k = 4, iters = 2)
    def survivors(in: Seq[(Long, Array[Float])]) = graft.operators.Dedup
      .semanticDedup(in.toDF("vec_id", "embedding"), cents,
        "vec_id", "embedding", threshold = 0.9)
      .collect().filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    val s1 = survivors(rows)
    assert(s1.nonEmpty && s1.size < rows.size, "fixture must actually dedup")
    val s2 = survivors(rows.filter(r => s1.contains(r._1)))
    assert(s2 === s1, "a second pass over survivors must be a no-op")
  }

  test("connected components are idempotent and order-insensitive") {
    val edgeGen = Gen.zip(Gen.choose(0L, 40L), Gen.choose(0L, 40L))
      .suchThat { case (a, b) => a != b }
    val edges = sample(edgeGen, 60)
    def comps(rows: Seq[(Long, Long)]) =
      graft.operators.Dedup.connectedComponents(
        rows.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = comps(edges)
    assert(comps(edges.reverse) === base)
    assert(comps(new scala.util.Random(3).shuffle(edges)) === base)
    // distributed path agrees with driver union-find
    val dist = graft.operators.Dedup.connectedComponents(
      edges.toDF("doc_a", "doc_b"), "doc_a", "doc_b", driverBudgetBytes = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === base)
  }

  test("prefix-filtered jaccard == brute on random near-dup corpora") {
    import graft.operators.Dedup
    val base = sample(Gen.listOfN(12, word), 40).map(_.mkString(" "))
    // corpus = originals + perturbed copies (word swapped) + exact dups
    val docs = base.zipWithIndex.flatMap { case (t, i) =>
      val toks = t.split(" ")
      val mut = toks.updated(i % toks.length, "zzz").mkString(" ")
      Seq((i * 3L, t), (i * 3L + 1, mut), (i * 3L + 2, t))
    }.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.6, 0.9)) {
      val brute = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = Dedup.prefixFilteredJaccardPairs(docs, "doc_id", "text", 2, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref === brute, s"t=$t")
    }
  }

  test("vectorSum ≡ explode-sum for any grouping, order, and integer-valued data") {
    // the Lloyd-update aggregate's parity property: on integer-valued
    // doubles (order-exact addition) the fixed-width aggregate must match
    // the posexplode+sum formulation bit-for-bit, for every group shape
    // ScalaCheck produces — including singleton and giant groups
    import graft.functions.Vec
    val dim = 5
    val rows = sample(Gen.zip(Gen.choose(1L, 12L),
      Gen.listOfN(dim, Gen.choose(-50, 50))), 400)
      .map { case (g, xs) => (g, xs.map(_.toDouble).toArray) }
    def run(data: Seq[(Long, Array[Double])]) =
      data.toDF("g", "v")
        .groupBy($"g").agg(Vec.vectorSum($"v").as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val viaAgg = run(rows)
    val viaAggShuffled = run(new scala.util.Random(11).shuffle(rows))
    val viaExplode = rows.toDF("g", "v")
      .select($"g", posexplode($"v").as(Seq("pos", "x")))
      .groupBy($"g", $"pos").agg(sum($"x").as("s"))
      .groupBy($"g")
      .agg(transform(array_sort(collect_list(struct($"pos", $"s"))),
        c => c.getField("s")).as("sv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(viaAgg === viaExplode)
    assert(viaAgg === viaAggShuffled)
  }

  test("incremental aggregate merge == flat recompute for ANY random partition") {
    import graft.operators.Incremental
    val rows = sample(Gen.zip(Gen.choose(1L, 9L), Gen.choose(-1000L, 1000L)), 600)
    def agg(rs: Seq[(Long, Long)]) = Incremental.aggregate(
      rs.toDF("g", "v"), Seq("g"), Seq("v"), mins = Seq("v"), maxs = Seq("v"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("g", "sum_v", "min_v", "max_v", "n").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
    val flat = canon(agg(rows))
    val rnd = new scala.util.Random(13)
    (0 until 3).foreach { _ =>
      // random number of parts with random membership — the property the
      // fixed-split spec can't cover
      val k = 2 + rnd.nextInt(5)
      val parts = rows.groupBy(_ => rnd.nextInt(k)).values.toSeq
      val merged = Incremental.mergeAggregates(parts.map(agg), Seq("g"),
        Seq("v"), mins = Seq("v"), maxs = Seq("v"))
      assert(canon(merged) === flat)
    }
  }

  test("scd1 replay: final state is invariant to HOW the changelog is micro-batched") {
    import graft.streaming.Streams
    // a changelog of (key, state, seq, op): ~15 keys × several changes,
    // occasional tombstones
    val rows = sample(Gen.zip(Gen.choose(1L, 15L), Gen.choose(0, 9),
        Gen.choose(0.0, 1.0)), 250)
      .zipWithIndex.map { case ((k, st, del), i) =>
        (k, s"s$st", i.toLong, if (del < 0.15) "D" else "U") }
    def replay(splits: Seq[Seq[(Long, String, Long, String)]]): Set[(Long, String, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory("scd1_prop").toString
      splits.zipWithIndex.foreach { case (batch, i) =>
        Streams.scd1MergeBatch(batch.toDF("k", "state", "seq", "op"),
          i.toLong, Seq("k"), Seq("seq"), dir, nBuckets = 8)
      }
      val out = Streams.readScd1State(spark, dir, "op", "D")
        .select("k", "state", "seq").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      out
    }
    // batching must not matter — only the per-key latest change does.
    // NOTE: batches must respect log order (a micro-batch stream delivers
    // in order); membership within that constraint is free, so cut the
    // log at random points into 1..6 consecutive slices.
    val whole = replay(Seq(rows))
    val rnd = new scala.util.Random(29)
    (0 until 3).foreach { _ =>
      val nCuts = 1 + rnd.nextInt(5)
      val cuts = (Seq(0, rows.size) ++ Seq.fill(nCuts)(rnd.nextInt(rows.size)))
        .distinct.sorted
      val slices = cuts.zip(cuts.tail).map { case (a, b) => rows.slice(a, b) }
        .filter(_.nonEmpty)
      assert(replay(slices) === whole, s"cuts at $cuts diverged")
    }
    // and the one-shot Cdc.merge agrees (the q116 oracle's statement)
    val oneShot = graft.operators.Cdc.merge(rows.toDF("k", "state", "seq", "op"),
        Seq("k"), Seq(col("seq").desc), "op", "D")
      .select("k", "state", "seq").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(whole === oneShot)
  }

  test("bm25 serving layouts agree: one-shot == indexed == sharded posting lists") {
    import graft.operators.Bm25
    // random corpora over a small token pool so terms collide heavily
    // (stop-word-like df spreads), including docs that miss every query
    // term; query sets include a missing term and a duplicate
    val pool = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docGen = Gen.choose(3, 25).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(pool)).map(_.mkString(" ")))
    val docs = sample(docGen, 80).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (terms <- Seq(Seq("alpha"), Seq("beta", "delta"),
        Seq("alpha", "alpha", "nosuchterm"), Seq("nosuchterm"))) {
      def toMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val oneShot = toMap(Bm25.score(docs, "doc_id", "text", terms))
      val idx1 = Bm25.buildIndex(docs, "doc_id", "text")
      val idx4 = Bm25.buildIndex(docs, "doc_id", "text", plistShards = 4)
      try {
        assert(toMap(Bm25.scoreIndexed(idx1, terms)) === oneShot, s"S=1 $terms")
        assert(toMap(Bm25.scoreIndexed(idx4, terms)) === oneShot, s"S=4 $terms")
      } finally { idx1.close(); idx4.close() }
    }
  }

  test("ndcg/averagePrecision agree with an independent exact-rational reference") {
    import graft.operators.RetrievalEval
    // randomized ranked lists + qrels over a small id space, the exact
    // integer numerators recomputed independently with BigInt rationals
    val k = 7
    val scale = (1 to k).foldLeft(BigInt(1))((l, r) => l / l.gcd(r) * r).toLong
    val rnd = new scala.util.Random(1234)
    val ranked = (0 until 40).flatMap { q =>
      val docs = rnd.shuffle((0 until 30).toList).take(rnd.nextInt(15))
      docs.zipWithIndex.map { case (d, i) => (q.toLong, d.toLong, (i + 1).toLong) }
    }
    val qrels = (0 until 40).flatMap { q =>
      (0 until 30).filter(_ => rnd.nextInt(5) == 0)
        .map(d => (q.toLong, d.toLong))
    }.distinct
    val rankedDf = ranked.toDF("qid", "doc", "rank")
    val qrelsDf = qrels.toDF("qid", "doc")
    val truth = qrels.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // independent reference, plain Scala
    def ref(q: Long): (Long, Long, Long, Long) = {
      val rel = truth.getOrElse(q, Set.empty)
      val rows = ranked.filter(_._1 == q).sortBy(_._3)
      val nRel = rel.size.toLong
      val dcg = rows.collect {
        case (_, d, r) if rel(d) && r <= k => scale / r }.sum
      val idcg = (1L to math.min(nRel, k.toLong)).map(scale / _).sum
      var hits = 0L
      val ap = rows.sortBy(_._3).map { case (_, d, r) =>
        if (rel(d)) { hits += 1; if (r <= k) hits * (scale / r) else 0L }
        else 0L
      }.sum
      (nRel, dcg, idcg, ap)
    }
    val nd = RetrievalEval.ndcg(rankedDf, qrelsDf, "qid", "doc", "rank", k)
      .collect().map(r => r.getLong(0) -> r).toMap
    val ap = RetrievalEval
      .averagePrecision(rankedDf, qrelsDf, "qid", "doc", "rank", k)
      .collect().map(r => r.getLong(0) -> r).toMap
    val allQs = (ranked.map(_._1) ++ qrels.map(_._1)).distinct
    assert(nd.keySet === allQs.toSet && ap.keySet === allQs.toSet)
    allQs.foreach { q =>
      val (nRel, dcg, idcg, apNum) = ref(q)
      assert(nd(q).getAs[Long]("n_rel") === nRel, s"q$q n_rel")
      assert(nd(q).getAs[Long]("dcg_num") === dcg, s"q$q dcg")
      assert(nd(q).getAs[Long]("idcg_num") === idcg, s"q$q idcg")
      assert(ap(q).getAs[Long]("ap_num") === apNum, s"q$q ap_num")
      assert(ap(q).getAs[Long]("ap_den") ===
        scale * math.min(nRel, k.toLong), s"q$q ap_den")
    }
  }

  test("aggregation policy invariants on random data: floor, totals, remainder") {
    val raw = sample(Gen.zip(Gen.choose(1L, 30L), Gen.choose(0L, 100L)), 500)
      .map { case (g, v) => (s"g$g", v) }
    val df = raw.toDF("g", "v")
    for (floor <- Seq(1L, 5L, 25L, 1000L)) {
      val out = graft.operators.Privacy.aggregationPolicy(df, Seq("g"),
          Seq(("v", "count", "n"), ("v", "sum", "sv")), minGroupSize = floor)
        .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
      // every surfaced (non-remainder) group meets the floor
      out.filter(_._1.isDefined).foreach { case (g, n, _) =>
        assert(n >= floor, s"group $g under floor $floor surfaced with n=$n") }
      // totals preserved exactly (integer sums)
      assert(out.map(_._2).sum === raw.size.toLong, s"floor $floor rows")
      assert(out.map(_._3).sum === raw.map(_._2).sum, s"floor $floor sum")
      // remainder present iff some group is under the floor
      val under = raw.groupBy(_._1).count(_._2.size < floor)
      assert(out.exists(_._1.isEmpty) === (under > 0), s"floor $floor remainder")
      // surfaced groups match the plain aggregate exactly
      val byG = raw.groupBy(_._1)
      out.filter(_._1.isDefined).foreach { case (Some(g), n, sv) =>
        assert(n === byG(g).size.toLong && sv === byG(g).map(_._2).sum)
      case _ => ()
      }
    }
  }
}
