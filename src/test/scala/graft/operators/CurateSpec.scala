package graft.operators

import graft.SparkSpec
import graft.functions.Text
import org.apache.spark.sql.functions._

class CurateSpec extends SparkSpec {
  import spark.implicits._

  test("hashSample: deterministic, row-order invariant, near the target rate") {
    val df = (0 until 4000).map(i => (i.toLong, s"k$i")).toDF("id", "k")
    def ids(d: org.apache.spark.sql.DataFrame) =
      Curate.hashSample(d, col("k"), lit(0.3)).collect().map(_.getLong(0)).toSet
    val a = ids(df)
    val b = ids(df.orderBy(col("id").desc))
    assert(a === b, "sample must not depend on row order")
    val rate = a.size / 4000.0
    assert(math.abs(rate - 0.3) < 0.03, s"observed rate $rate")
  }

  test("hashSample: per-stratum rates apply independently") {
    val df = (0 until 2000).map(i => (i.toLong, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    val kept = Curate.hashSample(df, col("id").cast("string"),
        when(col("lang") === "en", 0.8).otherwise(0.1))
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(kept("en") / 1000.0 - 0.8) < 0.1)
    assert(math.abs(kept.getOrElse("de", 0L) / 1000.0 - 0.1) < 0.1)
  }

  test("hashSplit: proportions near weights, assignment frozen under growth") {
    val big = (0 until 4000).map(i => (i.toLong, s"k$i")).toDF("id", "k")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def assign(d: org.apache.spark.sql.DataFrame) =
      Curate.hashSplit(d, col("k"), splits).collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
    val a = assign(big)
    assert(a.values.toSet === Set("train", "val", "test"))
    assert(math.abs(a.values.count(_ == "train") / 4000.0 - 0.8) < 0.03)
    assert(math.abs(a.values.count(_ == "val") / 4000.0 - 0.1) < 0.02)
    // the headline property: a doc keeps its split when the corpus grows
    val small = assign(big.filter(col("id") < 1000))
    assert(small === a.filter(_._1 < 1000), "splits must not move as docs arrive")
    // weights must sum to 1
    intercept[IllegalArgumentException] {
      Curate.hashSplit(big, col("k"), Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("mixByTokenBudget: realized tokens track weight*budget; small sources taken whole") {
    // a: 100 docs x 100 tokens = 10k; b: 200 x 50 = 10k; c: 10 x 10 = 100 (tiny)
    val df = ((0 until 100).map(i => (i.toLong, "a", 100L)) ++
      (100 until 300).map(i => (i.toLong, "b", 50L)) ++
      (300 until 310).map(i => (i.toLong, "c", 10L)))
      .toDF("id", "source", "n_tok")
    val out = Curate.mixByTokenBudget(df, col("id").cast("string"), col("source"),
        col("n_tok"), Map("a" -> 0.6, "b" -> 0.2, "c" -> 0.2), budgetTokens = 5000L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byTokens = out.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    // targets: a 3000 of 10k (rate .3), b 1000 of 10k (rate .1); c's target
    // (1000) exceeds its 100 tokens -> rate capped at 1, taken WHOLE
    assert(byTokens("c") === 100L, "undersized source must be kept entirely")
    assert(math.abs(byTokens("a") - 3000.0) / 3000.0 < 0.25, s"a: ${byTokens("a")}")
    assert(math.abs(byTokens("b") - 1000.0) / 1000.0 < 0.35, s"b: ${byTokens("b")}")
    // unknown source weight -> rate 0
    val none = Curate.mixByTokenBudget(df, col("id").cast("string"), col("source"),
      col("n_tok"), Map("zzz" -> 1.0), budgetTokens = 5000L)
    assert(none.count() === 0)
  }

  test("negativeSamples: deterministic, never the anchor, only existing ids") {
    val df = (0 until 200).map(_.toLong * 3).toDF("id") // sparse ids
    def tup(r: org.apache.spark.sql.Row) = // (anchor, j, neg_id)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val out = Curate.negativeSamples(df, "id", k = 4, idSpace = 600)
      .collect().map(tup)
    val again = Curate.negativeSamples(df.orderBy(col("id").desc), "id", k = 4,
        idSpace = 600)
      .collect().map(tup)
    assert(out.toSet === again.toSet, "draws must not depend on row order")
    val ids = (0 until 200).map(_.toLong * 3).toSet
    out.foreach { case (anchor, _, neg) =>
      assert(neg != anchor && ids.contains(neg) && ids.contains(anchor))
    }
    // sparse id space: roughly 1/3 of draws land on existing ids
    assert(out.length > 100 && out.length < 400, s"got ${out.length}")
    // at most k draws per anchor
    assert(out.groupBy(_._1).values.map(_.size).max <= 4)
  }

  test("dsirWeights matches a from-scratch reference model, featureless docs absent") {
    import graft.functions.ShaLanes
    val docs = Seq(
      (1L, "en", "a b c"), (2L, "en", "a b"), (3L, "de", "b c d"),
      (4L, "de", "x"),                       // no bigram -> absent
      (5L, "en", null.asInstanceOf[String])  // null text -> absent
    ).toDF("doc_id", "lang", "text")
    val buckets = 64
    val out = Curate.dsirWeights(docs, "doc_id", "text",
        isTarget = col("lang") === "en", n = 2, buckets = buckets, alpha = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getDouble(3)))).toMap
    // reference model straight from the definition, via the jvm lane (so
    // bucket collisions — if any — are reproduced, not assumed away)
    def bs(text: String): Seq[Long] = {
      val t = text.split(" ")
      t.sliding(2).filter(_.length == 2).map(w =>
        Math.floorMod(ShaLanes.jvmLane(w.mkString(" ")), buckets.toLong))
        .toSeq.distinct
    }
    val fx = Seq((1L, true, bs("a b c")), (2L, true, bs("a b")), (3L, false, bs("b c d")))
    val all = fx.flatMap { case (_, tgt, b) => b.map(_ -> tgt) }
    val cRaw = all.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val cTgt = all.groupBy(_._1).view.mapValues(_.count(_._2).toDouble).toMap
    val (nRaw, nTgt) = (all.size.toDouble, all.count(_._2).toDouble)
    val aB = 0.5 * buckets
    def w(b: Seq[Long]): Double = {
      val terms = b.map(k => math.log((cTgt(k) + 0.5) / (nTgt + aB)) -
        math.log((cRaw(k) + 0.5) / (nRaw + aB)))
      BigDecimal(terms.sum / terms.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out.keySet === Set(1L, 2L, 3L))
    fx.foreach { case (id, tgt, b) =>
      assert(out(id) === ((tgt, b.size.toLong, w(b))), s"doc $id") }
    // target docs must outscore the raw-only doc on this fixture
    assert(out(2L)._3 > out(3L)._3)
  }

  test("dsirResample: deterministic sigmoid-rate acceptance via the jvm lane") {
    import graft.functions.ShaLanes
    val weighted = Seq(
      (1L, -0.5), (2L, -0.1), (3L, 0.0), (4L, 0.1), (5L, 0.5), (6L, 2.0)
    ).toDF("doc_id", "dsir_logweight")
    val out = Curate.dsirResample(weighted, "doc_id", temperature = 3.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val expected = Seq(1L -> -0.5, 2L -> -0.1, 3L -> 0.0, 4L -> 0.1,
        5L -> 0.5, 6L -> 2.0)
      .filter { case (id, w) =>
        val p = 1.0 / (1.0 + math.exp(-3.0 * w))
        ShaLanes.jvmLane(s"resample|$id").toDouble < p * ShaLanes.LaneSpace
      }.map { case (id, w) =>
        id -> BigDecimal(1.0 / (1.0 + math.exp(-3.0 * w)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    assert(out === expected)
    assert(out.nonEmpty && out.size < 6, "fixture must accept some, not all")
  }

  test("keepLatest resolves to the newest version per key, ties by id") {
    val df = Seq(
      ("u1", 1L, 10L), ("u1", 2L, 30L), ("u1", 3L, 30L), // tie at ts 30 → id 3
      ("u2", 4L, 5L)
    ).toDF("user", "id", "ts")
    val out = Curate.keepLatest(df, Seq("user"), Seq(col("ts").desc, col("id").desc))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("u1" -> 3L, "u2" -> 4L))
  }

  test("perGroupQuota caps each group and ranks within it") {
    val df = (0 until 30).map(i => (s"s${i % 3}", i.toLong)).toDF("src", "id")
    val out = Curate.perGroupQuota(df, col("src"), col("id"), n = 4)
    assert(out.count() === 12)
    assert(out.groupBy("src").count().collect().forall(_.getLong(1) === 4))
    assert(out.agg(max(col("rk"))).head().getLong(0) === 4L)
  }

  test("weightedSample: k per group, deterministic, row-order invariant") {
    val df = (0 until 300).map(i => (i.toLong, s"g${i % 3}", (i % 7 + 1).toLong))
      .toDF("id", "g", "w")
    def sample(d: org.apache.spark.sql.DataFrame) =
      Curate.weightedSample(d, col("id").cast("string"), col("g"), col("w"), k = 5)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    val a = sample(df)
    val b = sample(df.orderBy(col("id").desc))
    assert(a === b, "sample must not depend on row order")
    assert(a.size === 15)
    assert(a.groupBy(_._2).forall(_._2.size == 5))
    assert(a.filter(_._2 == "g0").map(_._3) === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("weightedSample: selection probability tracks weight") {
    // 300 groups, each one heavy (w=50) item among ten light (w=1):
    // P(heavy first) = 50/60; the deterministic lane draws should land near
    val rows = (0 until 300).flatMap { g =>
      (0 until 11).map(i => (g * 100L + i, s"g$g", if (i == 0) 50L else 1L))
    }
    val df = rows.toDF("id", "g", "w")
    val winners = Curate.weightedSample(df, col("id").cast("string"),
        col("g"), col("w"), k = 1)
      .collect().map(r => r.getLong(2)).count(_ == 50L)
    assert(winners > 300 * 0.7 && winners < 300 * 0.95,
      s"heavy item won $winners/300, expected ~${300 * 50 / 60}")
  }

  test("weightedSample drops NULL and non-positive weights") {
    val df = Seq((1L, "g", Some(5L)), (2L, "g", None),
      (3L, "g", Some(0L)), (4L, "g", Some(-2L)))
      .toDF("id", "g", "w")
    val got = Curate.weightedSample(df, col("id").cast("string"),
      col("g"), col("w"), k = 10).collect().map(_.getLong(0)).toSet
    assert(got === Set(1L))
  }

  test("scrubPii masks emails and long digit runs, leaves prose alone") {
    val out = Seq(
      "reach me at jane.doe+x@lab.example.org today",
      "serial 123456789 shipped 99 units",
      "no pii here at all"
    ).toDF("t").select(Text.scrubPii(col("t")).as("s")).collect().map(_.getString(0))
    assert(out(0) === "reach me at <EMAIL> today")
    assert(out(1) === "serial <NUM> shipped 99 units")
    assert(out(2) === "no pii here at all")
  }

  test("epochShuffle: exact permutation per shard, epoch-seeded, deterministic") {
    val docs = (0 until 500).map(i => (i.toLong, s"d$i")).toDF("id", "t")
    val e7 = Curate.epochShuffle(docs, col("id"), epoch = 7, nShards = 8)
      .select("shard", "pos", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // a permutation: every id exactly once
    assert(e7.map(_._3).toSet === (0 until 500).map(_.toLong).toSet)
    // shards in range; positions contiguous 1..n within each shard
    assert(e7.forall(x => x._1 >= 0 && x._1 < 8))
    e7.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1 to rows.size).map(_.toLong)) }
    // deterministic across invocations
    val again = Curate.epochShuffle(docs, col("id"), 7, 8)
      .select("shard", "pos", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.sorted.toSeq === e7.sorted.toSeq)
    // a different epoch is a different permutation (same id set)
    val e8 = Curate.epochShuffle(docs, col("id"), 8, 8)
      .select("shard", "pos", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(e8.sorted.toSeq !== e7.sorted.toSeq)
    assert(e8.map(_._3).toSet === e7.map(_._3).toSet)
    // no global sort in the plan: the only ordering is per-shard
    val plan = Curate.epochShuffle(docs, col("id"), 7, 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), s"global sort found:\n$plan")
  }

  test("stratifiedExact: exact budget, Hamilton allocation, hand-checked") {
    // counts a=5, b=3, c=2 (N=10), budget 7: quotas 3.5/2.1/1.4 ->
    // base 3/2/1 (sum 6), the single leftover goes to the largest
    // remainder (a, .5) -> alloc 4/2/1
    val rows = (0 until 5).map(i => (s"a$i", "a")) ++
      (0 until 3).map(i => (s"b$i", "b")) ++ (0 until 2).map(i => (s"c$i", "c"))
    val df = rows.toDF("id", "g")
    val got = Curate.stratifiedExact(df, "g", col("id"), 7L)
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 4L, "b" -> 2L, "c" -> 1L))
  }

  test("stratifiedExact: budget met exactly, deterministic, order-invariant") {
    val df = (0 until 3000)
      .map(i => (i.toLong, Seq("en", "de", "fr", "zh")(i % 7 % 4)))
      .toDF("id", "lang")
    def ids(d: org.apache.spark.sql.DataFrame) =
      Curate.stratifiedExact(d, "lang", col("id"), 250L)
        .collect().map(_.getLong(0)).toSet
    val a = ids(df)
    assert(a.size === 250, "budget must be met exactly")
    assert(ids(df.orderBy(col("id").desc)) === a, "order-invariant")
    // proportional within one unit of the exact quota
    val perStratum = Curate.stratifiedExact(df, "lang", col("id"), 250L)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val pop = df.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perStratum.foreach { case (k, n) =>
      val quota = 250.0 * pop(k) / 3000.0
      assert(n == math.floor(quota).toLong || n == math.ceil(quota).toLong,
        s"$k: alloc $n vs quota $quota")
    }
    // rk is a contiguous 1-based rank within each stratum
    val rks = Curate.stratifiedExact(df, "lang", col("id"), 250L)
      .select("lang", "rk").collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    rks.foreach { case (_, xs) =>
      assert(xs.map(_._2).sorted.toSeq === (1 to xs.size).map(_.toLong)) }
  }

  test("groupKFold: every row of a group lands in the same fold; folds cover [0,k)") {
    val df = (0 until 2000).map(i => (i.toLong, (i % 97).toLong)).toDF("id", "g")
    val got = Curate.groupKFold(df, col("g"), k = 5)
    val perGroup = got.groupBy("g")
      .agg(countDistinct(col("fold")).as("nf")).collect()
    perGroup.foreach(r => assert(r.getLong(1) === 1L,
      s"group ${r.getLong(0)} split across folds — leakage"))
    val folds = got.select("fold").distinct().collect().map(_.getLong(0)).toSet
    assert(folds.subsetOf((0L until 5L).toSet) && folds.size >= 4,
      s"97 groups should populate (almost) every fold: $folds")
  }

  test("groupKFold: a group's fold is stable when other groups arrive") {
    def foldOf(nGroups: Int): Map[Long, Long] =
      Curate.groupKFold(
        (0 until nGroups).map(g => (g.toLong, g.toLong)).toDF("id", "g"),
        col("g"), k = 7)
        .select("g", "fold").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val small = foldOf(10)
    val big = foldOf(200)
    small.foreach { case (g, f) => assert(big(g) === f,
      s"group $g moved fold when the corpus grew") }
  }

  test("stratifiedExact: NULL strata are excluded, not an NPE") {
    val df = Seq((1L, Option("a")), (2L, Option("a")), (3L, Option.empty[String]),
      (4L, Option("b"))).toDF("id", "g")
    // budget equals the NON-NULL population: NULL-stratum rows have no
    // allocation share, so they are outside both population and sample
    val got = Curate.stratifiedExact(df, "g", col("id"), 3L)
    assert(got.count() === 3)
    assert(!got.select("g").collect().exists(_.isNullAt(0)))
    // and the overdraw check is against the non-null population
    intercept[IllegalArgumentException] {
      Curate.stratifiedExact(df, "g", col("id"), 4L)
    }
  }

  test("stratifiedExact: edge budgets — full population, zero, overdraw") {
    val df = (0 until 60).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "g")
    assert(Curate.stratifiedExact(df, "g", col("id"), 60L).count() === 60)
    assert(Curate.stratifiedExact(df, "g", col("id"), 0L).count() === 0)
    intercept[IllegalArgumentException] {
      Curate.stratifiedExact(df, "g", col("id"), 61L)
    }
  }
}
