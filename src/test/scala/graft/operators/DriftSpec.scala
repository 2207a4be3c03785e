package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DriftSpec extends SparkSpec {
  import spark.implicits._

  private def table(rows: (String, Boolean, Int)*) =
    rows.flatMap { case (bin, a, n) => Seq.fill(n)((bin, a)) }
      .toDF("bin", "ina")

  test("stability: hand-checked PSI and chi-square terms") {
    // A: x=60 y=40 (total 100); B: x=30 y=70 (total 100)
    val df = table(("x", true, 60), ("y", true, 40),
      ("x", false, 30), ("y", false, 70))
    val got = Drift.stability(df, col("bin"), col("ina"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6))).toMap
    val (na, nb, pa, pb, psi, chi2) = got("x")
    assert((na, nb) === ((60L, 30L)))
    assert(pa === 0.6 && pb === 0.3)
    val wantPsi = BigDecimal((0.6 - 0.3) * math.log(0.6 / 0.3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(psi === wantPsi)
    // expected_a = 90*100/200 = 45; term = 15²/45 both sides
    assert(chi2 === (15.0 * 15.0 / 45.0) * 2)
    val y = got("y")
    assert((y._1, y._2) === ((40L, 70L)))
  }

  test("stability: identical distributions score zero") {
    val df = table(("x", true, 50), ("y", true, 25),
      ("x", false, 100), ("y", false, 50))
    Drift.stability(df, col("bin"), col("ina")).collect().foreach { r =>
      assert(r.getDouble(5) === 0.0, "psi")
      assert(r.getDouble(6) === 0.0, "chi2")
    }
  }

  test("stability: a bin absent from one cohort gets NULL psi, real chi2") {
    val df = table(("x", true, 10), ("y", true, 10), ("x", false, 20))
    val y = Drift.stability(df, col("bin"), col("ina"))
      .filter(col("bin") === "y").collect().head
    assert(y.isNullAt(5), "psi undefined without both cohorts")
    assert(!y.isNullAt(6) && y.getDouble(6) > 0.0)
  }

  test("stability: row order does not change any emitted double") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 2000).map(i =>
      (s"b${rnd.nextInt(6)}", rnd.nextBoolean()))
    val a = Drift.stability(rows.toDF("bin", "ina"), col("bin"), col("ina"))
      .collect().map(_.toString).sorted
    val b = Drift.stability(rnd.shuffle(rows).toDF("bin", "ina"),
        col("bin"), col("ina"))
      .collect().map(_.toString).sorted
    assert(a.toSeq === b.toSeq)
  }

  test("keyness: hand-checked G2 and integer-decided leans") {
    // A tokens: x x x y (Na=4); B tokens: x y y y (Nb=4)
    val df = Seq((Seq("x", "x", "x", "y"), true), (Seq("x", "y", "y", "y"), false))
      .toDF("toks", "ina")
    val got = Drift.keyness(df, col("toks"), col("ina"), minCount = 1L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4))).toMap
    val (na, nb, leans, g2) = got("x")
    assert((na, nb, leans) === ((3L, 1L, "A")))
    val ea = 4.0 * 4.0 / 8.0
    val want = BigDecimal(2.0 * (3.0 * math.log(3.0 / ea) + 1.0 * math.log(1.0 / ea)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(g2 === want)
    assert(got("y")._3 === "B")
    // symmetric counts score identically
    assert(got("y")._4 === g2)
  }

  test("keyness: zero-count side contributes zero, balanced terms lean '='") {
    val df = Seq((Seq("only_a", "both"), true), (Seq("both"), false))
      .toDF("toks", "ina")
    val got = Drift.keyness(df, col("toks"), col("ina"), minCount = 1L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4))).toMap
    assert(got("only_a")._3 === "A")
    assert(!got("only_a")._4.isNaN && !got("only_a")._4.isInfinite)
    // "both": a=1 b=1, Na=2 Nb=1 -> a*tb=1 < b*ta=2 -> leans B
    assert(got("both")._3 === "B")
  }

  test("keyness: minCount bounds output but not the corpus totals") {
    val df = Seq((Seq("big", "big", "big", "rare"), true),
      (Seq("big", "big", "big"), false)).toDF("toks", "ina")
    val out = Drift.keyness(df, col("toks"), col("ina"), minCount = 2L)
    assert(out.select("term").collect().map(_.getString(0)).toSeq === Seq("big"))
    // totals include "rare": Na=4, Nb=3 -> expected_a for big = 6*4/7
    val g2 = out.collect().head.getDouble(4)
    val ea = 6.0 * 4.0 / 7.0
    val eb = 6.0 * 3.0 / 7.0
    val want = BigDecimal(2.0 * (3.0 * math.log(3.0 / ea) + 3.0 * math.log(3.0 / eb)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(g2 === want)
  }

  test("cramersV: perfect association scores 1, independence scores 0") {
    val perfect = (Seq.fill(10)(("a", "x")) ++ Seq.fill(10)(("b", "y")))
      .toDF("r", "c")
    val p = Drift.cramersV(perfect, col("r"), col("c")).collect().head
    assert((p.getLong(0), p.getLong(1), p.getLong(2)) === ((20L, 2L, 2L)))
    assert(p.getDouble(3) === 20.0, "chi2 of a perfect 2x2 split is n")
    assert(p.getDouble(4) === 1.0)
    val indep = (for { r <- Seq("a", "b"); c <- Seq("x", "y"); _ <- 1 to 5 }
      yield (r, c)).toDF("r", "c")
    val i = Drift.cramersV(indep, col("r"), col("c")).collect().head
    assert(i.getDouble(3) === 0.0 && i.getDouble(4) === 0.0)
  }

  test("cramersV: a single-level dimension yields NULL V, not NaN") {
    // min(R−1, C−1) = 0 ⇒ V undefined; the file's convention (nmi) is
    // NULL, never NaN/Infinity
    val df = Seq(("a", "x"), ("a", "y"), ("a", "x")).toDF("r", "c")
    val r = Drift.cramersV(df, col("r"), col("c")).collect().head
    assert(r.getLong(1) === 1L, "one row level")
    assert(r.getDouble(3) === 0.0, "chi2 of a constant margin is 0")
    assert(r.isNullAt(4), "V must be NULL for a degenerate table")
  }

  test("cramersV: NULL categories are excluded from the table") {
    val df = Seq((Some("a"), Some("x")), (Some("a"), Some("x")),
      (None, Some("x")), (Some("b"), None), (Some("b"), Some("y")),
      (Some("b"), Some("y"))).toDF("r", "c")
    val r = Drift.cramersV(df, col("r"), col("c")).collect().head
    assert(r.getLong(0) === 4L, "only fully-categorized rows count")
  }

  private def mi(rows: Seq[(String, String)]) = {
    val r = Drift.mutualInfo(rows.toDF("x", "y"), col("x"), col("y"))
      .collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
      r.getDouble(4), r.getDouble(5),
      if (r.isNullAt(6)) None else Some(r.getDouble(6)))
  }

  test("mutualInfo: independence gives 0; a bijection gives MI = H, nmi = 1") {
    val indep = for { x <- Seq("a", "b"); y <- Seq("p", "q"); _ <- 1 to 5 }
      yield (x, y)
    val (n, xl, yl, m, _, _, nmi) = mi(indep)
    assert((n, xl, yl) === ((20L, 2L, 2L)))
    assert(m === 0.0 && nmi === Some(0.0))
    // y is a function of x with uniform x over 4 values: MI = H = ln 4
    val bij = for { x <- Seq("a", "b", "c", "d"); _ <- 1 to 3 }
      yield (x, x.toUpperCase)
    val (_, _, _, m2, hx, hy, nmi2) = mi(bij)
    val ln4 = BigDecimal(math.log(4.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(m2 === ln4 && hx === ln4 && hy === ln4)
    assert(nmi2 === Some(1.0))
  }

  test("mutualInfo: constant margin makes normalization undefined, not 0/0") {
    val (_, xl, _, m, _, _, nmi) = mi(Seq.fill(6)(("only", "y1")) ++
      Seq.fill(6)(("only", "y2")))
    assert(xl === 1L && m === 0.0 && nmi === None)
  }

  private def jsd(rows: Seq[(Boolean, String)]) = {
    val r = Drift.jensenShannon(rows.toDF("inp", "c"), col("inp"), col("c"))
      .collect().head
    (r.getLong(0), r.getLong(1),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)),
      if (r.isNullAt(4)) None else Some(r.getDouble(4)))
  }

  test("jensenShannon: identical distributions score exactly 0") {
    val rows = for { p <- Seq(true, false); c <- Seq("a", "b", "c");
                     _ <- 1 to 4 } yield (p, c)
    val (np, nq, j, jn) = jsd(rows)
    assert(np === 12L && nq === 12L)
    assert(j === Some(0.0) && jn === Some(0.0))
  }

  test("jensenShannon: disjoint supports score ln 2 (normalized 1.0)") {
    val rows = Seq.fill(8)((true, "onlyP")) ++ Seq.fill(8)((false, "onlyQ"))
    val (_, _, j, jn) = jsd(rows)
    assert(j === Some(BigDecimal(math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(jn === Some(1.0))
  }

  test("jensenShannon: partial support is defined and bounded; empty cohort NULL") {
    // category 'b' absent from Q: PSI would be infinite; JSD is finite
    val rows = Seq.fill(4)((true, "a")) ++ Seq.fill(4)((true, "b")) ++
      Seq.fill(8)((false, "a"))
    val (_, _, j, jn) = jsd(rows)
    assert(j.exists(v => v > 0.0 && v < math.log(2.0) + 1e-9))
    assert(jn.exists(v => v > 0.0 && v <= 1.0))
    assert(jsd(Seq.fill(5)((true, "a")))._3 === None,
      "an empty cohort has no distribution — NULL, not NaN")
  }

  private def ks(rows: Seq[(Long, Boolean)]) = {
    val r = Drift.ksStatistic(rows.toDF("v", "ina"), col("v"), col("ina"))
      .collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)))
  }

  test("ksStatistic: hand-checked D; identical 0; disjoint 1") {
    // A = {1,2}, B = {2,3}: F_A(1)=.5,F_A(2)=1; F_B(1)=0,F_B(2)=.5 -> D=.5
    val (na, nb, nv, d) = ks(Seq((1L, true), (2L, true), (2L, false), (3L, false)))
    assert((na, nb, nv) === ((2L, 2L, 3L)))
    assert(d === Some(0.5))
    val same = (0L until 40L).flatMap(v => Seq((v, true), (v, false)))
    assert(ks(same)._4 === Some(0.0))
    val disjoint = (0L until 20L).map(v => (v, true)) ++
      (100L until 120L).map(v => (v, false))
    assert(ks(disjoint)._4 === Some(1.0))
  }

  test("ksStatistic: value 0 buckets correctly; empty class yields NULL") {
    // v=0 exercises the bit_length(v+1) bucket floor
    val withZero = Seq((0L, true), (0L, false), (5L, true), (5L, false))
    assert(ks(withZero)._4 === Some(0.0))
    val oneSided = Seq((1L, true), (2L, true))
    val (na, nb, _, d) = ks(oneSided)
    assert(na === 2L && nb === 0L && d === None)
  }

  test("ksStatistic: negative values fail loudly with the documented message") {
    // the r13 contract change (ADVICE r13): negatives used to be
    // silently excluded by the two's-complement conv() bucketing; they
    // now route to a sentinel bucket and the bounded stats collect
    // throws — a regression back to evaluating conv() for negatives
    // would either throw differently or silently truncate, both caught
    val e = intercept[IllegalArgumentException] {
      Drift.ksStatistic(Seq((-1L, true), (2L, false), (3L, true))
        .toDF("v", "ina"), col("v"), col("ina"))
    }
    assert(e.getMessage.contains("non-negative"),
      s"expected the shift-to-non-negative-units message, got: ${e.getMessage}")
  }

  test("ksStatistic: the sentinel branch leaves non-negative results unchanged") {
    // same inputs as the hand-checked case plus boundary value 0 — the
    // sentinel's when(v < 0) guard must be a no-op for legal inputs
    val (na, nb, nv, d) = ks(Seq((0L, true), (1L, true), (2L, true),
      (2L, false), (3L, false), (0L, false)))
    assert((na, nb, nv) === ((3L, 3L, 4L)))
    // F_A: 0->1/3, 1->2/3, 2->1, 3->1; F_B: 0->1/3, 1->1/3, 2->2/3, 3->1
    assert(d === Some(1.0 / 3.0))
  }

  test("ksStatistic: matches a single-window reference on skewed data, any partitioning") {
    val rows = (0 until 5000).map { i =>
      val v = ((i * 2654435761L) % 1000) + (if (i % 3 == 0) 500L else 0L)
      (v, i % 3 == 0)
    }
    val got = ks(rows)._4.get
    // reference: driver-side exact ECDF compare
    val a = rows.filter(_._2).map(_._1).sorted
    val b = rows.filterNot(_._2).map(_._1).sorted
    val vals = (a ++ b).distinct.sorted
    val dRef = vals.map { v =>
      math.abs(a.count(_ <= v).toDouble / a.size -
        b.count(_ <= v).toDouble / b.size)
    }.max
    assert(math.abs(got - dRef) < 1e-12, s"got $got vs reference $dRef")
    // repartitioned input agrees bit-for-bit (the two-phase prefix is
    // partitioning-invariant)
    val shuffled = Drift.ksStatistic(
      rows.toDF("v", "ina").repartition(13), col("v"), col("ina"))
      .collect().head.getDouble(3)
    assert(shuffled === got)
  }
}
