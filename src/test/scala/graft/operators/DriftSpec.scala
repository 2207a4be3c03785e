package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DriftSpec extends SparkSpec {
  import spark.implicits._

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
    // negatives used to be
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
