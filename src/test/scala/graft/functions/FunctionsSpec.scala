package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("parseYyyymmdd: valid, malformed, calendar-invalid, NULL") {
    val df = Seq("20200115", "2020xx01", "20200230", "0", null)
      .toDF("s").select(F.parseYyyymmdd(col("s")).cast("string").as("d"))
    assert(df.collect().map(_.getString(0)).toSeq ===
      Seq("2020-01-15", null, null, null, null))
  }

  test("yearQuarterLabel and quarterIndex") {
    val df = Seq("1997-08-12", "2020-01-01", "2020-12-31").toDF("s")
      .select(F.yearQuarterLabel(col("s").cast("date")).as("yq"),
        F.quarterIndex(col("s").cast("date")).as("qi"))
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("1997-Q3", 1997L * 4 + 3), ("2020-Q1", 8081L), ("2020-Q4", 8084L)))
  }

  test("surrogateKey matches SHA-256 with NULL->'' joining") {
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest("a|b|".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = Seq(("a", "b")).toDF("x", "y")
      .select(F.surrogateKey(col("x"), col("y"), lit(null).cast("string")))
      .collect().head.getString(0)
    assert(got === expected)
  }

  test("trimToNull blanks and trims") {
    val df = Seq("  x ", "   ", "", null).toDF("s")
      .select(F.trimToNull(col("s")).as("t"))
    assert(df.collect().map(_.getString(0)).toSeq === Seq("x", null, null, null))
  }

  test("orderedListagg is invariant to input row order and skips NULLs") {
    def run(rows: Seq[(Int, String)]): String =
      rows.toDF("idx", "txt").repartition(4)
        .agg(F.orderedListagg(col("txt"), col("idx"), "\n"))
        .collect().head.getString(0)
    val inOrder  = Seq(0 -> "a", 1 -> "b", 2 -> null, 3 -> "d")
    val shuffled = Seq(3 -> "d", 1 -> "b", 0 -> "a", 2 -> null)
    assert(run(inOrder) === "a\nb\nd")
    assert(run(shuffled) === "a\nb\nd")
  }

  test("orderedListagg of all-NULL values yields empty string (LISTAGG semantics)") {
    val got = Seq((0, Option.empty[String])).toDF("idx", "txt")
      .agg(F.orderedListagg(col("txt"), col("idx"), "\n"))
      .collect().head.getString(0)
    assert(got === "")
  }

  test("zScore guard: NULL std, zero std, normal") {
    val df = Seq((10.0, Some(8.0), Option.empty[Double]),
        (10.0, Some(8.0), Some(0.0)), (10.0, Some(8.0), Some(2.0)))
      .toDF("x", "m", "s")
      .select(F.zScore(col("x"), col("m"), col("s")).as("z"))
    assert(df.collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq ===
      Seq(null, null, 1.0))
  }

  test("safeDiv never raises on zero denominators (ANSI mode)") {
    val df = Seq((1.0, 0.0), (1.0, 2.0)).toDF("n", "d")
      .select(F.safeDiv(col("n"), col("d")).as("q"))
    assert(df.collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq ===
      Seq(null, 0.5))
  }

  test("repetition metrics: dup n-gram fractions and top-token share") {
    val df = Seq(
      1L -> "a b a b a b",  // bigrams: 5 total, 2 distinct; 'a' 3/6
      2L -> "x y z",        // all distinct
      3L -> "x"             // too short for any bigram
    ).toDF("id", "text")
    val toks = Text.tokens(col("text"))
    val out = df.select(col("id"), Text.dupNgramFrac(toks, 2).as("d2"),
        Text.topTokenRatio(toks).as("tt"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out(1L) === ((0.6, 0.5)))
    assert(out(2L)._1 === 0.0)
    assert(out(3L) === ((0.0, 1.0)))
  }

  test("nfc kernel composes combining marks; cleaned() collapses and trims") {
    // "e" + COMBINING ACUTE (U+0301) must compose to precomposed é (U+00E9)
    val decomposed = "café"
    val rows = Seq(decomposed, "café", "  A  \t B\n", null)
      .toDF("s")
      .select(Text.nfc(col("s")).as("n"), Text.cleaned(col("s")).as("c"))
      .collect()
    assert(rows(0).getString(0) === "café")
    assert(rows(0).getString(0).length === 4, "must be the composed form")
    assert(rows(1).getString(0) === "café")      // already-NFC fast path
    assert(rows(0).getString(1) === rows(1).getString(1))
    assert(rows(2).getString(1) === "a b")            // lower + collapse + trim
    assert(rows(3).isNullAt(0) && rows(3).isNullAt(1))
  }

  test("ShaLanes: Column, JVM and known-answer lanes agree") {
    // known vector: sha256("hello") = 2cf24dba5fb0a30e... -> first 15 hex
    // chars parse to 202421034056092208 (cross-checked against DuckDB's
    // list_reduce hex parse and Python int(hex[:15], 16))
    assert(ShaLanes.jvmLane("hello") === 202421034056092208L)
    val inputs = Seq("hello", "", "a", "0|the quick brown", "t,p,d", "ünïcødé")
    val fromCol = inputs.toDF("s")
      .select(col("s"), ShaLanes.lane(col("s")).as("lane"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    inputs.foreach { s =>
      assert(fromCol(s) === ShaLanes.jvmLane(s), s"lane mismatch for '$s'")
      assert(fromCol(s) >= 0L && fromCol(s) < (1L << 60))
    }
    // all four digest offsets agree between Column and JVM forms
    ShaLanes.LaneOffsets.foreach { o =>
      val c = Seq("offsets").toDF("s")
        .select(ShaLanes.lane(col("s"), o)).head().getLong(0)
      assert(c === ShaLanes.jvmLane("offsets".getBytes("UTF-8"), o))
    }
  }
}
