package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

class BoundLevenshteinSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs: DataFrame = Seq(
    ("a", "kitten"), ("b", "sitting"), ("c", "kitten"), ("d", "flawless"),
    ("e", null.asInstanceOf[String])
  ).toDF("id", "t")

  private def bounded(p: LogicalPlan): Seq[Levenshtein] =
    p.flatMap(_.expressions).flatMap(_.collect {
      case l @ Levenshtein(_, _, Some(_)) => l
    })

  private def unbounded(p: LogicalPlan): Seq[Levenshtein] =
    p.flatMap(_.expressions).flatMap(_.collect {
      case l @ Levenshtein(_, _, None) => l
    })

  private def pairs: DataFrame =
    docs.as("x").join(docs.as("y"), $"x.id" < $"y.id")

  test("every comparison shape rewrites to the bounded kernel and keeps results") {
    // (predicate with the unbounded kernel, hand-bounded reference predicate)
    val shapes: Seq[(Column, Column)] = Seq(
      (levenshtein($"x.t", $"y.t") <= 3,      levenshtein($"x.t", $"y.t", 3) >= 0),
      (lit(3) >= levenshtein($"x.t", $"y.t"), levenshtein($"x.t", $"y.t", 3) >= 0),
      (levenshtein($"x.t", $"y.t") < 3,       levenshtein($"x.t", $"y.t", 2) >= 0),
      (lit(3) > levenshtein($"x.t", $"y.t"),  levenshtein($"x.t", $"y.t", 2) >= 0),
      (levenshtein($"x.t", $"y.t") > 3,       levenshtein($"x.t", $"y.t", 3) === -1),
      (lit(3) < levenshtein($"x.t", $"y.t"),  levenshtein($"x.t", $"y.t", 3) === -1),
      (levenshtein($"x.t", $"y.t") >= 3,      levenshtein($"x.t", $"y.t", 2) === -1),
      (lit(3) <= levenshtein($"x.t", $"y.t"), levenshtein($"x.t", $"y.t", 2) === -1),
      (levenshtein($"x.t", $"y.t") === 3,     levenshtein($"x.t", $"y.t", 3) === 3),
      (lit(3) === levenshtein($"x.t", $"y.t"), levenshtein($"x.t", $"y.t", 3) === 3)
    )
    for (((pred, ref), i) <- shapes.zipWithIndex) {
      val ids = pairs.filter(pred).select($"x.id".as("ida"), $"y.id".as("idb"))
      val rewritten = BoundLevenshtein(ids.queryExecution.analyzed)
      assert(bounded(rewritten).nonEmpty, s"shape $i did not rewrite")
      assert(unbounded(rewritten).isEmpty, s"shape $i left an unbounded kernel")
      // value equivalence through real execution of the REWRITTEN plan,
      // including the NULL row (id=e): both predicates drop it
      val viaRule = spark.sessionState.executePlan(rewritten)
        .executedPlan.executeCollect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val expect = pairs.filter(ref).select($"x.id", $"y.id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(viaRule === expect, s"shape $i changed results")
    }
  }

  test("degenerate and non-literal comparisons are left alone") {
    // negative bound, column-valued bound, bare projection of the distance
    val untouched = Seq(
      pairs.filter(levenshtein($"x.t", $"y.t") <= -1),
      pairs.filter(levenshtein($"x.t", $"y.t") <= length($"x.t")),
      docs.select(levenshtein($"t", lit("kitten")).as("d")))
    for ((df, i) <- untouched.zipWithIndex) {
      val out = BoundLevenshtein(df.queryExecution.analyzed)
      assert(bounded(out).isEmpty, s"case $i was wrongly rewritten")
    }
  }

  test("idempotent: a second application is a no-op") {
    val once = BoundLevenshtein(
      pairs.filter(levenshtein($"x.t", $"y.t") <= 3).queryExecution.analyzed)
    assert(BoundLevenshtein(once) === once)
  }

  test("Graft.configure attaches the rule: session optimizer rewrites SQL predicates") {
    val s = graft.Graft.configure(spark.newSession())
    // build the view IN the new session — temp views don't cross sessions
    locally {
      import s.implicits._
      Seq(("a", "kitten"), ("b", "sitting"), ("c", "kitten"),
        ("d", "flawless"), ("e", null.asInstanceOf[String]))
        .toDF("id", "t").createOrReplaceTempView("bl_docs")
    }
    val q = s.sql(
      """SELECT x.id AS ida, y.id AS idb
        |FROM bl_docs x JOIN bl_docs y ON x.id < y.id
        |WHERE levenshtein(x.t, y.t) <= 3""".stripMargin)
    assert(bounded(q.queryExecution.optimizedPlan).nonEmpty,
      "session optimizer did not bound the kernel")
    assert(unbounded(q.queryExecution.optimizedPlan).isEmpty)
    assert(q.collect().map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("a", "b"), ("a", "c"), ("b", "c")))
    // configure is idempotent — no duplicate rule entries
    graft.Graft.configure(s)
    assert(s.experimental.extraOptimizations.count(_ == BoundLevenshtein) === 1)
    // and the SHARED test session (rule never attached) keeps the
    // unbounded form — the rewrite is the rule's doing, not a built-in
    val base = pairs.filter(levenshtein($"x.t", $"y.t") <= 3)
    assert(bounded(base.queryExecution.optimizedPlan).isEmpty)
  }
}
