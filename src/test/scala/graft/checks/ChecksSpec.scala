package graft.checks

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ChecksSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (Some("a"), Some("x"), 1),
    (Some("a"), Some("y"), 0),
    (None, Some("z"), 5),
    (Some("b"), None, 2)).toDF("k", "v", "n")

  test("notNull reports NULL rows, optionally scoped") {
    assert(Checks.notNull(df, "k").failures.count() === 1)
    assert(Checks.notNull(df, "v", col("n") > 2).failures.count() === 0)
    assert(Checks.notNull(df, "v", col("n") >= 2).failures.count() === 1)
  }

  test("unique reports duplicated keys once each") {
    val fails = Checks.unique(df, "k").failures.collect()
    assert(fails.length === 1)
    assert(fails.head.getString(0) === "a")
  }

  test("acceptedValues passes NULLs (dbt semantics), fails strangers") {
    assert(Checks.acceptedValues(df, "v", Seq("x", "y", "z")).failures.count() === 0)
    assert(Checks.acceptedValues(df, "v", Seq("x")).failures.count() === 2)
  }

  test("relationships: orphaned children fail, NULL FKs pass") {
    val parent = Seq("x", "y").toDF("pk")
    val fails = Checks.relationships(df, "v", parent, "pk").failures.collect()
    assert(fails.map(_.getAs[String]("v")).toSet === Set("z"))
  }

  test("run evaluates a mixed suite as one query, equal to per-check counts") {
    val keys = Seq(Some("a"), Some("a"), None, None, Some("b")).toDF("k")
    val parent = Seq("x", "y").toDF("pk")
    val suite = Map(
      "k_not_null" -> Checks.notNull(keys, "k"),
      "k_unique" -> Checks.unique(keys, "k"),
      "v_not_null_when_big" -> Checks.notNull(df, "v", col("n") >= 2),
      "v_accepted" -> Checks.acceptedValues(df, "v", Seq("x")),
      "v_fk_parent" -> Checks.relationships(df, "v", parent, "pk"),
      "n_green" -> Checks.notNull(df, "n"))
    val expected = suite.map { case (name, check) => name -> check.failures.count() }
    assert(expected === Map("k_not_null" -> 2L, "k_unique" -> 2L, "v_not_null_when_big" -> 1L,
      "v_accepted" -> 2L, "v_fk_parent" -> 1L, "n_green" -> 0L))
    val plans = executedPlans { assert(Checks.run(suite) === expected) }
    assert(plans.size === 1, plans.mkString("\n\n"))
  }

  test("fused counts equal failures.count() for every check") {
    val keys = Seq[(Option[String], Option[Int])](
      (Some("a"), Some(1)), (Some("a"), Some(1)), (None, Some(2)), (None, None), (Some("b"), Some(2)))
      .toDF("k", "m")
    val empty = keys.filter(lit(false))
    // built twice: two DataFrames, one relation
    def twin = Seq[(Option[String], Option[Int])](
      (Some("x"), Some(3)), (None, None), (None, Some(5)), (Some("q"), Some(1))).toDF("v", "n")
    val (twinA, twinB) = (twin, twin)
    assert(twinA.sameSemantics(twinB))
    val suite = Seq(
      "k_unique_null_keys" -> Checks.unique(keys, "k"),
      "m_unique_second_key" -> Checks.unique(keys, "m"),
      "k_not_null" -> Checks.notNull(keys, "k"),
      "m_not_null" -> Checks.notNull(keys, "m"),
      "empty_k_unique" -> Checks.unique(empty, "k"),
      "empty_k_not_null" -> Checks.notNull(empty, "k"),
      "empty_k_accepted" -> Checks.acceptedValues(empty, "k", Seq("a")),
      "twin_v_accepted" -> Checks.acceptedValues(twinA, "v", Seq("x")),
      "twin_v_not_null_where_null" -> Checks.notNull(twinB, "v", col("n") > 2),
      "twin_v_fk_parent" -> Checks.relationships(twinA, "v", Seq("x").toDF("pk"), "pk"))
    val expected = suite.map { case (name, check) => name -> check.failures.count() }.toMap
    assert(expected === Map("k_unique_null_keys" -> 2L, "m_unique_second_key" -> 2L,
      "k_not_null" -> 2L, "m_not_null" -> 1L, "empty_k_unique" -> 0L, "empty_k_not_null" -> 0L,
      "empty_k_accepted" -> 0L, "twin_v_accepted" -> 1L, "twin_v_not_null_where_null" -> 1L,
      "twin_v_fk_parent" -> 1L))
    assert(Checks.run(suite.toMap) === expected)
    // one pass per relation, plus one per extra unique key: keys twice,
    // empty once, the twins once, the anti-join once
    val passes = Checks.summary(suite).queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
        if a.groupingExpressions.isEmpty => a
    }
    assert(passes.size === 5)
  }

  test("run on an empty suite is an empty map") {
    assert(Checks.run(Map.empty) === Map.empty[String, Long])
  }
}
