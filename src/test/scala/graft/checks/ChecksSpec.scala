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
    assert(Checks.notNull(df, "k").count() === 1)
    assert(Checks.notNull(df, "v", col("n") > 2).count() === 0)
    assert(Checks.notNull(df, "v", col("n") >= 2).count() === 1)
  }

  test("unique reports duplicated keys once each") {
    val fails = Checks.unique(df, "k").collect()
    assert(fails.length === 1)
    assert(fails.head.getString(0) === "a")
  }

  test("acceptedValues passes NULLs (dbt semantics), fails strangers") {
    assert(Checks.acceptedValues(df, "v", Seq("x", "y", "z")).count() === 0)
    assert(Checks.acceptedValues(df, "v", Seq("x")).count() === 2)
  }

  test("relationships: orphaned children fail, NULL FKs pass") {
    val parent = Seq("x", "y").toDF("pk")
    val fails = Checks.relationships(df, "v", parent, "pk").collect()
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
    val expected = suite.map { case (name, fails) => name -> fails.count() }
    assert(expected === Map("k_not_null" -> 2L, "k_unique" -> 2L, "v_not_null_when_big" -> 1L,
      "v_accepted" -> 2L, "v_fk_parent" -> 1L, "n_green" -> 0L))
    val plans = executedPlans { assert(Checks.run(suite) === expected) }
    assert(plans.size === 1, plans.mkString("\n\n"))
  }

  test("run on an empty suite is an empty map") {
    assert(Checks.run(Map.empty) === Map.empty[String, Long])
  }
}
