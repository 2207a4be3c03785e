package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * dbt-style data tests (reference models/stg/schema.yml,
 * models/marts/schema.yml, README.md:110): each check returns a DataFrame
 * of FAILING rows — empty means pass — mirroring dbt's
 * compiled-SELECT-of-failures contract so checks compose with any runner.
 */
object Checks {

  /** `not_null`, optionally scoped by a `where` predicate (the reference's
    * conditional narrative_text test, models/stg/schema.yml:30-32). */
  def notNull(df: DataFrame, column: String, where: Column = lit(true)): DataFrame =
    df.filter(where).filter(col(column).isNull)

  /** `unique`: key values occurring more than once. */
  def unique(df: DataFrame, column: String): DataFrame =
    df.groupBy(col(column)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** `accepted_values`. NULLs pass, as in dbt: pair it with `not_null`
    * when NULLs should fail too. */
  def acceptedValues(df: DataFrame, column: String, values: Seq[String]): DataFrame =
    df.filter(col(column).isNotNull && !col(column).isin(values: _*))

  /** `relationships`: child keys missing from the parent (left anti-join
    * must be empty — README.md:110 FK semantics). NULL FKs pass (dbt). */
  def relationships(child: DataFrame, childKey: String,
                    parent: DataFrame, parentKey: String): DataFrame =
    child.filter(col(childKey).isNotNull)
      .join(parent.select(col(parentKey).as(childKey)), Seq(childKey), "left_anti")

  /** One row per check, `(check_name, violations)`: the union of each
    * check's failure count, so a whole suite is a single query. */
  def summary(suite: Seq[(String, DataFrame)]): DataFrame = {
    require(suite.nonEmpty, "a check summary needs at least one check")
    suite.map { case (name, failures) =>
      failures.agg(count(lit(1)).as("violations"))
        .select(lit(name).as("check_name"), col("violations"))
    }.reduce(_ unionByName _)
  }

  /** Run a named suite as one action; returns (name → failure count),
    * all-zero = green. */
  def run(suite: Map[String, DataFrame]): Map[String, Long] =
    if (suite.isEmpty) Map.empty
    else summary(suite.toSeq).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
}
