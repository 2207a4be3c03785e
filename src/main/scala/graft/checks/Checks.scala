package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * dbt-style data tests (reference models/stg/schema.yml,
 * models/marts/schema.yml, README.md:110). A check is a value that knows
 * the relation it tests; [[Check#failures]] keeps dbt's
 * compiled-SELECT-of-failures contract, a DataFrame of FAILING rows that
 * is empty on a pass, so checks compose with any runner.
 *
 * [[summary]] and [[run]] count a whole suite in one query with one
 * aggregate per relation: checks whose relations are the same plan
 * ([[org.apache.spark.sql.Dataset#sameSemantics]]) fold into a single
 * pass, a `groupBy` on one `unique` key with a conditional sum per
 * row predicate, then a global aggregate that adds the key's duplicate
 * count. Predicates and keys resolve by column name against the group's
 * first relation.
 */
object Checks {

  sealed trait Check {
    def relation: DataFrame
    def failures: DataFrame
  }

  /** Fails every row of `relation` on which `predicate` is TRUE. */
  final case class FailingRows(relation: DataFrame, predicate: Column) extends Check {
    def failures: DataFrame = relation.filter(predicate)
  }

  /** Fails every value of `key` occurring more than once, NULL included. */
  final case class DuplicateKeys(relation: DataFrame, key: String) extends Check {
    def failures: DataFrame =
      relation.groupBy(col(key)).agg(count(lit(1)).as("n")).filter(col("n") > 1)
  }

  /** `not_null`, optionally scoped by a `where` predicate (the reference's
    * conditional narrative_text test, models/stg/schema.yml:30-32). */
  def notNull(df: DataFrame, column: String, where: Column = lit(true)): Check =
    FailingRows(df, where && col(column).isNull)

  /** `unique`: key values occurring more than once. */
  def unique(df: DataFrame, column: String): Check = DuplicateKeys(df, column)

  /** `accepted_values`. NULLs pass, as in dbt: pair it with `not_null`
    * when NULLs should fail too. */
  def acceptedValues(df: DataFrame, column: String, values: Seq[String]): Check =
    FailingRows(df, col(column).isNotNull && !col(column).isin(values: _*))

  /** `relationships`: child keys missing from the parent (left anti-join
    * must be empty — README.md:110 FK semantics). NULL FKs pass (dbt). */
  def relationships(child: DataFrame, childKey: String,
                    parent: DataFrame, parentKey: String): Check =
    FailingRows(child.filter(col(childKey).isNotNull)
      .join(parent.select(col(parentKey).as(childKey)), Seq(childKey), "left_anti"), lit(true))

  /** One row per check, `(check_name, violations)`: the union of one
    * aggregate per relation, so a whole suite is a single query. */
  def summary(suite: Seq[(String, Check)]): DataFrame = {
    require(suite.nonEmpty, "a check summary needs at least one check")
    val byRelation = suite.foldLeft(Vector.empty[Vector[(String, Check)]]) { (groups, c) =>
      val i = groups.indexWhere(_.head._2.relation.sameSemantics(c._2.relation))
      if (i < 0) groups :+ Vector(c) else groups.updated(i, groups(i) :+ c)
    }
    byRelation.flatMap { group =>
      val relation = group.head._2.relation
      val preds = group.collect { case (name, FailingRows(_, p)) => name -> p }
      val keys = group.collect { case (name, DuplicateKeys(_, k)) => name -> k }
      // only one key can be the groupBy; each further key is a pass of its own
      counts(relation, keys.headOption, preds) +: keys.drop(1).map(k => counts(relation, Some(k), Nil))
    }.reduce(_ unionByName _)
  }

  /** One pass over `relation`: the failing-row count of each predicate
    * and, given a key, the number of its duplicated values. */
  private def counts(relation: DataFrame, key: Option[(String, String)],
                     preds: Seq[(String, Column)]): DataFrame = {
    val flags = preds.indices.map(i => when(preds(i)._2, 1L).otherwise(0L) -> s"__p$i")
    val perKey = key match {
      case Some((_, k)) => relation.groupBy(col(k))
        .agg(count(lit(1)).as("__n"), flags.map { case (f, c) => sum(f).as(c) }: _*)
      case None => relation.select(flags.map { case (f, c) => f.as(c) }: _*)
    }
    // a sum over no rows is NULL; a check over no rows has 0 failures
    val totals = flags.map { case (_, c) => coalesce(sum(col(c)), lit(0L)).as(c) } ++
      key.map(_ => count_if(col("__n") > 1).as("__dup"))
    val named = preds.map(_._1).zip(flags.map(_._2)) ++ key.map(_._1 -> "__dup")
    perKey.agg(totals.head, totals.tail: _*).select(inline(array(named.map { case (name, c) =>
      struct(lit(name).as("check_name"), col(c).as("violations"))
    }: _*)))
  }

  /** Run a named suite as one action; returns (name → failure count),
    * all-zero = green. */
  def run(suite: Map[String, Check]): Map[String, Long] =
    if (suite.isEmpty) Map.empty
    else summary(suite.toSeq).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
}
