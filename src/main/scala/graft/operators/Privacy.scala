package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Governance-tier re-identification audits (the reference's governance
 * pillar, README.md:127-133, states access control and lineage as
 * prose; group-size auditing is the engine-side primitive beneath
 * "is this slice safe to expose"): k-anonymity flags quasi-identifier
 * combinations matching fewer than k rows (an attacker joining on the
 * QI pins those rows down), l-diversity flags groups whose sensitive
 * attribute takes fewer than l distinct values (group membership alone
 * leaks the sensitive value even when k holds).
 *
 * One grouped pass: `count(*)` + `count(distinct sensitive)` per QI
 * combination — a single shuffle on the QI key, no joins, output
 * bounded by the QI-combination count. At 100 TB the QI cardinality,
 * not the row count, bounds the state (same argument as any grouped
 * aggregate); `approx_count_distinct` swaps in
 * when the sensitive column's per-group distinct state matters.
 *
 * [[generalize]] is the standard remediation step: band a numeric
 * column to width-`w` buckets (floor division, integer-exact), coarse
 * enough bands turning failing QI groups into passing ones.
 */
object Privacy {

  /** Per-QI-group audit: `n` (group size), `l` (distinct sensitive
    * values), and the two risk flags. `k`/`l` thresholds follow the
    * usual convention: a group PASSES when n >= k and l >= minL. */
  def kAnonymityAudit(df: DataFrame, qi: Seq[String], sensitive: Column,
                      k: Int, minL: Int = 2): DataFrame =
    df.groupBy(qi.map(col): _*)
      .agg(count(lit(1)).as("n"),
        count_distinct(sensitive).as("l"))
      .withColumn("k_anonymous", col("n") >= k)
      .withColumn("l_diverse", col("l") >= minL)

  /** Band `v` to width-`w` buckets: `floor(v / w) * w` (integer-exact
    * generalization for ages, timestamps, amounts; `pmod` keeps the
    * floor semantics for negative values too). */
  def generalize(v: Column, w: Long): Column = {
    require(w >= 1, "band width >= 1")
    v.cast("long") - pmod(v.cast("long"), lit(w))
  }

  // ------------------------------------------------------------ policies

  /** One column's masking policy: `allowedRoles` see the raw value,
    * everyone else sees `mask(col)` — the Snowflake `MASKING POLICY`
    * shape (a function of (value, CURRENT_ROLE()) bound to a column,
    * reference README.md:63,132) with the role resolved at plan time,
    * which is exactly when Snowflake's policy conditions on
    * CURRENT_ROLE() constant-fold too. */
  final case class MaskPolicy(column: String, allowedRoles: Set[String],
                              mask: Column => Column)

  /** Apply column-masking policies for `role`: a PURE PROJECTION — the
    * unprivileged branches are folded at plan time (role is a literal),
    * so the governed view costs zero over the base scan and the masked
    * plan never materializes raw values for unprivileged readers.
    * Scale: scan-side, codegen'd, no shuffle — governance that is free
    * at 100 TB. */
  def applyMaskingPolicies(df: DataFrame, role: String,
                           policies: Seq[MaskPolicy]): DataFrame = {
    val byCol = policies.map(p => p.column -> p).toMap
    require(byCol.size == policies.size, "one policy per column")
    // fail fast on misconfiguration — for a governance operator a
    // silently unapplied policy is a security failure, not a no-op:
    // (1) every policy must name a real column (a case/typo mismatch
    // would return raw PII to every role);
    val missing = policies.map(_.column).filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"masking policies name absent columns: ${missing.mkString(", ")}")
    // (2) every mask must preserve its column's type — checked against
    // a probe that applies ALL masks regardless of the caller's role,
    // so a type-changing mask fails at policy-definition time, not on
    // the first unprivileged read (Snowflake masking policies carry
    // the same returns-same-type contract)
    val probe =
      try df.select(df.columns.toSeq.map { c =>
        byCol.get(c).map(p => p.mask(col(c)).as(c)).getOrElse(col(c)) }: _*)
      catch {
        // a mask that doesn't even RESOLVE against its column's type
        // (e.g. maskHash on a numeric column) is the same
        // misconfiguration class as a type-changing one — surface it as
        // such, not as a raw analysis error from the probe internals
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            "masking policy misconfiguration: a mask does not apply to " +
              s"its column's type (use maskNull(dt) for non-string " +
              s"columns): ${e.getMessage}", e)
      }
    probe.schema.fields.zip(df.schema.fields).foreach { case (m, o) =>
      require(m.dataType == o.dataType,
        s"mask for '${o.name}' changes its type " +
          s"${o.dataType.simpleString} -> ${m.dataType.simpleString}; " +
          "the governed view's schema must not depend on the reader's " +
          "role (use maskNull(dt) for non-string columns)")
    }
    df.select(df.columns.toSeq.map { c =>
      byCol.get(c) match {
        case Some(p) if !p.allowedRoles.contains(role) =>
          p.mask(col(c)).as(c)
        case _ => col(c)
      }
    }: _*)
  }

  /** Partial mask: keep the last `keep` chars, star the rest (the usual
    * last-4 rule); values at or under `keep` chars pass through whole
    * (nothing left to hide that the length doesn't already reveal).
    * Linear scan-side string ops — `repeat('*', length-keep) ||
    * substr(c, -keep)` — the same formulation a DuckDB oracle states as
    * `repeat('*', greatest(length-keep, 0)) || right(c, keep)`. (An
    * earlier per-position lookahead regexp was semantically identical
    * but O(len²) worst case per value; fine for short PII columns,
    * strictly worse on long text.) NULL stays NULL (the length
    * comparison is NULL → otherwise-branch → concat over NULL). The
    * explicit short-value guard covers Spark's substring semantics,
    * where `substr(c, -keep)` yields '' (not the whole value) when
    * |c| < keep. */
  def maskTail(c: Column, keep: Int): Column = {
    require(keep >= 0, "keep >= 0")
    when(length(c) <= keep, c)
      .otherwise(concat(repeat(lit("*"), length(c) - keep),
        substring(c, -keep, keep)))
  }

  /** Full redaction to a fixed token — STRING columns only (the
    * type-preservation check in [[applyMaskingPolicies]] rejects it
    * elsewhere; use [[maskNull]] for non-string columns). */
  def maskFull(c: Column): Column = when(c.isNotNull, lit("***MASKED***"))

  /** Type-preserving redaction for non-string columns: NULL of the
    * column's own type (`dt` is a Spark SQL type name, e.g. "double") —
    * the standard numeric/date masking policy shape. */
  def maskNull(dt: String): Column => Column = _ => lit(null).cast(dt)

  /** Deterministic tokenization: SHA-256 of the value — referential
    * integrity preserved (equal values mask to equal tokens, so joins
    * and GROUP BYs on the masked column still work), raw value
    * unrecoverable. The classic masking policy for join keys. */
  def maskHash(c: Column): Column = when(c.isNotNull, sha2(c, 256))

  /** CONDITIONAL masking — Snowflake's two-argument masking policy
    * (`CREATE MASKING POLICY … AS (val, visible BOOLEAN) …`): the row's
    * own `conditionColumn` decides per row whether the raw value shows
    * (consent flags, ownership columns). Fail-closed on NULL: a NULL
    * condition masks (`when` falls through to otherwise). The condition
    * column must be BOOLEAN — anything else fails the
    * [[applyMaskingPolicies]] probe as a policy misconfiguration, and a
    * nonexistent condition column fails the same way; both at
    * view-construction time, never as silent raw data. Composes with
    * role gating exactly like any mask: allowed roles bypass it
    * entirely, everyone else gets the per-row decision. Still a pure
    * scan-side projection. */
  def conditionalMask(conditionColumn: String,
                      mask: Column => Column): Column => Column =
    c => when(col(conditionColumn), c).otherwise(mask(c))

  /** Aggregation policy — Snowflake's aggregation-policy semantics:
    * the table may only be served AS AGGREGATES over at least
    * `minGroupSize` rows. One grouped pass computes the requested
    * aggregates plus the group size; groups under the floor have their
    * keys NULLed (Snowflake's remainder-row convention) and fold into
    * ONE remainder row by re-aggregation — sum/min/max re-aggregate
    * directly, counts re-aggregate as the SUM of partial counts.
    * Every group therefore surfaces: either as itself (size ≥ floor)
    * or inside the remainder — totals are preserved, small groups are
    * not individually identifiable.
    *
    * Documented caveats (both are Snowflake's too): rows whose group
    * key is genuinely NULL merge into the remainder row, and the
    * remainder row itself may represent fewer than `minGroupSize` rows
    * when almost everything passed the floor — it cannot be subdivided
    * further, only suppressed by the caller if that residue matters.
    *
    * Scale: first shuffle is the ordinary grouped aggregate; the
    * second re-aggregation runs over GROUP-COUNT-sized data, not rows.
    * `aggs` entries are `(inputCol, fn, outName)` with fn one of
    * count | sum | min | max — the re-aggregable set; avg decomposes
    * into sum/count at the call site. */
  def aggregationPolicy(df: DataFrame, groupCols: Seq[String],
      aggs: Seq[(String, String, String)], minGroupSize: Long): DataFrame = {
    require(groupCols.nonEmpty, "aggregation policy needs group columns")
    require(aggs.nonEmpty, "aggregation policy needs aggregates")
    require(minGroupSize >= 1, "minGroupSize >= 1")
    val fns = Set("count", "sum", "min", "max")
    aggs.foreach { case (_, fn, _) =>
      require(fns(fn), s"aggregation policy fn '$fn' not re-aggregable " +
        s"(known: ${fns.mkString(", ")})")
    }
    val outs = aggs.map(_._3)
    require(outs.distinct.size == outs.size, "duplicate output names")
    val cnt = "__agg_policy_n"
    val firstPass = {
      val exprs = (count(lit(1)).as(cnt) +: aggs.map { case (c, fn, out) =>
        (fn match {
          case "count" => count(col(c))
          case "sum"   => sum(col(c))
          case "min"   => min(col(c))
          case "max"   => max(col(c))
        }).as(out)
      }).toList
      df.groupBy(groupCols.map(col): _*).agg(exprs.head, exprs.tail: _*)
    }
    // NULL the keys of under-floor groups (type-preserving: `when`
    // without otherwise yields NULL of the key's own type)
    val relabeled = groupCols.foldLeft(firstPass) { (acc, k) =>
      acc.withColumn(k, when(col(cnt) >= minGroupSize, col(k)))
    }
    val reaggs = aggs.map { case (_, fn, out) =>
      (fn match {
        case "count" | "sum" => sum(col(out)) // counts re-agg as sums
        case "min"           => min(col(out))
        case "max"           => max(col(out))
      }).as(out)
    }.toList
    relabeled.groupBy(groupCols.map(col): _*)
      .agg(reaggs.head, reaggs.tail: _*)
  }

  /** PROJECTION policy — Snowflake's `PROJECTION POLICY` semantics: an
    * unprivileged role may USE the protected column (filter on it, join
    * on it) but may not PROJECT it — no served output column may carry
    * its values. Enforcement is the serve-time gate over a FINISHED
    * query, and the mechanism is column-level lineage
    * ([[graft.operators.Lineage.columnSources]]): an output column
    * violates the policy iff its value-derivation set contains the
    * protected `(table, column)`. That lineage walk's documented
    * scoping — join keys and filter predicates contribute NOTHING to an
    * output's sources (they select rows, they don't build values) — is
    * exactly the projection-policy contract, so "filter allowed /
    * project denied" falls out of one definition instead of two
    * mechanisms. Aliasing, wrapping (`substring(c, …)`), or aggregating
    * (`max(c)`) the protected column all still derive from it and all
    * still throw; renaming cannot launder a projection.
    *
    * Catalog rows with `policy_kind = 'no_project'` declare the
    * protected columns ([[CatalogColumns]] shape; `allowed_roles` may
    * project). Plan inspection only — the query never executes before
    * the gate decides, and a compliant result is returned UNCHANGED
    * (zero plan cost). Like Snowflake's, the policy governs projection,
    * not inference: a predicate can still leak membership bits — that
    * residual channel is the aggregation policy's job
    * ([[aggregationPolicy]]), not this one's.
    *
    * Fail-closed posture matches the rest of the catalog layer: the
    * violation is an exception at serve time, never a silently dropped
    * or masked column (dropping would change the schema contract the
    * caller declared). */
  def enforceProjectionPolicies(result: DataFrame, role: String,
                                catalog: DataFrame): DataFrame = {
    val missingCat = CatalogColumns.filterNot(catalog.columns.contains)
    require(missingCat.isEmpty,
      s"policy catalog lacks columns: ${missingCat.mkString(", ")} " +
        s"(expected ${CatalogColumns.mkString(", ")})")
    val rows = catalog.filter(col("policy_kind") === "no_project")
      .select(col("table_name"), col("column_name"), col("allowed_roles"))
      .collect() // governance metadata — a handful of rows by construction
    val protectedCols: Set[(String, String)] = rows.iterator.flatMap { r =>
      val roles = Option(r.getString(2)).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
      if (roles.contains(role)) None
      else for {
        t <- Option(r.getString(0)).map(_.trim).filter(_.nonEmpty)
        c <- Option(r.getString(1)).map(_.trim).filter(_.nonEmpty)
      } yield (t, c)
    }.toSet
    if (protectedCols.isEmpty) result
    else {
      // lineage identifies file tables by root-path last segment
      // ("customer.parquet"); the catalog names the logical table
      // ("customer") — strip the format extension to compare
      def tableId(s: String): String =
        s.replaceAll("(?i)\\.(parquet|orc|json|csv)$", "")
      val violations = Lineage.columnSources(result).toSeq.flatMap {
        case (out, srcs) =>
          srcs.collect { case (t, c) if protectedCols((tableId(t), c)) =>
            s"$out (derives from ${tableId(t)}.$c)" }
      }.sorted
      require(violations.isEmpty,
        s"projection policy violation for role '$role': output " +
          s"column(s) ${violations.mkString("; ")} — the column may be " +
          "filtered or joined on, but not projected (directly, aliased, " +
          "wrapped, or aggregated)")
      result
    }
  }

  // ----------------------------------------------------- classification

  /** Semantic-category registry for [[classify]], in PRECEDENCE order
    * (earlier wins count ties). Anchored regexes kept to portable
    * syntax (character classes + bounded repetition) so an external
    * auditor can restate them verbatim. `phone` is the NANP-ish
    * `NN-NNN-NNN-NNNN` shape the TPC-H generator emits. */
  val SemanticCategories: Seq[(String, String)] = Seq(
    "phone"    -> "^[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}$",
    "email"    -> "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$",
    "date_iso" -> "^[0-9]{4}-[0-9]{2}-[0-9]{2}$")

  /** Data classification — Snowflake's `EXTRACT_SEMANTIC_CATEGORIES`
    * shape: scan a table's string columns ONCE and decide, per column,
    * which semantic category its values match. One row per classified
    * column: `(column_name, semantic_category, n_values, n_match)` —
    * the decided category when the best candidate matches at least
    * `minRatio` of the non-null values, `'text'` otherwise (`n_match`
    * still reports the best candidate's count, so the report shows HOW
    * undecided a 'text' column was).
    *
    * Plan shape: one scan-side aggregate computes every
    * (column × category) match count plus per-column non-null counts —
    * a single job, no shuffle beyond the global fold — then the
    * single-row result is unpivoted with `stack` and the best candidate
    * picked by a window over #cols×#cats rows. Integer counts
    * throughout: the decision compares `n_match * 1e6 >= minRatio*1e6 *
    * n_values` in integer space, so the gate never hashes a float and
    * ties cannot flip between engines. At 100 TB this is one pass over
    * the sampled (or full) table with O(cols × cats) state. */
  def classify(df: DataFrame, minRatio: Double = 0.9,
               columns: Seq[String] = Seq.empty,
               categories: Seq[(String, String)] = SemanticCategories): DataFrame = {
    require(minRatio > 0 && minRatio <= 1, "minRatio in (0, 1]")
    require(categories.nonEmpty, "empty category registry")
    val strCols =
      if (columns.nonEmpty) columns
      else df.schema.fields.collect {
        case f if f.dataType == org.apache.spark.sql.types.StringType => f.name
      }.toSeq
    val missing = strCols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"classify: absent columns ${missing.mkString(", ")}")
    require(strCols.nonEmpty, "classify: no string columns to classify")
    val aggExprs = strCols.flatMap { c =>
      count(col(c)).as(s"__n_$c") +:
        categories.map { case (g, re) =>
          sum(when(col(c).rlike(re), 1L).otherwise(0L)).as(s"__m_${c}_$g")
        }
    }
    val oneRow = df.agg(aggExprs.head, aggExprs.tail: _*)
    // unpivot the single row to (column, category, precedence, counts)
    val legs = strCols.flatMap { c =>
      categories.zipWithIndex.map { case ((g, _), i) =>
        s"'$c', '$g', $i, `__n_$c`, `__m_${c}_$g`"
      }
    }
    val long = oneRow.selectExpr(
      s"stack(${legs.size}, ${legs.mkString(", ")}) AS " +
        "(column_name, category, prec, n_values, n_match)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("column_name"))
      .orderBy(col("n_match").desc, col("prec").asc)
    val scaled = math.round(minRatio * 1000000L)
    long.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("column_name"),
        when(col("n_values") > 0 &&
            col("n_match") * 1000000L >= lit(scaled) * col("n_values"),
          col("category")).otherwise(lit("text")).as("semantic_category"),
        col("n_values"), col("n_match"))
  }

  /** Tag-based policy binding — the loop that makes classification
    * actionable (Snowflake's tag-based masking: classification assigns
    * tags, policies bind to tags, every tagged column is governed
    * automatically): map [[classify]]'s decided categories through
    * `rules` (category → (mask kind, param)) into [[CatalogColumns]]
    * catalog rows for `tableName`, ready for [[governedView]]. Columns
    * that classified as an unruled category (or 'text') emit no row —
    * they are not PII by the classifier's judgment. Pure DataFrame
    * transform (no driver collect here; [[governedView]] collects the
    * resulting handful of catalog rows as it does any catalog). */
  def autoMaskCatalog(classified: DataFrame, tableName: String,
                      rules: Map[String, (String, String)],
                      rawRoles: String = "admin"): DataFrame = {
    require(rules.nonEmpty, "autoMaskCatalog: empty rule set")
    val ruleSeq = rules.toSeq.sortBy(_._1)
    val kindExpr = ruleSeq.tail.foldLeft(
      when(col("semantic_category") === ruleSeq.head._1, lit(ruleSeq.head._2._1))) {
      case (acc, (cat, (kind, _))) =>
        acc.when(col("semantic_category") === cat, lit(kind))
    }
    val paramExpr = ruleSeq.tail.foldLeft(
      when(col("semantic_category") === ruleSeq.head._1, lit(ruleSeq.head._2._2))) {
      case (acc, (cat, (_, param))) =>
        acc.when(col("semantic_category") === cat, lit(param))
    }
    classified.filter(col("semantic_category").isin(rules.keys.toSeq: _*))
      .select(lit(tableName).as("table_name"),
        col("column_name"),
        kindExpr.as("policy_kind"),
        paramExpr.as("policy_param"),
        lit(rawRoles).as("allowed_roles"))
  }

  /** Row-access policy: an entitlement table (role, key) decides row
    * visibility — the Snowflake `ROW ACCESS POLICY` shape (reference
    * README.md:63,132, "per manufacturer/region"). A LEFT SEMI join
    * against the role's entitlement rows; entitlement tables are
    * role-count × key-count small BY CONSTRUCTION (grants are written
    * by administrators, not generated by pipelines), so the semi-join
    * broadcasts and the policy costs one scan-side hash probe per row
    * at any fact size. The assumption is guarded, not assumed: the
    * role's distinct key count is probed first (one tiny bounded job),
    * and past `maxBroadcastKeys` the semi-join degrades to a shuffle
    * instead of OOMing the driver with a pathological "entitlement"
    * table. */
  def rowAccessFilter(df: DataFrame, keyCol: String,
                      entitlements: DataFrame, roleCol: String,
                      role: String, maxBroadcastKeys: Int = 1 << 22): DataFrame = {
    val keys = entitlements.filter(col(roleCol) === role)
      .select(col(keyCol)).distinct()
    val oversized =
      keys.limit(maxBroadcastKeys + 1).count() > maxBroadcastKeys
    df.join(if (oversized) keys else broadcast(keys), Seq(keyCol), "left_semi")
  }

  // --------------------------------------------------- policy catalog

  /** Catalog column contract for [[governedView]] — one row per bound
    * policy, seed-CSV friendly (all STRING):
    *
    *   table_name   — the governed table this row binds to
    *   column_name  — masked column, or the entitlement KEY column for
    *                  `row_access`
    *   policy_kind  — mask_tail | mask_full | mask_null | mask_hash |
    *                  row_access
    *   policy_param — mask_tail: chars kept; mask_null: Spark SQL type
    *                  name; otherwise empty
    *   allowed_roles — comma-separated roles that see RAW values
    *                  (ignored for row_access: visibility comes from the
    *                  entitlement table)
    */
  val CatalogColumns: Seq[String] =
    Seq("table_name", "column_name", "policy_kind", "policy_param",
      "allowed_roles")

  /**
   * Declarative policy binding — the `ALTER TABLE … SET MASKING/ROW
   * ACCESS POLICY` analog (reference README.md:63,132): instead of
   * call-site [[MaskPolicy]] arguments, the policy set is DATA — a
   * persisted catalog table in the [[CatalogColumns]] shape — and the
   * governed view is composed from whatever the catalog says about
   * `tableName`. Governance-as-data is what makes policies auditable
   * (the catalog is itself queryable/publishable like any mart) and
   * centrally administered (one catalog row change re-governs every
   * reader).
   *
   * The catalog is governance METADATA — a handful of rows per table by
   * construction — so the driver-side collect here is bounded the same
   * way [[graft.operators.Knn]]'s k centroids are. Misconfiguration
   * fails fast, never fails open: an unparseable catalog (missing
   * columns, unknown kind, malformed param, a `row_access` row without
   * an entitlement table) and every [[applyMaskingPolicies]] guard
   * (absent column, type-changing mask) throw at view-construction
   * time; a table with NO catalog rows also throws — for a governance
   * operator, "ungoverned" must be an explicit caller decision
   * (`requirePolicies = false`), not the silent result of a typo'd
   * table name.
   *
   * Plan shape: identical to the call-site forms — masks fold to a
   * scan-side projection, row access is one broadcast semi probe — the
   * catalog only changes WHERE the policy comes from, not what it
   * costs.
   */
  def governedView(df: DataFrame, tableName: String, role: String,
                   catalog: DataFrame,
                   entitlements: Option[DataFrame] = None,
                   entitlementRoleCol: String = "role",
                   requirePolicies: Boolean = true): DataFrame = {
    val missingCat = CatalogColumns.filterNot(catalog.columns.contains)
    require(missingCat.isEmpty,
      s"policy catalog lacks columns: ${missingCat.mkString(", ")} " +
        s"(expected ${CatalogColumns.mkString(", ")})")
    val rows = catalog.filter(col("table_name") === tableName)
      .select(CatalogColumns.map(col): _*).collect()
    require(!requirePolicies || rows.nonEmpty,
      s"no policies bound to table '$tableName' — a typo'd table name " +
        "would silently return raw data; pass requirePolicies = false " +
        "to read a deliberately ungoverned table through this API")
    def cell(r: org.apache.spark.sql.Row, i: Int): Option[String] =
      Option(r.getString(i)).map(_.trim).filter(_.nonEmpty)
    // `no_project` rows are PROJECTION policies — they govern the SERVED
    // query result, not the base view (the column stays readable here so
    // it can be filtered/joined on), and are enforced by
    // [[enforceProjectionPolicies]] at serve time. They still count as
    // "this table is governed" for the requirePolicies guard above.
    val (accessRows, maskRows) =
      rows.toSeq.filterNot(r => cell(r, 2).contains("no_project"))
        .partition(r => cell(r, 2).contains("row_access"))
    val policies = maskRows.map { r =>
      val column = cell(r, 1).getOrElse(
        throw new IllegalArgumentException(
          s"catalog row for '$tableName' has an empty column_name"))
      val kind = cell(r, 2).getOrElse("")
      val param = cell(r, 3)
      val roles = cell(r, 4)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty[String])
      def intParam: Int = param.flatMap(_.toIntOption).getOrElse(
        throw new IllegalArgumentException(
          s"$kind('$column') needs an integer policy_param, " +
            s"got '${param.getOrElse("")}'"))
      // `<kind> unless <boolean_col>` = Snowflake's conditional
      // (two-argument) masking policy: the named BOOLEAN column grants
      // per-row visibility to unprivileged roles. Parsed here; the
      // condition column's existence and type are enforced by the
      // applyMaskingPolicies probe (absent or non-boolean → the
      // policy-misconfiguration error, at view-construction time).
      val (baseKind, condCol) = kind.split(" unless ", 2) match {
        case Array(k, c) if c.trim.nonEmpty => (k.trim, Some(c.trim))
        case _ => (kind, None)
      }
      val baseMask: Column => Column = baseKind match {
        case "mask_tail" => maskTail(_, intParam)
        case "mask_full" => maskFull
        case "mask_hash" => maskHash
        case "mask_null" => maskNull(param.getOrElse(
          throw new IllegalArgumentException(
            s"mask_null('$column') needs a type name in policy_param")))
        case other => throw new IllegalArgumentException(
          s"unknown policy_kind '$other' for column '$column' of " +
            s"'$tableName' (known: mask_tail, mask_full, mask_null, " +
            "mask_hash, row_access, no_project; any mask kind may " +
            "append ' unless <boolean_col>' for per-row conditional " +
            "masking)")
      }
      val mask = condCol.fold(baseMask)(conditionalMask(_, baseMask))
      MaskPolicy(column, roles, mask)
    }
    val masked = applyMaskingPolicies(df, role, policies)
    accessRows.foldLeft(masked) { (acc, r) =>
      val keyCol = cell(r, 1).getOrElse(
        throw new IllegalArgumentException(
          s"row_access row for '$tableName' has an empty column_name"))
      require(acc.columns.contains(keyCol),
        s"row_access policy on '$tableName' names absent key column " +
          s"'$keyCol'")
      val ent = entitlements.getOrElse(
        throw new IllegalArgumentException(
          s"catalog binds a row_access policy to '$tableName' but no " +
            "entitlement table was provided"))
      rowAccessFilter(acc, keyCol, ent, entitlementRoleCol, role)
    }
  }
}
