package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{lit, year}

/**
 * Mart publication sinks (reference README.md:74-75, 121-124: materialize
 * enriched marts as Iceberg tables registered in a REST Open Catalog so
 * Trino/DuckDB read the same table — SURVEY.md §2.1 S6).
 *
 * Iceberg status: PERMANENTLY ENV-BLOCKED here, by direct probe (round
 * 6): `/opt/spark/jars` ships no Iceberg/Delta runtime and the offline
 * resolver has no `iceberg-spark-runtime` artifact (zero egress), so the
 * `format = "iceberg"` leg can never execute in this environment. The
 * default format is parquet — which already exercises the reference's
 * cross-engine interop target (README.md:141, one table read by ≥2
 * engines): every declared query's parquet output is independently read
 * and re-derived by DuckDB each round, and q212_publish_interop gates
 * the publish leg DIRECTLY — a mart published through [[files]] is read
 * back by BOTH Spark and DuckDB (`read_parquet` over the same physical
 * files, hive partition column included) and the two value-level
 * digests hash-compare every round. When an Iceberg runtime IS on the
 * classpath (any normal deployment), pass `format = "iceberg"` and
 * configure the catalog:
 *
 * {{{
 * spark.sql.catalog.lake = org.apache.iceberg.spark.SparkCatalog
 * spark.sql.catalog.lake.catalog-impl = org.apache.iceberg.rest.RESTCatalog
 * spark.sql.catalog.lake.uri = https://<rest-catalog-endpoint>
 * }}}
 *
 * Partitioning: these sinks can publish a mart partitioned by a
 * low-cardinality time column (receive-year, say) so time-scoped readers
 * prune whole partitions — the write-side decision SURVEY.md §4 calls out
 * as ours to make. The vigilance refresh ([[graft.models.Pipeline.run]])
 * writes its marts unpartitioned, as the reference materializes them.
 */
object Publish {

  /** Refresh-read predicate for a touched-year partition refresh
    * (q216 / [[filesPartitionOverwrite]]): carries BOTH a raw-column
    * timestamp range — parquet-pushable, so row groups outside
    * [min-01-01, (max+1)-01-01) prune on footer stats; `year(col)`
    * alone is opaque to the reader — and the exact year membership
    * (post-scan, for sparse touched-year sets). At 100 TB the range is
    * what keeps the refresh read delta-decade-sized. Factored here so
    * the production expression and the plan pin (PlanSpec's q216 test)
    * are the SAME code — the pin tests what runs, not a lookalike
    * (ADVICE r14). Callers guard `years.nonEmpty`: an empty delta means
    * nothing to refresh, never an exception. */
  def touchedYearFilter(dateCol: Column, years: Seq[Int]): Column = {
    require(years.nonEmpty, "touchedYearFilter needs >=1 touched year")
    dateCol >= lit(s"${years.min}-01-01").cast("timestamp") &&
      dateCol < lit(s"${years.max + 1}-01-01").cast("timestamp") &&
      year(dateCol).isin(years: _*)
  }

  /** Publish as raw files under `path` (the direct cross-engine surface:
    * DuckDB/Trino scan the same directory). */
  def files(df: DataFrame, path: String, format: String = "parquet",
            partitionCols: Seq[String] = Nil, mode: String = "overwrite"): Unit = {
    val w = df.write.format(format).mode(mode)
    val pw = if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w
    pw.save(path)
  }

  /**
   * Partition-scoped incremental publish — the Delta `replaceWhere` /
   * Hive dynamic-partition-overwrite analog for plain-file marts, and
   * SURVEY §4's "identical-rebuild avoidance" made real for maintained
   * tables: only the hive partitions PRESENT IN `df` are replaced;
   * every other partition's files are left physically untouched (not
   * rewritten, not even re-listed by the writer). A maintained mart
   * refresh then writes O(changed partitions), not O(table) — on a
   * 100 TB mart where a nightly batch touches a handful of quarters,
   * that is the difference between a delta-sized write and a full
   * rebuild per refresh.
   *
   * Implementation is Spark's own `partitionOverwriteMode=dynamic` set
   * per-write (the writer option overrides the session conf, so no
   * global state changes): the INSERT OVERWRITE machinery stages new
   * files per partition and commits them by swapping just those
   * partition dirs. The caller scopes `df` to the changed partitions —
   * the honest derivation is from the delta (the partitions the late
   * batch touches), never a full diff against the published table.
   */
  def filesPartitionOverwrite(df: DataFrame, path: String,
                              partitionCols: Seq[String],
                              format: String = "parquet"): Unit = {
    require(partitionCols.nonEmpty,
      "partition-scoped overwrite needs partition columns; use files() " +
        "for unpartitioned full overwrites")
    df.write.format(format).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .save(path)
  }

  /**
   * Batch small-file compaction — the lakehouse OPTIMIZE / bin-packing
   * maintenance operator for parquet directories (flat or hive-
   * partitioned, any nesting): every leaf partition whose data sits in
   * more files than `ceil(bytes / targetBytes)` is rewritten into exactly
   * that many files; already-compact leaves are left untouched (their
   * files are not rewritten, so repeated runs are idempotent and cheap).
   * This is the batch-table sibling of
   * [[graft.streaming.Streams.compactBatchPartitions]] (which compacts
   * `batch_id=` micro-batch deltas): streaming ingest and low-cardinality
   * partition writes both accrete small files, and at 100 TB the
   * small-file problem is a first-order read-cost bug — every file is a
   * scan task plus an object-store round trip, and a 1000-executor
   * cluster reading 10⁶ 1 MB files spends its time on metadata, not data.
   *
   * Scale shape: leaf discovery and the per-leaf decision are pure file
   * METADATA (O(#files) driver listing — the same order as planning any
   * scan of the table); only OVERFRAGMENTED leaves are re-read, each as
   * its own narrow job (one leaf's bytes in flight at a time, selective
   * like Delta OPTIMIZE, never a full-table rewrite unless the whole
   * table is fragmented). Data files never buffer on the driver.
   *
   * Crash safety — its own three-rename protocol, separate from the
   * commit-marker protocol of `batch_id=` compaction in
   * [[graft.streaming.Streams]]: the compacted leaf is written to a
   * sibling `.compact_tmp_<leaf>` dir, the leaf is renamed aside to
   * `.compact_old_<leaf>`, the tmp is renamed into its place, and the
   * old copy is deleted. Every crash point leaves at least one complete
   * copy, and [[compact]] runs recovery over the whole tree before
   * compacting (the cases are listed at `recoverPair`), so no crash
   * point loses rows.
   *
   * Returns the compaction report — one row per leaf partition
   * (`partition` relative to `dir`, "." for the root): files/bytes
   * before, files after, whether it was rewritten. Driver-side by
   * construction (it IS metadata, bounded by partition count).
   */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              targetBytes: Long = 128L << 20, minFiles: Int = 2): DataFrame = {
    import org.apache.hadoop.fs.Path
    require(targetBytes > 0 && minFiles >= 2,
      "targetBytes must be positive; minFiles >= 2")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def isPart(s: org.apache.hadoop.fs.FileStatus): Boolean =
      !s.isDirectory && s.getPath.getName.startsWith("part-")

    // recovery BEFORE listing leaves: a recovered swap re-materializes
    // its leaf, which must then be visible to this run's traversal.
    // Scope: the table tree itself, plus the ONE named sibling tmp/old
    // pair the root-as-leaf case can leave (never a walk of unrelated
    // siblings).
    //
    // The swap is three renames (write tmp → rename leaf to old →
    // rename tmp to leaf → delete old), each atomic on HDFS/local and
    // single-object on stores, so every crash point leaves at least one
    // COMPLETE copy of the rows and recovery can always tell which:
    //  - old absent,  tmp + leaf  → pre-swap crash: leaf is the
    //    complete original, discard tmp
    //  - old + tmp, leaf absent   → crash between renames: tmp is the
    //    complete compacted copy — install it, drop old
    //  - old + leaf               → crash before the old-delete: swap
    //    finished, drop old
    //  - old only                 → tmp never finished: restore old
    // (A plain delete-then-rename swap had an unrecoverable window: a
    // crash MID-delete leaves a partial leaf that recovery would keep
    // while discarding the only complete copy.)
    def failRename(a: Path, b: Path): Nothing =
      throw new java.io.IOException(
        s"compaction recovery: rename($a, $b) returned false")
    def recoverPair(p: Path, leafName: String): Unit = {
      val leaf = new Path(p, leafName)
      val tmp = new Path(p, s".compact_tmp_$leafName")
      val old = new Path(p, s".compact_old_$leafName")
      if (fs.exists(old)) {
        if (fs.exists(leaf)) fs.delete(old, true)
        else if (fs.exists(tmp)) {
          if (!fs.rename(tmp, leaf)) failRename(tmp, leaf)
          fs.delete(old, true)
        } else if (!fs.rename(old, leaf)) failRename(old, leaf)
      } else if (fs.exists(tmp)) {
        if (fs.exists(leaf)) fs.delete(tmp, true)
        else if (!fs.rename(tmp, leaf)) failRename(tmp, leaf)
      }
    }
    def recoverIn(p: Path): Unit = {
      fs.listStatus(p)
        .filter(s => s.isDirectory && (
          s.getPath.getName.startsWith(".compact_tmp_") ||
            s.getPath.getName.startsWith(".compact_old_")))
        .map(_.getPath.getName.replaceFirst("^\\.compact_(tmp|old)_", ""))
        .distinct
        .foreach(recoverPair(p, _))
      fs.listStatus(p)
        .filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
        .foreach(s => recoverIn(s.getPath))
    }
    val parent = root.getParent
    if (parent != null && fs.exists(parent)) recoverPair(parent, root.getName)
    if (fs.exists(root)) recoverIn(root)

    def leaves(p: Path): Seq[Path] = {
      val st = fs.listStatus(p)
      val here = if (st.exists(isPart)) Seq(p) else Nil
      here ++ st
        .filter(s => s.isDirectory && !s.getPath.getName.startsWith(".") &&
          !s.getPath.getName.startsWith("_"))
        .flatMap(s => leaves(s.getPath))
    }

    // listStatus returns scheme-qualified paths; qualify both sides so
    // the relative name is scheme-independent
    val qRoot = fs.makeQualified(root).toString
    val rel = { (leaf: Path) =>
      val r = fs.makeQualified(leaf).toString.stripPrefix(qRoot).stripPrefix("/")
      if (r.isEmpty) "." else r
    }
    // one footer-metadata schema recovery for the whole table (r17 floor
    // lever, [[graft.ParquetMeta]]): every leaf shares the writer's
    // schema, so per-leaf re-inference is #leaves × the same answer
    val leafList = leaves(root)
    val leafSchema = graft.ParquetMeta.schemaOf(spark, leafList.map(_.toString))
    // leaf rewrites are INDEPENDENT jobs over disjoint directories
    // (guide §2.6 — overlap them so one leaf's write tail back-fills
    // with the next leaf's scan); decisions, swaps and the report stay
    // per-leaf and deterministic — futures are awaited in leaf order
    val report = leafList.map { leaf => graft.Par.submit {
      val parts = fs.listStatus(leaf).filter(isPart)
      val bytes = parts.map(_.getLen).sum
      val want = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      if (parts.length >= minFiles && parts.length > want) {
        val tmp = new Path(leaf.getParent, s".compact_tmp_${leaf.getName}")
        val old = new Path(leaf.getParent, s".compact_old_${leaf.getName}")
        leafSchema.fold(spark.read)(s => spark.read.schema(s))
          .parquet(leaf.toString).repartition(want)
          .write.mode("overwrite").parquet(tmp.toString)
        fs.delete(new Path(tmp, "_SUCCESS"), false)
        // three-rename swap (see the recovery comment above): the
        // original is parked atomically, never deleted in place
        if (!fs.rename(leaf, old)) failRename(leaf, old)
        if (!fs.rename(tmp, leaf)) failRename(tmp, leaf)
        fs.delete(old, true)
        (rel(leaf), parts.length.toLong, want.toLong, bytes, true)
      } else (rel(leaf), parts.length.toLong, parts.length.toLong, bytes, false)
    } }.map(graft.Par.await)
    import spark.implicits._
    report.toDF("partition", "files_before", "files_after",
      "bytes_before", "rewritten")
  }
}
