package graft.streaming

import graft.models.{FactAdverseEvents, StgMaude}
import graft.operators.{Bm25, HybridSearch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/**
 * Structured Streaming realizations of the reference's freshness concerns
 * (Cortex Search `target_lag`, README.md:83,117 — there is no streaming SQL
 * in the reference repo; these are the Spark-native equivalents per
 * SURVEY.md §2.10).
 */
object Streams {

  /** The `batch_id=` directory partition column exactly as discovery
    * infers it for these layouts (small integral ids → IntegerType) —
    * appended to the footer-recovered file schema on every
    * micro-batch-table read so the explicit-schema path (r17 floor
    * lever, [[graft.ParquetMeta]]) reproduces the inferred relation. */
  private val BatchIdPart = org.apache.spark.sql.types.StructField(
    "batch_id", org.apache.spark.sql.types.IntegerType)

  /** `cid=` partition column as discovery infers it (list ids →
    * IntegerType) — the vector index nests it under `batch_id=`. */
  private val CidPart = org.apache.spark.sql.types.StructField(
    "cid", org.apache.spark.sql.types.IntegerType)

  /**
   * Incremental vigilance refresh: tail the NDJSON landing path and rebuild
   * the staging/fact transforms per micro-batch via foreachBatch (the
   * aggregating models need a batch context). `Trigger.AvailableNow`
   * gives catch-up-then-stop semantics; a processing-time trigger gives a
   * continuous `target_lag`.
   *
   * Exactly-once output discipline (the fact table carries a uniqueness
   * contract the batch pipeline enforces). The stream is stateless: the
   * committed fact partitions ARE the dedup state, merged insert-only by
   * key (the lakehouse stream-into-table idiom), so each landing is one
   * micro-batch with no state store and no watermark no-data batch.
   *  - a batch first drops its own duplicate `mdr_report_key`s, then
   *    left-anti joins against the key column of the committed fact
   *    partitions `batch_id < batchId` — one column of at most
   *    `compactEvery`+1 directories' files when compaction is on. Keys
   *    match null-safely, so keyless records collapse to one row too;
   *  - re-deliveries are dropped at ANY age: the seen set is every key
   *    ever committed, not a watermark horizon of `load_ts`;
   *  - foreachBatch is at-least-once, so each batch OVERWRITES its own
   *    `batch_id=` partition instead of appending, and its seen set
   *    excludes that partition: a replayed batch never treats its own
   *    first attempt's rows as already seen, so it replaces itself, never
   *    duplicates or vanishes. Compaction folds only ids below the current
   *    one into a directory that keeps a lower id, so compacted keys stay
   *    seen.
   *
   * Codegen: each run executes in a clone of the caller's session. Under
   * [[graft.Graft.StaticConf]] every clone loads generated code through
   * one classloader, so a warm landing reuses the classes compiled for
   * the landings before it. It still compiles one class twice: the source
   * projection, which inlines the batch's `load_ts` (streaming turns
   * `current_timestamp()` into the micro-batch's timestamp literal). The
   * query thread compiles it when it plans the batch, and a task compiles
   * it again, because the codegen cache key also holds the thread's
   * context classloader, which differs between the two threads. On 4
   * cores each compile takes 20-70 ms. An empty foreachBatch body still
   * pays the first one. Keeping the literal out of the code would need a
   * second projection over the batch, or a lookup of its timestamp.
   */
  def incrementalPipeline(maudeStream: DataFrame, manufacturer: DataFrame,
                          outDir: String,
                          compactEvery: Int = 0): DataStreamWriter[Row] =
    maudeStream.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val factDir = s"$outDir/fact_adverse_events_stream"
        val unique = batch.withColumn("__key", col("raw.mdr_report_key"))
          .dropDuplicates("__key")
        val fresh = committedBelow(batch.sparkSession, factDir, batchId)
          .fold(unique) { seen =>
            val keys = seen.select(col("mdr_report_key"))
            unique.join(keys, unique("__key") <=> keys("mdr_report_key"), "left_anti")
          }.drop("__key")
        FactAdverseEvents(StgMaude(fresh), manufacturer).write.mode("overwrite")
          .parquet(s"$factDir/batch_id=$batchId")
        // In-line compaction folds only batches BELOW the current one
        // (`belowId = batchId`): those are checkpoint-committed and can
        // never be replayed, whereas THIS batch replays with the same id
        // after a crash-before-commit — its overwrite of `batch_id=<id>`
        // must never target the directory holding earlier batches' rows.
        if (compactsAfter(batchId, compactEvery))
          compactBatchPartitions(batch.sparkSession, factDir, belowId = batchId)
        ()
      }

  /** The in-line compaction rule of every `compactEvery` writer: compact
    * after every `compactEvery`-th batch (ids `compactEvery - 1`,
    * `2 * compactEvery - 1`, ...), never when `compactEvery` is 0. */
  private def compactsAfter(batchId: Long, compactEvery: Int): Boolean =
    compactEvery > 0 && batchId % compactEvery == (compactEvery - 1).toLong

  /** The committed rows of a micro-batch table: its `batch_id=`
    * partitions strictly below `batchId`, the partition column dropped.
    * `None` when there are none (the first batch, or a replay of it). A
    * batch that reads its table's earlier state through this never sees
    * its own failed first attempt. */
  private def committedBelow(spark: org.apache.spark.sql.SparkSession,
                             tableDir: String, batchId: Long): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(tableDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("batch_id=") &&
        s.getPath.getName.stripPrefix("batch_id=").toLong < batchId)
    Option.when(committed)(
      graft.ParquetMeta.read(spark, Seq(tableDir), Seq(BatchIdPart))
        .filter(col("batch_id") < batchId).drop("batch_id"))
  }

  /**
   * Incremental search-index refresh (the reference's Cortex Search
   * `target_lag`, README.md:83,117 — the one capability r1 left without a
   * Spark counterpart): tail a document stream and upsert the BM25
   * postings (term frequencies + doc lengths) and IVF assignments for
   * each micro-batch of NEW docs. Each refresh is O(new docs) — never a
   * corpus rescan — and a retried batch overwrites its own `batch_id=`
   * partition (idempotent). Readers assemble the live index with
   * [[readSearchIndex]]; corpus-level stats (N, avgdl) are derived at
   * query time from the doc-length table, so they track the upserts.
   *
   * Re-delivered doc ids are the caller's concern (drop them upstream);
   * unlike [[incrementalPipeline]], this writer keeps no key set of its
   * own.
   */
  def incrementalSearchIndex(docStream: DataFrame, idCol: String, textCol: String,
                             vecCol: String, centroids: DataFrame,
                             outDir: String, compactEvery: Int = 0): DataStreamWriter[Row] =
    docStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        searchIndexBatch(batch, batchId, idCol, textCol, vecCol, centroids,
          outDir, compactEvery)
      }

  /** The batch-side body of [[incrementalSearchIndex]]'s foreachBatch —
    * public so a batch replay (declared query q128) exercises the EXACT
    * code path the stream runs, not a re-implementation. */
  def searchIndexBatch(batch: DataFrame, batchId: Long,
                       idCol: String, textCol: String, vecCol: String,
                       centroids: DataFrame,
                       outDir: String, compactEvery: Int = 0): Unit = {
    val b = batch.cache()
    try {
      // the three per-batch outputs are INDEPENDENT (different derivations,
      // different dirs, one shared cached input) — submit them as
      // concurrent jobs (guide §2.6) so each job's task tail back-fills
      // with the next job's work instead of idling the executor pool
      // three times per micro-batch. The shared cache is filled once:
      // Spark's per-partition loading locks serialize the first compute
      // across the racing jobs. All three are joined before the
      // compaction hook (and before foreachBatch returns) — the batch
      // contract is unchanged.
      val writes = Seq(
        graft.Par.submit {
          Bm25.termStats(b, idCol, textCol)
            .write.mode("overwrite").parquet(s"$outDir/tf/batch_id=$batchId")
        },
        graft.Par.submit {
          b.select(col(idCol).as("doc"),
              size(graft.functions.Text.tokens(col(textCol))).cast("double").as("dl"))
            .write.mode("overwrite").parquet(s"$outDir/dl/batch_id=$batchId")
        },
        graft.Par.submit {
          HybridSearch.assignIvf(b, idCol, vecCol, centroids)
            .write.mode("overwrite").parquet(s"$outDir/assigned/batch_id=$batchId")
        })
      writes.foreach(graft.Par.await)
    } finally { b.unpersist(); () }
    // In-line maintenance (opt-in): every `compactEvery` batches,
    // fold the accumulated batch partitions into one. Running HERE —
    // synchronously, between micro-batches — meets the single-writer
    // assumption of [[compactSearchIndex]]: the stream is the only
    // writer and it is idle until this hook returns. A week of
    // target_lag-style refreshes then never accumulates more than
    // `compactEvery` directories per table.
    // `belowId = batchId` keeps the CURRENT batch out of the fold: it
    // is not checkpoint-committed yet, so a crash after this hook
    // replays it — and its `mode("overwrite")` write to
    // `batch_id=<batchId>` must never land on a compacted directory
    // that holds every earlier batch's rows (that replay would be
    // silent permanent data loss). Batches below the current id are
    // committed and can never replay, so folding THEM is safe.
    if (compactsAfter(batchId, compactEvery))
      compactSearchIndex(batch.sparkSession, outDir, belowId = batchId)
  }

  /**
   * Streaming IVF-PQ vector-index maintenance — the vector-side
   * `target_lag` analog of [[incrementalSearchIndex]]: each micro-batch
   * of new (id, vec) rows is IVF-assigned and PQ-encoded SCAN-SIDE (the
   * centroid matrix and codebook are resident literals; zero shuffle per
   * batch) and appended as (id, cid, codes) under
   * `outDir/batch_id=<id>/cid=<list>` — partitioned by list id, so a
   * probe-time `cid IN (...)` filter prunes whole files exactly like the
   * batch index. Float vectors never land in the serving table at all.
   *
   * Replay-safe by the same contract as every writer here: a batch
   * overwrites only its own `batch_id=` partition. Query the live index
   * with [[readVectorIndex]] + [[graft.operators.Pq.ivfPqQuery]]. Put the
   * checkpoint OUTSIDE `outDir` — the reader infers (batch_id, cid)
   * partitions from the directory tree, and a foreign `ckpt/` subtree
   * would break partition discovery.
   */
  def incrementalVectorIndex(vecStream: DataFrame, idCol: String, vecCol: String,
                             matrix: Seq[Seq[Double]],
                             codebook: Array[Array[Array[Double]]],
                             outDir: String,
                             compactEvery: Int = 0): DataStreamWriter[Row] =
    vecStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        vectorIndexBatch(batch, batchId, idCol, vecCol, matrix, codebook,
          outDir, compactEvery)
      }

  /** The batch-side body of [[incrementalVectorIndex]]'s foreachBatch —
    * public so a batch replay (declared query q126) exercises the EXACT
    * code path the stream runs, not a re-implementation. */
  def vectorIndexBatch(batch: DataFrame, batchId: Long,
                       idCol: String, vecCol: String,
                       matrix: Seq[Seq[Double]],
                       codebook: Array[Array[Array[Double]]],
                       outDir: String, compactEvery: Int = 0): Unit = {
    batch.filter(col(vecCol).isNotNull)
      .select(col(idCol),
        graft.functions.Vec.nearestCentroid(col(vecCol), matrix).as("cid"),
        graft.operators.Pq.encodeCol(col(vecCol), codebook).as("codes"))
      .write.mode("overwrite").partitionBy("cid")
      .parquet(s"$outDir/batch_id=$batchId")
    // same in-line maintenance contract as incrementalSearchIndex:
    // fold only checkpoint-committed batches (belowId = current), so a
    // replayed in-flight batch can never overwrite the compacted dir
    if (compactsAfter(batchId, compactEvery))
      compactVectorIndex(batch.sparkSession, outDir, belowId = batchId)
  }

  /** Fold the vector index's committed `batch_id=` directories into one,
    * PRESERVING the `cid=` sublayout ([[compactBatchPartitions]] would
    * flatten it, and the list-pruned read is the table's whole point).
    * Same commit-marker protocol as [[compactSearchIndex]] describes:
    * [[compactWith]] commits the fold, and [[recoverCompactLeftovers]]
    * rolls a crashed one back (no marker) or forward (marker). */
  def compactVectorIndex(spark: org.apache.spark.sql.SparkSession,
                         outDir: String, belowId: Long = Long.MaxValue): Unit =
    compactWith(spark, outDir, belowId) { (tmp, _) =>
      graft.ParquetMeta.read(spark, Seq(outDir), Seq(BatchIdPart, CidPart))
        .filter(col("batch_id") < belowId)
        .drop("batch_id")
        .write.mode("overwrite").partitionBy("cid").parquet(tmp.toString)
    }

  /** The ONE copy of the compaction commit protocol (both public
    * compactors delegate here — a protocol change cannot diverge between
    * them): recover leftovers, list the fold set, run `write` into the
    * tmp dir, then swap via COMMIT MARKER — create
    * `.compact_commit_<table>_b<maxId>` atomically (the commit point:
    * from here recovery rolls FORWARD), delete the source dirs CHECKING
    * each delete's boolean (Hadoop reports most failures by returning
    * false; a silently-surviving source would be double-counted forever
    * once the marker is gone, so a failed delete throws WITH the marker
    * left in place — recovery's sweep finishes the job), rename tmp →
    * `batch_id=<maxId>`, drop the marker. */
  private def compactWith(spark: org.apache.spark.sql.SparkSession,
                          tableDir: String, belowId: Long)
                         (write: (org.apache.hadoop.fs.Path,
                                  Seq[org.apache.hadoop.fs.Path]) => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val tablePath = new Path(tableDir)
    val fs = tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a recovered swap re-materializes its batch dir, so recovery must run
    // BEFORE the fold set is listed — the recovered rows then re-fold
    recoverCompactLeftovers(fs, tablePath)
    val batches = fs.listStatus(tablePath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .filter(_.getPath.getName.stripPrefix("batch_id=").toLong < belowId)
    if (batches.length > 1) {
      val maxId = batches.map(_.getPath.getName.stripPrefix("batch_id=").toLong).max
      val tmp = new Path(tablePath.getParent,
        s".compact_tmp_${tablePath.getName}_b$maxId")
      write(tmp, batches.map(_.getPath).toSeq)
      fs.delete(new Path(tmp, "_SUCCESS"), false)
      val mark = new Path(tablePath.getParent,
        s".compact_commit_${tablePath.getName}_b$maxId")
      fs.create(mark, false).close()
      batches.foreach { b =>
        if (!fs.delete(b.getPath, true))
          throw new java.io.IOException(
            s"compaction: delete(${b.getPath}) returned false; marker " +
              s"$mark left in place — recovery will finish the swap")
      }
      val dest = new Path(tablePath, s"batch_id=$maxId")
      if (!fs.rename(tmp, dest))
        throw new java.io.IOException(
          s"compaction swap failed: rename($tmp, $dest) returned false; " +
            s"compacted rows are intact in $tmp and the marker makes " +
            s"recovery complete the swap")
      fs.delete(mark, false)
      ()
    }
  }

  /** The live (id, cid, codes) state written by [[incrementalVectorIndex]]. */
  def readVectorIndex(spark: org.apache.spark.sql.SparkSession,
                      outDir: String): DataFrame =
    graft.ParquetMeta.read(spark, Seq(outDir), Seq(BatchIdPart, CidPart))
      .drop("batch_id")

  /** Assemble the queryable state written by [[incrementalSearchIndex]].
    * Uncached — interactive callers should cache + close via the returned
    * [[HybridSearch.SearchIndex]]'s lifecycle as usual. */
  def readSearchIndex(spark: org.apache.spark.sql.SparkSession, outDir: String,
                      centroids: DataFrame, idCol: String,
                      vecCol: String): HybridSearch.SearchIndex =
    HybridSearch.SearchIndex(
      Bm25.assemble(
        graft.ParquetMeta.read(spark, Seq(s"$outDir/tf"), Seq(BatchIdPart))
          .drop("batch_id"),
        graft.ParquetMeta.read(spark, Seq(s"$outDir/dl"), Seq(BatchIdPart))
          .drop("batch_id"),
        cache = false),
      graft.ParquetMeta.read(spark, Seq(s"$outDir/assigned"), Seq(BatchIdPart))
        .drop("batch_id"),
      graft.operators.Knn.centroidMatrix(
        centroids.select(col(idCol).as("cid"), col(vecCol).as("cv"))))

  /**
   * Compact the micro-batch state written by [[incrementalSearchIndex]]
   * IN PLACE: a week of `target_lag`-style refreshes accumulates one
   * `batch_id=` directory (with its own small files) per batch per table,
   * and read-side file listing + tiny row groups then degrade exactly the
   * warm path the index exists to serve. All existing batch partitions of
   * each table are rewritten into ONE `batch_id=<maxBatchId>` directory
   * with `filesPerTable` files; [[readSearchIndex]] needs no change, and
   * a live stream keeps appending — its checkpointed batch ids are
   * strictly greater than every compacted id, so new partitions never
   * collide with the compacted one.
   *
   * Runs as a periodic maintenance job between refresh windows, or
   * in-line from the stream (`compactEvery`). Each table folds under
   * [[compactWith]]'s commit-marker protocol: write the fold into a tmp
   * dir, create the commit marker (the commit point), delete the
   * sources, rename tmp → `batch_id=<maxId>`, drop the marker. A crash
   * before the marker leaves every source intact, and the next fold
   * drops the tmp; a crash after it rolls FORWARD —
   * [[recoverCompactLeftovers]] runs before each fold and finishes the
   * deletes and the rename. The protocol assumes one writer: it does not
   * coordinate with a concurrent writer of the ids it folds.
   *
   * `belowId` (exclusive) restricts the fold to batch ids strictly below
   * it — REQUIRED when called from inside a live stream's `foreachBatch`
   * (pass the current batch id): the current batch is not
   * checkpoint-committed yet and replays with the same id after a crash,
   * so it must never be folded into a directory its replay would
   * overwrite. The default folds everything (offline maintenance, no
   * writer in flight).
   */
  def compactSearchIndex(spark: org.apache.spark.sql.SparkSession, outDir: String,
                         filesPerTable: Int = 4,
                         belowId: Long = Long.MaxValue): Unit =
    for (t <- Seq("tf", "dl", "assigned"))
      compactBatchPartitions(spark, s"$outDir/$t", filesPerTable, belowId)

  /** Complete or clean leftovers of a previously-FAILED compaction before
    * a new fold runs. Decidability comes from a COMMIT MARKER (an empty
    * `.compact_commit_<table>_b<id>` file created atomically after the
    * tmp write, deleted after cleanup), not from the destination dir's
    * existence: the source deletes are a file-by-file sequence, so "dest
    * still exists" does NOT imply "sources are intact" — a crash
    * mid-deletes with `batch_id=<maxId>` still present would have made
    * the old existence test discard the tmp, permanently losing the
    * rows of every source dir already deleted (the same delete-then-
    * rename window closed in [[graft.sinks.Publish.compact]]).
    *
    *  - tmp, NO marker  → pre-commit crash: every source is intact —
    *    drop the tmp. EXCEPT when the dest dir is gone, which the
    *    marker protocol makes impossible: that leftover predates the
    *    protocol and holds the only copy — complete the old swap.
    *    CAVEAT (upgrade is lossless only from a CLEAN state): an
    *    old-protocol crash mid-delete with `batch_id=<maxId>` still
    *    present is indistinguishable after the fact from a
    *    new-protocol pre-commit state, and this branch drops the tmp —
    *    the only complete copy of the sources the old code already
    *    deleted. Before deploying the marker-protocol version, verify
    *    no `.compact_tmp_*` leftovers exist (or resolve them by hand);
    *    the ambiguity is undecidable once both protocols' leftovers
    *    can coexist.
    *  - tmp + marker    → roll FORWARD: delete every remaining
    *    `batch_id=<i>` with i ≤ id (streaming ids are monotone and the
    *    `belowId` contract excludes replayable ids, so every surviving
    *    id ≤ the fold's max is one of its sources), rename tmp → dest,
    *    drop the marker.
    *  - marker, no tmp  → crash after the rename: sweep any source
    *    remnants below id (defensive) and drop the marker. */
  private def recoverCompactLeftovers(fs: org.apache.hadoop.fs.FileSystem,
                                      tablePath: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    val tmpPrefix = s".compact_tmp_${tablePath.getName}_b"
    val mkPrefix = s".compact_commit_${tablePath.getName}_b"
    val parent = tablePath.getParent
    if (!fs.exists(parent)) return
    val entries = fs.listStatus(parent)
    val tmps = entries.filter(s =>
        s.isDirectory && s.getPath.getName.startsWith(tmpPrefix))
      .map(s => s.getPath.getName.stripPrefix(tmpPrefix).toLong -> s.getPath).toMap
    val marks = entries.filter(s =>
        !s.isDirectory && s.getPath.getName.startsWith(mkPrefix))
      .map(s => s.getPath.getName.stripPrefix(mkPrefix).toLong -> s.getPath).toMap
    // Each delete's boolean return is CHECKED (Hadoop reports most
    // failures by returning false, not throwing): a silent sweep failure
    // followed by marker deletion would leave a stale batch_id dir that
    // is double-counted forever. Throwing here leaves the marker in
    // place, so a rerun of recovery finishes the sweep — the same
    // contract as compactWith's main-path deletes.
    def sweepSources(upTo: Long, inclusive: Boolean): Unit =
      if (fs.exists(tablePath)) fs.listStatus(tablePath)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
        .filter { s =>
          val i = s.getPath.getName.stripPrefix("batch_id=").toLong
          if (inclusive) i <= upTo else i < upTo
        }
        .foreach { s =>
          if (!fs.delete(s.getPath, true))
            throw new java.io.IOException(
              s"recovery sweep failed: delete(${s.getPath}) returned " +
                "false; commit marker left in place for a rerun")
        }
    (tmps.keySet ++ marks.keySet).foreach { id =>
      (tmps.get(id), marks.get(id)) match {
        case (Some(tmp), None) =>
          // Under the marker protocol a marker-less tmp always has every
          // source intact (the dest id's dir included) — roll it back.
          // But if the DEST is gone, this tmp predates the protocol (the
          // old delete-then-rename code crashed post-deletes) and holds
          // the ONLY copy of its folded rows: complete the old swap
          // instead of destroying it (upgrade-lossless).
          val dest = new Path(tablePath, s"batch_id=$id")
          if (fs.exists(dest)) fs.delete(tmp, true)
          else if (!fs.rename(tmp, dest))
            throw new java.io.IOException(
              s"recovery of a pre-marker failed swap failed: " +
                s"rename($tmp, $dest) returned false")
        case (Some(tmp), Some(mark)) =>
          sweepSources(id, inclusive = true)
          val dest = new Path(tablePath, s"batch_id=$id")
          if (!fs.rename(tmp, dest))
            throw new java.io.IOException(
              s"recovery of a failed compaction swap failed: " +
                s"rename($tmp, $dest) returned false")
          fs.delete(mark, false)
        case (None, Some(mark)) =>
          sweepSources(id, inclusive = false)
          fs.delete(mark, false)
        case (None, None) => ()
      }
    }
  }

  /** Fold `batch_id=` partitions of ONE micro-batch-structured table
    * into a single partition of `filesPer` files (the generic compactor
    * behind [[compactSearchIndex]]; also fits
    * [[incrementalPipeline]]'s fact output). Only partitions with id
    * strictly below `belowId` participate, and they fold into the LARGEST
    * participating id — from inside `foreachBatch(batchId)` pass
    * `belowId = batchId` so the not-yet-committed current batch (which a
    * crash replays, overwriting `batch_id=<batchId>`) is never folded;
    * ids below the current one are committed and cannot replay. A live
    * stream's future batch ids are strictly greater than every folded id,
    * so new partitions never collide with the compacted one. */
  def compactBatchPartitions(spark: org.apache.spark.sql.SparkSession,
                             tableDir: String, filesPer: Int = 4,
                             belowId: Long = Long.MaxValue): Unit =
    compactWith(spark, tableDir, belowId) { (tmp, sources) =>
      // dir-addressed source reads carry no batch_id partition column —
      // the defensive drop is for layouts that materialized it in-file
      graft.ParquetMeta.read(spark, sources.map(_.toString))
        .drop("batch_id")
        .repartition(filesPer)
        .write.mode("overwrite").parquet(tmp.toString)
    }

  /**
   * Streaming SCD-1 state maintenance — the streaming MERGE INTO: fold a
   * CDC changelog stream into a persisted current-state table with
   * BUCKET-PARTIAL rewrites. The state lives hash-bucketed by key
   * (`bucket = pmod(xxhash64(keys), nBuckets)`); each micro-batch merges
   * its delta into ONLY the buckets containing changed keys
   * ([[graft.operators.Cdc.merge]] — latest change wins, `deleteOp`
   * tombstones drop), so per batch the engine reads and rewrites
   * O(delta + touched buckets) — never the full state. That is what
   * keeps a nightly merge into a 100 TB state table a shuffle of the
   * delta instead of a rebuild, and it is the file-pruning idea behind
   * lakehouse MERGE applied with plain parquet.
   *
   * Layout and crash safety (single writer, at-least-once foreachBatch):
   * a batch writes its touched buckets under `stateDir/v=<batchId>/
   * bucket=<b>` — overwriting only its OWN `v=` dir, so a checkpoint
   * replay is idempotent (same delta, same base, same output dir; the
   * failed attempt's dir is excluded from its own base by `v < batchId`).
   * A bucket's current version is its LARGEST `v=`; the merge base is the
   * largest `v < batchId`, which is never deleted until a LATER batch
   * supersedes it (cleanup removes only versions strictly below the base
   * just read), so no crash point can strand a bucket without its base —
   * the failure mode in-place overwrites cannot avoid. Each bucket
   * settles at ≤2 resident versions. Per-batch driver work is directory
   * listing bounded by `nBuckets` × 2 — metadata, not data.
   *
   * `orderDesc` are column names by DESCENDING priority ("latest wins"),
   * ties broken by the last of them (pass a unique column, e.g. an event
   * id). The state keeps the changelog schema — `opCol` and order columns
   * included — and RETAINS tombstone rows rather than dropping them at
   * write time, for two load-bearing reasons: a bucket whose keys were
   * all deleted would otherwise produce an EMPTY write (partitioned
   * writers emit no dir for an empty partition), leaving the stale prior
   * version as the bucket's newest — a resurrection bug; and a retained
   * tombstone keeps ordering against LATE-arriving older updates, which
   * must not resurrect a deleted key. [[readScd1State]] filters
   * tombstones out of the served state.
   *
   * `stage` runs INSIDE each foreachBatch on the raw micro-batch before
   * the merge — the parse/staging step of an ingest chain (q218 stages
   * raw MAUDE NDJSON through the q08 pipeline's StgMaude). It must be a
   * per-batch transform (aggregations over the batch are fine; nothing
   * cross-batch — cross-batch state is exactly what the merge owns).
   */
  def incrementalScd1(changeStream: DataFrame, keys: Seq[String],
                      orderDesc: Seq[String],
                      stateDir: String, nBuckets: Int = 64,
                      stage: DataFrame => DataFrame = identity): DataStreamWriter[Row] =
    changeStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        scd1MergeBatch(stage(batch), batchId, keys, orderDesc, stateDir, nBuckets)
      }

  /** The batch-side body of [[incrementalScd1]]'s foreachBatch — public
    * so a batch replay (declared query q116) exercises the EXACT
    * bucket-partial rewrite the stream runs, not a re-implementation. */
  def scd1MergeBatch(batch: DataFrame, batchId: Long, keys: Seq[String],
                     orderDesc: Seq[String], stateDir: String,
                     nBuckets: Int = 64,
                     changedBuckets: Option[Set[Long]] = None): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketOf = pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong))
    // when the caller already knows the delta's bucket set (q146 derives
    // it for its image reads with the SAME pmod∘xxhash64 expression),
    // skip the second distinct+collect job — and the cache with it: with
    // the set supplied the delta has exactly ONE consumer (the union
    // into keepLatest), so caching only adds a store pass in the write's
    // critical path (guide §1.2: don't compute things twice).
    val delta0 = batch.withColumn("bucket", bucketOf)
    val delta = if (changedBuckets.isDefined) delta0 else delta0.cache()
    try {
      val changed = changedBuckets.map(_.toSeq).getOrElse(
        delta.select("bucket").distinct()
          .collect().map(_.getLong(0)).toSeq)
      if (changed.nonEmpty) {
        val vers = residentVersions(fs, stateDir)
        def baseV(b: Long): Option[Long] =
          vers.getOrElse(b, Seq.empty).filter(_ < batchId).maxOption
        val basePaths = changed.flatMap(b =>
          baseV(b).map(v => s"$stateDir/v=$v/bucket=$b"))
        // a purge-emptied bucket's newest version is a valid file-less
        // dir — an all-file-less base set must fall back like no-base
        // explicit schema: the state files carry exactly the delta's
        // columns (keepLatest over base ∪ delta, `bucket` is a partition
        // dir) — the per-batch inference job is pure re-derivation of a
        // schema already in hand (r17 floor lever; unionByName enforces
        // the same equality the explicit schema asserts)
        val base =
          if (basePaths.isEmpty || !anyDataFile(spark, basePaths))
            delta.limit(0)
          else spark.read
            .schema(org.apache.spark.sql.types.StructType(
              delta0.schema.filterNot(_.name == "bucket")))
            .parquet(basePaths: _*)
            .withColumn("bucket", bucketOf) // dir-addressed read: re-derive
        // keep-latest WITHOUT the tombstone filter — see scaladoc: a
        // changed bucket always writes >= 1 row, and deletes stay
        // orderable against late-arriving older updates.
        // r16 MEASURED NEGATIVE (do not retry): latest-wins as a max_by
        // aggregate over a struct of the full row (no sorts, same
        // map-side one-row-per-key-per-partition pruning) read q116
        // 2.82 -> 3.60 s and q218 4.43 -> 4.63 s at quiet calib — the
        // per-key wide-struct copy in the aggregation buffer costs more
        // than the window's columnar sorts, whose map-side
        // WindowGroupLimit already prunes the exchange to the same rows.
        graft.operators.Curate.keepLatest(base.unionByName(delta), keys,
            orderDesc.map(col(_).desc))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$stateDir/v=$batchId")
        // retire versions strictly below the base just read (the base
        // itself stays until a LATER batch supersedes it — a replay of
        // THIS batch still needs it); then drop empty v= dirs
        changed.foreach { b =>
          for (bv <- baseV(b); v <- vers(b) if v < bv)
            fs.delete(new Path(s"$stateDir/v=$v/bucket=$b"), true)
        }
        fs.listStatus(root)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
          .foreach { vd =>
            if (!fs.listStatus(vd.getPath)
                  .exists(_.getPath.getName.startsWith("bucket=")))
              fs.delete(vd.getPath, true)
          }
        ()
      }
    } finally { if (changedBuckets.isEmpty) { delta.unpersist(); () } }
  }

  /** The live state written by [[incrementalScd1]]: per bucket the
    * newest resident `v=` wins, and rows whose latest change is the
    * `deleteOp` tombstone are filtered from the served state (they stay
    * in storage to order against late data — see [[incrementalScd1]]).
    * Returns the changelog-schema rows — directly re-enterable as a
    * [[graft.operators.Cdc.merge]] base (e.g. to seed a backfill) or
    * publishable via [[graft.sinks.Publish]]. */
  def readScd1State(spark: org.apache.spark.sql.SparkSession,
                    stateDir: String, opCol: String,
                    deleteOp: String): DataFrame =
    // null-safe: a NULL op is not the tombstone — `=!=` would drop it
    readScd1Raw(spark, stateDir).filter(!(col(opCol) <=> lit(deleteOp)))

  /** (bucket -> resident `v=` versions) of an SCD-1 state dir, from one
    * bounded listing — THE discovery shape shared by the merge, the
    * change feed, and the purge (extracted after the third verbatim
    * copy; a layout change now lands in exactly one place). Missing
    * root → empty map. */
  private def residentVersions(fs: org.apache.hadoop.fs.FileSystem,
                               stateDir: String): Map[Long, Seq[Long]] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(stateDir)
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .flatMap { vd =>
        val v = vd.getPath.getName.stripPrefix("v=").toLong
        fs.listStatus(vd.getPath)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
          .map(bd => (bd.getPath.getName.stripPrefix("bucket=").toLong, v))
      }.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
  }

  /** (bucket, newest resident path) pairs of the state's live version —
    * the one bounded listing every state read shares. */
  private def latestBucketPaths(spark: org.apache.spark.sql.SparkSession,
                                stateDir: String): Seq[(Long, String)] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .flatMap { vd =>
        val v = vd.getPath.getName.stripPrefix("v=").toLong
        fs.listStatus(vd.getPath)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
          .map(bd => (bd.getPath.getName.stripPrefix("bucket=").toLong, v))
      }.groupBy(_._1).map { case (b, vs) =>
        (b, s"$stateDir/v=${vs.map(_._2).max}/bucket=$b")
      }.toSeq
  }

  /** [[readScd1State]] without the tombstone filter — the raw retained
    * state, tombstones included (what a backfill merge re-enters).
    * When EVERY live bucket's newest version is file-less (a purge
    * emptied the whole state), the schema comes from any retained older
    * version (the purge keeps each bucket's base) and the read returns
    * zero rows — the file-less-is-empty contract every reader honors. */
  def readScd1Raw(spark: org.apache.spark.sql.SparkSession,
                  stateDir: String): DataFrame = {
    val live = latestBucketPaths(spark, stateDir).map(_._2)
    // footer-metadata schema (graft.ParquetMeta): the state is always
    // Spark-written, so the recovered schema is inference's own answer
    // without the per-call inference job (r17 floor lever)
    if (anyDataFile(spark, live)) graft.ParquetMeta.read(spark, live)
    else {
      import org.apache.hadoop.fs.Path
      val root = new Path(stateDir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val anyOld = residentVersions(fs, stateDir).toSeq.flatMap {
        case (b, vs) => vs.map(v => s"$stateDir/v=$v/bucket=$b")
      }.filter(p => anyDataFile(spark, Seq(p)))
      require(anyOld.nonEmpty,
        s"no data files anywhere under SCD-1 state $stateDir")
      spark.read.parquet(anyOld.head).limit(0)
    }
  }

  /** [[readScd1Raw]] restricted to a bucket subset — the pre-/post-image
    * read an incremental DOWNSTREAM maintenance step pays around a
    * [[scd1MergeBatch]] call (read the touched keys' old images, merge,
    * read their new images): O(touched buckets) of I/O, never the full
    * state — the same pruning the merge itself does. `None` when none of
    * the requested buckets exist yet (the first batch against an empty
    * state has no pre-image). */
  def readScd1RawBuckets(spark: org.apache.spark.sql.SparkSession,
                         stateDir: String,
                         buckets: Set[Long]): Option[DataFrame] = {
    val paths = latestBucketPaths(spark, stateDir)
      .filter(p => buckets.contains(p._1)).map(_._2)
    if (paths.isEmpty || !anyDataFile(spark, paths)) None
    else Some(graft.ParquetMeta.read(spark, paths))
  }

  /** Whether any of `paths` holds at least one data file. A bucket dir
    * emptied by [[scd1PurgeBatch]] (all rows were tombstones) is a VALID
    * newest version with zero files — it contributes no rows to a
    * multi-path read, but a read whose every path is file-less cannot
    * infer a schema, so such reads fall back to an empty frame instead.
    * One bounded listing (≤ touched buckets), metadata only. */
  private def anyDataFile(spark: org.apache.spark.sql.SparkSession,
                          paths: Seq[String]): Boolean = {
    import org.apache.hadoop.fs.Path
    paths.exists { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(hp) && fs.listStatus(hp).exists(s =>
        s.isFile && s.getLen > 0 && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
    }
  }

  /**
   * Retention PURGE — the hard-delete leg of the SCD-1 state (dbt
   * snapshot's `invalidate_hard_deletes`, Delta `VACUUM`-after-`DELETE`
   * semantics): physically removes rows whose latest change is the
   * `deleteOp` tombstone from their buckets, writing each affected
   * bucket as a new `v=batchId` version. The merge RETAINS tombstones
   * (they order against late-arriving older updates — see
   * [[incrementalScd1]]); the purge is the explicit retention batch
   * that ends that grace period, after which [[scd1ChangeFeed]] at
   * `batchId` reports the purged keys as genuine `op = delete` rows
   * (key absent after) and a downstream [[scd2Fold]] closes their
   * history intervals WITHOUT reopening — the close-forever path.
   *
   * An all-tombstone bucket yields an EMPTY new version: the dir is
   * created explicitly (a partitioned writer emits nothing for an empty
   * partition — leaving the tombstoned version newest would resurrect
   * on read) and every state reader treats a file-less newest version
   * as zero rows ([[anyDataFile]]).
   *
   * Scale shape: tombstone discovery is one column-pruned scan of the
   * live state (`opCol` + key columns only — parquet footer min/max on
   * `opCol` prunes tombstone-free files at scale), and only buckets
   * actually holding tombstones are rewritten — the same bucket-partial
   * contract as the merge. Version retirement mirrors the merge's:
   * versions strictly below the base just read are removed, the base
   * itself survives until a later batch supersedes it (what keeps the
   * purge's own one-step feed readable).
   */
  def scd1PurgeBatch(spark: org.apache.spark.sql.SparkSession,
                     stateDir: String, batchId: Long, keys: Seq[String],
                     opCol: String, deleteOp: String,
                     nBuckets: Int = 64): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val vers = residentVersions(fs, stateDir)
    // base = each bucket's newest version STRICTLY BELOW batchId: a
    // replay of a crashed purge then sees the same pre-state and emits
    // the same output (reading the overall newest would let a partial
    // v=batchId write shrink the rediscovered tombstone set, and the
    // whole-dir overwrite below would drop already-purged buckets)
    val base: Seq[(Long, String)] = vers.toSeq.flatMap { case (b, vs) =>
      vs.filter(_ < batchId).maxOption.map(v => (b, s"$stateDir/v=$v/bucket=$b"))
    }
    if (base.isEmpty || !anyDataFile(spark, base.map(_._2))) return
    val bucketOf = pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong))
    val touched = purgeDiscovery(spark, base.map(_._2), keys, opCol,
        deleteOp, nBuckets)
      .collect().map(_.getLong(0)).toSet
    if (touched.isEmpty) return
    val touchedBase = base.filter(p => touched.contains(p._1))
    // null-safe survivor filter: `=!=` would yield NULL for a NULL op
    // and silently drop (physically delete!) non-tombstone rows whose
    // op is NULL — only rows whose op EQUALS the tombstone go
    val keep = graft.ParquetMeta.read(spark, touchedBase.map(_._2))
      .filter(!(col(opCol) <=> lit(deleteOp)))
      .withColumn("bucket", bucketOf)
    keep.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$stateDir/v=$batchId")
    // all-tombstone buckets wrote no partition dir — create them empty so
    // the purged version, not the tombstoned one, is each bucket's newest
    touched.foreach { b =>
      val bd = new Path(s"$stateDir/v=$batchId/bucket=$b")
      if (!fs.exists(bd)) { fs.mkdirs(bd); () }
    }
    // retire versions strictly below the base just read (merge's contract)
    touched.foreach { b =>
      val below = vers.getOrElse(b, Seq.empty).filter(_ < batchId)
      for (bv <- below.maxOption; v <- below if v < bv)
        fs.delete(new Path(s"$stateDir/v=$v/bucket=$b"), true)
    }
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .foreach { vd =>
        if (!fs.listStatus(vd.getPath)
              .exists(_.getPath.getName.startsWith("bucket=")))
          fs.delete(vd.getPath, true)
      }
    ()
  }

  /** [[scd1PurgeBatch]]'s tombstone-discovery frame, factored out so
    * PlanSpec can pin its physical shape: the scan must read ONLY the
    * op + key columns (parquet column pruning — at 100 TB the discovery
    * is a footer-stat-prunable metadata-sized pass, never a full-width
    * state read). Returns the distinct bucket ids holding tombstones. */
  private[graft] def purgeDiscovery(spark: org.apache.spark.sql.SparkSession,
                                    basePaths: Seq[String], keys: Seq[String],
                                    opCol: String, deleteOp: String,
                                    nBuckets: Int): DataFrame = {
    val bucketOf = pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong))
    graft.ParquetMeta.read(spark, basePaths)
      .filter(col(opCol) === lit(deleteOp))
      .select(bucketOf.as("bucket")).distinct()
  }

  /**
   * One-step CHANGE FEED over [[scd1MergeBatch]]'s bucket-versioned
   * state — the Snowflake STREAM / Delta Change-Data-Feed analog
   * (Snowflake streams are the change-tracking primitive of the
   * reference's own platform; reference README.md:117's `target_lag`
   * freshness posture is what downstream consumers poll them for): the
   * (op, before, after) rows describing exactly what `batchId`'s merge
   * changed, derived from the state layout itself. The merge's
   * retention contract (a touched bucket's immediate BASE version
   * survives until a LATER batch supersedes it) is precisely what makes
   * the one-step diff always readable right after the merge.
   *
   * op ∈ `insert` (key absent before), `update` (key present on both
   * sides and ANY non-key column differs, null-safely), `delete` (key
   * absent after — keep-latest merges retain tombstones so never emit
   * it, but a [[scd1PurgeBatch]] hard-delete batch does).
   * A co-bucketed key the batch carried forward UNCHANGED
   * emits no row, exactly like a stream on the table. `before`/`after`
   * are STRUCTs of the state's non-key columns, NULL on the absent side.
   *
   * Scale shape: reads ONLY the buckets `batchId` wrote (post =
   * `v=batchId`, pre = each such bucket's newest version strictly
   * below) and diffs them with one full-outer equi-join on the key —
   * O(touched buckets) of IO and one key-partitioned exchange, never
   * the full state: the same pruning the merge itself does.
   */
  def scd1ChangeFeed(spark: org.apache.spark.sql.SparkSession,
                     stateDir: String, batchId: Long,
                     keys: Seq[String]): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no SCD-1 state at $stateDir")
    val vers = residentVersions(fs, stateDir)
    val touched = vers.collect { case (b, vs) if vs.contains(batchId) => b }.toSeq
    require(touched.nonEmpty, s"batch $batchId wrote no buckets under $stateDir")
    val postPaths = touched.map(b => s"$stateDir/v=$batchId/bucket=$b")
    val prePaths = touched.flatMap(b =>
      vers(b).filter(_ < batchId).maxOption
        .map(v => s"$stateDir/v=$v/bucket=$b"))
    // either side may be entirely file-less: the post of a purge whose
    // every touched bucket emptied, or (defensively) a file-less pre —
    // schema then comes from the other side (both file-less would mean
    // the batch touched nothing, excluded by the require above)
    val postHas = anyDataFile(spark, postPaths)
    val preHas = prePaths.nonEmpty && anyDataFile(spark, prePaths)
    require(postHas || preHas,
      s"batch $batchId has neither pre- nor post-image files under $stateDir")
    val post =
      if (postHas) graft.ParquetMeta.read(spark, postPaths)
      else graft.ParquetMeta.read(spark, prePaths).limit(0)
    val pre =
      if (preHas) graft.ParquetMeta.read(spark, prePaths)
      else post.limit(0)
    val dataCols = post.columns.filterNot(keys.contains).toSeq
    val preR = pre.select(keys.map(col) ++ Seq(lit(true).as("__in_b")) ++
      dataCols.map(c => col(c).as(s"__b_$c")): _*)
    val postR = post.select(keys.map(col) ++ Seq(lit(true).as("__in_a")) ++
      dataCols.map(c => col(c).as(s"__a_$c")): _*)
    val changed = dataCols.map(c => !(col(s"__b_$c") <=> col(s"__a_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    preR.join(postR, keys, "full_outer")
      .filter(col("__in_b").isNull || col("__in_a").isNull || changed)
      .select(keys.map(col) ++ Seq(
        when(col("__in_b").isNull, lit("insert"))
          .when(col("__in_a").isNull, lit("delete"))
          .otherwise(lit("update")).as("op"),
        when(col("__in_b").isNotNull,
          struct(dataCols.map(c => col(s"__b_$c").as(c)): _*)).as("before"),
        when(col("__in_a").isNotNull,
          struct(dataCols.map(c => col(s"__a_$c").as(c)): _*)).as("after")): _*)
  }

  /**
   * SCD-2 fold — dbt's own `snapshot` semantic (the reference is a dbt
   * project; snapshots are how dbt keeps HISTORY over a mutable source,
   * `strategy='check'`): apply one batch's [[scd1ChangeFeed]] to a
   * validity-interval table. Rows carry `(data cols…, valid_from,
   * valid_to)` in batch units; a changed or deleted key's CURRENT row
   * closes (`valid_to = batchId`, the half-open [from, to) convention)
   * and, unless deleted, the after-image opens a new current row
   * (`valid_from = batchId, valid_to = NULL`). Keys the feed is silent
   * on carry every row forward untouched — exactly a dbt snapshot run.
   *
   * Scale shape: one broadcast-or-shuffled left join of the history
   * against the feed's key set (delta-sized) plus a union of the feed's
   * after-images; the history is never windowed or re-sorted. History
   * grows by changed keys only; at 100 TB partition the snapshot table
   * by a key hash and the join co-locates.
   *
   * `prev` may be empty (a first batch's feed is all inserts). Returns
   * the updated history with the same column set.
   */
  def scd2Fold(prev: DataFrame, feed: DataFrame, batchId: Long,
               keys: Seq[String]): DataFrame = {
    val dataCols = feed.select(col("after.*")).columns.toSeq
    val chKeys = feed.select(keys.map(col): _*).distinct()
      .withColumn("__ch", lit(true))
    val carried = prev.join(chKeys, keys, "left")
      .withColumn("valid_to",
        when(col("__ch").isNotNull && col("valid_to").isNull, lit(batchId))
          .otherwise(col("valid_to")))
      .drop("__ch")
    val opened = feed.filter(col("op") =!= "delete")
      .select(keys.map(col) ++
        dataCols.map(c => col(s"after.$c").as(c)) ++
        Seq(lit(batchId).as("valid_from"),
          lit(null).cast("long").as("valid_to")): _*)
    carried.unionByName(opened)
  }

  /**
   * AS-OF read over a [[scd2Fold]] history — time travel, the CONSUMER
   * side of the snapshot tier (Snowflake `AT(...)`, Delta
   * `VERSION AS OF`, the join every dbt-snapshot downstream mart
   * performs): the rows current as of the END of batch `asOfBatch`,
   * i.e. the half-open interval containing it —
   * `valid_from <= t AND (valid_to IS NULL OR valid_to > t)`. A key
   * hard-deleted at or before `t` ([[scd1PurgeBatch]] → close without
   * reopen) has no covering interval and is correctly absent.
   *
   * Scale shape: ONE partition-pruned filter over the history — no
   * join, no window; on a 100 TB snapshot table partitioned by
   * `valid_to IS NULL` (current vs closed) plus a key hash, the
   * current-rows partition serves `asOfBatch = latest` reads without
   * touching closed history at all.
   *
   * Returns the history's columns minus the interval bookkeeping.
   */
  def scd2AsOf(history: DataFrame, asOfBatch: Long): DataFrame =
    history.filter(col("valid_from") <= lit(asOfBatch) &&
        (col("valid_to").isNull || col("valid_to") > lit(asOfBatch)))
      .drop("valid_from", "valid_to")
}
