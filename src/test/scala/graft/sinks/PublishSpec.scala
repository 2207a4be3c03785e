package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PublishSpec extends SparkSpec {
  import spark.implicits._

  /** Per-file identity for the untouched-partition contracts: name →
    * (length, SHA-256 of content). Content hash, not mtime — on
    * filesystems with 1 s mtime granularity a same-second rewrite with
    * identical metadata would pass a (length, lastModified) compare
    * falsely (ADVICE r14); the hash pins the bytes themselves. */
  private def fileIdentities(dir: String, part: String): Map[String, (Long, String)] = {
    val d = new java.io.File(s"$dir/$part")
    d.listFiles().filter(f => f.isFile && !f.getName.startsWith("_")
      && !f.getName.startsWith("."))
      .map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val h = java.security.MessageDigest.getInstance("SHA-256")
          .digest(bytes).map("%02x".format(_)).mkString
        f.getName -> ((f.length(), h))
      }.toMap
  }

  private lazy val mart = Seq(
    ("e1", "2023-02-01", 2023), ("e2", "2023-07-15", 2023),
    ("e3", "2024-01-05", 2024))
    .toDF("event_id", "date_received", "yyyy")

  test("files sink: partitioned layout readable back with partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("publish").toString + "/fact"
    Publish.files(mart, dir, partitionCols = Seq("yyyy"))
    assert(new java.io.File(s"$dir/yyyy=2023").exists())
    assert(new java.io.File(s"$dir/yyyy=2024").exists())
    val back = spark.read.parquet(dir)
    assert(back.count() === 3)
    val pruned = back.filter(col("yyyy") === 2024)
    assert(pruned.count() === 1)
    // pruning happens at the scan: only the matching partition is read
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("yyyy"))
  }

  test("partition-scoped overwrite: touched partitions replaced, untouched files byte-identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("publish_pso").toString + "/mart"
    def filesOf(part: String): Map[String, (Long, String)] = fileIdentities(dir, part)
    Publish.files(
      Seq((2023, "a", 1L), (2023, "b", 2L), (2024, "c", 3L))
        .toDF("yyyy", "k", "n"),
      dir, partitionCols = Seq("yyyy"))
    val before2023 = filesOf("yyyy=2023")
    assert(before2023.nonEmpty)
    // refresh scoped to 2024 only: 2023's physical files must survive
    // untouched (same names, lengths, content hashes — never rewritten)
    Publish.filesPartitionOverwrite(
      Seq((2024, "c", 30L), (2024, "d", 40L)).toDF("yyyy", "k", "n"),
      dir, Seq("yyyy"))
    assert(filesOf("yyyy=2023") === before2023,
      "untouched partition's files were rewritten")
    val back = spark.read.parquet(dir)
      .select(col("yyyy"), col("k"), col("n")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(back === Set((2023, "a", 1L), (2023, "b", 2L),
      (2024, "c", 30L), (2024, "d", 40L)),
      s"2024 replaced wholesale, 2023 intact: $back")
    // a refresh adding a NEW partition only creates it
    Publish.filesPartitionOverwrite(
      Seq((2025, "e", 5L)).toDF("yyyy", "k", "n"), dir, Seq("yyyy"))
    assert(filesOf("yyyy=2023") === before2023)
    assert(spark.read.parquet(dir).count() === 5)
  }

  test("touchedYearFilter: selects exactly the named years; empty set is the caller's guard") {
    import spark.implicits._
    val df = Seq("1996-06-01", "1997-03-04", "1998-12-31", "1999-01-01")
      .toDF("d").select(col("d").cast("timestamp").as("d"))
    val got = df.filter(Publish.touchedYearFilter(col("d"), Seq(1997, 1998)))
      .collect().map(_.getTimestamp(0).toString.take(4)).toSet
    assert(got === Set("1997", "1998"))
    // sparse sets: membership filters out the in-range untouched year
    val sparse = df.filter(Publish.touchedYearFilter(col("d"), Seq(1996, 1998)))
      .collect().map(_.getTimestamp(0).toString.take(4)).toSet
    assert(sparse === Set("1996", "1998"))
    // empty delta ⇒ the caller skips the refresh; the helper refuses
    // to build a vacuous predicate (q216 guards with nonEmpty)
    intercept[IllegalArgumentException] {
      Publish.touchedYearFilter(col("d"), Nil)
    }
  }

  test("maintained mart: partition-scoped refresh keeps untouched partitions byte-identical and equals the maintained frame") {
    // the q146-shaped composition (r13 verdict #4): an IVM-maintained
    // counts mart published through filesPartitionOverwrite, fed by a
    // TIME-SLICED batch that touches a subset of years — the shape where
    // partition scoping actually pays (q146's own key-sliced fixture
    // touches every partition per batch, where the dynamic-overwrite
    // commit cost measured a strict loss; see signalsIvmQ's recorded
    // negative). Pins both halves of the contract: untouched years'
    // files physically survive, and the on-disk mart equals the
    // maintained in-memory frame after every refresh.
    import graft.operators.Incremental
    val dir = java.nio.file.Files.createTempDirectory("publish_ivm").toString + "/counts"
    def filesOf(part: String): Map[String, (Long, String)] = fileIdentities(dir, part)
    def grouped(rows: Seq[(Int, String)]) =
      rows.toDF("yyyy", "mfr")
    val keys = Seq("yyyy", "mfr")
    // batch 0: full history 2023+2024
    val b0 = grouped(Seq((2023, "a"), (2023, "a"), (2023, "b"), (2024, "a")))
    val counts0 = Incremental.maintainCounts(
      b0.limit(0).withColumn("n_events", lit(0L)), b0.limit(0), b0, keys)
      .localCheckpoint()
    Publish.filesPartitionOverwrite(counts0, dir, Seq("yyyy"))
    val files2023 = filesOf("yyyy=2023")
    assert(files2023.nonEmpty)
    // batch 1: a late TIME-SLICED delta touching 2024 only
    val b1 = grouped(Seq((2024, "a"), (2024, "b")))
    val counts1 = Incremental.maintainCounts(counts0, b1.limit(0), b1, keys)
      .localCheckpoint()
    val touchedYears = b1.select(col("yyyy")).distinct()
      .collect().map(_.getInt(0))
    Publish.filesPartitionOverwrite(
      counts1.filter(col("yyyy").isin(touchedYears.toSeq: _*)),
      dir, Seq("yyyy"))
    // untouched 2023 partition: same names, lengths, content hashes
    assert(filesOf("yyyy=2023") === files2023,
      "untouched year was rewritten by a scoped refresh")
    // on-disk mart == maintained frame (the IVM publication identity)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("yyyy").cast("int"), col("mfr"), col("n_events"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(canon(spark.read.parquet(dir)) === canon(counts1))
  }

  test("orc format round-trips through the same sink surface") {
    val dir = java.nio.file.Files.createTempDirectory("publish_orc").toString + "/mart"
    Publish.files(mart, dir, format = "orc", partitionCols = Seq("yyyy"))
    val back = spark.read.orc(dir)
    assert(back.count() === 3)
    assert(back.filter(col("yyyy") === 2023).count() === 2)
  }

  private def partFiles(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))

  private def fragmented(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"compact_$tag")
      .toString + "/t"
    (0L until 2000L).map(i => (i, i % 4, s"row_$i"))
      .toDF("id", "k", "payload")
      .repartition(8)
      .write.partitionBy("k").parquet(dir)
    dir
  }

  test("compact: bin-packs fragmented partitions, preserves content, idempotent") {
    val dir = fragmented("pack")
    val before = spark.read.parquet(dir)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("s"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(partFiles(s"$dir/k=0").length === 8)

    val report = Publish.compact(spark, dir, targetBytes = 1L << 30)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    assert(report.keySet === Set("k=0", "k=1", "k=2", "k=3"))
    assert(report("k=0") === ((8L, 1L, true)))
    assert(partFiles(s"$dir/k=0").length === 1)

    val after = spark.read.parquet(dir)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("s"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(after === before, "compaction must not change table content")

    // second run: every leaf already compact — nothing rewritten
    val again = Publish.compact(spark, dir, targetBytes = 1L << 30).collect()
    assert(again.forall(!_.getBoolean(4)), "idempotent on compact tables")
  }

  test("compact: targetBytes bounds output files; compact leaves untouched") {
    val dir = fragmented("target")
    val bytes = partFiles(s"$dir/k=1").map(_.length).sum
    // target = half the partition's bytes => 2 output files, not 1
    val rep = Publish.compact(spark, dir, targetBytes = bytes / 2 + 1)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rep("k=1") === 2L, s"expected 2 files for target ${bytes / 2 + 1}")
    assert(partFiles(s"$dir/k=1").length === 2)
    // a leaf that already satisfies the target keeps its exact files.
    // The target derives from the CURRENT (rewritten, possibly
    // differently-compressed) bytes, not the pre-compaction bytes — the
    // session codec can change between runs and sizes with it.
    val bytes2 = partFiles(s"$dir/k=1").map(_.length).sum
    val names = partFiles(s"$dir/k=1").map(_.getName).toSet
    Publish.compact(spark, dir, targetBytes = bytes2 / 2 + 1)
    assert(partFiles(s"$dir/k=1").map(_.getName).toSet === names,
      "an in-budget leaf must not be rewritten")
  }

  test("compact: recovers every crash window of a died three-rename swap") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = fragmented("crash")
    val total = spark.read.parquet(dir).count()
    val perK = spark.read.parquet(dir).groupBy("k").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    // window 1 (pre-swap): tmp written, original leaf intact -> discard tmp
    val leaf0 = Paths.get(dir, "k=0")
    val tmp0 = Paths.get(dir, ".compact_tmp_k=0")
    Files.createDirectory(tmp0)
    Files.copy(partFiles(s"$dir/k=0").head.toPath,
      tmp0.resolve("part-00000-stale.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    // window 2 (between renames): leaf parked as old, tmp holds the
    // compacted copy -> install tmp, drop old. Here "tmp" is k=1's real
    // data and "old" is a decoy that must NOT come back.
    val leaf1 = Paths.get(dir, "k=1")
    val tmp1 = Paths.get(dir, ".compact_tmp_k=1")
    val old1 = Paths.get(dir, ".compact_old_k=1")
    Files.move(leaf1, tmp1)
    Files.createDirectory(old1)
    Files.copy(Paths.get(s"$dir/k=2").resolve(
        partFiles(s"$dir/k=2").head.getName),
      old1.resolve("part-00000-old.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    // window 3 (post-swap, pre-cleanup): leaf is final, old lingers -> drop old
    val old2 = Paths.get(dir, ".compact_old_k=2")
    Files.createDirectory(old2)
    Files.copy(Paths.get(s"$dir/k=2").resolve(
        partFiles(s"$dir/k=2").head.getName),
      old2.resolve("part-00000-old.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    // window 4 (old only — tmp never completed): restore the original
    val leaf3 = Paths.get(dir, "k=3")
    val old3 = Paths.get(dir, ".compact_old_k=3")
    Files.move(leaf3, old3)

    Publish.compact(spark, dir, targetBytes = 1L << 30)
    Seq(tmp0, tmp1, old1, old2, old3).foreach(p =>
      assert(!Files.exists(p), s"$p must be cleaned up"))
    Seq(leaf0, leaf1, leaf3).foreach(p =>
      assert(Files.exists(p), s"$p must exist after recovery"))
    assert(spark.read.parquet(dir).count() === total,
      "no crash window may lose rows")
    val perKAfter = spark.read.parquet(dir).groupBy("k").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perKAfter === perK, "no decoy old-copy may resurrect rows")
  }

  test("compact: unpartitioned root-as-leaf compacts and recovers its sibling tmp") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("compact_flat").toString
    val dir = s"$base/t"
    (0L until 500L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(6).write.parquet(dir)
    assert(partFiles(dir).length === 6)
    val rep = Publish.compact(spark, dir, targetBytes = 1L << 30)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rep === Map("." -> 1L))
    assert(partFiles(dir).length === 1)
    assert(spark.read.parquet(dir).count() === 500L)
    // crash window 2 at the root: the whole table dir is gone, rows only
    // in the sibling tmp — recovery must complete the rename
    Files.move(Paths.get(dir), Paths.get(s"$base/.compact_tmp_t"))
    Publish.compact(spark, dir, targetBytes = 1L << 30)
    assert(Files.exists(Paths.get(dir)) &&
      !Files.exists(Paths.get(s"$base/.compact_tmp_t")))
    assert(spark.read.parquet(dir).count() === 500L)
  }
}
