package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Session-shared MAUDE replay fixture (the r12 verdict's #2): q140, q146,
 * q213 and q214 each used to synthesize the SAME landing NDJSON and — for
 * the CDC pair — run the SAME 3-batch parse→stage→merge chain, repeating
 * ~⅔ of the tier's IO across gates (21.5 s, 19 % of the whole bench).
 * This object builds each shared artifact ONCE PER JVM SESSION under a
 * pid-keyed scratch root and hands every consumer the same directory:
 *
 *  - [[landing]] — the 3-drop NDJSON landing (all four queries);
 *  - [[ingestState]] — q140's 9-column staged chain merged through
 *    [[graft.streaming.Streams.scd1MergeBatch]];
 *  - [[cdcState]] — the 4-column chain of q213/q214 (kept SEPARATE from
 *    the 9-column state on purpose: SCD-2 interval boundaries depend on
 *    which columns can change, so sharing the wide state would change
 *    q214's history vs its 4-column oracle), plus each batch's
 *    [[graft.streaming.Streams.scd1ChangeFeed]] persisted as parquet so
 *    the q214 fold re-reads feeds instead of re-running three merges.
 *
 * Scoping and safety:
 *  - The root embeds the JVM pid, so a fixture NEVER crosses processes —
 *    a later session (possibly against regenerated testdata) rebuilds
 *    from scratch, which is what makes the memoization safe: within one
 *    process the source parquet cannot change under us.
 *  - Build-once is guarded by a synchronized tag set (queries run
 *    sequentially in Verify/Bench, but sbt may run suites concurrently).
 *  - A shutdown hook removes the root — scratch, never a deliverable.
 *  - Single-query Verify runs stay self-contained: any consumer triggers
 *    exactly the builds it needs on first touch.
 *
 * The CHAIN itself (synthesis → StgMaude parse → bucket-partial merge) is
 * exactly the production code it always was — sharing moves it from
 * once-per-query×repeat to once-per-session; every query's declared
 * result and oracle hash are unchanged.
 */
object MaudeFixture {

  private val built = scala.collection.mutable.Set.empty[String]

  /** Schema memo for the fixture's IMMUTABLE parquet dirs (r17 floor
    * lever, same rationale as [[Tables]]'s memo): a fixture dir is
    * written exactly once per JVM ([[ensure]]) and read on every
    * consumer invocation — q146 alone reads `fact_stage/b=i` three
    * times per invocation, each paying the ~70 ms per-call schema
    * re-inference (OPTIMIZATION_r17.md). Metadata only; the rows are
    * scanned from parquet as before. Never applied to mutable state
    * dirs (those aren't fixture artifacts). */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()
  private def readStable(s: SparkSession, path: String): DataFrame = {
    val schema = schemaMemo.computeIfAbsent(path,
      _ => s.read.parquet(path).schema)
    s.read.schema(schema).parquet(path)
  }

  // the dataset component is a SHA-256 of the path (ADVICE r13): the
  // previous 32-bit hashCode could collide two testdata dirs touched in
  // one JVM and silently serve the wrong dataset's memoized state —
  // worse here than in replayStateDir because the fixture PERSISTS
  // across queries
  private def root(d: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_maude_fix_${ProcessHandle.current().pid()}_$digest").getAbsolutePath
  }

  // one hook PER ROOT (r13 review: a single boolean only ever cleaned
  // the first dataset's root — a session touching two testdata dirs
  // leaked the second pid-keyed scratch tree forever, since no later
  // process reuses a dead pid's dir)
  private val hookedRoots = scala.collection.mutable.Set.empty[String]
  private def installHook(s: SparkSession, dir: String): Unit =
    hookedRoots.synchronized {
      if (hookedRoots.add(dir)) {
        val conf = s.sparkContext.hadoopConfiguration
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          try {
            val p = new org.apache.hadoop.fs.Path(dir)
            val fs = p.getFileSystem(conf)
            if (fs.exists(p)) { fs.delete(p, true); () }
          } catch { case _: Throwable => () }
        }))
      }
    }

  /** Build-once-per-session: returns `<root>/<tag>` after ensuring
    * `build` has populated it exactly once in this JVM (wiping any
    * leftover from a crashed same-pid predecessor first — pids recycle). */
  private def ensure(s: SparkSession, d: String, tag: String)
                    (build: String => Unit): String = {
    val r = root(d)
    val dir = s"$r/$tag"
    built.synchronized {
      if (!built.contains(dir)) {
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) { fs.delete(p, true); () }
        installHook(s, r)
        build(dir)
        built += dir
      }
    }
    dir
  }

  /** The MAUDE landing fixture of q140/q146/q213/q214: deterministic
    * NDJSON reports built from orders (report keys repeat across drops —
    * `o_orderkey mod 1000` — so later micro-batches genuinely rewrite
    * earlier state; ~1% malformed `date_received` exercises the
    * null-safe parse), written as THREE time-sliced micro-batch file
    * drops in ONE pass over orders (partitioned text write → `b=0..2`). */
  def landing(s: SparkSession, d: String): String =
    ensure(s, d, "landing") { dir =>
      val evs = Seq("INJURY", "malfunction", "Death", "N/A", "Recall")
      val mfrs = Seq("ACME CORP", "acme corp", "MedTech GmbH", "ZETA DEVICES",
        "NoSuch Inc")
      val kw = Seq("routine operation reported", "leak detected near valve",
        "pump fracture and break observed", "thrombus noted on lead")
      val okey = col("o_orderkey")
      def cyc(xs: Seq[String]) =
        element_at(typedlit(xs), (pmod(okey, lit(xs.size)) + 1).cast("int"))
      val dateRecv = when(pmod(okey, lit(97)) === 0, lit("2020xx01"))
        .otherwise(date_format(col("o_orderdate"), "yyyyMMdd"))
      val payload = Tables.orders(s, d).select(okey, to_json(struct(
        format_string("MDR%07d", pmod(okey, lit(1000))).as("mdr_report_key"),
        format_string("RN-%d", okey).as("report_number"),
        dateRecv.as("date_received"),
        cyc(evs).as("event_type"),
        format_string("P%02d", pmod(okey, lit(40))).as("device_report_product_code"),
        array(struct(
          cyc(mfrs).as("manufacturer_d_name"),
          format_string("Brand%d", pmod(okey, lit(12))).as("brand_name"))).as("device"),
        array(struct(cyc(kw).as("text")),
          struct(format_string("detail fragment %d", okey).as("text"))).as("mdr_text")
      )).as("value"))
      payload.select(pmod(okey, lit(3)).as("b"), col("value"))
        .write.partitionBy("b").mode("overwrite").text(dir)
    }

  /** The q140/q218 staging projection over a RAW landing frame — the
    * full 9-column ingest grain. Factored off [[stagedFull]] so the
    * genuine streaming ingest (q218's foreachBatch stage) and the batch
    * replay stage through the SAME code, never a lookalike. */
  def stageFull(raw: DataFrame): DataFrame = {
    import graft.models.StgMaude
    StgMaude(raw)
      .select(col("mdr_report_key"), col("report_number"),
        col("date_received"), col("event_type"),
        col("product_code"), col("manufacturer_name"), col("brand_name"),
        col("narrative_len").cast("long").as("narrative_len"),
        expr("try_cast(substring(report_number, 4) AS BIGINT)").as("seq"))
  }

  /** q140's staged slice of a landing drop — [[stageFull]] over one
    * batch-read drop (shared with the [[ingestState]] builder so the
    * chain and any ad-hoc consumer stage identically). */
  def stagedFull(s: SparkSession, d: String, batch: Int): DataFrame = {
    import graft.sources.MaudeIngest
    stageFull(MaudeIngest.batch(s, s"${landing(s, d)}/b=$batch"))
  }

  /** The q140 merged state: [[stagedFull]] drops 0..2 folded through the
    * production bucket-partial merge, built once per session. */
  def ingestState(s: SparkSession, d: String): String =
    ensure(s, d, "ingest_state") { dir =>
      (0 until 3).foreach { i =>
        graft.streaming.Streams.scd1MergeBatch(stagedFull(s, d, i), i.toLong,
          Seq("mdr_report_key"), Seq("seq"), dir, nBuckets = 16)
      }
    }

  /** The q213/q214 staged slice — the 4-column CDC grain. */
  private def stagedCdc(s: SparkSession, d: String, batch: Int): DataFrame = {
    import graft.models.StgMaude
    import graft.sources.MaudeIngest
    StgMaude(MaudeIngest.batch(s, s"${landing(s, d)}/b=$batch"))
      .select(col("mdr_report_key"), col("event_type"),
        date_format(col("date_received"), "yyyy-MM-dd").as("date_received"),
        expr("try_cast(substring(report_number, 4) AS BIGINT)").as("seq"))
  }

  /** The CDC-grain merged state of q213/q214, with every batch's change
    * feed persisted alongside (`../cdc_feed/b=<i>`): the feed is derived
    * right after its merge — exactly when the retention contract
    * guarantees the one-step diff readable — and written once, so the
    * q214 fold replays feeds instead of re-running three merges. */
  def cdcState(s: SparkSession, d: String): String =
    ensure(s, d, "cdc_state") { dir =>
      val feedDir = s"${root(d)}/cdc_feed"
      (0 until 3).foreach { i =>
        graft.streaming.Streams.scd1MergeBatch(stagedCdc(s, d, i), i.toLong,
          Seq("mdr_report_key"), Seq("seq"), dir, nBuckets = 16)
        graft.streaming.Streams.scd1ChangeFeed(s, dir, i.toLong,
            Seq("mdr_report_key"))
          .write.mode("overwrite").parquet(s"$feedDir/b=$i")
      }
    }

  /** Batch `i`'s persisted [[graft.streaming.Streams.scd1ChangeFeed]]
    * over the CDC chain (building the chain on first touch). */
  def cdcFeed(s: SparkSession, d: String, i: Int): DataFrame = {
    cdcState(s, d)
    readStable(s, s"${root(d)}/cdc_feed/b=$i")
  }

  /** q215's user-changelog SCD-1 state (one merge batch, tombstones
    * retained per the late-data ordering contract), built once per
    * session with its change feed persisted alongside
    * (`../user_feed/b=0`). The PURGE is deliberately NOT shared: the
    * hard delete is the semantic q215 gates, and its replay against
    * this state is idempotent by the strictly-below-base contract
    * (purge-replay idempotence is pinned in StreamsSpec) — every
    * invocation re-runs purge → purge-feed → fold in place, paying
    * exactly the operator under measurement and nothing upstream. */
  def userScdState(s: SparkSession, d: String)
                  (changelog: => DataFrame): String =
    ensure(s, d, "user_state") { dir =>
      // 4 buckets, not the 16 the wide MAUDE states use: the user state
      // is key-bounded (distinct users), and at test scale 16 buckets
      // means 16 tiny files whose listings + footer reads dominate every
      // downstream read — bucket count sizes to state volume, and the
      // purge/feed callers must pass the SAME nBuckets (the bucket
      // function pmod(xxhash64(keys), n) is part of the state layout)
      graft.streaming.Streams.scd1MergeBatch(changelog, 0L, Seq("user_id"),
        Seq("us", "event_id"), dir, nBuckets = UserStateBuckets)
      graft.streaming.Streams.scd1ChangeFeed(s, dir, 0L, Seq("user_id"))
        .write.mode("overwrite").parquet(s"${root(d)}/user_feed/b=0")
    }

  /** [[userScdState]]'s bucket count — every reader/mutator of that
    * state must use this value (the bucket hash is part of the layout). */
  val UserStateBuckets = 4

  /** Batch 0's persisted change feed over [[userScdState]] (the state
    * must have been built first — q215 calls [[userScdState]] before
    * reading this). */
  def userFeed0(s: SparkSession, d: String): DataFrame =
    readStable(s, s"${root(d)}/user_feed/b=0")

  /** The fixture's manufacturer seed slice: both ACME case variants
    * canonicalize via UPPER(TRIM(..)); 'NoSuch Inc' is absent so
    * canonical_mfr falls back to the raw name
    * (fact_adverse_events.sql:58). */
  def mfrDim(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(("ACME CORP", "ACME", 1L),
      ("MedTech GmbH", "MEDTECH", 2L),
      ("ZETA DEVICES", "ZETA", 3L))
      .toDF("raw_name", "canonical_name", "manufacturer_id")
  }

  /** q146's fact-grain staging of the three drops, persisted once per
    * session: the landing parse (`from_json` + flatten) and the
    * [[graft.models.FactAdverseEvents]] derivation (canonicalization
    * join, ILIKE failure-mode cascade over narratives) are deterministic
    * per drop and identical on every replay — the IVM identity q146
    * gates is about the MAINTENANCE (merge + image reads + mart folds),
    * which still runs per invocation over these rows. */
  def factStage(s: SparkSession, d: String, batch: Int): DataFrame = {
    import graft.models.{FactAdverseEvents, StgMaude}
    import graft.sources.MaudeIngest
    val dir = ensure(s, d, "fact_stage") { out =>
      (0 until 3).foreach { i =>
        FactAdverseEvents(
            StgMaude(MaudeIngest.batch(s, s"${landing(s, d)}/b=$i")),
            mfrDim(s))
          .select(col("mdr_report_key"), col("canonical_mfr"),
            col("failure_mode"), col("date_received"),
            expr("try_cast(substring(report_number, 4) AS BIGINT)").as("seq"))
          .write.mode("overwrite").parquet(s"$out/b=$i")
      }
    }
    readStable(s, s"$dir/b=$batch")
  }
}
