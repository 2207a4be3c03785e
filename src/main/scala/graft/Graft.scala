package graft

import graft.functions.expressions.GraftExpressions
import org.apache.spark.sql.SparkSession

/**
 * Library entry point: one call gives a session wired the way the engine
 * expects — UTC semantics, nanos-tolerant parquet reads, sized shuffles,
 * and the native graft expressions registered for both the DataFrame API
 * and plain `spark.sql` (`graft_cosine_sim`, `graft_shingles`).
 *
 * A reference user's switch path:
 * {{{
 * val spark = Graft.session()                       // or Graft.configure(existing)
 * Graft.registerTables(spark, "/data/sf0.1")        // tables as temp views
 * spark.sql("SELECT graft_cosine_sim(a.embedding, b.embedding) ...")
 * graft.models.Pipeline.run(spark, landing, seed)   // the vigilance DAG
 * }}}
 */
object Graft {

  /** Apply engine configs + function registration to an existing session
    * — the runtime twin of deploying with
    * `spark.sql.extensions=graft.GraftSparkExtensions`. The session keeps
    * Catalyst's stock optimizer; the engine adds functions, not rules.
    *
    * ANSI contract: the engine's overflow-safety arguments assume ANSI
    * arithmetic (the Spark 4 default) — e.g. [[graft.operators.Profile.histogram]]
    * bins with the integer product `(v - min) * buckets` and relies on
    * ANSI to fail loudly when it overflows a long instead of silently
    * wrapping into garbage buckets. configure() PINS ANSI on only when
    * the session is already at the default; a host session that
    * explicitly disabled it keeps its setting (forcing it session-wide
    * would change the host's OWN queries — silent-null casts and
    * wrapping arithmetic would start throwing), and gets a warning.
    *
    * The [[StaticConf]] settings are not applied here: Spark reads them
    * only when a session is built, so neither can be applied to a running
    * host session. Pass them to the host's builder, or use [[session]]. */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // zstd for parquet writes (engine default; snappy is Spark's):
    // measured on the 10M-row mart write, zstd produced 374 MB vs
    // snappy's 758 MB at comparable-or-better wall time on a
    // throughput-bound disk — at 100 TB, halving the bytes written is
    // halving the storage-side bottleneck, and zstd parquet is readable
    // by every engine in the interop story (DuckDB verified).
    spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
    if (spark.conf.get("spark.sql.ansi.enabled", "true").toBoolean)
      spark.conf.set("spark.sql.ansi.enabled", "true")
    else
      org.apache.log4j.Logger.getLogger(getClass)
        .warn("spark.sql.ansi.enabled=false on host session: graft keeps " +
          "your setting, but ANSI-guarded arithmetic (Profile.histogram's " +
          "binning) can then wrap on overflow instead of failing — see " +
          "Graft.configure scaladoc")
    GraftExpressions.register(spark)
    spark
  }

  /** The static settings [[session]] builds with. Spark reads each one
    * only when a session is built, so they cannot be set later.
    *
    *  - `spark.sql.codegen.cache.maxEntries`: the size of the JVM-wide
    *    cache of compiled classes (default 100). It is split across the 4
    *    segments of a Guava cache, so a segment evicts after about 25
    *    classes, and it is built once per JVM, at the first code
    *    generation.
    *  - `spark.sql.artifact.isolation.enabled`: off, so every session,
    *    clones included, loads generated classes through one shared
    *    classloader. */
  val StaticConf: Map[String, Any] = Map(
    "spark.sql.codegen.cache.maxEntries" -> 1000,
    "spark.sql.artifact.isolation.enabled" -> false)

  /** The core count [[session]] defaults to: `SPARK_GRAFT_CPUS` when set,
    * otherwise every available processor. It is the one environment
    * setting the engine reads. */
  def localCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Build a local session with the engine defaults. `cores` also sizes
    * `spark.sql.shuffle.partitions` — one reducer per core locally; on a
    * cluster, set partitions to 2-3× total executor cores instead.
    *
    * Codegen cache ([[StaticConf]]): one vigilance refresh (pipeline,
    * checks, signals; 30k records, 4 cores) uses more than the default
    * 100 entries: at the default a warm refresh recompiled 26-59 classes
    * with Janino, 0.5-1.2 s of compile time, varying run to run. At 1000
    * entries it compiles one, the staging projection, whose inlined
    * `load_ts` literal is new in every run (about 40 ms).
    *
    * Artifact isolation ([[StaticConf]]): every `Trigger.AvailableNow`
    * run of a streaming query (one per live landing) executes in a clone
    * of this session. With isolation on (Spark's default), each clone gets
    * its own artifact classloader, and the codegen cache key includes the
    * classloader, so every landing missed the cache and recompiled the
    * classes of the landing before it: 23 per warm landing (1,020 records,
    * 4 cores). With isolation off a warm landing compiles one class twice
    * (see [[graft.streaming.Streams.incrementalPipeline]]). The engine
    * adds no jars or classes to a session at run time, so sharing the one
    * classloader loses nothing. */
  def session(cores: Int = localCores,
              appName: String = "graft"): SparkSession =
    configure(SparkSession.builder()
      .config(StaticConf)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .appName(appName)
      .getOrCreate())

  /** Register every driver-testdata table under its name as a temp view so
    * the whole query surface is reachable from `spark.sql`. */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => Tables.table(spark, dir, t).createOrReplaceTempView(t))
    Tables.events(spark, dir).createOrReplaceTempView("events")
  }
}
