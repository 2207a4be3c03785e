package graft

/**
 * Plan-inspection dev tool: print a declared query's physical plan
 * without editing test code —
 *
 *   runMain graft.Explain <queryName> [sfDir] [--run]
 *
 * Default prints the static `explain("formatted")` plan against
 * sf0.001; `--run` executes the query first (count) and then prints
 * the POST-EXECUTION plan, which under AQE is the final adaptive plan
 * (runtime-converted joins, coalesced partitions) — the plan a bench
 * actually ran, not the one the optimizer first proposed. This is the
 * tool behind the per-round ".explain and iterate" discipline.
 */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Explain <queryName> [sfDir] [--run]")
    val name = args(0)
    val sfDir = args.drop(1).find(!_.startsWith("--"))
      .getOrElse("/root/testdata/sf0.001")
    val run = args.contains("--run")
    val spark = Graft.session(appName = "explain")
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'; known: " +
        SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
    if (run) {
      // time CONSTRUCTION + count together: builders with eager
      // localCheckpoint rounds (components, the replay queries) do most of
      // their work at DataFrame-construction time, so timing only the
      // final count under-reports by the whole iteration cost
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val n = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"[explain] $name rows=$n wall=${f"$sec%.2f"}s (post-AQE plan follows)")
      println(df.queryExecution.executedPlan.toString)
    } else {
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
