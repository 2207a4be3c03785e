package graft

/**
 * Batch plan dump for the optimization rounds: writes
 * `<outDir>/<query>_<tag>.txt` containing `explain("formatted")` for
 * every named declared query (or all of them), in ONE session — the
 * per-query sibling of [[Explain]] without paying a JVM per plan.
 *
 *   runMain graft.ExplainAll <outDir> <tag> [q1,q2,... | all] [sfDir]
 *
 * Used to commit the `plans/r16/<query>_before.txt` / `_after.txt`
 * evidence the optimization rounds require.
 */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainAll <outDir> <tag> [names|all] [sfDir]")
    val outDir = args(0)
    val tag = args(1)
    val names: Seq[String] =
      if (args.length < 3 || args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length >= 4) args(3) else "/root/testdata/sf0.1"
    val spark = Graft.session(appName = "explainall")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      // queries with replay state mutate dirs at CONSTRUCTION time; plan
      // capture runs the same construction Verify does, so this is
      // safe (and idempotent) against the scratch state roots
      val plan =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"PLAN FAILED: $e" }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), plan)
      System.err.println(s"[explainall] wrote $name")
    }
    spark.stop()
  }
}
