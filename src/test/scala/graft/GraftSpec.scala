package graft

class GraftSpec extends SparkSpec {

  test("configure registers native functions for plain SQL") {
    Graft.configure(spark)
    val cos = spark.sql(
      "SELECT graft_cosine_sim(array(1.0D, 0.0D), array(1.0D, 1.0D)) AS c")
      .head().getDouble(0)
    assert(math.abs(cos - 1.0 / math.sqrt(2.0)) < 1e-15)
    val sh = spark.sql(
      "SELECT graft_shingles(array('a','b','c'), 2) AS s")
      .head().getSeq[String](0)
    assert(sh === Seq("a b", "b c"))
    // functions only: the optimizer stays stock Catalyst
    assert(spark.experimental.extraOptimizations.isEmpty)
  }

  test("configure respects an explicitly non-ANSI host session; zoneMap refuses it") {
    // the configure contract (scaladoc): graft never flips a host's own
    // ANSI choice
    val saved = spark.conf.get("spark.sql.ansi.enabled", "true")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      Graft.configure(spark)
      assert(spark.conf.get("spark.sql.ansi.enabled") === "false",
        "configure must not override an explicit host ANSI=false")
    } finally {
      spark.conf.set("spark.sql.ansi.enabled", saved)
      Graft.configure(spark)
    }
  }

  test("registerTables exposes the full testdata surface to spark.sql") {
    Graft.configure(spark)
    Graft.registerTables(spark, "/root/testdata/sf0.001")
    val n = spark.sql(
      """SELECT count(*) FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin)
      .head().getLong(0)
    assert(n > 0)
    assert(spark.sql("SELECT max(ts) FROM events").head().get(0) != null)
  }
}
