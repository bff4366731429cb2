package graft.graphx

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Jones–Plassmann coloring: properness, the color-0 ≡ greedy-MIS
  * invariant tying x29 to x28, the maxDegree+1 bound, and the
  * dependency-depth round shape (a path serializes fully). */
class ColoringSpec extends SparkSpec {
  import spark.implicits._

  private def rounds: Int = spark.sparkContext
    .getLocalProperty("graft.coloring.rounds").toInt

  private def realEdges = {
    val li = graft.Tables(spark, sfDir, "lineitem")
      .where(col("l_partkey") <= 2000)
      .select(col("l_orderkey").as("o"), col("l_linenumber").as("ln"),
        col("l_partkey").as("p"))
    li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("b.ln") === col("a.ln") + 1)
      .where(col("a.p") =!= col("b.p") &&
        (col("a.p") * 31 + col("b.p")) % 7 === 0)
      .select(col("a.p").as("src"), col("b.p").as("dst")).distinct()
      .localCheckpoint()
  }

  test("proper coloring; ≤ maxDegree+1 colors; color 0 == greedy MIS") {
    val e = realEdges
    val colors = GraphAnalytics.greedyColoring(e).localCheckpoint()
    val sym = e.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(e.select(col("dst").as("u"), col("src").as("v")))
    // properness: no edge joins two equal colors
    val conflicts = sym
      .join(colors.select(col("v").as("u"), col("color").as("cu")), "u")
      .join(colors.select(col("v"), col("color").as("cv2")), "v")
      .where(col("cu") === col("cv2")).count()
    assert(conflicts == 0, s"$conflicts monochromatic edges")
    val nColors = colors.select("color").distinct().count()
    val maxDeg = sym.groupBy("u").agg(count(lit(1)).as("d"))
      .agg(max("d")).head().getLong(0)
    assert(nColors <= maxDeg + 1, s"$nColors colors vs maxDeg $maxDeg")
    // the classic invariant: the color-0 class IS the greedy-by-id MIS
    val mis = GraphAnalytics.maximalIndependentSet(e)
      .select("v").as[Long].collect().toSet
    val c0 = colors.where(col("color") === 0)
      .select("v").as[Long].collect().toSet
    assert(c0 == mis, s"color-0 class ${c0.size} != MIS ${mis.size}")
  }

  test("sequential-greedy colors on a hand graph") {
    // triangle 1-2-3: colors 0,1,2; pendant 4-1: mex{0} = 1;
    // 5-clique-free check on star 10-{11,12}: 10→0, both leaves
    // see {0} → 1
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L),
      (10L, 11L), (10L, 12L)).toDF("src", "dst")
    val got = GraphAnalytics.greedyColoring(e)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1,
      10L -> 0, 11L -> 1, 12L -> 1), got.toString)
  }

  test("id-ascending path serializes: rounds = n; maxRounds guards") {
    def path(n: Int) = spark.range(n - 1L)
      .selectExpr("id as src", "id + 1 as dst")
    GraphAnalytics.greedyColoring(path(9)).count()
    assert(rounds == 9, s"9-path colored in $rounds rounds")
    val ex = intercept[IllegalStateException] {
      GraphAnalytics.greedyColoring(path(9), maxRounds = 3).count()
    }
    assert(ex.getMessage.contains("exceeded 3 rounds"), ex.getMessage)
  }
  test("arms equality: local and distributed sweeps agree") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 4L), (6L, 7L), (8L, 9L)).toDF("src", "dst")
    val key = Arms.LimitConf
    val loc = GraphAnalytics.greedyColoring(e)
      .as[(Long, Int)].collect().sorted.toSeq
    val lr = rounds
    spark.conf.set(key, "0")
    try {
      val dist = GraphAnalytics.greedyColoring(e)
        .as[(Long, Int)].collect().sorted.toSeq
      assert(loc == dist, s"arms diverged: $loc vs $dist")
      assert(rounds == lr, "rounds metric diverged between arms")
    } finally spark.conf.unset(key)
  }

}
