package graft.graphx

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The MIS round peel: set-level properties (independence, maximality,
  * greedy-equivalence) plus the round-count shape — local minima fire
  * simultaneously, and the documented worst case (an id-ascending
  * path) serializes at one winner per two vertices, maxRounds-guarded.
  */
class MisSpec extends SparkSpec {
  import spark.implicits._

  private def rounds: Int = spark.sparkContext
    .getLocalProperty("graft.mis.rounds").toInt

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

  test("independence and maximality on the real transition graph") {
    val e = realEdges
    val mis = GraphAnalytics.maximalIndependentSet(e).localCheckpoint()
    val misV = mis.select("v")
    // independence: no (symmetrized) edge with both endpoints in MIS
    val sym = e.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(e.select(col("dst").as("u"), col("src").as("v")))
    val inIn = sym.join(misV.withColumnRenamed("v", "u"), Seq("u"), "semi")
      .join(misV, Seq("v"), "semi").count()
    assert(inIn == 0, s"$inIn edges inside the MIS")
    // maximality: every non-member has a MIS neighbour
    val verts = sym.select("u").distinct()
    val uncovered = verts
      .join(misV.withColumnRenamed("v", "u"), Seq("u"), "anti")
      .join(sym.join(misV, Seq("v"), "semi").select("u").distinct(),
        Seq("u"), "anti")
      .count()
    assert(uncovered == 0, s"$uncovered non-members have no MIS neighbour")
    assert(rounds >= 1)
  }

  test("fixpoint equals sequential greedy-by-id on a hand graph") {
    // triangle 1-2-3 + pendant 4-1 + isolated edge 10-11 + lone 20:
    // greedy by id: 1 in; 2,3,4 blocked; 10 in; 11 blocked; 20 in
    // (isolated vertices only enter via edges, so 20 is modeled as a
    // self-loop-free extra edge endpoint pair 20-21)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (10L, 11L),
      (20L, 21L)).toDF("src", "dst")
    val got = GraphAnalytics.maximalIndependentSet(e)
      .select("v").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 10L, 20L), got.toString)
  }

  test("id-ascending path serializes: rounds = n/2; maxRounds guards") {
    def path(n: Int) = spark.range(n - 1L)
      .selectExpr("id as src", "id + 1 as dst")
    GraphAnalytics.maximalIndependentSet(path(12)).count()
    assert(rounds == 6, s"12-path peeled in $rounds rounds")
    GraphAnalytics.maximalIndependentSet(path(20)).count()
    assert(rounds == 10, s"20-path peeled in $rounds rounds")
    val ex = intercept[IllegalStateException] {
      GraphAnalytics.maximalIndependentSet(path(20), maxRounds = 4).count()
    }
    assert(ex.getMessage.contains("exceeded 4 rounds"), ex.getMessage)
  }
  test("arms equality: local and distributed peels agree") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 4L), (6L, 7L), (8L, 9L)).toDF("src", "dst")
    val key = Arms.LimitConf
    val loc = GraphAnalytics.maximalIndependentSet(e)
      .as[(Long, Int)].collect().sorted.toSeq
    val lr = rounds
    spark.conf.set(key, "0")
    try {
      val dist = GraphAnalytics.maximalIndependentSet(e)
        .as[(Long, Int)].collect().sorted.toSeq
      assert(loc == dist, s"arms diverged: $loc vs $dist")
      assert(rounds == lr, "rounds metric diverged between arms")
    } finally spark.conf.unset(key)
  }

}
