package graft.graphx

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Min-pointer handshake matching: set validity (each vertex in ≤ 1
  * pair), maximality (no live edge joins two unmatched vertices),
  * hand-graph determinism, and the serializing-path round shape. */
class MatchingSpec extends SparkSpec {
  import spark.implicits._

  private def rounds: Int = spark.sparkContext
    .getLocalProperty("graft.matching.rounds").toInt

  test("validity and maximality on the real transition graph") {
    val li = graft.Tables(spark, sfDir, "lineitem")
      .where(col("l_partkey") <= 2000)
      .select(col("l_orderkey").as("o"), col("l_linenumber").as("ln"),
        col("l_partkey").as("p"))
    val e = li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("b.ln") === col("a.ln") + 1)
      .where(col("a.p") =!= col("b.p") &&
        (col("a.p") * 31 + col("b.p")) % 7 === 0)
      .select(col("a.p").as("src"), col("b.p").as("dst")).distinct()
      .localCheckpoint()
    val m = GraphAnalytics.maximalMatching(e).localCheckpoint()
    // validity: every matched vertex appears exactly once
    val ends = m.select(col("u").as("w")).unionAll(m.select(col("v").as("w")))
    assert(ends.count() == ends.distinct().count(), "a vertex matched twice")
    // the matched pairs are real edges
    val sym = e.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(e.select(col("dst").as("u"), col("src").as("v")))
    assert(m.join(sym, Seq("u", "v"), "anti").count() == 0,
      "matched a non-edge")
    // maximality: no edge joins two unmatched vertices
    val unmatchedEdge = sym
      .join(ends.withColumnRenamed("w", "u"), Seq("u"), "anti")
      .join(ends.withColumnRenamed("w", "v"), Seq("v"), "anti")
      .count()
    assert(unmatchedEdge == 0, s"$unmatchedEdge augmentable edges remain")
    assert(rounds >= 1)
  }

  test("hand graph: handshakes are mutual-min pairs, round-tagged") {
    // path 1-2-3-4: round 1 matches (1,2) only (3 points at 2, taken);
    // round 2 matches (3,4). star 10-{11,12}: (10,11) matches, 12
    // stays single forever (maximality via its only edge being taken)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L))
      .toDF("src", "dst")
    val got = GraphAnalytics.maximalMatching(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq.sortBy(_._1)
    assert(got == Seq((1L, 2L, 1), (3L, 4L, 2), (10L, 11L, 1)),
      got.toString)
  }

  test("id-ascending path serializes: rounds ~ n/2; maxRounds guards") {
    def path(n: Int) = spark.range(n - 1L)
      .selectExpr("id as src", "id + 1 as dst")
    GraphAnalytics.maximalMatching(path(12)).count()
    assert(rounds == 6, s"12-path matched in $rounds rounds")
    val ex = intercept[IllegalStateException] {
      GraphAnalytics.maximalMatching(path(12), maxRounds = 2).count()
    }
    assert(ex.getMessage.contains("exceeded 2 rounds"), ex.getMessage)
  }
  test("arms equality: local and distributed handshakes agree") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (1L, 6L), (7L, 8L), (8L, 9L)).toDF("src", "dst")
    val key = Arms.LimitConf
    val loc = GraphAnalytics.maximalMatching(e)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    val lr = rounds
    spark.conf.set(key, "0")
    try {
      val dist = GraphAnalytics.maximalMatching(e)
        .as[(Long, Long, Int)].collect().sorted.toSeq
      assert(loc == dist, s"arms diverged: $loc vs $dist")
      assert(rounds == lr, "rounds metric diverged between arms")
    } finally spark.conf.unset(key)
  }

}
