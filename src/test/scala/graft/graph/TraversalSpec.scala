package graft.graph

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Invariants of the follow loop, mirroring the reference's traversal
  * tests (reference: src/core.tests/Tests.fs:882-900 — a query never
  * yields the same node twice) plus hop-range fixtures the reference
  * lacks (SURVEY.md §7.3 risk 4).
  */
class TraversalSpec extends SparkSpec {
  import spark.implicits._

  // a -> b -> c -> a  (cycle), a -> d, d -> e; labels: x on a->b, rest y
  private lazy val edges = Seq(
    ("a", "x", "b"), ("b", "y", "c"), ("c", "y", "a"),
    ("a", "y", "d"), ("d", "y", "e"))
    .toDF("src_id", "label", "dst_id").withColumn("ts", lit(0L))

  private def ids(label: Option[String], from: Int, to: Int): Set[(String, Int)] =
    Traversal.follow(spark, edges, Seq("a").toDF("id"), label, from, to)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet

  test("cycle terminates and every node appears exactly once") {
    val out = Traversal.follow(spark, edges, Seq("a").toDF("id"), None, 0, 10)
      .collect().map(_.getString(0))
    assert(out.length == out.distinct.length, "node emitted twice")
    assert(out.toSet == Set("a", "b", "c", "d", "e"))
  }

  test("hop is the first-reached distance") {
    assert(ids(None, 0, 10) == Set(("a", 0), ("b", 1), ("d", 1), ("c", 2), ("e", 2)))
  }

  test("range window [from,to] gates emission") {
    assert(ids(None, 2, 2).map(_._1) == Set("c", "e"))
    assert(ids(None, 1, 2).map(_._1) == Set("b", "d", "c", "e"))
  }

  test("labeled follow only walks matching edges") {
    assert(ids(Some("x"), 0, 5).map(_._1) == Set("a", "b"))
  }

  test("root with no outgoing edges yields just the root") {
    val out = Traversal.follow(spark, edges, Seq("e").toDF("id"), None, 0, 3)
      .collect().map(_.getString(0)).toSet
    assert(out == Set("e"))
  }

  test("already-visited node is not re-expanded (cycle back to root)") {
    // a reached again at hop 3 via c->a must not re-emit or re-expand
    assert(ids(None, 3, 3).isEmpty)
  }

  test("hub frontier outgrows the point path; hand-off equals pure distributed") {
    // one hub with 50k out-edges: hop-1 frontier (50k) blows past
    // PointPathMaxFrontier (10k), so the driver loop MUST hand off
    // mid-traversal to the distributed join loop; its output must be
    // identical to running the distributed loop from the start.
    val n = 5 * Traversal.PointPathMaxFrontier
    val hubEdges = spark.range(n.toLong).selectExpr(
        "'hub' as src_id", "'e' as label", "concat('t/', id) as dst_id")
      .unionAll(spark.range(n.toLong).selectExpr(
        "concat('t/', id) as src_id", "'e' as label",
        "concat('u/', id % 7) as dst_id"))
    val viaHandoff = Traversal
      .follow(spark, hubEdges, Seq("hub").toDF("id"), None, 0, 2)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    // shape: hub at hop 0, all 50k targets at hop 1, u/0..u/6 at hop 2
    assert(viaHandoff.size == 1 + n + 7)
    assert(viaHandoff.count(_._2 == 1) == n)
    assert(viaHandoff.filter(_._2 == 2).map(_._1) ==
      (0 until 7).map(i => s"u/$i").toSet)

    val viaDistributed = Traversal.followDistributed(spark, hubEdges,
        Seq(("hub", 0)).toDF("id", "hop"), 0, 2)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(viaHandoff == viaDistributed,
      "hand-off path diverged from the pure distributed loop")
  }

  test("arms agree: adjacency, per-hop scan and distributed on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.lang.{AnyEdge, EdgePred, LabelEdge, OrEdge, StepCompiler}
    // 8 nodes; targets include a dangling id and null, labels include
    // null; small edge lists over few nodes make cycles, self-loops
    // and duplicate edges common (each is asserted to occur below)
    val node = Gen.choose(0, 7).map(i => s"n/$i")
    val dst = Gen.frequency(8 -> node, 1 -> Gen.const("gone/1"),
      1 -> Gen.const(null: String))
    val label = Gen.frequency(3 -> Gen.oneOf("x", "y", "z"),
      1 -> Gen.const(null: String))
    val graph = Gen.choose(0, 18).flatMap(Gen.listOfN(_,
      Gen.zip(node, label, dst)))
    val leaf: Gen[EdgePred] = Gen.oneOf(Gen.const(AnyEdge),
      Gen.oneOf("x", "y", "z", "w").map(LabelEdge))
    val pred = Gen.frequency(2 -> leaf, 1 -> Gen.zip(leaf, leaf).map {
      case (a, b) => OrEdge(a, b): EdgePred })
    val roots = Gen.choose(1, 2).flatMap(Gen.listOfN(_,
      Gen.frequency(5 -> node, 1 -> Gen.const("gone/1"))))
    val windows = for (to <- 0 to 3; from <- 0 to to) yield (from, to)

    val seen = scala.collection.mutable.Set.empty[String]
    (0 until 20).foreach { i =>
      val params = Gen.Parameters.default
      val es = graph.pureApply(params, Seed(i))
      val p = pred.pureApply(params, Seed(100 + i))
      val rs = roots.pureApply(params, Seed(200 + i)).distinct
      if (es.exists { case (s, _, d) => s == d }) seen += "self-loop"
      if (es.distinct.size < es.size) seen += "duplicate"
      if (es.exists(_._3 == null)) seen += "null dst"
      if (p.isInstanceOf[OrEdge]) seen += "or"
      val edges = es.toDF("src_id", "label", "dst_id")
        .where(StepCompiler.edgeCol(p))
      val adjacency = Adjacency(es.iterator)
      def point(adj: Option[Adjacency], from: Int, to: Int) =
        Traversal.followEdges(spark, edges, Left(rs), from, to, () => adj,
          StepCompiler.edgeTest(p)).left.getOrElse(fail("not the point arm"))
          .toSet
      windows.foreach { case (from, to) =>
        val viaAdjacency = point(Some(adjacency), from, to)
        val ctx = s"graph $i ${es.mkString(" ")}, $p, roots $rs, [$from,$to]"
        assert(viaAdjacency.map(_._1).size == viaAdjacency.size,
          s"a node emitted twice: $ctx")
        spark.conf.set(graft.graphx.Arms.LimitConf, "0")
        val viaScan = try point(Some(adjacency), from, to)
          finally spark.conf.unset(graft.graphx.Arms.LimitConf)
        assert(viaScan == viaAdjacency, s"scan arm differs: $ctx")
        // the distributed loop is the slow arm: the widest window and
        // one more per graph, each window on two of the 20 graphs
        if (windows(i % windows.size) == (from, to) || (from, to) == (0, 3)) {
          val walk = point(Some(adjacency), 0, to).toMap
          if (es.exists { case (s, l, d) => d == null &&
              StepCompiler.edgeTest(p)(l) && walk.get(s).exists(_ < to) })
            seen += "null dst reached"
          val viaDistributed = Traversal.followDistributed(spark, edges,
              rs.map(_ -> 0).toDF("id", "hop"), from, to)
            .collect().map(r => (r.getString(0), r.getInt(1))).toSet
          assert(viaDistributed == viaAdjacency,
            s"distributed arm differs: $ctx")
        }
      }
      if (viaCycle(es)) seen += "cycle"
    }
    val kinds = Set("self-loop", "duplicate", "null dst", "null dst reached",
      "or", "cycle")
    assert(seen == kinds, s"the graphs never held: ${kinds -- seen}")
  }

  /** Whether `es` holds a cycle through two or more nodes. */
  private def viaCycle(es: Seq[(String, String, String)]): Boolean = {
    val out = es.filter(e => e._3 != null && e._1 != e._3)
      .groupMap(_._1)(_._3)
    def reaches(from: String, to: String, seen: Set[String]): Boolean =
      out.getOrElse(from, Nil).exists(n =>
        n == to || !seen(n) && reaches(n, to, seen + n))
    out.keys.exists(n => reaches(n, n, Set(n)))
  }
}
