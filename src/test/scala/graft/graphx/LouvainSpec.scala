package graft.graphx

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Louvain one-level synchronous gain rounds: planted-structure
  * recovery, the modularity contract (the fixpoint partition scores at
  * least the singleton partition, i.e. Q > 0 on a clustered graph),
  * the singleton-swap guard (a lone edge MERGES instead of
  * oscillating), determinism, and the rounds metric.
  */
class LouvainSpec extends SparkSpec {
  import spark.implicits._

  private def rounds: Int = spark.sparkContext
    .getLocalProperty("graft.louvain.rounds").toInt

  private def louvain(edges: Seq[(Long, Long)]) =
    GraphAnalytics.louvainOneLevel(edges.toDF("src", "dst"))
      .localCheckpoint()

  test("two triangles with a bridge recover as two communities") {
    // 1-2-3 triangle, 4-5-6 triangle, bridge 3-4 — the textbook case
    val comm = louvain(Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)))
    val parts = comm.groupBy("c")
      .agg(array_sort(collect_list("v")).as("ms"))
      .select("ms").as[Seq[Long]].collect().toSet
    assert(parts == Set(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      s"expected the two triangles, got $parts")
  }

  test("a lone edge merges under the singleton-swap guard") {
    // synchronous gains would swap u and v forever; the guard lets
    // only the larger-label vertex move, so the pair MERGES and the
    // fixpoint lands in round 2 (move, then no-move)
    val comm = louvain(Seq((7L, 9L)))
    val cs = comm.select("v", "c").as[(Long, Long)].collect().toMap
    assert(cs == Map(7L -> 7L, 9L -> 7L), s"expected merge into 7: $cs")
    assert(rounds <= 3, s"lone edge took $rounds rounds")
  }

  test("planted clique-chain fixpoint: clique-pure, positive Q") {
    // the x32 graph shape in miniature: 3 cliques of 5 chained by
    // their min vertices
    val cliques = Seq(10L to 14L, 20L to 24L, 30L to 34L)
    val cliqueEdges = cliques.flatMap(c =>
      for (a <- c; b <- c if a < b) yield (a, b))
    val bridges = Seq((10L, 20L), (20L, 30L))
    val edges = cliqueEdges ++ bridges
    val comm = louvain(edges)
    // every clique ends wholly inside one community
    val byV = comm.select("v", "c").as[(Long, Long)].collect().toMap
    for (c <- cliques)
      assert(c.map(byV).toSet.size == 1, s"clique $c split: ${c.map(byV)}")
    // modularity of the fixpoint is strictly positive (the singleton
    // start scores 0 by definition: e_c = 0 for every singleton)
    val m = edges.size.toDouble
    val labels = byV
    val eIn = edges.count { case (a, b) => labels(a) == labels(b) }
    val degs = edges.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (v, xs) => v -> xs.size }
    val dMass = labels.values.toSeq.distinct.map(c =>
      labels.collect { case (v, cc) if cc == c => degs(v) }.sum)
    val q = eIn / m - dMass.map(d => math.pow(d / (2 * m), 2)).sum
    assert(q > 0.5, s"fixpoint modularity $q not clustered")
  }

  test("partitioning-invariant: 1 vs 8 input partitions agree") {
    // the distributed-determinism contract: every per-round choice is
    // made under a TOTAL order (score desc, label asc), so physical
    // data placement must not leak into the fixpoint
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (4L, 6L), (6L, 7L), (7L, 8L), (8L, 9L), (9L, 7L))
    val one = GraphAnalytics.louvainOneLevel(
        e.toDF("src", "dst").repartition(1))
      .orderBy("v").collect().toSeq
    val eight = GraphAnalytics.louvainOneLevel(
        e.toDF("src", "dst").repartition(8))
      .orderBy("v").collect().toSeq
    assert(one == eight)
  }

  test("deterministic: two runs produce the identical assignment") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (4L, 6L), (6L, 7L), (7L, 8L))
    val a = louvain(e).orderBy("v").collect().toSeq
    val b = louvain(e).orderBy("v").collect().toSeq
    assert(a == b)
  }

  test("property: engine rounds == in-memory simulator on random graphs") {
    // an independent in-memory replay of the SAME rules (snapshot
    // gains, exact-integer score, min-label ties, strict improvement,
    // singleton-swap guard, 16-round budget) — any drift between the
    // distributed implementation and its contract fails here on a
    // graph the hand cases didn't think of
    def simulate(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val sym = edges.filter(e => e._1 != e._2)
        .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
      val nbrs = sym.groupBy(_._1).map { case (u, es) =>
        u -> es.map(_._2).toSet }
      val deg = nbrs.map { case (u, ns) => u -> ns.size.toLong }
      val twoM = deg.values.sum
      var c = deg.keys.map(v => v -> v).toMap
      var moved = true
      var r = 0
      while (moved && r < 16) {
        r += 1
        // toSeq first: grouping the KEY SET and mapping through deg
        // would collapse duplicate degree values before summing
        val tot = c.keys.toSeq.groupBy(c).map { case (cc, vs) =>
          cc -> vs.map(deg).sum }
        val size = c.keys.toSeq.groupBy(c)
          .map { case (cc, vs) => cc -> vs.size }
        val next = c.map { case (u, cu) =>
          val k = nbrs(u).toSeq.groupBy(c).map { case (cc, ys) =>
            cc -> ys.size.toLong }
          def score(cc: Long) = twoM * k.getOrElse(cc, 0L) -
            deg(u) * (tot(cc) - (if (cc == cu) deg(u) else 0L))
          val stay = score(cu)
          val cands = k.keys.filter(_ != cu).toSeq
            .sortBy(cc => (-score(cc), cc))
          u -> (cands.headOption match {
            case Some(best) if score(best) > stay &&
              !(size(cu) == 1 && size(best) == 1 && best > cu) => best
            case _ => cu
          })
        }
        moved = next != c
        c = next
      }
      c
    }
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 12) {
      val n = 5 + rnd.nextInt(12)
      val edges = (for {
        a <- 0L until n.toLong; b <- (a + 1) until n.toLong
        if rnd.nextDouble() < 0.35
      } yield (a, b)).toSeq
      if (edges.nonEmpty) {
        val got = louvain(edges).select("v", "c")
          .as[(Long, Long)].collect().toMap
        val want = simulate(edges)
        assert(got == want, s"trial $trial diverged (n=$n):" +
          s" engine=$got sim=$want edges=$edges")
      }
    }
  }

  test("rounds metric: clique chain converges in a handful of rounds") {
    val cliqueEdges = (for (g <- 0L to 9L) yield {
      val c = (g * 10) to (g * 10 + 9)
      for (a <- c; b <- c if a < b) yield (a, b)
    }).flatten
    val bridges = (0L until 9L).map(g => (g * 10, (g + 1) * 10))
    louvain(cliqueEdges ++ bridges)
    assert(rounds <= 6, s"clique chain took $rounds rounds")
  }

  // ---- the full multi-level loop (louvainHierarchy) -------------------

  private def prop(name: String): String = Option(spark.sparkContext
    .getLocalProperty(s"graft.louvain.$name")).getOrElse("?")

  /** x34's K4-chain shape, scaled by `groups`. */
  private def k4Chain(groups: Int): Seq[(Long, Long)] = {
    val n = groups * 4L
    val intra = (0L until n).flatMap(a =>
      ((a + 1) until n).filter(b => b / 4 == a / 4).map(a -> _))
    val chain = (0L until n by 4).filter(_ + 4 < n).map(i => (i, i + 4))
    intra ++ chain
  }

  test("hierarchy: K4 chain folds in >=3 levels, gains positive, converged") {
    val m = GraphAnalytics.louvainHierarchy(
      k4Chain(48).toDF("src", "dst"), maxLevels = 8).localCheckpoint()
    assert(prop("converged") == "true", "budget stopped the loop")
    val levels = prop("levels").toInt
    assert(levels >= 3, s"hierarchy folded in only $levels levels")
    val gains = prop("gains").split(",").map(BigInt(_))
    // every ACCEPTED level strictly improved exact-integer modularity;
    // a trailing rejected attempt (if any) is the one below threshold
    assert(gains.take(levels).forall(_ > 0), s"gains: ${gains.toSeq}")
    // communities are unions of whole K4s (the hierarchy never splits
    // a level-1 community), and every vertex is assigned exactly once
    val asg = m.select(col("v0"), col("comm")).as[(Long, Long)]
      .collect().toMap
    assert(asg.size == 192)
    (0L until 192L).grouped(4).foreach { k4 =>
      assert(k4.map(asg).toSet.size == 1, s"K4 $k4 split across comms")
    }
  }

  test("hierarchy convergence: extra level budget changes nothing") {
    // the convergence signal is REAL: with twice the budget the loop
    // stops at the same level count with the same assignment
    val e = k4Chain(24).toDF("src", "dst").localCheckpoint()
    val a1 = GraphAnalytics.louvainHierarchy(e, maxLevels = 4)
      .as[(Long, Long)].collect().toMap
    val l1 = prop("levels")
    val a2 = GraphAnalytics.louvainHierarchy(e, maxLevels = 12)
      .as[(Long, Long)].collect().toMap
    assert(prop("levels") == l1,
      s"levels moved with budget: ${prop("levels")} vs $l1")
    assert(a1 == a2, "assignment changed with a larger level budget")
  }

  test("hierarchy: disconnected cliques stop at level 1 as themselves") {
    // two disjoint K5s: level 1 recovers them; level 2's supergraph
    // has NO cross edges — every supernode is self-loop-only (the
    // full-outer universe fix keeps them), no moves, identity stop
    val k5 = (0L to 4L).flatMap(a => ((a + 1) to 4L).map(a -> _))
    val edges = k5 ++ k5.map { case (a, b) => (a + 100, b + 100) }
    val m = GraphAnalytics.louvainHierarchy(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(prop("levels") == "1" && prop("converged") == "true")
    assert(m.values.toSet == Set(0L, 100L))
  }

  test("hierarchy: empty edge input returns empty, no NPE") {
    val m = GraphAnalytics.louvainHierarchy(
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(m.count() == 0L)
  }

  test("arms equality: local and distributed produce identical results") {
    // the r9 dispatch (driver arrays under the Arms limit, DataFrame
    // loop above) must be invisible: one level, weighted level, and the full
    // hierarchy each agree bit-for-bit between arms, including the
    // rounds/levels/gains observability properties
    val edges = k4Chain(12) ++ Seq((3L, 17L), (9L, 30L))
    def one(forceDist: Boolean): (Map[Long, (Long, Long)], String) = {
      val key = Arms.LimitConf
      if (forceDist) spark.conf.set(key, "0") else spark.conf.unset(key)
      try {
        val r = GraphAnalytics.louvainOneLevel(edges.toDF("src", "dst"))
          .select("v", "c", "deg").as[(Long, Long, Long)]
          .collect().map(t => t._1 -> (t._2, t._3)).toMap
        assert(prop("impl") == (if (forceDist) "distributed" else "local"))
        (r, prop("rounds"))
      } finally spark.conf.unset(key)
    }
    val (lr, lrounds) = one(forceDist = false)
    val (dr, drounds) = one(forceDist = true)
    assert(lr == dr, "one-level assignment diverged between arms")
    assert(lrounds == drounds, s"rounds diverged: $lrounds vs $drounds")
    def hier(forceDist: Boolean): (Map[Long, Long], String, String, String) = {
      val key = Arms.LimitConf
      if (forceDist) spark.conf.set(key, "0") else spark.conf.unset(key)
      try {
        val m = GraphAnalytics.louvainHierarchy(
            edges.toDF("src", "dst"), maxLevels = 8)
          .as[(Long, Long)].collect().toMap
        (m, prop("levels"), prop("levelRounds"), prop("gains"))
      } finally spark.conf.unset(key)
    }
    val (lh, ll, lv, lg) = hier(forceDist = false)
    val (dh, dl, dv, dg) = hier(forceDist = true)
    assert(lh == dh, "hierarchy mapping diverged between arms")
    assert((ll, lv, lg) == ((dl, dv, dg)),
      s"hierarchy metrics diverged: ($ll,$lv,$lg) vs ($dl,$dv,$dg)")
  }
}
