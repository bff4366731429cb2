package graft.graphx

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Fixed-point invariants for the GraphX wrappers (nondeterministic
  * float paths get invariant tests, like the reference's dedup tests —
  * SURVEY.md §2.3 "non-oracle-checked").
  */
class GraphXSpec extends SparkSpec {
  import spark.implicits._

  private def edgeDf(es: (String, String)*) =
    es.toDF("src_id", "dst_id").withColumn("label", lit("e"))
      .select("src_id", "label", "dst_id")

  test("pageRank: star graph reaches the exact integer fixpoint") {
    val edges = edgeDf("a" -> "hub", "b" -> "hub", "c" -> "hub", "d" -> "hub")
    val ranks = GraphAnalytics.pageRank(edges, iters = 20)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // hand-computable: leaves have no in-edges → 0.15 (150000 micro)
    // from iteration 1 on; hub = 0.15 + 0.85·4·0.15 = 0.66 from
    // iteration 2 on (dangling hub mass evaporates — GraphX convention)
    assert(ranks == Map("a" -> 150000L, "b" -> 150000L, "c" -> 150000L,
      "d" -> 150000L, "hub" -> 660000L), ranks.toString)
  }

  test("pageRank arms: driver loop == distributed loop, dispatch observable") {
    val edges = graft.graph.GraphView.edges(spark, sfDir)
      .select("src_id", "label", "dst_id")
    val viaLocal = GraphAnalytics.pageRank(edges, iters = 20)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(spark.sparkContext.getLocalProperty("graft.pr.impl") == "local")
    try {
      spark.conf.set(Arms.LimitConf, "0")
      val viaDist = GraphAnalytics.pageRank(edges, iters = 20)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(spark.sparkContext.getLocalProperty("graft.pr.impl")
        == "distributed")
      assert(viaLocal == viaDist, {
        val d = viaDist.collect {
          case (k, v) if viaLocal.get(k) != Some(v) => (k, viaLocal.get(k), v)
        }
        s"arms diverged on ${d.size} vertices: ${d.take(5)}"
      })
    } finally spark.conf.unset(Arms.LimitConf)
  }

  test("connectedComponents: two disjoint chains get two components") {
    val edges = edgeDf("a" -> "b", "b" -> "c", "x" -> "y")
    val cc = GraphAnalytics.connectedComponents(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc("a") == "a" && cc("b") == "a" && cc("c") == "a")
    assert(cc("x") == "x" && cc("y") == "x")
  }

  test("labelPropagation: majority vote survives a bridge that CC merges") {
    // two 4-cliques joined by one bridge edge: LPA must report two
    // communities (each clique converges to its min label; the bridge
    // endpoint sees 3 clique votes vs 1 bridge vote) while CC on the
    // same pairs merges everything — the semantic difference x06 exists
    // to demonstrate. Also pins determinism: two runs, identical labels.
    import spark.implicits._
    val cliques = for {
      base <- Seq(0L, 100L)
      a <- 0L until 4L; b <- 0L until 4L if a < b
    } yield (base + a, base + b)
    val pairs = (cliques :+ (0L -> 100L)).toDF("p1", "p2")
    def run() = GraphAnalytics.labelPropagation(pairs, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lpa = run()
    assert((0L until 4L).forall(v => lpa(v) == 0L), s"clique A: $lpa")
    assert((0L until 4L).forall(v => lpa(100L + v) == 100L), s"clique B: $lpa")
    assert(run() == lpa, "LPA fixpoint is not deterministic")
    val cc = GraphAnalytics.connectedComponents(
      pairs.select(concat(lit("v/"), col("p1")).as("src_id"), lit("e").as("label"),
        concat(lit("v/"), col("p2")).as("dst_id")))
    assert(cc.select("component").distinct().count() == 1,
      "bridge should merge CC into one component")
  }

  test("connectedComponents on the derived graph = one component per region") {
    val cc = GraphAnalytics.connectedComponents(
      graft.graph.GraphView.edges(spark, sfDir))
    assert(cc.select("component").distinct().count() == 5)
  }

  test("shortestPaths: directed hop counts, unreachable pairs absent") {
    // a -> b -> c, d -> c; landmark c: dists a=2 b=1 c=0 d=1;
    // landmark a: only a itself (direction matters)
    val edges = edgeDf("a" -> "b", "b" -> "c", "d" -> "c")
    val got = GraphAnalytics.shortestPaths(edges, Seq("c", "a"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set(("a", "c", 2), ("b", "c", 1), ("c", "c", 0),
      ("d", "c", 1), ("a", "a", 0)))
  }

  test("connectedComponents distributed fallback (threshold=0) matches local") {
    // chain + triangle + isolated self-loop exercise propagate, pointer
    // jumps, and the observe-fused convergence count
    val edges = edgeDf("a" -> "b", "b" -> "c", "c" -> "d",
      "p" -> "q", "q" -> "r", "r" -> "p", "z" -> "z")
    val expect = GraphAnalytics.connectedComponents(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    spark.conf.set(Arms.LimitConf, "0")
    try {
      val got = GraphAnalytics.connectedComponents(edges)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == expect)
      assert(got("d") == "a" && got("r") == "p" && got("z") == "z")
    } finally spark.conf.unset(Arms.LimitConf)
  }

  test("scc: known graph, both arms agree, min-member labels") {
    import spark.implicits._
    // two 3-cycles bridged one-way (distinct SCCs), a DAG tail off the
    // first (trim fodder), and a 2-cycle touched only by an incoming
    // edge — labels must be each SCC's min member
    val edges = Seq(
      1L -> 2L, 2L -> 3L, 3L -> 1L,       // SCC {1,2,3}
      3L -> 10L,                          // one-way bridge
      10L -> 11L, 11L -> 12L, 12L -> 10L, // SCC {10,11,12}
      2L -> 20L, 20L -> 21L,              // DAG tail: 20, 21 singletons
      21L -> 30L, 30L -> 31L, 31L -> 30L  // SCC {30,31}
    ).toDF("src", "dst")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 21L, 30L -> 30L, 31L -> 30L)
    val local = GraphAnalytics.stronglyConnectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spark.sparkContext.getLocalProperty("graft.scc.impl") == "local")
    assert(local == expect, local.toString)
    spark.conf.set(Arms.LimitConf, "0")
    try {
      val dist = GraphAnalytics.stronglyConnectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(spark.sparkContext
        .getLocalProperty("graft.scc.impl") == "distributed")
      assert(dist == expect, dist.toString)
    } finally spark.conf.unset(Arms.LimitConf)
  }

  test("scc arms agree on the x25 item-transition graph (sf0.001)") {
    // the real registry graph, distributed arm forced — peel rounds
    // recorded for the scale-rehearsal narrative
    val li = graft.Tables(spark, sfDir, "lineitem")
      .where(col("l_partkey") <= 2000)
      .select(col("l_orderkey").as("o"), col("l_linenumber").as("ln"),
        col("l_partkey").as("p"))
    val e = li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("b.ln") === col("a.ln") + 1)
      .where(col("a.p") =!= col("b.p") &&
        (col("a.p") * 31 + col("b.p")) % 7 === 0)
      .select(col("a.p").as("src"), col("b.p").as("dst")).distinct()
    val local = GraphAnalytics.stronglyConnectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set(Arms.LimitConf, "0")
    try {
      val dist = GraphAnalytics.stronglyConnectedComponents(e)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == local)
      val rounds = spark.sparkContext
        .getLocalProperty("graft.scc.rounds").toInt
      assert(rounds >= 1 && rounds <= 20,
        s"peel rounds $rounds outside sane band")
    } finally spark.conf.unset(Arms.LimitConf)
  }

  test("bfsDistances: path + branch + unreachable island") {
    import spark.implicits._
    // 1-2-3-4 path, branch 2-10, island 50-51: dists from 1 are exact
    // hop counts and the island never appears
    val und = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L),
      (4L, 3L), (2L, 10L), (10L, 2L), (50L, 51L), (51L, 50L))
      .toDF("u", "v")
    val got = GraphAnalytics.bfsDistances(und, 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 10L -> 2L, 4L -> 3L),
      got.toString)
  }

  test("dagLayers: diamond + chain = longest path, not BFS depth") {
    import spark.implicits._
    // diamond 1→2→4, 1→3→4 plus 4→5; and a long path 1→10→11→4:
    // layer(4) must be 3 (the LONGEST path), layer(5) = 4
    val dag = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
      (1L, 10L), (10L, 11L), (11L, 4L)).toDF("src", "dst")
    val got = GraphAnalytics.dagLayers(dag)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 10L -> 1L,
      11L -> 2L, 4L -> 3L, 5L -> 4L), got.toString)
  }

  test("triangleCounts: K4 plus a pendant edge") {
    import spark.implicits._
    // K4 on 1-4 (4 triangles, each vertex in 3) + pendant 4-5 (none)
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("p1", "p2")
    val got = GraphAnalytics.triangleCounts(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got.toString)
  }

  test("triangleCounts: negative ids (raw-hash keys) stay correct") {
    import spark.implicits._
    // ADVICE r3: negative longs are legal ids (e.g. raw xxhash64) but
    // would corrupt the packed single-long probe key — the guard must
    // route them to the two-key join. Same K4+pendant, ids negated.
    val pairs = Seq((-2L, -1L), (-3L, -1L), (-4L, -1L), (-3L, -2L),
      (-4L, -2L), (-4L, -3L), (-5L, -4L)).toDF("p1", "p2")
    val got = GraphAnalytics.triangleCounts(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(-1L -> 3L, -2L -> 3L, -3L -> 3L, -4L -> 3L),
      got.toString)
  }

  test("DataFrame BFS shortest paths == GraphX Pregel on the derived graph") {
    val edges = graft.sources.GraphStore.edges(spark, sfDir)
      .select("src_id", "label", "dst_id")
    val lms = Seq("nation/1", "customer/7")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val viaDF = rows(GraphAnalytics.shortestPathsDF(edges, lms))
    val viaGraphX = rows(GraphAnalytics.shortestPaths(edges, lms))
    assert(viaDF == viaGraphX,
      s"only-DF=${(viaDF -- viaGraphX).take(5)} only-GX=${(viaGraphX -- viaDF).take(5)}")
  }

  test("shortest-paths dispatch: DF above threshold, Pregel below, equal") {
    val edges = graft.sources.GraphStore.edges(spark, sfDir)
      .select("src_id", "label", "dst_id")
    val lms = Seq("nation/1", "customer/7")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    try {
      spark.conf.set(Arms.LimitConf, "0")
      val viaDf = rows(GraphAnalytics.shortestPathsAuto(edges, lms))
      assert(spark.sparkContext.getLocalProperty("graft.sp.impl") == "df",
        "every graph is above threshold 0 — the DF loop must be chosen")
      spark.conf.set(Arms.LimitConf,
        Long.MaxValue.toString)
      val viaPregel = rows(GraphAnalytics.shortestPathsAuto(edges, lms))
      assert(spark.sparkContext.getLocalProperty("graft.sp.impl") == "pregel")
      assert(viaDf == viaPregel, "dispatch arms diverged")
    } finally spark.conf.unset(Arms.LimitConf)
  }

  test("cycleLabel: tails land on their cycle, min label per cycle") {
    // functional graph: tail 10→11→12 into cycle (0 1 2 3), plus a
    // self-loop 20 and a 2-cycle (30 31) with tail 32
    val succ = Seq(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 0L,
      10L -> 11L, 11L -> 12L, 12L -> 0L,
      20L -> 20L, 30L -> 31L, 31L -> 30L, 32L -> 30L)
      .toDF("v", "p")
    val lab = GraphAnalytics.cycleLabel(succ, jumpPow = 2, windowPow = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(lab == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 0L, 11L -> 0L, 12L -> 0L,
      20L -> 20L, 30L -> 30L, 31L -> 30L, 32L -> 30L), lab.toString)
  }

  test("kCore: peels the tail, keeps the clique; cascade peel works") {
    // K4 on 1-4 + path 4-5-6: the 3-core is exactly the K4, and vertex
    // 5 only drops below degree 2 AFTER 6 is peeled — exercising the
    // multi-round cascade, not just one sweep
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("p1", "p2")
    val core3 = GraphAnalytics.kCore(pairs, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), core3.toString)
    // k=2: 5 has degree 2 initially but 6 (degree 1) peels first,
    // dropping 5 to 1 → both go; the 2-core is again the K4
    val core2 = GraphAnalytics.kCore(pairs, 2)
      .collect().map(r => r.getLong(0)).toSet
    assert(core2 == Set(1L, 2L, 3L, 4L), core2.toString)
    // empty graph and over-peeled graph return empty, not error
    assert(GraphAnalytics.kCore(pairs, 10).count() == 0)
  }

  test("kCore invariants on the co-purchase graph") {
    val out = graft.SparkEntry.queries("x05_kcore")(spark, sfDir).head()
    val (nv, minDeg) = (out.getLong(0), out.getLong(2))
    // every core member keeps >= k neighbors inside the core
    assert(nv == 0 || minDeg >= 3,
      s"core vertex below k: n=$nv minDeg=$minDeg")
  }

  test("hits: star graph reaches the exact two-sided fixpoint") {
    val edges = edgeDf("a" -> "hub", "b" -> "hub", "c" -> "hub", "d" -> "hub")
    val hs = GraphAnalytics.hits(edges, iters = 10)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // iteration 1 on: hub is the sole authority (4 in-edges, rescaled to
    // 1e6), leaves are equal pure hubs; hub has no out-edge so its hub
    // score is 0, leaves have no in-edge so their authority is 0
    assert(hs("hub") == ((0L, 1000000L)), hs.toString)
    for (v <- Seq("a", "b", "c", "d"))
      assert(hs(v) == ((1000000L, 0L)), s"$v: ${hs(v)}")
  }

  test("hits arms: driver loop == distributed loop, dispatch observable") {
    val edges = graft.graph.GraphView.edges(spark, sfDir)
      .select("src_id", "label", "dst_id")
    val viaLocal = GraphAnalytics.hits(edges, iters = 10)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(spark.sparkContext.getLocalProperty("graft.hits.impl") == "local")
    try {
      spark.conf.set(Arms.LimitConf, "0")
      val viaDist = GraphAnalytics.hits(edges, iters = 10)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(spark.sparkContext.getLocalProperty("graft.hits.impl")
        == "distributed")
      assert(viaLocal == viaDist, {
        val d = viaDist.collect {
          case (k, v) if viaLocal.get(k) != Some(v) => (k, viaLocal.get(k), v)
        }
        s"arms diverged on ${d.size} vertices: ${d.take(5)}"
      })
    } finally spark.conf.unset(Arms.LimitConf)
  }

  /** Exact co-purchase adjacency for the x07/x09 structural checks,
    * built independently of the engine's explode path (plain self-join
    * — fine at sf0.001). */
  private def coPurchaseAdj(): Map[Long, Set[Long]] = {
    val li = graft.Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey").cast("long").as("p"))
    val pairs = li.as("a").join(li.as("b"), Seq("l_orderkey"))
      .where(col("a.p") < col("b.p"))
      .select(col("a.p").as("p1"), col("b.p").as("p2")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    pairs.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a
    }
    adj.toMap.withDefaultValue(Set.empty)
  }

  test("x07 link prediction: non-adjacent candidates, true CN counts") {
    val adj = coPurchaseAdj()
    val rows = graft.SparkEntry.queries("x07_link_prediction")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, rk, c, cn) =
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))
      assert(q % 97 == 0 && rk >= 1 && rk <= 3)
      assert(!adj(q).contains(c), s"($q,$c) is an existing edge")
      assert(cn == (adj(q) & adj(c)).size,
        s"($q,$c) cn=$cn != |N∩N|=${(adj(q) & adj(c)).size}")
    }
  }

  test("personalized pagerank: chain fixpoint, untouched component absent") {
    val edges = edgeDf("a" -> "b", "b" -> "c", "x" -> "y")
    val pr = GraphAnalytics.personalizedPageRank(edges, Seq("a"), iters = 20)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // hand fixpoint: a has no in-edges → pure restart 150000 from
    // iteration 1; b = 85%·a = 127500 from iteration 2; c = 85%·b =
    // 108375 from iteration 3. The x→y component never holds seed mass
    // and must be ABSENT (positive-frontier contract), not zero.
    assert(pr == Map("a" -> 150000L, "b" -> 127500L, "c" -> 108375L),
      pr.toString)
  }

  test("ppr arms: driver loop == distributed loop, dispatch observable") {
    val edges = graft.graph.GraphView.edges(spark, sfDir)
      .select("src_id", "label", "dst_id")
    val seeds = Seq("customer/1", "customer/7")
    val viaLocal = GraphAnalytics.personalizedPageRank(edges, seeds, 20)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(spark.sparkContext.getLocalProperty("graft.ppr.impl") == "local")
    try {
      spark.conf.set(Arms.LimitConf, "0")
      val viaDist = GraphAnalytics.personalizedPageRank(edges, seeds, 20)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(spark.sparkContext.getLocalProperty("graft.ppr.impl")
        == "distributed")
      assert(viaLocal == viaDist, {
        val d = viaDist.collect {
          case (k, v) if viaLocal.get(k) != Some(v) => (k, viaLocal.get(k), v)
        }
        s"arms diverged on ${d.size} vertices: ${d.take(5)}"
      })
    } finally spark.conf.unset(Arms.LimitConf)
  }

  test("x11 harmonic centrality matches an independent driver BFS") {
    val edges = graft.sources.GraphStore.edges(spark, sfDir)
      .select("src_id", "dst_id").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val radj = edges.groupBy(_._2).map { case (k, vs) =>
      k -> vs.map(_._1).toSet }
    def distsTo(l: String): Map[String, Int] = {
      val dist = scala.collection.mutable.Map(l -> 0)
      var frontier = Set(l)
      var d = 0
      while (frontier.nonEmpty) {
        d += 1
        val next = frontier.flatMap(v => radj.getOrElse(v, Set.empty))
          .filterNot(dist.contains)
        next.foreach(v => dist(v) = d)
        frontier = next
      }
      dist.toMap
    }
    val exp = Seq("region/1", "nation/1", "customer/7")
      .flatMap(l => distsTo(l).toSeq.collect {
        case (v, dd) if dd > 0 => (v, 1000000L / dd) })
      .groupBy(_._1).map { case (v, xs) =>
        v -> ((xs.size.toLong, xs.map(_._2).sum)) }
    val got = graft.SparkEntry.queries("x11_harmonic_centrality")(spark, sfDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == exp, {
      val d = (got.keySet ++ exp.keySet).filter(k => got.get(k) != exp.get(k))
      s"${d.size} vertices diverge, e.g. ${d.take(3).map(k =>
        (k, got.get(k), exp.get(k)))}"
    })
  }

  test("x09 neighborhood agg: means bounded by feature extremes") {
    val adj = coPurchaseAdj()
    val out = graft.SparkEntry.queries("x09_neighbor_agg")(spark, sfDir)
      .collect()
    assert(out.length == adj.size, s"${out.length} rows vs ${adj.size} verts")
    val f0s = out.map(_.getLong(1))
    val (lo, hi) = (f0s.min, f0s.max)
    out.foreach { r =>
      val (h1, h2) = (r.getLong(2), r.getLong(3))
      // a truncating mean of values in [lo, hi] stays in [lo, hi]
      assert(h1 >= lo && h1 <= hi, s"h1 $h1 outside [$lo,$hi]")
      assert(h2 >= lo && h2 <= hi, s"h2 $h2 outside [$lo,$hi]")
    }
  }

  test("localClusteringCoeff: K4 plus a pendant edge, exact micro-units") {
    import spark.implicits._
    // K4 vertices sit in fully-connected neighborhoods (cc = 1); vertex
    // 4 gains pendant 5 (4 neighbors, 3 of 6 pairs closed → 0.5); the
    // pendant itself (deg 1) has no defined coefficient and is absent
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("p1", "p2")
    val got = GraphAnalytics.localClusteringCoeff(pairs, centerMod = 1)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map(
      1L -> ((3L, 3L, 1000000L)), 2L -> ((3L, 3L, 1000000L)),
      3L -> ((3L, 3L, 1000000L)), 4L -> ((4L, 3L, 500000L))), got.toString)
    // a center with zero closed wedges reports cc 0, not a missing row
    val open = Seq((10L, 11L), (10L, 12L)).toDF("p1", "p2")
    val g2 = GraphAnalytics.localClusteringCoeff(open, centerMod = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(g2 == Map(10L -> 0L), g2.toString)
  }

  test("clustering coefficients: exhaustive triangle path == wedge path") {
    import spark.implicits._
    // the at-scale arm (degree-ordered triangles, O(m^1.5)) must agree
    // with the sampled-wedge arm at centerMod=1 on a graph mixing a
    // dense clique, a sparse ring, and pseudo-random chords
    val raw = ((0L until 60L).flatMap(i =>
        Seq((i, (i + 1) % 60), (i, (i * 7 + 3) % 60))) ++
        (for (a <- 0L until 5L; b <- (a + 1) until 5L) yield (a, b)))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    val pairs = raw.toDF("p1", "p2")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val all = asSet(GraphAnalytics.localClusteringCoeffAll(pairs))
    val wedge = asSet(GraphAnalytics.localClusteringCoeff(pairs, 1))
    assert(all == wedge,
      s"only-exhaustive=${(all -- wedge).take(3)} " +
        s"only-wedge=${(wedge -- all).take(3)}")
    // the clique really produced closed wedges (the test isn't vacuous):
    // each K5 vertex closes at least its C(4,2) = 6 within-clique pairs
    assert(all.exists(_._3 >= 6), all.take(5).toString)
  }

  test("randomWalks: valid edges, full length, deterministic replay") {
    import spark.implicits._
    // independent edge recompute (self-join, not the in-row fan-out)
    val li = graft.Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
    val edgeSet = li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p"), col("b.p")).distinct().collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)),
        (r.getLong(1), r.getLong(0)))).toSet
    def run() = graft.SparkEntry.queries("x14_random_walks")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val out = run()
    val byWalk = out.groupBy(_._1)
    assert(byWalk.nonEmpty)
    byWalk.foreach { case (w, rows) =>
      val seq = rows.sortBy(_._2).map(_._3)
      // no dead ends on a pair-list graph: every walk runs 0..8
      assert(rows.map(_._2).sorted.toSeq == (0 to 8), s"walk $w truncated")
      assert(seq.head == w, s"walk $w doesn't start at its seed")
      seq.sliding(2).foreach { case Array(a, b) =>
        assert(edgeSet.contains((a, b)), s"walk $w used non-edge $a->$b")
      }
    }
    // the hash choice is a function of (walk, step, node) only —
    // re-running the operator replays the identical corpus
    assert(run().toSeq == out.toSeq)
  }

  test("weightedShortestPaths: cheap detour beats heavy edge; horizon bounds") {
    // 1 -10- 3 -1- 4, plus the detour 1 -1- 2 -2- 3: min cost to 3 is 3
    // via the 2-hop detour, NOT the direct heavy edge — the property
    // hop-count BFS (x03) cannot express
    val pairs = Seq((1L, 3L, 10L), (1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 1L))
      .toDF("p1", "p2", "w")
    def dists(rounds: Int): Map[Long, Long] =
      GraphAnalytics.weightedShortestPaths(pairs, source = 1L, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // rounds=1: only direct edges relaxed — 3 still sees the heavy 10
    assert(dists(1) == Map(1L -> 0L, 2L -> 1L, 3L -> 10L))
    // rounds=2: detour lands (1+2=3); 4 reached through the round-1
    // frontier's heavy value (10+1=11)
    assert(dists(2) == Map(1L -> 0L, 2L -> 1L, 3L -> 3L, 4L -> 11L))
    // rounds=3: 4 inherits the improved 3 (3+1=4); undirected back-relax
    // never worsens anything (keep-or-improve min)
    assert(dists(3) == Map(1L -> 0L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
  }

  test("boundedBetweenness: diamond + tail, exact hand-computed micro-δ") {
    // 1-2-4, 1-3-4 (diamond), 4-5 (tail); source 1, depth 3:
    // σ(2)=σ(3)=1, σ(4)=2, σ(5)=2. Backward: δ(4)=⌊2·10⁶/2⌋=10⁶ (all
    // paths to 5 cross 4); δ(2)=⌊1·(10⁶+10⁶)/2⌋=10⁶ (half the paths to
    // 4 AND half to 5: 0.5+0.5=1); δ(3) symmetric. 5 sits at the
    // horizon (δ=0) and the source never enters the sweep.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("p1", "p2")
    val bc = GraphAnalytics.boundedBetweenness(pairs, Seq(1L), depth = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bc == Map(2L -> 1000000L, 3L -> 1000000L, 4L -> 1000000L),
      bc.toString)
    // two sources: dependencies sum across runs (the sampling estimator)
    val bc2 = GraphAnalytics.boundedBetweenness(pairs, Seq(1L, 5L), depth = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // from 5: σ(4)=1, σ(2)=σ(3)=1 at dist 2, horizon {1} σ=2;
    // δ(2)=δ(3)=⌊1·10⁶/2⌋=5·10⁵, δ(4)=⌊1·(10⁶+5·10⁵)/1⌋·2 terms=3·10⁶
    assert(bc2 == Map(2L -> 1500000L, 3L -> 1500000L, 4L -> 4000000L),
      bc2.toString)
  }

  test("sssp/bc arms: driver loop == distributed loop, dispatch observable") {
    // K4 plus a tail gives multi-path σ, a detour-sensitive min-plus
    // surface, and enough structure that an arm divergence shows
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
        (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("p1", "p2")
    val wpairs = pairs
      .withColumn("w", lit(1L) + pmod(col("p1") + col("p2"), lit(7L)))
      .localCheckpoint()
    def mapOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ssspLocal = mapOf(
      GraphAnalytics.weightedShortestPaths(wpairs, 1L, rounds = 4))
    assert(spark.sparkContext.getLocalProperty("graft.sssp.impl") == "local")
    val bcLocal = mapOf(
      GraphAnalytics.boundedBetweenness(pairs, Seq(1L, 6L), depth = 3))
    assert(spark.sparkContext.getLocalProperty("graft.bc.impl") == "local")
    try {
      spark.conf.set(Arms.LimitConf, "0")
      val ssspDist = mapOf(
        GraphAnalytics.weightedShortestPaths(wpairs, 1L, rounds = 4))
      assert(spark.sparkContext.getLocalProperty("graft.sssp.impl")
        == "distributed")
      val bcDist = mapOf(
        GraphAnalytics.boundedBetweenness(pairs, Seq(1L, 6L), depth = 3))
      assert(spark.sparkContext.getLocalProperty("graft.bc.impl")
        == "distributed")
      assert(ssspDist == ssspLocal, s"$ssspDist vs $ssspLocal")
      assert(bcDist == bcLocal, s"$bcDist vs $bcLocal")
    } finally spark.conf.unset(Arms.LimitConf)
  }

  test("trussPeel: K4's 4-truss survives, a pendant triangle peels") {
    import spark.implicits._
    // K4 on 1-4 (every edge in 2 triangles) + triangle 4-5-6 hanging
    // off it (each of its edges in exactly 1) + pendant 6-7 (0).
    // k=4 (support >= 2): round 1 drops the 4-5-6 triangle's edges and
    // the pendant; K4's edges keep support 2 against each other and
    // survive every later round. Final support must be RECOMPUTED on
    // the survivor set (still 2 — K4 is edge-self-sufficient).
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)).toDF("p1", "p2")
    spark.sparkContext.setLocalProperty("graft.triangle.passes", "0")
    val got = GraphAnalytics.trussPeel(pairs, k = 4, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // the structure pin: however many peel rounds run, wedges are
    // enumerated exactly once — support is maintained incrementally
    // (a wall-time guard can't see this on a small graph; 5x at sf0.1)
    assert(spark.sparkContext
      .getLocalProperty("graft.triangle.passes") == "1")
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))
    assert(got.keySet == k4.toSet, got.toString)
    assert(got.values.forall(_ == 2L), got.toString)
  }

  test("trussPeel: 0-support survivors of the cutoff round are kept") {
    import spark.implicits._
    // one triangle, k=3 (support >= 1): nothing ever peels, and with
    // rounds=1 the final support recompute still sees the triangle
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("p1", "p2")
    val got = GraphAnalytics.trussPeel(pairs, k = 3, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got == Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 1L),
      got.toString)
  }

  test("reliable checkpoint: iterative loops run (and match) with " +
      "spark.graft.checkpointDir set") {
    import spark.implicits._
    // same K4 + pendant-triangle fixture as the trussPeel test, plus a
    // pageRank star: exercises Ckpt.cut's checkpoint() arm end to end
    // (RDD materialized to the reliable dir, lineage truncated) and
    // pins result equality with the default localCheckpoint() arm —
    // the contract that lets a 100 TB run flip the config for
    // executor-loss fault tolerance without touching any query.
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)).toDF("p1", "p2")
    val star = Seq(("a", "hub"), ("b", "hub"), ("c", "hub"))
      .toDF("src_id", "dst_id").withColumn("label", lit("e"))
      .select("src_id", "label", "dst_id")
    val localTruss = GraphAnalytics.trussPeel(pairs, k = 4, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val localPr = GraphAnalytics.pageRank(star, iters = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    // force the distributed pageRank arm so its per-iteration cuts hit
    // the reliable path too (the driver arm checkpoints nothing)
    spark.conf.set(Arms.LimitConf, "0")
    try {
      val relTruss = GraphAnalytics.trussPeel(pairs, k = 4, rounds = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val relPr = GraphAnalytics.pageRank(star, iters = 5)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(relTruss == localTruss, relTruss.toString)
      assert(relPr == localPr, relPr.toString)
      // the reliable dir actually received checkpoint data
      def countFiles(p: java.nio.file.Path): Long = {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally s.close()
      }
      assert(countFiles(java.nio.file.Paths.get(dir)) > 0,
        s"no checkpoint files written under $dir")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      spark.conf.unset(Arms.LimitConf)
    }
  }

  test("hyperBall: exact balls on a directed chain, estimates monotone") {
    import spark.implicits._
    // chain 1→2→3→4: ball_t(v) grows down the chain and saturates at
    // the tail. exact_ball is fully hand-checkable; est_ball is the
    // q48 integer estimator — deterministic, positive, and monotone
    // non-decreasing in t per vertex (register maxima only grow).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val rows = GraphAnalytics.hyperBall(edges, iters = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val exact = Map(
      (1, 1L) -> 2L, (1, 2L) -> 2L, (1, 3L) -> 2L, (1, 4L) -> 1L,
      (2, 1L) -> 3L, (2, 2L) -> 3L, (2, 3L) -> 2L, (2, 4L) -> 1L,
      (3, 1L) -> 4L, (3, 2L) -> 3L, (3, 3L) -> 2L, (3, 4L) -> 1L)
    exact.foreach { case (k, ex) =>
      assert(rows(k)._2 == ex, s"exact ball $k: ${rows(k)._2} != $ex")
    }
    for (v <- 1L to 4L; t <- 2 to 3)
      assert(rows((t, v))._1 >= rows((t - 1, v))._1,
        s"est ball shrank at t=$t v=$v")
    assert(rows.values.forall(_._1 > 0L))
  }
  test("arms equality: bfsDistances and cycleLabel local == distributed") {
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L),
      (4L, 3L), (2L, 10L), (10L, 2L)).toDF("u", "v")
    val bKey = Arms.LimitConf
    val bLoc = GraphAnalytics.bfsDistances(und, 1L)
      .as[(Long, Long)].collect().sorted.toSeq
    spark.conf.set(bKey, "0")
    try {
      val bDist = GraphAnalytics.bfsDistances(und, 1L)
        .as[(Long, Long)].collect().sorted.toSeq
      assert(bLoc == bDist, s"bfs arms diverged: $bLoc vs $bDist")
    } finally spark.conf.unset(bKey)
    val succ = Seq(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 0L,
      10L -> 11L, 11L -> 12L, 12L -> 0L, 20L -> 20L)
      .toDF("v", "p")
    val cKey = Arms.LimitConf
    val cLoc = GraphAnalytics.cycleLabel(succ, 2, 2)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    spark.conf.set(cKey, "0")
    try {
      val cDist = GraphAnalytics.cycleLabel(succ, 2, 2)
        .as[(Long, Long, Long)].collect().sorted.toSeq
      assert(cLoc == cDist, s"cycle arms diverged: $cLoc vs $cDist")
    } finally spark.conf.unset(cKey)
  }

  test("one conf reaches every arm: unset runs local, 0 runs distributed") {
    // a triangle with a tail, in every input shape the entry points take
    val strEdges = edgeDf("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d")
    val longEdges = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L)
      .toDF("src", "dst")
    val pairs = longEdges.select(col("src").as("p1"), col("dst").as("p2"))
    val und = longEdges.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(longEdges.select(col("dst").as("u"), col("src").as("v")))
    val succ = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 3L).toDF("v", "p")
    // tag name -> the entry point that dispatches under it
    val sites: Seq[(String, () => Any)] = Seq(
      "pr" -> (() => GraphAnalytics.pageRank(strEdges, iters = 2)),
      "hits" -> (() => GraphAnalytics.hits(strEdges, iters = 2)),
      "ppr" -> (() =>
        GraphAnalytics.personalizedPageRank(strEdges, Seq("a"), 2)),
      "sssp" -> (() => GraphAnalytics.weightedShortestPaths(
        pairs.withColumn("w", lit(1L)), 1L, rounds = 2)),
      "bc" -> (() => GraphAnalytics.boundedBetweenness(pairs, Seq(1L), 2)),
      "cc" -> (() => GraphAnalytics.connectedComponents(strEdges)),
      "cycle" -> (() => GraphAnalytics.cycleLabel(succ, 2, 2)),
      "bfs" -> (() => GraphAnalytics.bfsDistances(und, 1L)),
      "scc" -> (() => GraphAnalytics.stronglyConnectedComponents(longEdges)),
      "mis" -> (() => GraphAnalytics.maximalIndependentSet(longEdges)),
      "coloring" -> (() => GraphAnalytics.greedyColoring(longEdges)),
      "matching" -> (() => GraphAnalytics.maximalMatching(longEdges)),
      "louvain" -> (() => GraphAnalytics.louvainOneLevel(longEdges)),
      "sp" -> (() => GraphAnalytics.shortestPathsAuto(strEdges, Seq("a"))))
    def impls(): Map[String, String] = sites.map { case (n, run) =>
      run()
      n -> spark.sparkContext.getLocalProperty(s"graft.$n.impl")
    }.toMap
    def expect(sp: String, others: String) = sites.map { case (n, _) =>
      n -> (if (n == "sp") sp else others) }.toMap
    spark.conf.unset(Arms.LimitConf)
    assert(impls() == expect("pregel", "local"))
    try {
      spark.conf.set(Arms.LimitConf, "0")
      assert(impls() == expect("df", "distributed"))
    } finally spark.conf.unset(Arms.LimitConf)
  }

}
