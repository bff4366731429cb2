package graft.graphx

import org.apache.spark.graphx.{Edge, Graph => XGraph, VertexId}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Whole-graph analytics over the edges view — the reference lists
  * PageRank / map-reduce as its plugin end-goals (reference:
  * README.md:55-57) but ships no implementation; GraphX provides both
  * as fixed-point Pregel programs.
  *
  * Vertex ids: GraphX needs Long ids; string node ids map through
  * xxhash64 (collision odds at 64 bits are negligible below ~10^9
  * nodes; the id→hash mapping rides along and joins back at the end,
  * so results always carry the original string id).
  */
object GraphAnalytics {

  /** Build a GraphX graph from an edges DataFrame [src_id, label, dst_id].
    * RDD partition count is sized to the data (~1M edges per partition,
    * min 4): GraphX fixed-point loops run dozens of jobs, and at small
    * scale 32 near-empty tasks per iteration cost more in scheduling
    * than the compute — while huge graphs still fan out. */
  def build(edges: DataFrame): (XGraph[String, String], DataFrame) = {
    val spark = edges.sparkSession
    val nEdges = edges.count()
    val parts = math.max(4, math.min(spark.sparkContext.defaultParallelism,
      (nEdges / 1000000L).toInt + 1))
    val verts = edges.select(col("src_id").as("id"))
      .unionAll(edges.select(col("dst_id").as("id")))
      .distinct()
      .select(col("id"), xxhash64(col("id")).as("vid"))
    val vertRdd = verts.select("vid", "id").rdd
      .map(r => (r.getLong(0): VertexId, r.getString(1)))
      .coalesce(parts)
    val edgeRdd = edges
      .select(xxhash64(col("src_id")).as("s"), xxhash64(col("dst_id")).as("d"),
        col("label"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getString(2)))
      .coalesce(parts)
    (XGraph(vertRdd, edgeRdd), verts)
  }

  /** PageRank, fixed-iteration deterministic form: damping 0.85,
    * `iters` synchronized iterations, INTEGER micro-rank arithmetic
    * (rank ×1e6 as BIGINT, truncating division each step — per-
    * iteration 1e-6 rounding). Floating-point PageRank sums are
    * partition-order-dependent; the all-integer recurrence is bit-exact
    * on any partitioning AND expressible in plain SQL, so x02 is
    * hash-checked against a DuckDB recursive CTE (the p14/p31
    * determinization trick applied to the fixpoint loop). Dangling
    * vertices keep the GraphX convention — their mass evaporates, no
    * redistribution. DataFrame-native: per iteration ONE equi-join on
    * src + ONE hash aggregate on dst with a `localCheckpoint` to cut
    * lineage — the same round shape as the CC loop, so it scales the
    * same way (the reference names PageRank as its flagship plugin
    * goal, README.md:55-57, but ships none). Zero-weight self-edges
    * keep every vertex (dangling or in-edge-free) present in each
    * iteration's aggregate without contributing mass.
    * Returns [id, rank_micro]; true rank = rank_micro / 1e6. */
  def pageRank(edges: DataFrame, iters: Int = 20): DataFrame = {
    // loop on xxhash64 vids, not string ids: the 40+ shuffles below
    // move fixed 8-byte keys instead of URI strings (the id rides back
    // via one join at the end — same trick as build()). Bijective on
    // real corpora (64-bit collision odds negligible) and fully
    // deterministic either way, so oracle parity is unaffected.
    val e0 = edges.select(col("src_id"), col("dst_id"))
    val verts = e0.select(col("src_id").as("id"))
      .unionAll(e0.select(col("dst_id").as("id"))).distinct()
      .select(col("id"), xxhash64(col("id")).as("vid"))
      .transform(graft.Ckpt.cut)
    val e = e0.select(xxhash64(col("src_id")).as("src"),
      xxhash64(col("dst_id")).as("dst"))
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("od"))
    val ec = e.join(outdeg, "src")
      .select(col("src"), col("dst"), col("od"))
      .unionAll(verts.select(col("vid"), col("vid"), lit(0L)))
      .transform(graft.Ckpt.cut)
    // rows = ec (edges + one self-edge per vertex; 1M ≈ tens of MB of
    // longs); the count rides the just-checkpointed ec partitions. The
    // distributed loop checkpoints every 5 rounds.
    val local = Arms.local(edges.sparkSession, "pr", ec.count(), 1000000L)
    val ranks = if (local) localPageRank(ec, iters)
      else distributedPageRank(ec, verts, iters)
    ranks.join(verts, ranks("v") === verts("vid"))
      .select(col("id"), col("r").as("rank_micro"))
  }

  /** Driver-side arm of [[pageRank]]: the same truncating integer
    * recurrence over collected (src, dst, od) triples. The self-edges
    * already register every vertex, so the triple list is the whole
    * graph state; 20 rounds over a ≤1M-edge array is microseconds. */
  private def localPageRank(ec: DataFrame, iters: Int): DataFrame = {
    val spark = ec.sparkSession
    import spark.implicits._
    val triples = ec.select("src", "dst", "od").as[(Long, Long, Long)]
      .collect()
    val idx = scala.collection.mutable.HashMap.empty[Long, Int]
    triples.foreach { case (s, d, _) =>
      idx.getOrElseUpdate(s, idx.size)
      idx.getOrElseUpdate(d, idx.size): Unit
    }
    val n = idx.size
    var r = Array.fill(n)(1000000L)
    for (_ <- 1 to iters) {
      val acc = new Array[Long](n)
      triples.foreach { case (s, d, od) =>
        if (od > 0) acc(idx(d)) += r(idx(s)) / od
      }
      r = acc.map(c => 150000L + (85L * c) / 100L)
    }
    val vids = new Array[Long](n)
    idx.foreach { case (vid, i) => vids(i) = vid }
    spark.createDataset((0 until n).map(i => (vids(i), r(i))))
      .toDF("v", "r")
  }

  /** Distributed arm of [[pageRank]]: one equi-join + one hash
    * aggregate per round. Checkpoint every 5 rounds, not every round:
    * the materialization barrier (not the shuffles) dominated
    * per-round cost — 20 per-round checkpoints measured 14 s at sf0.1,
    * batches of 5 run the same 40 shuffles inside 4 job DAGs. Five
    * joins of lineage is far below the plan-growth regime the
    * CC/k-core loops guard against (they re-inline a SHRINKING input
    * per round; here the chain is linear). */
  private def distributedPageRank(ec: DataFrame, verts: DataFrame,
      iters: Int): DataFrame = {
    var ranks = verts.select(col("vid").as("v"), lit(1000000L).as("r"))
      .transform(graft.Ckpt.cut)
    var i = 0
    while (i < iters) {
      val step = math.min(5, iters - i)
      var cur = ranks
      for (_ <- 1 to step) {
        cur = ec.join(cur, ec("src") === cur("v"))
          .groupBy(col("dst"))
          .agg((lit(150000L) + expr(
            "(85 * sum(CASE WHEN od > 0 THEN r div od ELSE 0 END)) div 100"))
            .as("r"))
          .withColumnRenamed("dst", "v")
      }
      ranks = cur.transform(graft.Ckpt.cut)
      i += step
    }
    ranks
  }

  /** HITS hubs & authorities (Kleinberg 1999), fixed-iteration integer
    * form: `iters` synchronized rounds of a(v) = Σ_{u→v} h(u),
    * h(u) = Σ_{u→v} a(v), each side rescaled to max 1e6 per round with
    * TRUNCATING integer division — the x02 determinization applied to
    * the two-score fixpoint, so x08 is hash-checked against a DuckDB
    * recursive CTE running the identical recurrence. The mutual
    * recursion folds into ONE join per round by direction-tagging the
    * edge list ('a' rows carry hub mass src→dst, 'h' rows carry
    * authority mass dst→src, 'z' self rows keep contribution-free
    * vertices present at zero — the x02 self-edge trick), so a round is
    * one equi-join + one hash aggregate + one O(1) max reduce, the same
    * shape as the PageRank loop and dispatched through [[Arms]] on the
    * tagged row count (driver array or distributed join+agg loop;
    * arms equality-pinned in GraphXSpec).
    * Returns [id, hub_micro, auth_micro]; true score = micro / 1e6 of
    * the per-round max. */
  def hits(edges: DataFrame, iters: Int = 10): DataFrame = {
    val e0 = edges.select(col("src_id"), col("dst_id"))
    val verts = e0.select(col("src_id").as("id"))
      .unionAll(e0.select(col("dst_id").as("id"))).distinct()
      .select(col("id"), xxhash64(col("id")).as("vid"))
      .transform(graft.Ckpt.cut)
    val e = e0.select(xxhash64(col("src_id")).as("src"),
      xxhash64(col("dst_id")).as("dst"))
    val ced = e.select(col("src").as("f"), col("dst").as("t"),
        lit("a").as("kind"))
      .unionAll(e.select(col("dst"), col("src"), lit("h")))
      .unionAll(verts.select(col("vid"), col("vid"), lit("z")))
      .transform(graft.Ckpt.cut)
    val local = Arms.local(edges.sparkSession, "hits", ced.count(), 1000000L)
    val hs = if (local) localHits(ced, iters)
      else distributedHits(ced, verts, iters)
    hs.join(verts, hs("v") === verts("vid"))
      .select(col("id"), col("h").as("hub_micro"), col("a").as("auth_micro"))
  }

  /** Driver-side arm of [[hits]]: the identical truncating integer
    * recurrence over collected (f, t, kind) rows. The 'z' self rows
    * register every vertex, so the tag list is the whole graph state. */
  private def localHits(ced: DataFrame, iters: Int): DataFrame = {
    val spark = ced.sparkSession
    import spark.implicits._
    val tags = ced.select("f", "t", "kind").as[(Long, Long, String)].collect()
    val idx = scala.collection.mutable.HashMap.empty[Long, Int]
    tags.foreach { case (f, t, _) =>
      idx.getOrElseUpdate(f, idx.size)
      idx.getOrElseUpdate(t, idx.size): Unit
    }
    val n = idx.size
    var h = Array.fill(n)(1000000L)
    var a = Array.fill(n)(1000000L)
    for (_ <- 1 to iters) {
      val rh = new Array[Long](n)
      val ra = new Array[Long](n)
      tags.foreach { case (f, t, kind) =>
        if (kind == "a") ra(idx(t)) += h(idx(f))
        else if (kind == "h") rh(idx(t)) += a(idx(f))
      }
      val mh = math.max(rh.max, 1L)
      val ma = math.max(ra.max, 1L)
      h = rh.map(x => x * 1000000L / mh)
      a = ra.map(x => x * 1000000L / ma)
    }
    val vids = new Array[Long](n)
    idx.foreach { case (vid, i) => vids(i) = vid }
    spark.createDataset((0 until n).map(i => (vids(i), h(i), a(i))))
      .toDF("v", "h", "a")
  }

  /** Distributed arm of [[hits]]: one equi-join + one hash aggregate
    * per round, then one scalar max-pair reduce feeding the rescale as
    * literals. Unlike PageRank's batched checkpoints, the per-round max
    * forces a per-round materialization — that is the honest cost of a
    * globally-normalized fixpoint (the reduce itself is a tree agg over
    * the just-checkpointed partitions, O(1) rows to the driver). */
  private def distributedHits(ced: DataFrame, verts: DataFrame,
      iters: Int): DataFrame = {
    var st = verts.select(col("vid").as("v"), lit(1000000L).as("h"),
      lit(1000000L).as("a")).transform(graft.Ckpt.cut)
    for (_ <- 1 to iters) {
      val raw = ced.join(st, ced("f") === st("v"))
        .groupBy(col("t"))
        .agg(sum(when(col("kind") === "h", col("a")).otherwise(0L)).as("rh"),
          sum(when(col("kind") === "a", col("h")).otherwise(0L)).as("ra"))
        .transform(graft.Ckpt.cut)
      val m = raw.agg(greatest(max("rh"), lit(1L)),
        greatest(max("ra"), lit(1L))).first()
      st = raw.select(col("t").as("v"),
        expr(s"rh * 1000000 div ${m.getLong(0)}").as("h"),
        expr(s"ra * 1000000 div ${m.getLong(1)}").as("a"))
    }
    st
  }

  /** Personalized PageRank (random walk with restart to a SEED set —
    * the "related items from here" primitive behind recommendation and
    * local-community queries): the [[pageRank]] integer recurrence with
    * the restart mass concentrated on `seeds` instead of spread
    * uniformly. r_0(v) = 1e6·[v∈S]; r_{i+1}(v) = 150000·[v∈S] +
    * (85·Σ_{u→v} r_i(u) div od(u)) div 100, truncating division
    * throughout — bit-exact on any partitioning, so x10 hash-checks the
    * whole fixpoint against a DuckDB recursive CTE (x02's mirror with a
    * seed-conditional restart term). Off-ball vertices stay at exactly
    * 0 and never acquire mass: at scale the touched set is the seeds'
    * forward ball, not the graph. Same [[Arms]] dispatch as [[pageRank]]
    * (arms equality-pinned in GraphXSpec).
    * Returns [id, rank_micro] for TOUCHED vertices only (rank > 0) —
    * the distributed loop carries just the positive frontier, so state
    * is ball-sized, not graph-sized; true score = rank_micro / 1e6. */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[String],
      iters: Int = 20): DataFrame = {
    val e0 = edges.select(col("src_id"), col("dst_id"))
    val verts = e0.select(col("src_id").as("id"))
      .unionAll(e0.select(col("dst_id").as("id"))).distinct()
      .select(col("id"), xxhash64(col("id")).as("vid"))
      .transform(graft.Ckpt.cut)
    val seedVids = verts.where(col("id").isin(seeds: _*))
      .select("vid").collect().map(_.getLong(0)).toSet
    require(seedVids.nonEmpty, s"no seed of ${seeds} present in the graph")
    val e = e0.select(xxhash64(col("src_id")).as("src"),
      xxhash64(col("dst_id")).as("dst"))
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("od"))
    val ec = e.join(outdeg, "src")
      .select(col("src"), col("dst"), col("od"))
      .unionAll(verts.select(col("vid"), col("vid"), lit(0L)))
      .transform(graft.Ckpt.cut)
    val local = Arms.local(edges.sparkSession, "ppr", ec.count(), 1000000L)
    val ranks = if (local) localPpr(ec, seedVids, iters)
      else distributedPpr(ec, verts, seedVids, iters)
    ranks.join(verts, ranks("v") === verts("vid"))
      .select(col("id"), col("r").as("rank_micro"))
  }

  /** Driver-side arm of [[personalizedPageRank]] — the localPageRank
    * loop with seed-conditional init and restart. */
  private def localPpr(ec: DataFrame, seedVids: Set[Long],
      iters: Int): DataFrame = {
    val spark = ec.sparkSession
    import spark.implicits._
    val triples = ec.select("src", "dst", "od").as[(Long, Long, Long)]
      .collect()
    val idx = scala.collection.mutable.HashMap.empty[Long, Int]
    triples.foreach { case (s, d, _) =>
      idx.getOrElseUpdate(s, idx.size)
      idx.getOrElseUpdate(d, idx.size): Unit
    }
    val n = idx.size
    val vids = new Array[Long](n)
    idx.foreach { case (vid, i) => vids(i) = vid }
    val restart = Array.tabulate(n)(i => if (seedVids(vids(i))) 1L else 0L)
    var r = restart.map(_ * 1000000L)
    for (_ <- 1 to iters) {
      val acc = new Array[Long](n)
      triples.foreach { case (s, d, od) =>
        if (od > 0) acc(idx(d)) += r(idx(s)) / od
      }
      r = Array.tabulate(n)(i => restart(i) * 150000L + (85L * acc(i)) / 100L)
    }
    spark.createDataset((0 until n).filter(r(_) > 0L)
        .map(i => (vids(i), r(i))))
      .toDF("v", "r")
  }

  /** Distributed arm of [[personalizedPageRank]]: the
    * distributedPageRank round shape (join + agg, checkpoint every 5)
    * with the restart as a literal IN-list branch — seed sets are
    * query-sized, so the branch codegens, no extra join. */
  private def distributedPpr(ec: DataFrame, verts: DataFrame,
      seedVids: Set[Long], iters: Int): DataFrame = {
    val sv = seedVids.toSeq
    def restart(c: org.apache.spark.sql.Column) =
      when(c.isin(sv: _*), lit(150000L)).otherwise(lit(0L))
    // only the positive frontier rides the loop: a zero-rank vertex
    // contributes nothing and (not being a seed) restarts to nothing,
    // so dropping its row each round is semantics-preserving — state
    // stays ball-sized while ec remains the full (static) edge list.
    // An absent vertex re-enters through a real in-edge the moment a
    // positive neighbor touches it (restart(dst) is position-based).
    var ranks = verts.select(col("vid").as("v"),
      when(col("vid").isin(sv: _*), lit(1000000L)).otherwise(lit(0L)).as("r"))
      .where(col("r") > 0L)
      .transform(graft.Ckpt.cut)
    var i = 0
    while (i < iters) {
      val step = math.min(5, iters - i)
      var cur = ranks
      for (_ <- 1 to step) {
        cur = ec.join(cur, ec("src") === cur("v"))
          .groupBy(col("dst"))
          .agg((restart(col("dst")) + expr(
            "(85 * sum(CASE WHEN od > 0 THEN r div od ELSE 0 END)) div 100"))
            .as("r"))
          .where(col("r") > 0L)
          .withColumnRenamed("dst", "v")
      }
      ranks = cur.transform(graft.Ckpt.cut)
      i += step
    }
    ranks
  }

  /** Single-source-set shortest paths (directed, hop count): distance
    * from every vertex TO each reachable landmark along edge direction —
    * GraphX's ShortestPaths Pregel program. Returns [id, landmark, dist]
    * rows only for reachable (vertex, landmark) pairs. */
  def shortestPaths(edges: DataFrame, landmarks: Seq[String]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (g, verts) = build(edges)
    val lm: Map[VertexId, String] = verts
      .where(col("id").isin(landmarks: _*))
      .select("vid", "id").as[(Long, String)].collect().toMap
    val res = org.apache.spark.graphx.lib.ShortestPaths
      .run(g, lm.keys.toSeq)
      .vertices
      .flatMap { case (vid, spmap) =>
        spmap.iterator.map { case (l, d) => (vid, l, d) }
      }
      .toDF("vid", "lvid", "dist")
    val lmDf = lm.toSeq.toDF("lvid", "landmark")
    res.join(verts, "vid").join(broadcast(lmDf), "lvid")
      .select("id", "landmark", "dist")
  }

  /** Landmark shortest paths with [[Arms]] dispatch on the edge count
    * (default 100k): the small arm is the GraphX Pregel program (lower
    * constant factors on small graphs — one tight RDD loop, no per-hop
    * planning), tagged `pregel`; the scale arm is the DataFrame BFS
    * loop, tagged `df` (no per-vertex hash maps serialized around, AQE
    * replans every hop, same loop shape as traversal/CC). The two are
    * proven output-identical in GraphXSpec. */
  def shortestPathsAuto(edges: DataFrame, landmarks: Seq[String]): DataFrame =
    if (Arms.local(edges.sparkSession, "sp", edges.count(), 100000L,
        labels = ("pregel", "df"))) shortestPaths(edges, landmarks)
    else shortestPathsDF(edges, landmarks)

  /** Multi-landmark directed hop counts as plain DataFrame joins — the
    * scale path for [[shortestPaths]] (identical output; equality
    * pinned in GraphXSpec). One BFS wave per hop walking REVERSE edges
    * from all landmarks at once, state keyed (id, landmark), per-hop
    * `localCheckpoint` to cut lineage: the same loop the traversal and
    * CC use, so it stays in Tungsten rows with AQE planning every hop —
    * no RDD conversion, no per-vertex hash maps shipped around (the
    * GraphX Pregel version serializes a Map per vertex per round). */
  def shortestPathsDF(edges: DataFrame, landmarks: Seq[String]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val rev = edges.select(col("dst_id").as("from"), col("src_id").as("to"))
      .distinct().transform(graft.Ckpt.cut)
    var visited = landmarks.toDF("id")
      .select(col("id"), col("id").as("landmark"), lit(0).as("dist"))
      .transform(graft.Ckpt.cut)
    var frontier = visited.select("id", "landmark")
    var hop = 0
    var done = frontier.isEmpty
    while (!done) {
      hop += 1
      val next = frontier.join(rev, frontier("id") === rev("from"))
        .select(col("to").as("id"), col("landmark")).distinct()
        .join(visited.select("id", "landmark"),
          Seq("id", "landmark"), "left_anti")
        .withColumn("dist", lit(hop))
        .transform(graft.Ckpt.cut)
      done = next.isEmpty
      visited = visited.unionAll(next).transform(graft.Ckpt.cut)
      frontier = next.select("id", "landmark")
    }
    visited
  }

  /** Single-source WEIGHTED shortest paths over an undirected pair list
    * [p1, p2, w] (long ids, canonical p1 < p2, integer weights):
    * Bellman-Ford run for a FIXED number of relaxation rounds, so the
    * result is deterministic (exact distances over paths of ≤ `rounds`
    * edges — the caller picks rounds ≥ the weighted-path hop diameter
    * for exact SSSP, or a smaller horizon for a bounded neighborhood).
    * Each round is one join (relax every out-edge of the reached set)
    * plus one min-aggregate keyed by vertex — the same
    * shuffle-on-id shape as the CC pointer-jump loop, with per-round
    * `localCheckpoint` so lineage stays flat. No priority queue exists
    * at 100 TB; round-synchronous relaxation with a bounded round count
    * is the distributed replacement (delta-stepping degenerates to this
    * when every bucket is one round). The frontier optimization
    * (relax only vertices whose dist improved last round) is
    * deliberately omitted: `rounds` is small and the unconditional
    * relax keeps every round's plan identical — one fused
    * join+partial-agg stage that AQE sizes from the previous round's
    * output. Reference ground: ahghee walks weighted edges through the
    * same `follow`/visited machinery (Program.fs query paths); the
    * fixed-round determinization is the x02 move (integer recurrence ==
    * DuckDB RECURSIVE CTE working table) applied to distances. */
  def weightedShortestPaths(pairs: DataFrame, source: Long,
                            rounds: Int): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // the count rides the caller's checkpointed pair list; both arms
    // share the exact integer min-plus recurrence
    if (Arms.local(spark, "sssp", pairs.count(), 2000000L)) {
      val es = pairs.select(col("p1"), col("p2"), col("w"))
        .as[(Long, Long, Long)].collect()
      val dist = scala.collection.mutable.HashMap(source -> 0L)
      var r = 0
      while (r < rounds) {
        // relax from the PREVIOUS round's frame only (snap), so one
        // round never chains two hops — the distributed arm's
        // d'(v) = min(d(v), min over (u,v) of d(u)+w), exactly
        val snap = dist.toMap
        es.foreach { case (a, b, w) =>
          snap.get(a).foreach { da =>
            if (dist.get(b).forall(_ > da + w)) dist(b) = da + w }
          snap.get(b).foreach { db =>
            if (dist.get(a).forall(_ > db + w)) dist(a) = db + w }
        }
        r += 1
      }
      dist.toSeq.toDF("id", "dist")
    } else weightedShortestPathsDist(pairs, source, rounds)
  }

  /** Distributed arm of [[weightedShortestPaths]]: one join + one
    * min-aggregate keyed by vertex per round — the CC pointer-jump
    * shuffle shape, per-round `localCheckpoint` to keep lineage flat. */
  private def weightedShortestPathsDist(pairs: DataFrame, source: Long,
                                        rounds: Int): DataFrame = {
    val spark = pairs.sparkSession
    // undirected: relax both orientations; checkpoint once — the edge
    // list feeds every round
    val e = pairs.select(col("p1").as("u"), col("p2").as("v"), col("w"))
      .unionAll(pairs.select(col("p2").as("u"), col("p1").as("v"), col("w")))
      .transform(graft.Ckpt.cut)
    var dist = spark.range(1)
      .select(lit(source).as("id"), lit(0L).as("dist"))
      .transform(graft.Ckpt.cut)
    var r = 0
    while (r < rounds) {
      r += 1
      val relaxed = dist.join(e, dist("id") === e("u"))
        .select(col("v").as("id"), (col("dist") + col("w")).as("dist"))
      // keep-or-improve: the old rows ride along the union so min()
      // implements d'(v) = min(d(v), min over (u,v) of d(u)+w)
      dist = dist.unionAll(relaxed)
        .groupBy("id").agg(min("dist").as("dist"))
        .transform(graft.Ckpt.cut)
    }
    dist
  }

  /** Sampled bounded-depth Brandes betweenness centrality over an
    * undirected pair list [p1, p2]: for each source, a forward BFS
    * accumulates per-layer shortest-path counts σ (exact integers —
    * σ(v) = Σ σ(u) over layer-(d-1) predecessors), then the backward
    * sweep folds dependencies δ in integer micro-units,
    * δ(u) = Σ_w ⌊σ(u)·(10⁶+δ(w)) / σ(w)⌋ over u's layer-(d+1)
    * successors (σ(u) ≤ σ(w) for a predecessor, so terms stay far from
    * BIGINT range at depth 3). Both truncations — sampling sources and
    * bounding depth — ARE the production algorithm: exact betweenness
    * is O(nm) (hopeless at 100 TB), and sampled ego-net Brandes
    * (Riondato-Kornaropoulos style pivots, bounded horizon) is what
    * ships; determinized here (fixed sources, integer δ) so the whole
    * sweep is hash-checkable against unrolled-layer SQL. Every step is
    * the CC/BFS loop shape: frontier⋈edges, hash-agg by (src, v),
    * per-layer localCheckpoint. Returns (v, bc_micro) for non-source
    * vertices with positive dependency. */
  def boundedBetweenness(pairs: DataFrame, sources: Seq[Long],
                         depth: Int): DataFrame = {
    if (Arms.local(pairs.sparkSession, "bc", pairs.count(), 2000000L))
      localBoundedBetweenness(pairs, sources, depth)
    else distBoundedBetweenness(pairs, sources, depth)
  }

  /** Driver-side arm of [[boundedBetweenness]]: the same layered
    * forward-σ / backward-δ integer recurrences over collected pairs.
    * depth·(V+E) work per source — microseconds under the local limit. */
  private def localBoundedBetweenness(pairs: DataFrame, sources: Seq[Long],
                                      depth: Int): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    import scala.collection.mutable
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    pairs.select("p1", "p2").as[(Long, Long)].collect().foreach {
      case (a, b) =>
        adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
        adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
    }
    val bc = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    sources.foreach { s =>
      val distM = mutable.HashMap(s -> 0)
      val sigma = mutable.HashMap(s -> 1L)
      val layers = mutable.ArrayBuffer(Seq(s))
      var d = 0
      while (d < depth) {
        // σ(v) accumulates over ALL layer-d predecessors before v is
        // marked visited — the group-sum the distributed arm does
        val nextSigma = mutable.HashMap.empty[Long, Long]
        layers(d).foreach { u =>
          adj.getOrElse(u, Nil).foreach { v =>
            if (!distM.contains(v))
              nextSigma(v) = nextSigma.getOrElse(v, 0L) + sigma(u)
          }
        }
        nextSigma.foreach { case (v, sg) => distM(v) = d + 1; sigma(v) = sg }
        layers += nextSigma.keys.toSeq
        d += 1
      }
      val delta = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      d = depth - 1
      while (d >= 1) {
        layers(d).foreach { u =>
          var acc = 0L
          adj.getOrElse(u, Nil).foreach { w =>
            if (distM.get(w).contains(d + 1))
              acc += sigma(u) * (1000000L + delta(w)) / sigma(w)
          }
          delta(u) = acc
          bc(u) += acc
        }
        d -= 1
      }
    }
    bc.toSeq.filter(_._2 > 0).toDF("v", "bc_micro")
  }

  /** Distributed arm of [[boundedBetweenness]] — one frontier⋈edges
    * hash-agg per layer each way, per-layer `localCheckpoint`. */
  private def distBoundedBetweenness(pairs: DataFrame, sources: Seq[Long],
                                     depth: Int): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val e = pairs.select(col("p1").as("u"), col("p2").as("v"))
      .unionAll(pairs.select(col("p2").as("u"), col("p1").as("v")))
      .transform(graft.Ckpt.cut)
    // forward: nodes = (src, v, dist, sigma), one BFS wave per layer,
    // all sources at once (state keyed (src, v) like shortestPathsDF)
    var nodes = sources.toDF("src")
      .select(col("src"), col("src").as("v"), lit(0).as("dist"),
        lit(1L).as("sigma"))
      .transform(graft.Ckpt.cut)
    var d = 0
    while (d < depth) {
      val frontier = nodes.where(col("dist") === d)
      val next = frontier.join(e, frontier("v") === e("u"))
        .select(col("src"), e("v").as("v"), col("sigma"))
        .groupBy("src", "v").agg(sum("sigma").as("sigma"))
        .join(nodes.select("src", "v"), Seq("src", "v"), "left_anti")
        .select(col("src"), col("v"), lit(d + 1).as("dist"), col("sigma"))
      nodes = nodes.unionAll(next).transform(graft.Ckpt.cut)
      d += 1
    }
    // backward: δ = 0 at the horizon, then one sweep per layer toward
    // the source; vertices with no deeper successors keep δ = 0 via
    // the left join (they still matter as σ-ratio denominators). The
    // run's own source sits at dist 0 and never enters a sweep, so the
    // Brandes v ≠ s exclusion is structural.
    var delta = nodes.where(col("dist") === depth)
      .select(col("src"), col("v"), lit(0L).as("delta"))
      .transform(graft.Ckpt.cut)
    d = depth - 1
    while (d >= 1) {
      val layer = nodes.where(col("dist") === d)
        .select(col("src"), col("v"), col("sigma"))
      // δ and σ of the layer below, keyed (src, w); the inner join
      // restricts the accumulated delta frame to exactly layer d+1
      val deeper = nodes.where(col("dist") === d + 1)
        .select(col("src"), col("v").as("w"), col("sigma").as("sigma_w"))
        .join(delta.select(col("src"), col("v").as("w"), col("delta")),
          Seq("src", "w"))
      val wedges = layer
        .join(e.select(col("u"), col("v").as("w")), layer("v") === col("u"))
        .select(col("src"), col("v"), col("sigma"), col("w"))
      val contrib = wedges.join(deeper, Seq("src", "w"))
        .select(col("src"), col("v"),
          expr("sigma * (1000000 + delta) div sigma_w").as("c"))
        .groupBy("src", "v").agg(sum("c").as("dsum"))
      val layerDelta = layer.join(contrib, Seq("src", "v"), "left")
        .select(col("src"), col("v"),
          coalesce(col("dsum"), lit(0L)).as("delta"))
      delta = delta.unionAll(layerDelta).transform(graft.Ckpt.cut)
      d -= 1
    }
    delta.where(col("delta") > 0)
      .groupBy("v").agg(sum("delta").as("bc_micro"))
  }

  /** Per-vertex triangle counts over an undirected pair list [p1, p2]
    * (long ids, canonical p1 < p2, deduped by the caller), the
    * degree-ordered wedge-check algorithm as plain DataFrame joins:
    * orient every edge from its lower-(degree, id) endpoint, enumerate
    * wedges at each triangle's LOWEST vertex (two out-edges), and keep
    * wedges closed by a third directed edge. Orientation bounds every
    * out-degree by O(√m), so wedge volume is O(m^1.5) worst case and
    * ~m·arboricity on real graphs — the property that makes triangle
    * counting survive hub skew at 100 TB, with AQE free to re-plan the
    * two shuffles (GraphX's TriangleCount ships whole adjacency sets
    * out of Tungsten and measured 10× slower here). Returns [v, n_tri]
    * for vertices in ≥1 triangle (each triangle at all 3 corners). */
  /** Exact triangle list [a, b, c] (a = the lowest-degree corner; each
    * triangle exactly once) — the degree-ordered wedge join + packed-key
    * broadcast closing probe. Shared by [[triangleCounts]] (corner
    * counts) and [[trussPeel]] (per-edge support), so the measured
    * orientation/probe wins apply to every consumer. */
  private def triangleList(pairs0: DataFrame): DataFrame = {
    // observability for the x18 structure pin: the incremental truss
    // peel must enumerate wedges exactly ONCE however many rounds it
    // runs (GraphXSpec asserts this counter — a regression back to
    // per-round re-enumeration is invisible to small-graph wall-time
    // guards but 5× the cost at sf0.1)
    val sc = pairs0.sparkSession.sparkContext
    sc.setLocalProperty("graft.triangle.passes",
      (Option(sc.getLocalProperty("graft.triangle.passes"))
        .map(_.toInt).getOrElse(0) + 1).toString)
    // checkpoint: the pair list feeds degree agg + both wedge sides +
    // the closing probe — inlined it would recompute 4×
    val pairs = pairs0.transform(graft.Ckpt.cut)
    val deg = pairs.select(col("p1").as("v"))
      .unionAll(pairs.select(col("p2").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val dppWide = pairs
      .join(deg.select(col("v").as("p1"), col("d").as("d1")), "p1")
      .join(deg.select(col("v").as("p2"), col("d").as("d2")), "p2")
      .select(
        when(col("d1") < col("d2") ||
             (col("d1") === col("d2") && col("p1") < col("p2")),
          struct(col("p1").as("s"), col("p2").as("t"), col("d2").as("dt")))
          .otherwise(
            struct(col("p2").as("s"), col("p1").as("t"), col("d1").as("dt")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))
    // the wedge stream (Σ out-deg² rows — 41M at sf0.1) must NOT hit an
    // exchange: broadcasting the closing-edge side keeps the whole
    // wedge → semi-probe pipeline inside one codegen stage. The edge
    // list broadcast is ~16 B/edge (tens of MB up to ~10⁸ edges); past
    // that, swap the hint for SHUFFLE_HASH — still no sort, and the
    // wedge shuffle is then the honest cost of the density. (An in-row
    // fan-out from collected adjacency arrays — the LSH candidatePairs
    // shape — measured ~1.5× slower here: 24k-struct arrays per hub
    // row are allocation churn, while the self-join streams.)
    // single-long probe key when ids fit UNSIGNED 31 bits (the common
    // case — part/doc keys): the broadcast side becomes a
    // LongHashedRelation (primitive open-addressing probe) instead of a
    // two-field UnsafeRow hash map — measured ~1.3× on the 41M-wedge
    // probe. The guard needs BOTH bounds: a negative id (legal — e.g.
    // raw xxhash64-derived) would set the high 32 bits through
    // bitwiseOR and corrupt the packed key, so minId < 0 falls back to
    // the two-key join, same as ids past 2^31. The same aggregate
    // counts the pair rows, which bound every degree (see packable).
    val bounds = pairs.agg(
        coalesce(greatest(max("p1"), max("p2")), lit(0L)).as("mx"),
        coalesce(least(min("p1"), min("p2")), lit(0L)).as("mn"),
        count(lit(1)).as("n"))
      .first()
    val tri = if (packable(bounds.getLong(0), bounds.getLong(1),
        bounds.getLong(2))) {
      // packed-NEIGHBOR key nk = dt<<32 | t (r10, guide §2.3 narrower
      // types): ids fit unsigned 31 bits, and so does every degree dt
      // (at most the pair rows, duplicates included), so (dt, t) packs
      // losslessly into one
      // non-negative long whose numeric order IS the (degree, id)
      // orientation order. The checkpointed directed edge list narrows
      // from (s, t, dt) to (s, nk) — one-third fewer bytes through the
      // wedge self-join's exchanges — and the wedge ordering filter
      // collapses from a 3-comparison boolean tree to ONE long compare.
      // The closing probe stays the single-long LongHashedRelation
      // broadcast semi-join (measured ~1.3× over the two-key form in
      // r8); b/c ids unpack with a mask at the output edge only.
      val mask = lit(0xffffffffL)
      val dpp = dppWide
        .select(col("s"), shiftleft(col("dt"), 32).bitwiseOR(col("t")).as("nk"))
        .transform(graft.Ckpt.cut)
      dpp.select(col("s"), col("nk").as("kb"))
        .join(dpp.select(col("s"), col("nk").as("kc")), "s")
        .where(col("kb") < col("kc"))
        .withColumn("bc", shiftleft(col("kb").bitwiseAND(mask), 32)
          .bitwiseOR(col("kc").bitwiseAND(mask)))
        .join(broadcast(dpp.select(
            shiftleft(col("s"), 32).bitwiseOR(col("nk").bitwiseAND(mask))
              .as("bc"))),
          Seq("bc"), "left_semi")
        .select(col("s").as("a"), col("kb").bitwiseAND(mask).as("b"),
          col("kc").bitwiseAND(mask).as("c"))
    } else {
      val dpp = dppWide.transform(graft.Ckpt.cut)
      dpp.select(col("s"), col("t").as("b"), col("dt").as("db"))
        .join(dpp.select(col("s"), col("t").as("c"), col("dt").as("dc")), "s")
        .where(col("db") < col("dc") ||
          (col("db") === col("dc") && col("b") < col("c")))
        .join(broadcast(dpp.select(col("s").as("b"), col("t").as("c"))),
          Seq("b", "c"), "left_semi")
        .select(col("s").as("a"), col("b"), col("c"))
    }
    tri
  }

  /** Whether [[triangleList]]'s packed keys are lossless: ids in
    * [0, 2³¹) fill the low 32 bits without touching the sign, and a
    * degree — a row count of the pair list, so at most `rows` even when
    * the list repeats an edge — fits 31 bits in the high half. */
  private[graphx] def packable(maxId: Long, minId: Long, rows: Long): Boolean =
    minId >= 0L && maxId < (1L << 31) && rows < (1L << 31)

  def triangleCounts(pairs0: DataFrame): DataFrame =
    // ONE pass over the triangle list: corners explode in place — a
    // union of three selects would re-run the wedge joins per branch
    // (measured 3×; DataFrame plans don't share common subtrees)
    triangleList(pairs0)
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))

  /** k-core decomposition (undirected): iteratively peel vertices of
    * degree < k until the residual graph is stable; returns the core's
    * [v, core_deg]. Each round is one degree aggregate + two semi-joins
    * (both sides of every surviving edge must be core candidates) with
    * a `localCheckpoint` to cut the iterative lineage — the same
    * round-shape as the CC loop, so it scales the same way: rounds are
    * O(peeling depth), each a bounded number of shuffles on the
    * shrinking edge set. The removed-count convergence check rides the
    * same job as the checkpoint. */
  def kCore(pairs: DataFrame, k: Int): DataFrame = {
    var edges = pairs
      .select(col("p1").as("u"), col("p2").as("v"))
      .unionAll(pairs.select(col("p2").as("u"), col("p1").as("v")))
      .distinct().transform(graft.Ckpt.cut)
    var n = edges.count()
    var changed = n > 0
    var rounds = 0
    while (changed) {
      val keep = edges.groupBy("u").agg(count(lit(1)).as("d"))
        .where(col("d") >= k).select(col("u").as("kv"))
        .transform(graft.Ckpt.cut)
      val next = edges
        .join(keep.select(col("kv").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("kv").as("v")), Seq("v"), "left_semi")
        .transform(graft.Ckpt.cut)
      val m = next.count()
      changed = m != n && m > 0
      n = m
      edges = next
      rounds += 1
    }
    // peel-depth observability for the scale-rehearsal pins
    pairs.sparkSession.sparkContext
      .setLocalProperty("graft.kcore.rounds", rounds.toString)
    edges.groupBy("u").agg(count(lit(1)).as("core_deg"))
      .select(col("u").as("v"), col("core_deg"))
  }

  /** Bounded-round k-truss peel (Cohen 2008): the EDGE-cohesion analog
    * of [[kCore]] — repeatedly drop edges supported by fewer than k-2
    * triangles, support recomputed synchronously each round. Fixed
    * `rounds` instead of a fixpoint (the x16 determinization move): a
    * bounded peel is exactly expressible as chained CTEs in the DuckDB
    * oracle, while a true fixpoint would need aggregates inside
    * recursion. Returns surviving canonical edges with their FINAL
    * support (0-support survivors kept — they peeled below threshold
    * only after the cutoff round).
    *
    * Round shape: [[triangleList]]'s degree-ordered wedge join +
    * packed-key broadcast closing probe (the x04-measured orientation —
    * a canonical p1<p2 wedge measured ~1.4× slower over the four
    * passes: low-id hubs explode its out-degrees) + one per-edge
    * corner explode/count — all equi-joins on the shrinking edge set,
    * localCheckpointed per round like the kCore loop. */
  def trussPeel(pairs0: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val edges = pairs0.select(col("p1"), col("p2")).distinct()
      .transform(graft.Ckpt.cut)
    // Enumerate triangles ONCE (the expensive degree-ordered wedge
    // join); peeling only ever DELETES edges, and a triangle dies
    // exactly when one of its edges does — so each round maintains the
    // list with anti-joins against the removed-edge set instead of
    // re-running the wedge join per round (the from-scratch loop
    // measured 5 wedge passes, ~15 s at sf0.1). Edge keys pack to ONE
    // long when ids fit unsigned 31 bits (the triangleList probe-key
    // guard, same negative-id caveat): the materialized triangle list,
    // the broadcast hash sets, and the support aggregate all run on
    // primitive longs instead of two-field structs.
    val bounds = edges.agg(
        coalesce(greatest(max("p1"), max("p2")), lit(0L)).as("mx"),
        coalesce(least(min("p1"), min("p2")), lit(0L)).as("mn"))
      .first()
    val packable = bounds.getLong(1) >= 0L && bounds.getLong(0) < (1L << 31)
    def pk(u: Column, v: Column): Column =
      if (packable) shiftleft(u, 32).bitwiseOR(v)
      else struct(u.as("p1"), v.as("p2"))
    var tris = triangleList(edges).select(
        pk(least(col("a"), col("b")), greatest(col("a"), col("b"))).as("e1"),
        pk(least(col("a"), col("c")), greatest(col("a"), col("c"))).as("e2"),
        pk(least(col("b"), col("c")), greatest(col("b"), col("c"))).as("e3"))
      .transform(graft.Ckpt.cut)
    // Support is maintained INCREMENTALLY: charge every edge once from
    // the initial triangle list, then per round subtract only the
    // charges of DYING triangles (those touching a removed edge) —
    // sup(e) always equals the surviving-triangle count containing e,
    // which is exactly the from-scratch value, so the DuckDB
    // chained-CTE oracle is unchanged. Rounds touch data proportional
    // to what the peel removes (at sf0.1 round 1 removes 62k of 1.2M
    // edges), not the full 3·|tris| explode per round.
    val sup0 = tris
      .select(explode(array(col("e1"), col("e2"), col("e3"))).as("ek"))
      .groupBy("ek").agg(count(lit(1)).as("sup"))
    // |sup0| ≤ |edges| (one row per edge in ≥1 triangle), so under the
    // same 4 M bound the other truss broadcasts use, attaching support
    // broadcast-side skips the SMJ that shuffled BOTH the edge list and
    // sup0 (~40 MB of the setup's shuffle at sf0.1, r10); the count is
    // one cheap job over the checkpointed edge blocks. Above the bound
    // the shuffle join remains the scale path.
    val sup0B =
      if (packable && edges.count() <= 4000000L) broadcast(sup0) else sup0
    var st = edges.select(col("p1"), col("p2"),
        pk(col("p1"), col("p2")).as("ek"))
      .join(sup0B, Seq("ek"), "left")
      .na.fill(0L, Seq("sup"))
      .transform(graft.Ckpt.cut)
    val sc0 = pairs0.sparkSession.sparkContext
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      // round marker: jobs launched inside round r carry this local
      // property, so a listener (bench.QueryProfile) can attribute
      // jobs/stages/shuffle bytes to rounds — the x18 cost breakdown
      sc0.setLocalProperty("graft.truss.round", r.toString)
      val removed = st.where(col("sup") < k - 2).select(col("ek").as("re"))
      val kept = st.where(col("sup") >= k - 2)
      // what one round peels is usually small mid-peel, and an explicit
      // broadcast beats the planner's no-stats SMJ default for the 6
      // probe joins — but round 1 on a sparse graph can shed a large
      // fraction of the edge set, so the hint is ADAPTIVE: past the
      // threshold the joins fall back to shuffles AQE can still replan.
      // When packable, the count and the removed-set collect FUSE into
      // one bounded collect (limit 4M+1 caps the driver at the same
      // 32 MB the arm always held): one driver job per round instead
      // of two; an overflow (> 4M) reports the bound, which routes to
      // the join arm exactly as the exact count would (its own hints
      // only test ≤ thresholds that 4M+1 already fails).
      val remArr0: Array[Long] =
        if (packable) removed.limit(4000001).collect().map(_.getLong(0))
        else Array.emptyLongArray
      val removedCnt =
        if (packable) remArr0.length.toLong else removed.count()
      // CONVERGED: nothing peels this round, so no triangle dies, no
      // support changes, and every later round is the identity — skip
      // them. Semantics unchanged (the oracle's chained no-op CTEs
      // produce the same rows); at sf0.1 this cuts the 3-round x18
      // loop to the 2 rounds that actually move edges.
      if (removedCnt == 0L) exhausted = true
      else if (packable && removedCnt <= 4000000L) {
        // removed-set arm (r9): with packed single-long edge keys and
        // a bounded removed set, the dying-triangle test is three
        // sorted-array membership probes per triangle — ONE narrow
        // pass over `tris` tagging each row, instead of the join
        // form's 3× explode + semi-probe + distinct + anti-join
        // (four passes over the triangle list, the dominant per-round
        // cost: at sf0.1 the explode streams ~3·|tris| rows through
        // the probe while the dying set is ~10⁴). The sorted-long
        // binary search is the same primitive the broadcast
        // LongHashedRelation probe compiles to, without materializing
        // the exploded rows; identical dead set, identical delta.
        val remArr = remArr0 // the fused bounded collect above
        java.util.Arrays.sort(remArr)
        val remB = sc0.broadcast(remArr)
        // codegen-native probe (graft.functions.SortedLongsContain):
        // a Scala UDF here forced per-row ser/de through ScalaUDF in
        // the hottest stage of the registry; the expression keeps the
        // tagging pass inside whole-stage codegen (no UDF node in the
        // x18 plan) while running the identical binarySearch
        import org.apache.spark.sql.GraftInternals
        def hitC(c: Column): Column = GraftInternals.column(
          graft.functions.SortedLongsContain(
            GraftInternals.expression(c), remB))
        val hit = hitC(col("e1")) || hitC(col("e2")) || hitC(col("e3"))
        val tagged = tris.withColumn("dead", hit)
          .transform(graft.Ckpt.cut) // feeds survivors AND the delta
        tris = tagged.where(!col("dead"))
          .select(col("e1"), col("e2"), col("e3"))
        val delta = tagged.where(col("dead"))
          .select(explode(array(col("e1"), col("e2"), col("e3"))).as("ek"))
          .groupBy("ek").agg(count(lit(1)).as("dd"))
        // delta is bounded by 3·(k−2)·|removed| (a removed edge sat in
        // fewer than k−2 surviving triangles; each dying triangle
        // charges 3 edges) — NOT by |removed| alone, so the broadcast
        // hint carries the same 3·(k−2)·removedCnt guard as the join
        // arm's `dlt`: a large-k heavy round falls back to a shuffle
        // join instead of a driver-OOM broadcast
        val dlt0 =
          if (3L * math.max(k - 2, 1) * removedCnt <= 4000000L)
            broadcast(delta)
          else delta
        st = kept.join(dlt0, Seq("ek"), "left")
          .select(col("p1"), col("p2"), col("ek"),
            (col("sup") - coalesce(col("dd"), lit(0L))).as("sup"))
          .transform(graft.Ckpt.cut)
        remB.unpersist(blocking = false)
      } else {
      val rem =
        if (removedCnt <= 4000000L) broadcast(removed) else removed
      // dying triangles in ONE probe pass: explode each surviving
      // triangle's three edge keys, semi-join the removed set once,
      // and dedup back to the triangle identity — one scan of `tris`
      // and one probe instead of the previous three semi-joins +
      // union + distinct (a triangle losing TWO edges in one round is
      // still charged once: the distinct)
      val dead = tris
        .select(col("e1"), col("e2"), col("e3"),
          explode(array(col("e1"), col("e2"), col("e3"))).as("ek"))
        .join(rem, col("ek") === col("re"), "left_semi")
        .select(col("e1"), col("e2"), col("e3"))
        .distinct()
        .transform(graft.Ckpt.cut) // feeds the anti-join AND the delta
      // survivors in ONE anti-join against the (small, checkpointed)
      // dead list — replacing three per-edge-key anti probes; |dead| is
      // bounded by (k-2)·|removed| (same bound as delta below), so the
      // broadcast hint shares the removed-count guard
      val deadB =
        if (1L * math.max(k - 2, 1) * removedCnt <= 4000000L)
          broadcast(dead)
        else dead
      tris = tris
        .join(deadB, Seq("e1", "e2", "e3"), "left_anti")
        .transform(graft.Ckpt.cut)
      val delta = dead
        .select(explode(array(col("e1"), col("e2"), col("e3"))).as("ek"))
        .groupBy("ek").agg(count(lit(1)).as("dd"))
      // delta is bounded by 3·(k−2)·|removed| (a removed edge sat in
      // fewer than k−2 surviving triangles; each dying triangle
      // charges 3 edges), so the hint derives from the count already
      // taken — adaptive like `rem`, without a second job. A heavy
      // round-1 shed on a sparse graph therefore falls back to a
      // shuffle join instead of a broadcast OOM.
      val dlt =
        if (3L * math.max(k - 2, 1) * removedCnt <= 4000000L)
          broadcast(delta)
        else delta
      st = kept.join(dlt, Seq("ek"), "left")
        .select(col("p1"), col("p2"), col("ek"),
          (col("sup") - coalesce(col("dd"), lit(0L))).as("sup"))
        .transform(graft.Ckpt.cut)
      }
    }
    sc0.setLocalProperty("graft.truss.round", null)
    st.select(col("p1"), col("p2"), col("sup"))
  }

  /** Deterministic synchronous label propagation (Raghavan et al. 2007)
    * over an undirected pair list [p1, p2]: every vertex starts as its
    * own label; each round it adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label — a total order, so
    * the whole fixpoint is reproducible and (unlike classic randomized
    * LPA) hash-checkable against a DuckDB recursive CTE running the
    * identical recurrence. Semantically distinct from [[connectedComponents]]:
    * majority voting lets sparse bridges survive without merging the
    * communities they connect.
    *
    * Round = one join (neighbor labels) + two hash aggregates — the
    * (vertex, label) count, then a `max_by` argmax per vertex (partial
    * aggs on both; no window, so one fewer exchange per round). Fixed
    * `iters` rounds, `localCheckpoint` per round to cut the iterative
    * lineage — the CC/k-core loop discipline. Returns [id, lbl]. */
  def labelPropagation(pairs: DataFrame, iters: Int = 5): DataFrame = {
    val ed = pairs
      .select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(pairs.select(col("p2").as("src"), col("p1").as("dst")))
      .transform(graft.Ckpt.cut)
    var labels = ed.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
      .transform(graft.Ckpt.cut)
    for (_ <- 1 to iters) {
      labels = ed
        .join(labels.select(col("id").as("dst"), col("lbl")), "dst")
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("n"))
        .groupBy(col("src"))
        .agg(max_by(col("lbl"), struct(col("n"), (-col("lbl")).as("neg")))
          .as("lbl"))
        .select(col("src").as("id"), col("lbl"))
        .transform(graft.Ckpt.cut)
    }
    labels
  }

  /** Connected components (undirected); returns [id, component] with
    * component = lexicographically-smallest member id.
    *
    * DataFrame-native rather than GraphX: min-label propagation with a
    * pointer-jumping compression step per round (the shape GraphFrames /
    * the large-star–small-star family use), so each round is plain
    * shuffles Catalyst + AQE plan — no RDD conversion, stable timing,
    * and the same code path scales out on a cluster. Compression makes
    * convergence O(log n) rounds instead of O(diameter);
    * `localCheckpoint` per round cuts the iterative-join lineage. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val und = edges.select(col("src_id").as("u"), col("dst_id").as("v"))
      .unionAll(edges.select(col("dst_id").as("u"), col("src_id").as("v")))
      .distinct().transform(graft.Ckpt.cut)

    // Direct local finish (r9): when the WHOLE graph fits the local
    // limit, skip the leaf-peel frame machinery (~8 choreography
    // jobs) and union-find the collected edge list outright — the
    // union rule (smaller root wins) makes every root its component's
    // min member, which is exactly the relabel contract. Leaf peeling
    // remains the at-scale move: it is what keeps the post-peel core
    // under the bounded collect when the graph itself is far over the
    // limit (ScaleRehearsalSpec pins that design at 10x). und carries
    // both directions, so rows/2 = undirected edge count.
    if (Arms.local(und.sparkSession, "cc", und.count() / 2, 1000000L))
      return localUnionFind(und)
        .select(col("id"), col("comp").as("component"))

    // Leaf peeling: degree-1 vertices can't change anyone else's
    // component — strip them, run the iterative part on the (much
    // smaller) core, attach leaves with ONE join, then relabel every
    // component to its true min member id. Real graphs are leaf-heavy
    // (here 92% of vertices are degree-1 order nodes), so the loop's
    // per-round shuffles shrink by that factor.
    val deg = und.groupBy("u").agg(count(lit(1)).as("d"))
    val leaves = deg.where(col("d") === 1).select(col("u").as("leaf"))
      .transform(graft.Ckpt.cut)
    val leafEdge = und.join(leaves, und("u") === leaves("leaf"))
      .select(col("leaf"), col("v").as("nbr"))
    val nbrIsLeaf = leaves.select(col("leaf").as("nbr"))
      .withColumn("nbr_leaf", lit(true))
    val split = leafEdge.join(nbrIsLeaf, Seq("nbr"), "left").transform(graft.Ckpt.cut)
    // leaf—leaf pair: a 2-vertex component, labeled by its min endpoint
    val pairComp = split.where(col("nbr_leaf"))
      .select(col("leaf").as("id"), least(col("leaf"), col("nbr")).as("comp"))
    val hanging = split.where(col("nbr_leaf").isNull)
      .select(col("leaf"), col("nbr"))
    // core = graph minus leaves; core vertices with no surviving edge
    // (only leaf neighbours) still need a self label
    val core = und
      .join(leaves, und("u") === leaves("leaf"), "left_anti")
      .join(leaves.select(col("leaf").as("lv")), und("v") === col("lv"),
        "left_anti")
    val coreLabels = ccLoop(core)
    val soloCore = hanging.select(col("nbr").as("id")).distinct()
      .join(coreLabels.select("id"), Seq("id"), "left_anti")
      .withColumn("comp", col("id"))
    val allCore = coreLabels.unionAll(soloCore).transform(graft.Ckpt.cut)
    val hangingComp = hanging
      .join(allCore.withColumnRenamed("id", "nbr"), "nbr")
      .select(col("leaf").as("id"), col("comp"))
    val assembled = allCore.unionAll(hangingComp).unionAll(pairComp)
    // relabel: the contract is min member id, and a peeled leaf can be
    // that min (e.g. an id that sorts before every core member's)
    val relabel = assembled.groupBy("comp").agg(min("id").as("component"))
    assembled.join(relabel, "comp").select("id", "component")
  }

  /** Core-CC dispatcher: after leaf-peeling the remaining core is often
    * tiny relative to the graph (92% of vertices here are degree-1), so
    * under the [[Arms]] limit (1M undirected edges ≈ tens of MB of ids
    * on the driver) we finish with an exact driver-side union-find —
    * the same bounded-collect-with-distributed-fallback shape as
    * Traversal's point-path frontier. Above it the pointer-jump loop
    * runs entirely as shuffles. */
  private def ccLoop(und0: DataFrame): DataFrame = {
    val und = und0.transform(graft.Ckpt.cut)
    // und carries both directions, so rows/2 = undirected edge count;
    // the count is a cheap scan of the just-checkpointed partitions
    if (Arms.local(und.sparkSession, "cc", und.count() / 2, 1000000L))
      localUnionFind(und)
    else distributedCcLoop(und)
  }

  /** Exact union-find over a collected edge list; comp = min member id
    * by construction (the smaller root wins every union). */
  private def localUnionFind(und: DataFrame): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    // keep one direction (u <= v also keeps self-loops so isolated-by-
    // self-edge vertices stay registered); each edge appears exactly once
    val pairs = und.where(col("u") <= col("v"))
      .select("u", "v").as[(String, String)].collect()
    spark.createDataset(unionFind(pairs)).toDF("id", "comp")
  }

  /** Path-compressed union-find on the driver in which the smaller
    * root wins every union, so every endpoint of `pairs` maps to the
    * min member of its component. Returns (vertex, root) per vertex. */
  private def unionFind[T](pairs: Array[(T, T)])(
      implicit ord: Ordering[T]): Seq[(T, T)] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x: T): T = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    val verts = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
    verts.iterator.map(v => (v, find(v))).toSeq
  }

  /** Iterative min-label propagation with pointer-jump compression over
    * an undirected edge list [u, v]; returns [id, comp].
    *
    * labels[id, comp]: comp is always some existing vertex id, so the
    * compression self-join (comp → comp of comp) is total. Each round is
    * ONE job: propagate + two pointer jumps materialized by the
    * localCheckpoint, with the convergence count riding that same job as
    * an `observe` metric (CollectMetrics accumulator) instead of a
    * second scan. Seeding with min(self, neighbours) folds the first
    * propagate into init. */
  private def distributedCcLoop(und: DataFrame): DataFrame = {
    def jump(df: DataFrame): DataFrame =
      df.as("a")
        .join(df.select(col("id").as("cid"), col("comp").as("ccomp")),
          col("a.comp") === col("cid"))
        .drop("comp", "cid")
        .withColumnRenamed("ccomp", "comp")

    var labels = und.groupBy(col("u"))
      .agg(min(col("v")).as("nbrmin"))
      .select(col("u").as("id"), least(col("u"), col("nbrmin")).as("comp"))
      .transform(graft.Ckpt.cut)
    var changed = 1L
    var round = 0
    while (changed > 0) {
      // propagate: each vertex takes the min comp among itself + neighbours
      val nbrMin = und.join(labels, und("v") === labels("id"))
        .groupBy(und("u").as("id")).agg(min(labels("comp")).as("nbrmin"))
      val prop = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbrmin"), col("comp"))).as("comp"),
          col("comp").as("old"))
      val obs = org.apache.spark.sql.Observation(s"graft_cc_r$round")
      val next = jump(jump(prop))
        .observe(obs, coalesce(
          sum(when(col("comp") =!= col("old"), 1L).otherwise(0L)),
          lit(0L)).as("changed"))
        .transform(graft.Ckpt.cut)
      changed = obs.get("changed").asInstanceOf[Long]
      labels = next.select("id", "comp")
      round += 1
    }
    und.sparkSession.sparkContext
      .setLocalProperty("graft.cc.rounds", round.toString)
    labels
  }

  /** Local clustering coefficient for a hash-sampled center cohort
    * (id % centerMod == 0; pass 1 for every vertex): cc(v) = closed
    * neighbor pairs / C(deg(v),2) over the undirected simple graph
    * `pairs` [p1, p2] describes. Exact integers: cc_micro =
    * tri·2e6 div (dg·(dg−1)). Returns [id, dg, tri, cc_micro] for
    * centers with dg ≥ 2, unordered.
    *
    * Scale shape: per-center wedge volume is deg² — the cohort filter
    * bounds the explode the way landmark selection bounds x11's BFS
    * waves (for an exhaustive pass, direct wedges at each edge's
    * lower-degree endpoint first, x04's discipline). The closure check
    * reuses x04's probe: the wedge stream semi-joins a BROADCAST of
    * the canonical (least, greatest) edge list — packed to one long
    * when ids fit unsigned 31 bits (LongHashedRelation probe; the
    * minId guard routes negative raw-hash ids to the two-key join) —
    * so wedges never hit an exchange. */
  def localClusteringCoeff(pairs0: DataFrame, centerMod: Long): DataFrame = {
    // checkpoint: pairs feed und (both directions) AND the probe side
    val pairs = pairs0.transform(graft.Ckpt.cut)
    val und = pairs.select(col("p1").as("u"), col("p2").as("v"))
      .unionAll(pairs.select(col("p2").as("u"), col("p1").as("v")))
      .transform(graft.Ckpt.cut)
    val deg = und.groupBy("u").agg(count(lit(1)).as("dg"))
    val cent = und.where(col("u") % centerMod === 0)
    val wed = cent.select(col("u").as("c"), col("v").as("a"))
      .join(cent.select(col("u").as("c"), col("v").as("b")), "c")
      .where(col("a") < col("b"))
    val canon = pairs.select(least(col("p1"), col("p2")).as("s"),
      greatest(col("p1"), col("p2")).as("t"))
    val bounds = pairs.agg(
        coalesce(greatest(max("p1"), max("p2")), lit(0L)).as("mx"),
        coalesce(least(min("p1"), min("p2")), lit(0L)).as("mn"))
      .first()
    val (maxId, minId) = (bounds.getLong(0), bounds.getLong(1))
    val tri = (if (minId >= 0L && maxId < (1L << 31)) {
      wed.withColumn("ab", shiftleft(col("a"), 32).bitwiseOR(col("b")))
        .join(broadcast(canon.select(
            shiftleft(col("s"), 32).bitwiseOR(col("t")).as("ab"))),
          Seq("ab"), "left_semi")
    } else {
      wed.join(broadcast(canon.select(col("s").as("a"), col("t").as("b"))),
        Seq("a", "b"), "left_semi")
    }).groupBy("c").agg(count(lit(1)).as("tri"))
    ccFromTri(deg.where(col("u") % centerMod === 0), tri)
  }

  /** EXHAUSTIVE local clustering coefficients — every vertex, via the
    * degree-ordered triangle counter: per-vertex triangle membership is
    * exactly the closed-neighbor-pair count, so cc rides
    * [[triangleCounts]]'s O(m^1.5) wedge volume instead of the sampled
    * variant's Σ deg² — THE full-graph shape at scale (a hub's deg²
    * wedge list never materializes; its triangles are found from their
    * two low-degree corners). Same output contract as
    * [[localClusteringCoeff]] with centerMod = 1; equality pinned in
    * GraphXSpec. */
  def localClusteringCoeffAll(pairs0: DataFrame): DataFrame = {
    val pairs = pairs0.transform(graft.Ckpt.cut)
    val deg = pairs.select(col("p1").as("u"))
      .unionAll(pairs.select(col("p2").as("u")))
      .groupBy("u").agg(count(lit(1)).as("dg"))
    val tri = triangleCounts(pairs)
      .select(col("v").as("c"), col("n_tri").as("tri"))
    ccFromTri(deg, tri)
  }

  /** cc_micro = tri·2e6 div (dg·(dg−1)) over [u, dg] ⨝ [c, tri]
    * (absent tri rows count 0; dg < 2 vertices have no coefficient). */
  /** Deterministic random walks over an undirected pair list — the
    * corpus-generation step of DeepWalk/node2vec (one walk per sampled
    * start, `steps` hops). "Random" is a hash: at (walk, step, node)
    * the next hop is the neighbor whose dense rank equals
    * xorshift((walk·C₁ + step·C₂ + node·C₃) mod P) mod degree — fully
    * reproducible across engines and across reruns, which is what
    * makes a sampling operator oracle-checkable (the p45 discipline
    * applied to graphs) and what a production pipeline wants anyway:
    * re-running the corpus build must not silently re-sample.
    *
    * Scale shape: adjacency with dense neighbor ranks is ONE shuffle
    * (two window functions over the same src partitioning), built
    * once and checkpointed (the loop reads it `steps` times — without
    * the cut each round re-inlines the window plan, the x05 lesson).
    * Each hop is an equi-join of the frontier (one row per live walk)
    * against adjacency on (src, rank) — the frontier side is tiny
    * here and broadcasts; at a 10⁸-walk fleet AQE flips it to a
    * shuffle join on the same plan. No dead-end handling needed:
    * every node in a pair list has degree ≥ 1. */
  def randomWalks(pairs: DataFrame, startMod: Long,
                  steps: Int): DataFrame = {
    val P = 1000000007L
    val und = pairs.select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(pairs.select(col("p2").as("src"), col("p1").as("dst")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
    val adj = und
      .withColumn("rk", row_number().over(w.orderBy("dst")) - 1)
      .withColumn("deg", count(lit(1)).over(w))
      .transform(graft.Ckpt.cut)
    var frontier = adj.select(col("src").as("node")).distinct()
      .where(col("node") % startMod === 0L)
      .select(col("node").as("walk_id"), lit(0).as("step"),
        col("node").as("cur"))
      .transform(graft.Ckpt.cut)
    val acc = Vector.newBuilder[DataFrame]
    acc += frontier
    for (_ <- 1 to steps) {
      val h = (col("walk_id") * 2654435761L + col("step") * 1779033703L +
        col("cur") * 104729L) % P
      val sel = h.bitwiseXOR(shiftright(h, 13))
      frontier = adj.join(
          broadcast(frontier.withColumn("hsel", sel)),
          adj("src") === col("cur") && adj("rk") === col("hsel") % adj("deg"))
        .select(col("walk_id"), (col("step") + 1).as("step"),
          col("dst").as("cur"))
        .transform(graft.Ckpt.cut)
      acc += frontier
    }
    acc.result().reduce(_ unionAll _)
      .select(col("walk_id"), col("step"), col("cur").as("node"))
  }

  /** HyperBall (Boldi–Vigna, WebAlgorithms'13 lineage; also HADI): the
    * neighborhood function NF(t) — how many nodes each vertex reaches
    * within t hops — estimated by giving every vertex an HLL register
    * set of its ball and merging registers along out-edges each round.
    * Registers use q48's integer-only HLL algebra (multiply-mod
    * avalanche hash, m = 64, rank capped at 25, harmonic mean and
    * estimate in exact BIGINT arithmetic), so the entire fixpoint is
    * deterministic and hash-checkable against a recursive-CTE mirror.
    *
    * Input: edges (src: long, dst: long) — integer node keys. Output:
    * one row per (t, id) for t = 1..iters with the HLL ball estimate
    * AND the exact ball size (the validation arm: an exact distinct
    * frontier run alongside; at 100 TB you drop `exact` — the register
    * frame is the whole point, fixed 64·8 bytes per vertex per round
    * vs the quadratically-growing reachable-pair set).
    *
    * Scale shape per round: one equi-join (edges ⋈ registers on dst) +
    * one (id, reg) max-aggregate — both hash-partition by vertex key;
    * register rows per vertex are bounded by min(ball, 64). Rounds are
    * localCheckpointed like the CC/k-core loops so plan growth stays
    * linear in iters, not exponential.
    */
  def hyperBall(edges: DataFrame, iters: Int = 3): DataFrame = {
    val P = 1000000007L
    val e = edges.select(col("src"), col("dst")).transform(graft.Ckpt.cut)
    val verts = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
    // q48's hash: two multiply-mod rounds with xor-shifts between (one
    // linear map over near-sequential keys skews ctz ranks +50%)
    val h1 = (col("id") * 2654435761L + 104729L) % P
    val h1x = h1.bitwiseXOR(shiftright(h1, 15))
    val h2 = (h1x * 1779033703L) % P
    val h = h2.bitwiseXOR(shiftright(h2, 13))
    var regs = verts
      .select(col("id"), h.bitwiseAND(lit(63L)).as("reg"),
        shiftright(h, 6).as("w"))
      .select(col("id"), col("reg"),
        when(col("w") === 0L, lit(25L))
          .otherwise(bit_count(col("w").bitwiseAND(-col("w")) - 1) + 1L)
          .as("rho"))
      .transform(graft.Ckpt.cut)
    var exact = verts.select(col("id"), col("id").as("nb")).transform(graft.Ckpt.cut)
    val A25 = 2905460551L << 25 // ⌊0.7213/(1+1.079/64)·64²·1e6⌋·2^25
    def estimate(t: Int, r: DataFrame, x: DataFrame): DataFrame =
      r.groupBy("id")
        .agg((sum(expr("shiftleft(cast(1 as bigint), cast(25 - rho as int))"))
          + (lit(64L) - count(lit(1))) * lit(1L << 25)).as("num"))
        .select(col("id"), expr(s"($A25 div num) div 1000000").as("est_ball"))
        .join(x.groupBy("id").agg(count(lit(1)).as("exact_ball")), "id")
        .select(lit(t).as("t"), col("id"), col("est_ball"), col("exact_ball"))
    (1 to iters).map { t =>
      // the register merge and the exact-frontier distinct are
      // independent of each other within a round — cut both in
      // parallel so the two materialization barriers overlap
      val (r2, x2) = graft.Ckpt.cutPar(
        regs.unionAll(
            e.join(regs.withColumnRenamed("id", "did"),
              col("did") === col("dst"))
              .select(col("src").as("id"), col("reg"), col("rho")))
          .groupBy("id", "reg").agg(max("rho").as("rho")),
        exact.unionAll(
            e.join(exact.withColumnRenamed("id", "did"),
              col("did") === col("dst"))
              .select(col("src").as("id"), col("nb")))
          .distinct())
      regs = r2
      exact = x2
      estimate(t, regs, exact)
    }.reduce(_ unionAll _)
  }

  /** Cycle labeling of a FUNCTIONAL graph (every vertex has exactly one
    * successor — dedup canonical-pointer chains, `next`-pointer tables,
    * LCG/rho walks) by pointer doubling, the primitive under
    * [[connectedComponents]]'s pointer-jumping and distributed list
    * ranking: 2^jumpPow-step jump lands every vertex on its terminal
    * cycle, then a min-doubling pass takes the min label over a
    * 2^windowPow-step window — ≥ the cycle length, so the window min IS
    * the cycle min, a deterministic total label. O(jumpPow + windowPow)
    * rounds, each ONE self-equi-join on [v, p] (vs O(tail + cycle)
    * sequential chasing); per-round `localCheckpoint` keeps the doubled
    * plan from re-inlining (the CC loop discipline). Caller guarantees
    * max tail ≤ 2^jumpPow and max cycle ≤ 2^windowPow (x24 pins the
    * measured bounds per SF). Returns [v, w, cycle_min] where w =
    * f^(2^jumpPow)(v), a vertex on v's cycle. */
  def cycleLabel(succ0: DataFrame, jumpPow: Int, windowPow: Int): DataFrame = {
    val succ = succ0.select(col("v"), col("p")).transform(graft.Ckpt.cut)
    // the local arm runs the same doubling recurrence on driver maps
    // (pure pointer composition and window minima), one collect
    // instead of ~2·pow self-join checkpoints
    val spark0 = succ.sparkSession
    if (Arms.local(spark0, "cycle", succ.count(), 1000000L)) {
      import spark0.implicits._
      val sc = succ.as[(Long, Long)].collect()
      val next = sc.toMap
      var jumpM = next // f^(2^0); squares per round
      for (_ <- 1 to jumpPow)
        jumpM = jumpM.map { case (v, p) => v -> jumpM(p) }
      // (p, mn) doubling: after round j, mn(v) = min f^0..f^(2^j-1)(v)
      var pM = next
      var mnM = next.keysIterator.map(v => v -> v).toMap
      for (_ <- 1 to windowPow) {
        val mn2 = mnM.map { case (v, m) => v -> math.min(m, mnM(pM(v))) }
        pM = pM.map { case (v, p) => v -> pM(p) }
        mnM = mn2
      }
      return spark0.createDataset(sc.toSeq.map { case (v, _) =>
        (v, jumpM(v), mnM(jumpM(v))) }).toDF("v", "w", "cycle_min")
    }
    var jump = succ // f^(2^0); each round squares the stride
    for (_ <- 1 to jumpPow)
      jump = jump.as("x").join(jump.as("y"), col("x.p") === col("y.v"))
        .select(col("x.v").as("v"), col("y.p").as("p"))
        .transform(graft.Ckpt.cut)
    // mn(v) after round j = min{f^0(v) .. f^(2^j - 1)(v)}, p = f^(2^j)(v)
    var md = succ.select(col("v"), col("p"), col("v").as("mn"))
    for (_ <- 1 to windowPow)
      md = md.as("x").join(md.as("y"), col("x.p") === col("y.v"))
        .select(col("x.v").as("v"), col("y.p").as("p"),
          least(col("x.mn"), col("y.mn")).as("mn"))
        .transform(graft.Ckpt.cut)
    jump.join(md.select(col("v").as("p"), col("mn").as("cycle_min")), "p")
      .select(col("v"), col("p").as("w"), col("cycle_min"))
  }

  private def ccFromTri(deg: DataFrame, tri: DataFrame): DataFrame =
    deg.where(col("dg") >= 2)
      .select(col("u").as("c"), col("dg"))
      .join(tri, Seq("c"), "left")
      .na.fill(0L, Seq("tri"))
      .withColumn("cc_micro", expr("tri * 2000000 div (dg * (dg - 1))"))
      .select(col("c").as("id"), col("dg"), col("tri"), col("cc_micro"))

  /** Longest-path layering of a DAG edge list [src, dst]: layer(c) =
    * 0 for sources, else 1 + max(layer(pred)) — the topological
    * schedule depth. Iterative max-propagation to fixpoint, O(depth)
    * rounds with the same observe-counted cut discipline as the SCC
    * fixpoints. Caller guarantees acyclicity (a cycle never
    * converges); the SCC condensation is acyclic by construction. */
  def dagLayers(edges0: DataFrame): DataFrame = {
    val edges = edges0.select(col("src"), col("dst"))
      .transform(graft.Ckpt.cut)
    val verts = edges.select(col("src").as("c"))
      .unionAll(edges.select(col("dst").as("c"))).distinct()
    var lay = verts.select(col("c"), lit(0L).as("d"))
      .transform(graft.Ckpt.cut)
    var changed = 1L
    var r = 0
    while (changed > 0) {
      val msg = edges
        .join(lay.select(col("c").as("src"), col("d")), "src")
        .groupBy(col("dst").as("c")).agg(max(col("d") + 1).as("m"))
      val obs = org.apache.spark.sql.Observation(s"graft_dag_$r")
      val next = lay.join(msg, Seq("c"), "left")
        .select(col("c"),
          greatest(col("d"), coalesce(col("m"), col("d"))).as("d"),
          col("d").as("old"))
        .observe(obs, coalesce(
          sum(when(col("d") =!= col("old"), 1L).otherwise(0L)),
          lit(0L)).as("changed"))
        .transform(graft.Ckpt.cut)
      changed = obs.get("changed").asInstanceOf[Long]
      lay = next.select("c", "d")
      r += 1
      if (r > 10000) throw new IllegalStateException(
        "dagLayers did not converge — input has a cycle")
    }
    lay.select(col("c"), col("d").as("layer"))
  }

  /** Exact BFS hop distances from one root over an undirected long-id
    * edge list [u, v]; returns [v, dist]. O(ecc) rounds, each one
    * distinct frontier-expansion join + anti-join against visited,
    * with per-round lineage cuts — the x23/shortestPathsDF wave
    * discipline for a single source. */
  def bfsDistances(und0: DataFrame, root: Long): DataFrame = {
    val spark = und0.sparkSession
    import spark.implicits._
    val und = und0.select(col("u"), col("v")).transform(graft.Ckpt.cut)
    // O(ecc) frontier rounds of 3-exchange jobs collapse to one driver
    // BFS — identical (v, dist) set by BFS uniqueness
    if (Arms.local(spark, "bfs", und.count(), 1000000L)) {
      val adj = und.as[(Long, Long)].collect()
        .groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
      val dist = scala.collection.mutable.HashMap(root -> 0L)
      var frontier = Vector(root)
      var d = 0L
      while (frontier.nonEmpty) {
        d += 1
        frontier = frontier
          .flatMap(u => adj.getOrElse(u, Array.empty[Long]))
          .distinct.filterNot(dist.contains)
        frontier.foreach(v => dist(v) = d)
      }
      return spark.createDataset(dist.toSeq).toDF("v", "dist")
    }
    var visited = Seq((root, 0L)).toDF("v", "dist")
      .transform(graft.Ckpt.cut)
    var frontier = visited
    var d = 0L
    var n = 1L
    while (n > 0) {
      d += 1
      val next = und.join(frontier.select(col("v").as("u")), "u")
        .select(col("v")).distinct()
        .join(visited.select("v"), Seq("v"), "anti")
        .withColumn("dist", lit(d))
        .transform(graft.Ckpt.cut)
      n = next.count()
      if (n > 0) {
        visited = visited.unionAll(next).transform(graft.Ckpt.cut)
        frontier = next
      }
    }
    visited
  }

  /** Strongly connected components over a directed long-id edge list
    * [src, dst]; returns [id, scc_id] with scc_id = min member id.
    *
    * Distributed arm is FW-BW-Trim with min-label pivots: per round,
    * (1) trim — a vertex with no in-edge or no out-edge in the live
    * subgraph lies on no cycle, so it peels as a singleton (to
    * fixpoint, which strips whole DAG tails); (2) two min-label
    * fixpoints, F(v) = min id with a directed path TO v and B(v) =
    * min id reachable FROM v; (3) peel every v with F(v) = B(v) = p —
    * mutual reach puts p in SCC(v), and p is then exactly SCC(v)'s
    * min member (min m of the SCC reaches v so F(v) ≤ m, while
    * p ∈ SCC forces p ≥ m). The peeled label is therefore final with
    * no relabel join. Every round peels at least the live min id's
    * SCC, so termination is guaranteed; pathological pivot chains can
    * take O(#SCC) rounds (the known coloring-algorithm worst case) —
    * `maxRounds` guards that, and real transition graphs peel in a
    * handful because every locally-minimal pivot fires simultaneously.
    *
    * Scale shape: everything is equi-joins and aggregates keyed on
    * vertex id (shuffle-partitioned, no broadcast of unbounded sets);
    * the live subgraph shrinks monotonically; per-iteration
    * `Ckpt.cut` keeps lineage flat (reliable under
    * spark.graft.checkpointDir like the other loops). Under the
    * [[Arms]] limit (1M edges ≈ tens of MB of ids) an exact
    * driver-side iterative Tarjan finishes the job; arms
    * equality-pinned in GraphXSpec. */
  def stronglyConnectedComponents(edges0: DataFrame,
      maxRounds: Int = 100): DataFrame = {
    val edges = edges0
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct().transform(graft.Ckpt.cut)
    if (Arms.local(edges.sparkSession, "scc", edges.count(), 1000000L))
      localTarjan(edges)
    else distributedScc(edges, maxRounds)
  }

  /** Iterative (explicit-stack) Tarjan over collected edges; relabels
    * each component to its min member so both arms share the
    * min-member-id contract. */
  private def localTarjan(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.as[(Long, Long)].collect()
    val adj = es.groupBy(_._1).map { case (s, a) => (s, a.map(_._2)) }
    val verts = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
    val index = scala.collection.mutable.HashMap.empty[Long, Int]
    val low = scala.collection.mutable.HashMap.empty[Long, Int]
    val onStk = scala.collection.mutable.HashSet.empty[Long]
    val stk = scala.collection.mutable.ArrayBuffer.empty[Long]
    val comp = scala.collection.mutable.HashMap.empty[Long, Long]
    var counter = 0
    val empty = Array.empty[Long]
    for (root <- verts if !index.contains(root)) {
      // frames: (vertex, next child offset)
      val call = scala.collection.mutable.ArrayBuffer((root, 0))
      while (call.nonEmpty) {
        val (v, ci) = call.last
        if (ci == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stk += v; onStk += v
        }
        val kids = adj.getOrElse(v, empty)
        if (ci < kids.length) {
          call(call.length - 1) = (v, ci + 1)
          val w = kids(ci)
          if (!index.contains(w)) call += ((w, 0))
          else if (onStk(w)) low(v) = math.min(low(v), index(w))
        } else {
          if (low(v) == index(v)) { // v roots an SCC: pop to v, label min
            val members = scala.collection.mutable.ArrayBuffer.empty[Long]
            var w = 0L
            while ({ w = stk.remove(stk.length - 1); onStk -= w
                     members += w; w != v }) ()
            val m = members.min
            members.foreach(comp(_) = m)
          }
          call.remove(call.length - 1)
          if (call.nonEmpty) {
            val (p, _) = call.last
            low(p) = math.min(low(p), low(v))
          }
        }
      }
    }
    spark.createDataset(verts.toSeq.map(v => (v, comp(v))))
      .toDF("id", "scc_id")
  }

  /** Min-label fixpoint over directed edges [from, to]: lab(v) = min
    * id with a directed path to v (seed self). O(diameter) rounds,
    * one propagate-join + observe-counted cut per round. */
  private def minLabelFixpoint(verts: DataFrame, edges: DataFrame,
      tag: String): DataFrame = {
    var lab = verts.select(col("v"), col("v").as("lab"))
      .transform(graft.Ckpt.cut)
    var changed = 1L
    var r = 0
    while (changed > 0) {
      val msg = edges
        .join(lab.select(col("v").as("from"), col("lab")), "from")
        .groupBy(col("to").as("v")).agg(min("lab").as("m"))
      val obs = org.apache.spark.sql.Observation(
        s"graft_scc_${tag}_$r")
      val next = lab.join(msg, Seq("v"), "left")
        .select(col("v"),
          least(col("lab"), coalesce(col("m"), col("lab"))).as("lab"),
          col("lab").as("old"))
        .observe(obs, coalesce(
          sum(when(col("lab") =!= col("old"), 1L).otherwise(0L)),
          lit(0L)).as("changed"))
        .transform(graft.Ckpt.cut)
      changed = obs.get("changed").asInstanceOf[Long]
      lab = next.select("v", "lab")
      r += 1
    }
    lab
  }

  private def distributedScc(edges0: DataFrame, maxRounds: Int): DataFrame = {
    val spark = edges0.sparkSession
    var rem = edges0
    var verts = rem.select(col("src").as("v"))
      .unionAll(rem.select(col("dst").as("v")))
      .distinct().transform(graft.Ckpt.cut)
    var out = verts.limit(0)
      .select(col("v").as("id"), col("v").as("scc_id"))
    var nVerts = verts.count()
    var round = 0
    while (nVerts > 0) {
      round += 1
      if (round > maxRounds) throw new IllegalStateException(
        s"SCC peel exceeded $maxRounds rounds ($nVerts vertices live); " +
          s"raise maxRounds or ${Arms.LimitConf}")
      // trim to fixpoint: no in-edge or no out-edge → singleton SCC
      var trimming = true
      while (trimming && nVerts > 0) {
        val core = verts
          .join(rem.select(col("dst").as("v")).distinct(), Seq("v"), "semi")
          .join(rem.select(col("src").as("v")).distinct(), Seq("v"), "semi")
          .transform(graft.Ckpt.cut)
        val nCore = core.count()
        if (nCore < nVerts) {
          out = out.unionAll(verts.join(core, Seq("v"), "anti")
              .select(col("v").as("id"), col("v").as("scc_id")))
            .transform(graft.Ckpt.cut)
          verts = core
          nVerts = nCore
          rem = rem
            .join(core.select(col("v").as("src")), Seq("src"), "semi")
            .join(core.select(col("v").as("dst")), Seq("dst"), "semi")
            .select("src", "dst").transform(graft.Ckpt.cut)
        } else trimming = false
      }
      if (nVerts > 0) {
        val fwd = minLabelFixpoint(verts,
          rem.select(col("src").as("from"), col("dst").as("to")),
          s"f$round")
        val bwd = minLabelFixpoint(verts,
          rem.select(col("dst").as("from"), col("src").as("to")),
          s"b$round")
        val peel = fwd.join(bwd.withColumnRenamed("lab", "blab"), "v")
          .where(col("lab") === col("blab"))
          .select(col("v").as("id"), col("lab").as("scc_id"))
          .transform(graft.Ckpt.cut)
        out = out.unionAll(peel).transform(graft.Ckpt.cut)
        verts = verts.join(peel.select(col("id").as("v")), Seq("v"), "anti")
          .transform(graft.Ckpt.cut)
        nVerts = verts.count()
        rem = rem
          .join(verts.select(col("v").as("src")), Seq("src"), "semi")
          .join(verts.select(col("v").as("dst")), Seq("dst"), "semi")
          .select("src", "dst").transform(graft.Ckpt.cut)
      }
    }
    spark.sparkContext.setLocalProperty("graft.scc.rounds", round.toString)
    out
  }

  /** Deterministic maximal independent set by Luby-style MIN-ID rounds
    * (the derandomized variant: a vertex wins a round when its id is
    * smaller than every LIVE neighbour's; winners and their neighbours
    * leave). MIS is the primitive under parallel graph coloring,
    * scheduling, and landmark selection; the min-id rule needs no
    * randomness, and its fixpoint equals the SEQUENTIAL greedy-by-id
    * MIS (a vertex is in iff no smaller MIS neighbour — well-founded
    * on ids), which is what the x28 DuckDB mirror replays as
    * round-by-round list algebra.
    *
    * Scale shape: each round is one grouped min over the live edges +
    * two semi/anti joins, all keyed on vertex id — no broadcast of
    * unbounded sets, per-round lineage cuts. Round count is graph-
    * structural (every local minimum fires simultaneously; dense
    * random graphs finish in O(log n)); the known worst case is an
    * id-ascending path (one winner per round), `maxRounds`-guarded
    * like the SCC peel. Emits `graft.mis.rounds`.
    *
    * Input edges [src, dst] are treated as undirected (symmetrized);
    * returns MIS members as [v, mis_round]. */
  def maximalIndependentSet(edges0: DataFrame,
      maxRounds: Int = 200): DataFrame = {
    val spark = edges0.sparkSession
    val e0 = edges0
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .where(col("u") =!= col("v"))
    val sym = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    var liveEdges = sym.transform(graft.Ckpt.cut)
    // the peel is ~5 tiny exchanges per round and rounds serialize on
    // id-ascending chains; the driver sweep keeps the same winners,
    // round tags and rounds metric (MisSpec + arms test pin it)
    if (Arms.local(spark, "mis", liveEdges.count(), 1000000L)) {
      import spark.implicits._
      val adj = liveEdges.as[(Long, Long)].collect()
        .groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
      val live = scala.collection.mutable.TreeSet.empty[Long]
      adj.keysIterator.foreach(live += _)
      val out = scala.collection.mutable.ListBuffer.empty[(Long, Int)]
      var round = 0
      while (live.nonEmpty) {
        round += 1
        if (round > maxRounds) throw new IllegalStateException(
          s"MIS exceeded $maxRounds rounds (${live.size} vertices " +
            "live); raise maxRounds (id-ascending chains serialize " +
            "the peel)")
        val winners = live.iterator.filter { v =>
          val ns = adj(v).filter(live)
          ns.isEmpty || v < ns.min
        }.toVector
        winners.foreach(v => out += ((v, round)))
        val killed = winners.toSet ++
          winners.flatMap(v => adj(v).filter(live))
        killed.foreach(live -= _)
      }
      spark.sparkContext.setLocalProperty("graft.mis.rounds",
        round.toString)
      return spark.createDataset(out.toSeq).toDF("v", "mis_round")
    }
    var live = sym.select(col("u").as("v")).distinct()
      .transform(graft.Ckpt.cut)
    var mis = live.select(col("v"), lit(0).as("mis_round")).limit(0)
    var round = 0
    var nLive = live.count()
    while (nLive > 0) {
      round += 1
      if (round > maxRounds) throw new IllegalStateException(
        s"MIS exceeded $maxRounds rounds ($nLive vertices live); " +
          "raise maxRounds (id-ascending chains serialize the peel)")
      // winners: live vertices below every live neighbour (isolated
      // live vertices have no live edge → win by definition)
      val minNbr = liveEdges.groupBy("u").agg(min("v").as("mn"))
        .withColumnRenamed("u", "v")
      val winners = live.join(minNbr, Seq("v"), "left")
        .where(col("mn").isNull || col("v") < col("mn"))
        .select(col("v"), lit(round).as("mis_round"))
        .transform(graft.Ckpt.cut)
      mis = mis.unionAll(winners)
      val killed = winners.select("v")
        .unionAll(liveEdges
          .join(winners.select(col("v").as("u")), Seq("u"), "semi")
          .select("v"))
        .distinct()
      live = live.join(killed, Seq("v"), "anti").transform(graft.Ckpt.cut)
      liveEdges = liveEdges
        .join(live.select(col("v").as("u")), Seq("u"), "semi")
        .join(live, Seq("v"), "semi")
        .transform(graft.Ckpt.cut)
      nLive = live.count()
    }
    spark.sparkContext.setLocalProperty("graft.mis.rounds", round.toString)
    mis
  }

  /** Deterministic greedy graph coloring by Jones–Plassmann min-id
    * rounds: a vertex colors itself the round after ALL its smaller-id
    * neighbours are colored, taking the mex (smallest color absent
    * among them). The parallel fixpoint equals the sequential greedy
    * sweep by ascending id — within a round no two ready vertices are
    * adjacent-and-ordered, so simultaneous coloring cannot conflict —
    * and its color-0 class is exactly [[maximalIndependentSet]]'s
    * greedy MIS (pinned in ColoringSpec). Colors ≤ maxDegree + 1.
    *
    * Scale shape mirrors the MIS peel: per round one semi/anti
    * dependency probe + one grouped collect of (bounded, ≤ degree)
    * neighbour colors, everything keyed on vertex id, per-round
    * lineage cuts. Round count = longest id-ascending path + 1
    * (graph-structural, not volume-bound); `maxRounds`-guarded.
    * Emits `graft.coloring.rounds`. Input [src, dst] symmetrized;
    * returns [v, color]. */
  def greedyColoring(edges0: DataFrame, maxRounds: Int = 300): DataFrame = {
    val spark = edges0.sparkSession
    val e0 = edges0
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .where(col("u") =!= col("v"))
    val sym = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    // dependency edges: v waits on its smaller neighbour s
    val dep = sym.where(col("v") < col("u"))
      .select(col("u").as("v"), col("v").as("s"))
      .transform(graft.Ckpt.cut)
    // the driver sweep runs the same Jones–Plassmann recurrence — same
    // colors, same round count (a vertex colors in round 1 + max(round
    // of smaller neighbours)); dep holds one direction, so rows·2 =
    // symmetric edge count
    if (Arms.local(spark, "coloring", dep.count() * 2, 1000000L)) {
      import spark.implicits._
      val deps = dep.as[(Long, Long)].collect()
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
      val verts = sym.select(col("u")).distinct()
        .as[Long].collect().sorted
      val color = scala.collection.mutable.HashMap.empty[Long, Int]
      val rnd = scala.collection.mutable.HashMap.empty[Long, Int]
      var rounds = 0
      verts.foreach { v =>
        val smaller = deps.getOrElse(v, Array.empty[Long])
        // ascending order guarantees every smaller neighbour is done
        val used = smaller.map(color).toSet
        val mex = Iterator.from(0).find(!used.contains(_)).get
        color(v) = mex
        val r = 1 + (if (smaller.isEmpty) 0 else smaller.map(rnd).max)
        if (r > maxRounds) throw new IllegalStateException(
          s"coloring exceeded $maxRounds rounds; " +
            "raise maxRounds (id-ascending paths serialize the sweep)")
        rnd(v) = r
        if (r > rounds) rounds = r
      }
      spark.sparkContext.setLocalProperty("graft.coloring.rounds",
        rounds.toString)
      return spark.createDataset(
        verts.toSeq.map(v => (v, color(v)))).toDF("v", "color")
    }
    var uncolored = sym.select(col("u").as("v")).distinct()
      .transform(graft.Ckpt.cut)
    var colored = uncolored.select(col("v"), lit(0).as("color")).limit(0)
    var round = 0
    var n = uncolored.count()
    while (n > 0) {
      round += 1
      if (round > maxRounds) throw new IllegalStateException(
        s"coloring exceeded $maxRounds rounds ($n vertices uncolored); " +
          "raise maxRounds (id-ascending paths serialize the sweep)")
      val blocked = dep
        .join(uncolored.select(col("v").as("s")), Seq("s"), "semi")
        .select("v").distinct()
      val ready = uncolored.join(blocked, Seq("v"), "anti")
      // mex over the (≤ degree) colors of the smaller neighbours
      val nbrColors = dep.join(ready, Seq("v"), "semi")
        .join(colored.withColumnRenamed("v", "s"), Seq("s"))
        .groupBy("v").agg(collect_set(col("color")).as("cs"))
      val newColored = ready.join(nbrColors, Seq("v"), "left")
        .select(col("v"), {
          val cs = coalesce(col("cs"), array().cast("array<int>"))
          element_at(filter(sequence(lit(0), size(cs)),
            c => !array_contains(cs, c)), 1).as("color")
        })
        .transform(graft.Ckpt.cut)
      colored = colored.unionAll(newColored)
      uncolored = uncolored.join(newColored.select("v"), Seq("v"), "anti")
        .transform(graft.Ckpt.cut)
      n = uncolored.count()
    }
    spark.sparkContext.setLocalProperty("graft.coloring.rounds",
      round.toString)
    colored
  }

  /** Deterministic maximal matching by MIN-POINTER handshake rounds
    * (the derandomized symmetry-breaking variant: every live vertex
    * points at its smallest live neighbour; mutual pointers match and
    * both endpoints leave). Completes the parallel-scheduling trio
    * with [[maximalIndependentSet]] and [[greedyColoring]] — matching
    * is the pairwise-merge / two-party-exchange scheduling primitive.
    * Progress is guaranteed: the globally smallest live vertex is its
    * own min-neighbour's min-neighbour, so every round matches ≥ 1
    * pair; an id-ascending path still serializes (~n/2 rounds, the
    * family worst case) — `maxRounds`-guarded, `graft.matching.rounds`
    * emitted. Per round: one grouped min + one self-join on the
    * pointer pairs + two anti-join prunes, lineage-cut.
    *
    * Input [src, dst] symmetrized; returns matched pairs
    * [u, v, mround] with u &lt; v. */
  def maximalMatching(edges0: DataFrame, maxRounds: Int = 200): DataFrame = {
    val spark = edges0.sparkSession
    val e0 = edges0
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .where(col("u") =!= col("v"))
    var liveEdges = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct().transform(graft.Ckpt.cut)
    // an explicit empty relation, NOT limit(0) over liveEdges: Union
    // constraint rewriting trips over the pruned child's constraints
    // (key-not-found on the checkpointed attr) when downstream plans
    // aggregate over the union
    var matched = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("u",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("mround",
          org.apache.spark.sql.types.IntegerType, nullable = false))))
    // the driver sweep runs the identical min-pointer handshake rounds
    // — same pairs, same round tags, same rounds metric
    val matNE = liveEdges.count()
    if (Arms.local(spark, "matching", matNE, 1000000L)) {
      import spark.implicits._
      val adj = liveEdges.as[(Long, Long)].collect()
        .groupBy(_._1).map { case (u, es) =>
          u -> scala.collection.mutable.TreeSet(es.map(_._2): _*) }
      val liveV = scala.collection.mutable.Set.empty[Long]
      adj.keysIterator.foreach(liveV += _)
      val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Int)]
      var round = 0
      def anyEdge: Boolean = liveV.exists(v => adj(v).nonEmpty)
      while (anyEdge) {
        round += 1
        if (round > maxRounds) throw new IllegalStateException(
          s"matching exceeded $maxRounds rounds; raise maxRounds " +
            "(id-ascending paths serialize the handshake)")
        val pairs = liveV.iterator.filter(v => adj(v).nonEmpty)
          .flatMap { u =>
            val mu = adj(u).head
            if (u < mu && adj(mu).nonEmpty && adj(mu).head == u)
              Some((u, mu)) else None
          }.toVector
        pairs.foreach { case (u, v) => out += ((u, v, round)) }
        val mv = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
        mv.foreach { w => liveV -= w }
        liveV.foreach(v => mv.foreach(adj(v) -= _))
        mv.foreach(adj(_).clear())
      }
      spark.sparkContext.setLocalProperty("graft.matching.rounds",
        round.toString)
      return spark.createDataset(out.toSeq).toDF("u", "v", "mround")
    }
    var round = 0
    var nEdges = matNE
    while (nEdges > 0) {
      round += 1
      if (round > maxRounds) throw new IllegalStateException(
        s"matching exceeded $maxRounds rounds ($nEdges edges live); " +
          "raise maxRounds (id-ascending paths serialize the handshake)")
      val mn = liveEdges.groupBy("u").agg(min("v").as("mn"))
      val pairs = mn.as("a")
        .join(mn.as("b"),
          col("a.mn") === col("b.u") && col("b.mn") === col("a.u") &&
            col("a.u") < col("b.u"))
        .select(col("a.u").as("u"), col("b.u").as("v"),
          lit(round).as("mround"))
        .transform(graft.Ckpt.cut)
      matched = matched.unionAll(pairs)
      val mv = pairs.select(col("u").as("w"))
        .unionAll(pairs.select(col("v").as("w"))).distinct()
      liveEdges = liveEdges
        .join(mv.withColumnRenamed("w", "u"), Seq("u"), "anti")
        .join(mv.withColumnRenamed("w", "v"), Seq("v"), "anti")
        .select("u", "v")
        .transform(graft.Ckpt.cut)
      nEdges = liveEdges.count()
    }
    spark.sparkContext.setLocalProperty("graft.matching.rounds",
      round.toString)
    // re-root the result: the checkpointed per-round pair frames carry
    // origin constraints from the mn self-join whose attrs are no
    // longer in scope, and Union constraint rewriting downstream
    // throws key-not-found on them (Spark's LogicalRDD keeps
    // originConstraints). One narrow conversion detaches the plan.
    spark.createDataFrame(matched.rdd, matched.schema)
  }

  /** Borůvka minimum spanning forest (x31) over weighted undirected
    * edges [u, v, w] (u &lt; v, one row per edge, integer weights):
    * each round EVERY component picks its minimum incident cross edge
    * under the TOTAL order (w, u, v) — no ties can exist, so the
    * forest is UNIQUE and a sequential Kruskal over the same order
    * (the DuckDB oracle) must produce the identical edge set — then
    * components contract (connected components over the picked
    * pseudo-forest) and the round repeats on the surviving cross
    * edges. Component count at least halves per round (every live
    * component hooks), so rounds ≤ log2(V) — volume-INDEPENDENT for
    * fixed structure, the 100 TB property ScaleRehearsalSpec pins.
    * Per round: two label joins + one struct-min aggregate + a CC over
    * ≤ #components picked pairs — all equi-joins on the SHRINKING
    * cross-edge set, lineage cut per round like the kCore loop.
    * Returns the forest as [u, v, w, rnd]. */
  def boruvkaMsf(edges0: DataFrame, maxRounds: Int = 64): DataFrame = {
    val spark = edges0.sparkSession
    val e0 = edges0.select(col("u").cast("long").as("u"),
        col("v").cast("long").as("v"), col("w").cast("long").as("w"))
      .where(col("u") < col("v")).distinct()
      .transform(graft.Ckpt.cut)
    var comp = e0.select(col("u").as("vx"))
      .unionAll(e0.select(col("v").as("vx"))).distinct()
      .select(col("vx"), col("vx").as("c"))
      .transform(graft.Ckpt.cut)
    var live = e0
    var forest = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("u",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rnd",
          org.apache.spark.sql.types.IntegerType, nullable = false))))
    var round = 0
    var done = false
    while (!done) {
      round += 1
      if (round > maxRounds) throw new IllegalStateException(
        s"Borůvka exceeded $maxRounds rounds; component count halves " +
          "per round, so this indicates a contraction regression")
      // cross edges under the current labels; within-component edges
      // never become cross again, so the live set only shrinks
      val ec = live
        .join(comp.select(col("vx").as("u"), col("c").as("cu")), "u")
        .join(comp.select(col("vx").as("v"), col("c").as("cv")), "v")
        .where(col("cu") =!= col("cv"))
        .transform(graft.Ckpt.cut)
      if (ec.isEmpty) done = true
      else {
        // min incident edge per component — struct min IS the
        // (w, u, v) total order; both endpoint components charge, the
        // same edge picked from both sides dedups
        val cand = ec.select(col("cu").as("c"),
            struct(col("w"), col("u"), col("v"), col("cu"), col("cv"))
              .as("e"))
          .unionAll(ec.select(col("cv").as("c"),
            struct(col("w"), col("u"), col("v"), col("cu"), col("cv"))
              .as("e")))
        val picked = cand.groupBy("c").agg(min("e").as("e"))
          .select(col("e.w").as("w"), col("e.u").as("u"),
            col("e.v").as("v"), col("e.cu").as("cu"), col("e.cv").as("cv"))
          .distinct()
          .transform(graft.Ckpt.cut)
        forest = forest.unionAll(picked.select(col("u"), col("v"),
          col("w"), lit(round).as("rnd")))
        // contract: components of the picked pseudo-forest (≤ one pick
        // per component, so |pairs| ≤ #components); any CONSISTENT
        // representative works — labels never reach the output. The
        // pseudo-forest is tiny relative to the graph (halving per
        // round), so under CC's 1M default the union-find runs
        // directly on the driver from the already-checkpointed picked
        // rows — the full connectedComponents call spent ~6
        // choreography jobs per round on leaf-peel frames just to
        // reach the same collect. Above it the distributed CC path
        // still runs.
        val cc = if (Arms.local(spark, "msf", picked.count(), 1000000L)) {
          import spark.implicits._
          val prs = picked.select(col("cu"), col("cv"))
            .as[(Long, Long)].collect()
          broadcast(spark.createDataset(unionFind(prs)).toDF("oldc", "newc"))
        } else connectedComponents(picked.select(
            col("cu").cast("string").as("src_id"),
            col("cv").cast("string").as("dst_id")))
          .select(col("id").cast("long").as("oldc"),
            col("component").cast("long").as("newc"))
        comp = comp
          .join(cc.withColumnRenamed("oldc", "c"), Seq("c"), "left")
          .select(col("vx"), coalesce(col("newc"), col("c")).as("c"))
          .transform(graft.Ckpt.cut)
        live = ec.select("u", "v", "w")
      }
    }
    spark.sparkContext.setLocalProperty("graft.msf.rounds", round.toString)
    spark.createDataFrame(forest.rdd, forest.schema)
  }

  /** One level of Louvain community detection (Blondel et al. 2008) as
    * DETERMINISTIC synchronous gain rounds — the modularity-driven
    * companion to [[labelPropagation]] and the local-move engine the
    * classic sequential sweep hides inside a driver loop.
    *
    * Every round, from the SAME snapshot of assignments, each vertex u
    * scores every neighbouring community c (plus staying put) by the
    * exact-integer modularity-gain order
    * `2m·k(u,c) − deg(u)·(tot(c) − [c = cur]·deg(u))` (the standard
    * ΔQ comparison scaled by 2m² — BIGINT, no floats), picks the best
    * non-current candidate (ties → smallest community id), and moves
    * iff that beats staying STRICTLY. Synchronous moves can oscillate
    * on symmetric pairs (u↔v swapping forever), so the classic
    * parallel-Louvain guard applies: when both the current and the
    * target community are singletons, only the vertex moving to the
    * SMALLER label moves (Lu/Halappanavar-style swap prevention) —
    * the pair merges instead of swapping. Rounds stop at fixpoint
    * (no vertex moves) or `maxRounds`.
    *
    * Scale shape: per round one equi-join of edges against the
    * assignment (k(u,c) by hash-agg), one grouped (size, degree-mass)
    * frame per community, one window argmax per vertex — everything
    * keyed on vertex/community ids, no all-pairs, per-round lineage
    * cuts; state is one long per vertex. Emits `graft.louvain.rounds`.
    *
    * Input edges [src, dst] are treated as undirected (symmetrized,
    * self-loops dropped); returns [v, comm, deg] after the level's
    * fixpoint. */
  def louvainOneLevel(edges0: DataFrame, maxRounds: Int = 16): DataFrame = {
    val e0 = edges0
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .where(col("u") =!= col("v"))
    val sym = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct().withColumn("w", lit(1L))
    louvainRounds(sym, selfLoops = None, maxRounds)
  }

  /** Weighted Louvain level over a contracted supergraph: `edges0` is
    * [u, v, w] (undirected, no self rows), `selfLoops` is [v, sw] —
    * the internal mass each supernode carries from the level below
    * (counted TWICE in its degree, per the standard convention; it
    * moves with the node, so it enters the gain order only through
    * deg and 2m). Same deterministic round rules as the unweighted
    * level. Returns [v, c, deg]. */
  def louvainWeighted(edges0: DataFrame, selfLoops: DataFrame,
      maxRounds: Int = 16): DataFrame = {
    val e0 = edges0
      .select(col("u").cast("long").as("u"), col("v").cast("long").as("v"),
        col("w").cast("long").as("w"))
      .where(col("u") =!= col("v"))
    val sym = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v"),
      col("w")))
    louvainRounds(sym, Some(selfLoops
      .select(col("v").cast("long").as("v"),
        col("sw").cast("long").as("sw"))), maxRounds)
  }

  /** The shared synchronous gain-round engine: `sym` is the
    * symmetrized weighted edge list [u, v, w].
    *
    * Round shape (r9 optimization — semantics unchanged, pinned by
    * LouvainSpec's simulator property test and the x32/x33/x34
    * oracles): the previous structure materialized THREE checkpoints
    * per round (scored, moves, comm) plus a join of comm back against
    * the move set; on the tiny-per-round frames every x3x entry runs
    * at sf0.1 that was pure job-choreography cost (guide §1.2 — fix
    * the distributed algorithm first). Now one window pass computes
    * the best candidate AND the stay score per vertex (the stay row is
    * ranked LAST via the is-own sort key, so rn=1 is the best non-own
    * candidate exactly as before), and the round's output IS the next
    * assignment — one checkpoint per round, no join back, `moved`
    * counted on the checkpointed result.
    *
    * When `wantQ` and the loop ends at a true fixpoint (not the round
    * budget), the final round's per-vertex rows already carry k(u,
    * c(u)) against the final assignment, so Q·(2m)² folds out of two
    * small aggregates over the checkpoint instead of the two
    * edge-list joins [[louvainHierarchy.qScaled]] pays: Σ_c in_c =
    * Σ_u k(u,c(u)) + 2·Σ self, and Σ_c tot_c² from the per-vertex deg
    * rows. Published as local property `graft.louvain.qfix` (BigInt
    * string; cleared per call, absent on budget exit). */
  /** Driver-side mirror of the synchronous gain rounds over collected
    * (u, v, w) symmetric edges — the identical exact-integer
    * recurrence (snapshot scores, strict improvement, min-label ties,
    * singleton-swap guard, round budget), so the result is
    * bit-identical to the distributed arm (LouvainSpec pins both
    * against an independent simulator). Returns (assignment,
    * degrees, rounds, reachedFixpoint, Σ_u k(u,c(u)) at the fixpoint
    * round, Σ_c tot_c² at the fixpoint round). */
  private def louvainRoundsArrays(
      edges: Array[(Long, Long, Long)], selfs: Map[Long, Long],
      maxRounds: Int): (scala.collection.mutable.HashMap[Long, Long],
        Map[Long, Long], Int, Boolean, Long, BigInt) = {
    val aw = scala.collection.mutable.HashMap.empty[Long, Long]
    edges.foreach { case (u, _, w) =>
      aw.update(u, aw.getOrElse(u, 0L) + w) }
    val deg = (aw.keySet ++ selfs.keySet).iterator.map(v =>
      v -> (aw.getOrElse(v, 0L) + 2L * selfs.getOrElse(v, 0L))).toMap
    val twoM = deg.values.sum
    val comm = scala.collection.mutable.HashMap.empty[Long, Long]
    deg.keysIterator.foreach(v => comm(v) = v)
    if (twoM == 0L) return (comm, deg, 0, false, 0L, BigInt(0))
    val nbrs = edges.groupBy(_._1).map { case (u, es) =>
      u -> es.map(e => (e._2, e._3)) }
    var round = 0
    var moved = 1L
    var fixpoint = false
    var stayK = 0L
    var totSq = BigInt(0)
    while (moved > 0) {
      round += 1
      if (round > maxRounds) moved = 0L
      else {
        val tot = scala.collection.mutable.HashMap.empty[Long, Long]
        val csize = scala.collection.mutable.HashMap.empty[Long, Long]
        deg.foreach { case (v, dv) =>
          val c = comm(v)
          tot.update(c, tot.getOrElse(c, 0L) + dv)
          csize.update(c, csize.getOrElse(c, 0L) + 1L)
        }
        var movedNow = 0L
        var kOwnSum = 0L
        val next = scala.collection.mutable.HashMap.empty[Long, Long]
        deg.foreach { case (u, du) =>
          val cur = comm(u)
          val k = scala.collection.mutable.HashMap.empty[Long, Long]
          nbrs.getOrElse(u, Array.empty).foreach { case (v, w) =>
            val cv = comm(v)
            k.update(cv, k.getOrElse(cv, 0L) + w)
          }
          def score(cand: Long): Long = twoM * k.getOrElse(cand, 0L) -
            du * (tot(cand) - (if (cand == cur) du else 0L))
          kOwnSum += k.getOrElse(cur, 0L)
          val stayScore = score(cur)
          var bestC = Long.MinValue
          var bestS = Long.MinValue
          var any = false
          k.keysIterator.filter(_ != cur).foreach { cand =>
            val s = score(cand)
            if (!any || s > bestS || (s == bestS && cand < bestC)) {
              any = true; bestS = s; bestC = cand
            }
          }
          val doMove = any && bestS > stayScore &&
            !(csize(cur) == 1L && csize(bestC) == 1L && bestC > cur)
          if (doMove) { next(u) = bestC; movedNow += 1L }
          else next(u) = cur
        }
        moved = movedNow
        if (moved == 0L) {
          fixpoint = true
          stayK = kOwnSum
          totSq = tot.valuesIterator
            .map(t => BigInt(t) * BigInt(t)).sum
        }
        next.foreach { case (v, c) => comm(v) = c }
      }
    }
    (comm, deg, round, fixpoint, stayK, totSq)
  }

  private def louvainRounds(sym0: DataFrame, selfLoops: Option[DataFrame],
      maxRounds: Int, wantQ: Boolean = false): DataFrame = {
    val spark = sym0.sparkSession
    // A lineage cut PRESERVES origin stats on its LogicalRDD leaf, and
    // unlike the semi/anti-join peels (whose stats pass through
    // unchanged), Louvain's inner+full joins MULTIPLY sizeInBytes —
    // so across rounds the accumulator's BigInt stats would compound
    // (~4x the digit count per round) until the stats walk itself
    // dominates planning. Rebuilding the frame from the checkpointed
    // RDD drops origin stats back to the session default: O(1)-size
    // stats every round.
    def rebase(df: DataFrame): DataFrame = {
      val cut = graft.Ckpt.cut(df)
      cut.sparkSession.createDataFrame(cut.rdd, cut.schema)
    }
    val sym = sym0.transform(graft.Ckpt.cut)
    // each synchronous round is ~8 exchanges (and under AQE each
    // exchange is its own scheduled job) — at sf0.1 the distributed
    // x34 fixpoints spent ~500 single-stage jobs moving <1 MB.
    // LouvainSpec pins both arms against an independent simulator and
    // against each other.
    if (Arms.local(spark, "louvain", sym.count(), 1000000L)) {
      import spark.implicits._
      val edges = sym.select(col("u"), col("v"), col("w"))
        .as[(Long, Long, Long)].collect()
      val selfs = selfLoops.map(_.select(col("v"), col("sw"))
        .as[(Long, Long)].collect().toMap).getOrElse(Map.empty[Long, Long])
      val (asg, deg, rounds, fixpoint, stayK, totSq) =
        louvainRoundsArrays(edges, selfs, maxRounds)
      spark.sparkContext.setLocalProperty("graft.louvain.qfix",
        if (wantQ && fixpoint) {
          val twoM = deg.values.sum
          val selfTot = selfs.values.sum
          (BigInt(twoM) * (BigInt(stayK) + 2 * BigInt(selfTot)) -
            totSq).toString
        } else null)
      spark.sparkContext.setLocalProperty("graft.louvain.rounds",
        rounds.toString)
      return spark.createDataset(asg.iterator
          .map { case (v, c) => (v, c, deg(v)) }.toSeq)
        .toDF("v", "c", "deg")
    }
    val adjMass = sym.groupBy(col("u").as("v"))
      .agg(sum("w").as("aw"))
    val degs = selfLoops match {
      case None => adjMass.select(col("v"), col("aw").as("deg"))
      // FULL outer: a supernode whose only mass is self-loops (an
      // isolated level-1 community — no cross-community edges) has no
      // adjMass row but must stay in the vertex universe as its own
      // community with deg = 2·sw, or the level silently drops it
      // from the assignment (and the hierarchy's vertex/mass totals).
      case Some(sl) => adjMass.join(sl, Seq("v"), "full")
        .select(col("v"),
          (coalesce(col("aw"), lit(0L)) +
            lit(2L) * coalesce(col("sw"), lit(0L))).as("deg"))
    }
    var comm = rebase(degs.select(col("v"), col("v").as("c"),
      col("deg")))
    // coalesce: sum over ZERO rows is null — a degenerate/filtered-empty
    // graph returns the empty [v, c, deg] frame like the other entry
    // points instead of NPEing on the driver
    val twoM = comm.agg(coalesce(sum("deg"), lit(0L)))
      .first().getLong(0) // Σdeg = 2m
    spark.sparkContext.setLocalProperty("graft.louvain.qfix", null)
    if (twoM == 0L) {
      spark.sparkContext.setLocalProperty("graft.louvain.rounds", "0")
      return comm
    }
    var round = 0
    var moved = 1L
    var fixpoint = false
    var last: DataFrame = null // final round's [v, c, deg, chg, kown]
    while (moved > 0) {
      round += 1
      if (round > maxRounds) {
        // synchronous dynamics are not CONTRACTIVE like the peels —
        // stop at the budget with the best-so-far assignment instead
        // of failing (the guard exists so a pathological oscillation
        // can't loop forever)
        moved = 0L
      } else {
        val sizeTot = comm.groupBy("c")
          .agg(count(lit(1)).as("csize"), sum("deg").as("tot"))
        // k(u, c): edge mass from u into each neighbouring community,
        // from the round's snapshot
        val kuc = sym
          .join(comm.select(col("v"), col("c").as("cand")), "v")
          .groupBy("u", "cand").agg(sum("w").as("k"))
        // the stay option always scores, even with no own-community
        // neighbours (k = 0)
        val own = comm.select(col("v").as("u"), col("c").as("cand"))
        val cands = kuc
          .join(own, Seq("u", "cand"), "full")
          .select(col("u"), col("cand"),
            coalesce(col("k"), lit(0L)).as("k"))
        val cur = comm.select(col("v").as("u"), col("c").as("cur"),
          col("deg"))
        val scored = cands
          .join(cur, "u")
          .join(sizeTot.withColumnRenamed("c", "cand")
            .withColumnRenamed("csize", "cand_size")
            .withColumnRenamed("tot", "cand_tot"), "cand")
          .withColumn("score", lit(twoM) * col("k") - col("deg") *
            (col("cand_tot") -
              when(col("cand") === col("cur"), col("deg"))
                .otherwise(lit(0L))))
        // one exchange on u serves both windows: the unordered frame
        // carries the stay row's score/size/k to every candidate row,
        // and the ordered rank puts the stay row LAST (is-own key) so
        // rn=1 is the best candidate ≠ cur with the identical
        // (score desc, cand asc) tie order as before — when cur is
        // the ONLY row (no outside neighbours) rn=1 is the stay row
        // and the move predicate rejects it, matching the old
        // empty-best semantics
        val wAgg = org.apache.spark.sql.expressions.Window
          .partitionBy("u")
        val wOrd = org.apache.spark.sql.expressions.Window
          .partitionBy("u").orderBy((col("cand") === col("cur")).asc,
            col("score").desc, col("cand").asc)
        val isOwn = col("cand") === col("cur")
        val mv = col("cand") =!= col("cur") &&
          col("score") > col("stay_score") &&
          !(col("cur_size") === 1 && col("cand_size") === 1 &&
            col("cand") > col("cur"))
        val next = rebase(scored
          .withColumn("stay_score", max(when(isOwn, col("score"))).over(wAgg))
          .withColumn("cur_size", max(when(isOwn, col("cand_size"))).over(wAgg))
          .withColumn("kown", max(when(isOwn, col("k"))).over(wAgg))
          .withColumn("rn", row_number().over(wOrd))
          .where(col("rn") === 1)
          .select(col("u").as("v"),
            when(mv, col("cand")).otherwise(col("cur")).as("c"),
            col("deg"), mv.as("chg"), col("kown")))
        moved = next.where(col("chg")).count()
        if (moved == 0L) { fixpoint = true; last = next }
        comm = next.select(col("v"), col("c"), col("deg"))
      }
    }
    if (wantQ && fixpoint) {
      // Q·(2m)² of the fixpoint, from the final round's own rows (the
      // round that observed moved == 0 scored every vertex against the
      // FINAL assignment): Σ_c(2m·in_c − tot_c²) with
      // Σ_c in_c = Σ_u kown + 2·Σ sw and tot_c = Σ_{v∈c} deg
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val selfTot = selfLoops.map(_.agg(coalesce(sum("sw"), lit(0L)))
        .first().getLong(0)).getOrElse(0L)
      val r = last.groupBy("c")
        .agg(sum(col("kown").cast(dec)).as("sk"),
          sum(col("deg").cast(dec)).as("tot"))
        .agg(coalesce(sum(col("sk")), lit(0).cast(dec)).as("sk"),
          coalesce(sum(col("tot") * col("tot")), lit(0).cast(dec)).as("t2"))
        .first()
      val q = BigInt(twoM) *
        (BigInt(r.getDecimal(0).toBigInteger) + 2 * BigInt(selfTot)) -
        BigInt(r.getDecimal(1).toBigInteger)
      spark.sparkContext.setLocalProperty("graft.louvain.qfix", q.toString)
    }
    spark.sparkContext.setLocalProperty("graft.louvain.rounds",
      round.toString)
    comm
  }

  /** The FULL Blondel et al. multi-level loop: run gain rounds to the
    * level's fixpoint, contract communities into a weighted supergraph
    * (cross masses + self loops), and repeat WHILE the level's
    * exact-integer modularity gain clears `minGain` — closing the
    * round-7 hazard that x33's fixed two-level budget surfaced a
    * possibly-non-final assignment with no signal.
    *
    * Convergence is decided on Q·(2m)² = Σ_c (2m·in_c − tot_c²) —
    * modularity scaled to an exact integer (DECIMAL(38,0) sums, no
    * float drift), computed on the level's own supergraph; contraction
    * preserves Q, so consecutive levels compare directly. A level
    * whose fixpoint moves NOTHING ends the loop without counting (the
    * contraction would be the identity); a level whose integer gain is
    * below `minGain` keeps its assignment and ends it.
    *
    * Scale shape: per level one louvainRounds fixpoint (each round
    * linear in edges), one Q aggregate (two equi-joins + hash agg),
    * one contraction (two equi-joins + hash agg), one two-column
    * mapping fold — and each level's graph shrinks by the community
    * count, which is what makes the loop iterable at 100 TB.
    *
    * Emits local properties: `graft.louvain.levels` (levels that
    * moved), `graft.louvain.levelRounds` (csv), `graft.louvain.gains`
    * (csv of integer gains), `graft.louvain.converged`
    * (true unless the maxLevels budget stopped it).
    *
    * Returns the composed assignment [v, comm] — original vertex to
    * final community, labels stable as min original member. */
  def louvainHierarchy(edges0: DataFrame, maxLevels: Int = 8,
      maxRounds: Int = 16, minGain: Long = 1L): DataFrame = {
    val spark = edges0.sparkSession
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def rebase(df: DataFrame): DataFrame = {
      val cut = graft.Ckpt.cut(df)
      cut.sparkSession.createDataFrame(cut.rdd, cut.schema)
    }
    val e0 = edges0
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .where(col("u") =!= col("v"))
    var sym = rebase(e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct().withColumn("w", lit(1L)))
    var self: Option[DataFrame] = None // [v, sw]
    var mapping = rebase(sym.select(col("u").as("v0")).distinct()
      .select(col("v0"), col("v0").as("comm")))
    val twoM = sym.agg(coalesce(sum("w"), lit(0L))).first().getLong(0)

    // dispatch for the WHOLE outer loop: levels only shrink, so a
    // level-0 graph under the local limit keeps every later level
    // under it too — the full multi-level recursion (fixpoints,
    // exact-integer Q convergence, contraction, mapping composition)
    // runs as one driver pass over collected edges, identical math to
    // the DataFrame loop below (same recurrence the x34 oracle
    // replays). At sf0.1 the distributed outer loop was ~500
    // scheduled single-stage jobs moving <1 MB of data.
    if (Arms.local(spark, "louvain", sym.count(), 1000000L)) {
      import spark.implicits._
      var edges = sym.select(col("u"), col("v"), col("w"))
        .as[(Long, Long, Long)].collect()
      var selfs = Map.empty[Long, Long]
      val map = scala.collection.mutable.HashMap.empty[Long, Long]
      edges.foreach(e => map(e._1) = e._1)
      val aw0 = scala.collection.mutable.HashMap.empty[Long, Long]
      edges.foreach { case (u, _, w) =>
        aw0.update(u, aw0.getOrElse(u, 0L) + w) }
      var lq = -aw0.valuesIterator.map(a => BigInt(a) * BigInt(a)).sum
      var level = 0
      var converged = false
      val levelRounds = scala.collection.mutable.ListBuffer.empty[String]
      val gains = scala.collection.mutable.ListBuffer.empty[String]
      while (level < maxLevels && !converged && twoM > 0L) {
        val (asg, deg, rounds, fixpoint, stayK, totSq) =
          louvainRoundsArrays(edges, selfs, maxRounds)
        levelRounds += rounds.toString
        val moved = asg.count { case (v, c) => c != v }
        if (moved == 0L) converged = true
        else {
          val selfTot = selfs.values.sum
          val qNew = if (fixpoint)
            BigInt(twoM) * (BigInt(stayK) + 2 * BigInt(selfTot)) - totSq
          else {
            // round-budget exit: evaluate Q directly on the returned
            // assignment (the qScaled identity — edges are symmetric,
            // so the internal filter counts each undirected edge
            // twice, exactly like the DataFrame inEdges join)
            val inE = edges.iterator
              .filter { case (u, v, _) => asg(u) == asg(v) }
              .map(_._3).sum
            val tot = scala.collection.mutable.HashMap.empty[Long, Long]
            deg.foreach { case (v, dv) =>
              val c = asg(v)
              tot.update(c, tot.getOrElse(c, 0L) + dv)
            }
            BigInt(twoM) * (BigInt(inE) + 2 * BigInt(selfTot)) -
              tot.valuesIterator.map(t => BigInt(t) * BigInt(t)).sum
          }
          gains += (qNew - lq).toString
          if (qNew - lq < BigInt(minGain)) converged = true
          else {
            level += 1
            val cid = scala.collection.mutable.HashMap.empty[Long, Long]
            asg.foreach { case (v, c) =>
              if (!cid.contains(c) || v < cid(c)) cid(c) = v }
            map.keys.toArray.foreach(k => map(k) = cid(asg(map(k))))
            val cross =
              scala.collection.mutable.HashMap.empty[(Long, Long), Long]
            val internal =
              scala.collection.mutable.HashMap.empty[Long, Long]
            edges.foreach { case (u, v, w) =>
              val cu = cid(asg(u)); val cv = cid(asg(v))
              if (cu < cv)
                cross.update((cu, cv), cross.getOrElse((cu, cv), 0L) + w)
              else if (cu == cv && u < v)
                internal.update(cu, internal.getOrElse(cu, 0L) + w)
            }
            selfs.foreach { case (v, sw) =>
              val c = cid(asg(v))
              internal.update(c, internal.getOrElse(c, 0L) + sw)
            }
            selfs = internal.toMap
            edges = cross.iterator.flatMap { case ((a, b), w) =>
              Iterator((a, b, w), (b, a, w)) }.toArray
            lq = qNew
          }
        }
      }
      val sc0 = spark.sparkContext
      sc0.setLocalProperty("graft.louvain.levels", level.toString)
      sc0.setLocalProperty("graft.louvain.levelRounds",
        levelRounds.mkString(","))
      sc0.setLocalProperty("graft.louvain.gains", gains.mkString(","))
      sc0.setLocalProperty("graft.louvain.converged", converged.toString)
      return spark.createDataset(map.toSeq).toDF("v0", "comm")
    }

    /** Q·(2m)² of assignment `asg` [v, c, deg] on the CURRENT level's
      * graph: in_c = internal symmetric edge mass + 2·self mass. */
    def qScaled(asg: DataFrame): BigInt = {
      if (twoM == 0L) return BigInt(0)
      val mem = asg.select(col("v"), col("c"))
      val inEdges = sym
        .join(mem.select(col("v").as("u"), col("c").as("cu")), "u")
        .join(mem.select(col("v"), col("c").as("cv")), "v")
        .where(col("cu") === col("cv"))
        .groupBy(col("cu").as("c")).agg(sum("w").as("iw"))
      val inSelf = self.map(_.join(mem, "v").groupBy("c")
        .agg((sum("sw") * lit(2L)).as("iw")))
      val inC = inSelf.fold(inEdges)(inEdges.unionByName(_))
        .groupBy("c").agg(sum("iw").as("iw"))
      val q = asg.groupBy("c").agg(sum(col("deg").cast(dec)).as("tot"))
        .join(inC, Seq("c"), "left")
        .agg(coalesce(sum(lit(twoM).cast(dec) *
          coalesce(col("iw"), lit(0L)).cast(dec) -
          col("tot") * col("tot")), lit(0L).cast(dec)).as("q"))
        .first().getDecimal(0)
      BigInt(q.toBigInteger)
    }

    // Q of the starting all-singletons partition (level 0, self=None):
    // no symmetric edge is internal to a singleton (u≠v throughout),
    // so Σ in_c = 0 and q0 = −Σ_v deg_v² — one aggregate over the
    // degree frame instead of qScaled's two edge-list joins. Later
    // levels never need this: contraction preserves Q, so each level
    // starts from the previous fixpoint's value (carried in `q`).
    var q = {
      val dg = sym.groupBy(col("u")).agg(sum("w").cast(dec).as("aw"))
        .agg(coalesce(sum(col("aw") * col("aw")), lit(0).cast(dec)))
        .first().getDecimal(0)
      -BigInt(dg.toBigInteger)
    }
    var level = 0
    var converged = false
    val levelRounds = scala.collection.mutable.ListBuffer.empty[String]
    val gains = scala.collection.mutable.ListBuffer.empty[String]
    while (level < maxLevels && !converged && twoM > 0L) {
      val asg = rebase(louvainRounds(sym, self, maxRounds, wantQ = true))
      levelRounds += Option(spark.sparkContext
        .getLocalProperty("graft.louvain.rounds")).getOrElse("?")
      // the fixpoint Q folded out of the final gain round (see
      // louvainRounds); absent only on a round-budget exit, where the
      // two-join qScaled fallback still gives the exact same integer
      val qFix = Option(spark.sparkContext
        .getLocalProperty("graft.louvain.qfix")).map(BigInt(_))
      val moved = asg.where(col("c") =!= col("v")).count()
      if (moved == 0L) converged = true // identity level: loop is done
      else {
        val qNew = qFix.getOrElse(qScaled(asg))
        gains += (qNew - q).toString
        if (qNew - q < BigInt(minGain)) {
          // REJECT the level: synchronous rounds can end the budget on
          // an oscillating state whose Q is no better (or worse) than
          // the partition it started from — keep the best-so-far
          // assignment and stop, like Blondel's outer loop does
          converged = true
        } else {
          level += 1
          val lab = asg.groupBy("c").agg(min("v").as("cid"))
          val mem = rebase(asg.join(lab, "c").select(col("v"), col("cid")))
          // mapping stays LAZY: one shallow join of checkpointed
          // frames per level (≤ maxLevels deep), only evaluated once
          // at the end — rebasing it per level was a pure extra job
          mapping = mapping
            .join(mem.withColumnRenamed("v", "comm"), "comm")
            .select(col("v0"), col("cid").as("comm"))
          // contract: sym is SYMMETRIC, so cu<cv picks each undirected
          // cross edge once and u<v each internal edge once — and ONE
          // grouped aggregate serves both the cross masses (cu<cv) and
          // the internal masses (cu=cv): one exchange, one checkpoint,
          // instead of materializing the tagged edge join and
          // aggregating it twice
          val agg = rebase(sym
            .join(mem.select(col("v").as("u"), col("cid").as("cu")), "u")
            .join(mem.select(col("v"), col("cid").as("cv")), "v")
            .where(col("cu") < col("cv") ||
              (col("cu") === col("cv") && col("u") < col("v")))
            .groupBy(col("cu"), col("cv")).agg(sum("w").as("w")))
          val cross = agg.where(col("cu") < col("cv"))
            .select(col("cu").as("u"), col("cv").as("v"), col("w"))
          val internal = agg.where(col("cu") === col("cv"))
            .select(col("cu").as("v"), col("w").as("sw"))
          val carried = self.map(_.join(mem, "v")
            .groupBy(col("cid").as("v")).agg(sum("sw").as("sw")))
          val newSelf = rebase(carried.fold(internal)(
            internal.unionByName(_)).groupBy("v").agg(sum("sw").as("sw")))
          sym = rebase(cross.unionAll(
            cross.select(col("v").as("u"), col("u").as("v"), col("w"))))
          self = Some(newSelf)
          q = qNew
        }
      }
    }
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.louvain.levels", level.toString)
    sc.setLocalProperty("graft.louvain.levelRounds",
      levelRounds.mkString(","))
    sc.setLocalProperty("graft.louvain.gains", gains.mkString(","))
    sc.setLocalProperty("graft.louvain.converged", converged.toString)
    mapping
  }
}
