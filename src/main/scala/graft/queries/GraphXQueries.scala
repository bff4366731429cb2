package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.sources.GraphStore
import graft.graphx.GraphAnalytics

/** Whole-graph analytics queries (SURVEY.md §7.1 M7) on the derived
  * edges view. Connected components is oracle-checkable (components of
  * the customer→nation→region ∪ orders→customer graph are exactly the
  * five region trees); PageRank is fixed-point float — rows-only here,
  * invariants pinned in GraphXSpec.
  */
object GraphXQueries {

  val registry: Seq[RegQuery] = Seq(

    RegQuery("x01_connected_components",
      (s, d) => GraphAnalytics.connectedComponents(GraphStore.edges(s, d))
        .groupBy("component").agg(count(lit(1)).as("cnt"))
        .orderBy("component"),
      Some("""WITH mem AS (
             |  SELECT r_regionkey AS rk, 'region/' || r_regionkey AS id FROM region
             |  UNION ALL SELECT n_regionkey, 'nation/' || n_nationkey FROM nation
             |  UNION ALL SELECT n_regionkey, 'customer/' || c_custkey
             |    FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  UNION ALL SELECT n_regionkey, 'orders/' || o_orderkey
             |    FROM orders JOIN customer ON o_custkey = c_custkey
             |    JOIN nation ON c_nationkey = n_nationkey)
             |SELECT min(id) AS component, count(*) AS cnt
             |FROM mem GROUP BY rk ORDER BY component""".stripMargin)),

    // fixed 20-iteration integer micro-rank PageRank — deterministic,
    // so the fixpoint loop itself is hash-checked against a DuckDB
    // RECURSIVE CTE running the identical recurrence (the working
    // table of a UNION ALL recursion is exactly "previous iteration")
    RegQuery("x02_pagerank",
      (s, d) => GraphAnalytics.pageRank(GraphStore.edges(s, d), iters = 20)
        .orderBy(col("rank_micro").desc, col("id"))
        .limit(20),
      Some("""WITH RECURSIVE
             |edges AS (
             |  SELECT 'nation/' || n_nationkey AS src,
             |         'region/' || n_regionkey AS dst FROM nation
             |  UNION ALL SELECT 'customer/' || c_custkey,
             |    'nation/' || c_nationkey FROM customer
             |  UNION ALL SELECT 'orders/' || o_orderkey,
             |    'customer/' || o_custkey FROM orders),
             |verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges
             |  UNION ALL SELECT dst FROM edges)),
             |od AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
             |ec AS (SELECT e.src, e.dst, od.od FROM edges e
             |    JOIN od ON e.src = od.src
             |  UNION ALL SELECT id, id, 0 FROM verts),
             |pr AS (
             |  SELECT 0 AS i, id, CAST(1000000 AS BIGINT) AS r FROM verts
             |  UNION ALL
             |  SELECT p.i + 1, ec.dst,
             |    CAST(150000 + (85 * sum(
             |      CASE WHEN ec.od > 0 THEN p.r // ec.od ELSE 0 END)) // 100
             |      AS BIGINT)
             |  FROM pr p JOIN ec ON ec.src = p.id
             |  WHERE p.i < 20
             |  GROUP BY p.i, ec.dst)
             |SELECT id, r AS rank_micro FROM pr WHERE i = 20
             |ORDER BY rank_micro DESC, id LIMIT 20""".stripMargin)),

    // directed hop distances TO two landmarks — exercises direction
    // semantics (orders→customer→nation, never the reverse) and
    // reachability filtering; exact, so fully oracle-checked.
    // Dispatched like CC: Pregel under the edge threshold, DataFrame
    // BFS (the scale path) above it — both equality-pinned in GraphXSpec
    RegQuery("x03_shortest_paths",
      (s, d) => GraphAnalytics.shortestPathsAuto(GraphStore.edges(s, d),
          Seq("nation/1", "customer/7"))
        .orderBy("id", "landmark"),
      Some("""SELECT id, landmark, dist FROM (
             |SELECT 'nation/1' AS id, 'nation/1' AS landmark, 0 AS dist
             |UNION ALL SELECT 'customer/' || c_custkey, 'nation/1', 1
             |  FROM customer WHERE c_nationkey = 1
             |UNION ALL SELECT 'orders/' || o_orderkey, 'nation/1', 2
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  WHERE c_nationkey = 1
             |UNION ALL SELECT 'customer/7', 'customer/7', 0
             |UNION ALL SELECT 'orders/' || o_orderkey, 'customer/7', 1
             |  FROM orders WHERE o_custkey = 7
             |) ORDER BY id, landmark""".stripMargin)),

    // triangle counting on the co-purchase graph (parts sharing an
    // order): the one whole-graph statistic here with real triangles
    // (the node/edge view is a forest). Pair list = one equi-join on
    // l_orderkey + distinct; GraphX intersects adjacency sets, and the
    // exact three-way-join mirror in DuckDB checks it to the row
    RegQuery("x04_triangles",
      (s, d) => {
        GraphAnalytics.triangleCounts(coPurchasePairs(s, d))
          // coalesce: a triangle-free pair list sums to NULL while the
          // oracle's count(*) says 0 (latent corner — untriggered on the
          // fixed testdata but a real divergence)
          .agg(expr("coalesce(sum(n_tri), 0) div 3").as("n_tri"),
            count(lit(1)).as("n_in_tri"),
            max(col("n_tri")).cast("long").as("max_tri"))
      },
      Some("""WITH pp AS (SELECT DISTINCT
             |    least(a.l_partkey, b.l_partkey) AS p1,
             |    greatest(a.l_partkey, b.l_partkey) AS p2
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |tri AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
             |  FROM pp e1 JOIN pp e2 ON e1.p2 = e2.p1
             |  JOIN pp e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
             |pv AS (SELECT v, count(*) AS n FROM (
             |  SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
             |  UNION ALL SELECT c FROM tri) GROUP BY v)
             |SELECT (SELECT count(*) FROM tri) AS n_tri,
             |  (SELECT count(*) FROM pv) AS n_in_tri,
             |  (SELECT max(n) FROM pv) AS max_tri""".stripMargin)),

    // deterministic label-propagation community detection on a graph
    // with PLANTED communities (the docsWithTwins pattern applied to
    // graphs): parts bucket into ~10-member cliques by (brand, partkey
    // rank), cliques chain together through single bridge edges. LPA's
    // majority vote must keep every clique a separate community even
    // though the bridge chain connects them all — exactly what
    // distinguishes it from x01's connected components, which would
    // merge the chain into one blob. Min-label tie-breaking makes the
    // fixpoint a total order, so the whole 5-round recurrence is
    // hash-checked against a DuckDB RECURSIVE CTE (the x02 pattern;
    // arg_max key n*2^32 - lbl = "most frequent, then smallest").
    // Output is the community-size histogram — a global structural
    // check, stronger than a top-k sample.
    RegQuery("x06_label_propagation",
      (s, d) => {
        GraphAnalytics.labelPropagation(brandCliqueChain(s, d), iters = 5)
          .groupBy("lbl").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_comm"))
          .orderBy("sz")
      },
      Some("""WITH RECURSIVE
             |gp AS (SELECT p_partkey AS id, p_brand,
             |    CAST((ROW_NUMBER() OVER (PARTITION BY p_brand
             |      ORDER BY p_partkey) - 1) // 10 AS BIGINT) AS grp
             |  FROM part),
             |cl AS (SELECT a.id AS p1, b.id AS p2 FROM gp a JOIN gp b
             |  ON a.p_brand = b.p_brand AND a.grp = b.grp AND a.id < b.id),
             |gm AS (SELECT p_brand, grp, min(id) AS mid FROM gp
             |  GROUP BY p_brand, grp),
             |br AS (SELECT mid AS p1, lead(mid) OVER (ORDER BY p_brand, grp)
             |  AS p2 FROM gm),
             |edges AS (SELECT p1, p2 FROM cl
             |  UNION ALL SELECT p1, p2 FROM br WHERE p2 IS NOT NULL),
             |ed AS (SELECT p1 AS src, p2 AS dst FROM edges
             |  UNION ALL SELECT p2, p1 FROM edges),
             |verts AS (SELECT DISTINCT src AS id FROM ed),
             |lp AS (
             |  SELECT 0 AS i, id, id AS lbl FROM verts
             |  UNION ALL
             |  SELECT i, src AS id, arg_max(lbl, n * 4294967296 - lbl) AS lbl
             |  FROM (
             |    SELECT l.i + 1 AS i, e.src, l.lbl,
             |      CAST(count(*) AS BIGINT) AS n
             |    FROM lp l JOIN ed e ON e.dst = l.id
             |    WHERE l.i < 5
             |    GROUP BY l.i + 1, e.src, l.lbl)
             |  GROUP BY i, src)
             |SELECT sz, CAST(count(*) AS BIGINT) AS n_comm FROM (
             |  SELECT lbl, CAST(count(*) AS BIGINT) AS sz FROM lp
             |  WHERE i = 5 GROUP BY lbl)
             |GROUP BY sz ORDER BY sz""".stripMargin)),

    // k-core decomposition of the same co-purchase graph: the dense
    // backbone left after iteratively peeling degree<k vertices — the
    // "who actually co-occurs a lot" subgraph community pipelines start
    // from. k=60 sits inside the degree distribution at every SF, so
    // peeling genuinely fires (low-degree parts cascade out) — k=3 was
    // a no-op peel on this dense graph. Oracle-checked since round 4:
    // the peel fixpoint is a DuckDB RECURSIVE CTE whose round is one
    // COUNT() OVER (PARTITION BY endpoint) pair on the single recursive
    // reference (windows in the recursive arm make iterate-to-fixpoint
    // SQL-expressible without a second self-reference), capped at 12
    // rounds: past convergence the edge set is stable so extra rounds
    // are identity, and if real peel depth ever exceeded the cap the
    // hash gate fails loudly instead of silently passing. Core
    // invariants (every member keeps >=k core neighbors, no peeled
    // vertex does) stay pinned in GraphXSpec.
    RegQuery("x05_kcore",
      (s, d) => {
        val core = GraphAnalytics.kCore(coPurchasePairs(s, d), k = 60)
        core.agg(count(lit(1)).as("n_core_vertices"),
          (sum("core_deg") / 2).cast("long").as("n_core_edges"),
          coalesce(min("core_deg"), lit(0L)).as("min_core_deg"),
          coalesce(max("core_deg"), lit(0L)).as("max_core_deg"))
      },
      Some("""WITH RECURSIVE
             |pp AS (SELECT DISTINCT
             |    least(a.l_partkey, b.l_partkey) AS p1,
             |    greatest(a.l_partkey, b.l_partkey) AS p2
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |ed AS (SELECT p1 AS u, p2 AS v FROM pp
             |  UNION ALL SELECT p2, p1 FROM pp),
             |es AS (
             |  SELECT 0 AS i, u, v FROM ed
             |  UNION ALL
             |  SELECT i + 1, u, v FROM (
             |    SELECT e.i, e.u, e.v,
             |      COUNT(*) OVER (PARTITION BY e.u) AS du,
             |      COUNT(*) OVER (PARTITION BY e.v) AS dv
             |    FROM es e WHERE e.i < 12)
             |  WHERE du >= 60 AND dv >= 60),
             |core AS (SELECT u, CAST(count(*) AS BIGINT) AS core_deg
             |  FROM es WHERE i = 12 GROUP BY u)
             |SELECT CAST(count(*) AS BIGINT) AS n_core_vertices,
             |  CAST(coalesce(CAST(sum(core_deg) AS BIGINT), 0)/2 AS BIGINT)
             |    AS n_core_edges,
             |  coalesce(min(core_deg), CAST(0 AS BIGINT)) AS min_core_deg,
             |  coalesce(max(core_deg), CAST(0 AS BIGINT)) AS max_core_deg
             |FROM core""".stripMargin)),

    // link prediction on the co-purchase graph: for a sample of query
    // vertices (partkey % 97), score every non-adjacent candidate two
    // hops away by common-neighbor count and Adamic-Adar (Σ 1/ln(deg w)
    // over shared neighbors w, floored to BIGINT micro-units per neighbor
    // BEFORE the sum — exact integer aggregation, ln() ulps absorbed: the
    // p34 discipline). The wedge fan-out is anchored at the query set, so
    // volume is Σ_{q∈Q} Σ_{w∈N(q)} deg(w) — per-query cost, independent
    // of graph size beyond the 2-hop ball: the production shape for
    // "suggest related items" at 100 TB (batch all-pairs variants bound
    // by x04's degree-ordered wedges instead). Wedge centers always have
    // deg ≥ 2 (they touch both q and c), so ln(deg) > 0.
    RegQuery("x07_link_prediction",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val pp = coPurchasePairs(s, d)
        // checkpoint: und feeds the query side, wedge right side, degree
        // agg, and the existing-edge anti-join — inlined it would
        // recompute the order-bucket explode 4×
        val und = pp.select(col("p1").as("u"), col("p2").as("v"))
          .unionAll(pp.select(col("p2").as("u"), col("p1").as("v")))
          .localCheckpoint()
        val deg = und.groupBy("u").agg(count(lit(1)).as("dg"))
        val wed = und.where(col("u") % 97 === 0)
          .select(col("u").as("q"), col("v").as("w"))
          .join(und.select(col("u").as("w"), col("v").as("c")), "w")
          .where(col("c") =!= col("q"))
        val sc = wed
          .join(broadcast(deg.select(col("u").as("w"),
            floor(lit(1000000.0) / log(col("dg"))).cast("long").as("aa_w"))),
            "w")
          .groupBy("q", "c")
          .agg(count(lit(1)).as("cn"), sum("aa_w").as("aa_micro"))
        sc.join(und.select(col("u").as("q"), col("v").as("c")),
            Seq("q", "c"), "left_anti")
          .withColumn("rk", row_number().over(Window.partitionBy("q")
            .orderBy(col("cn").desc, col("aa_micro").desc, col("c"))))
          .where(col("rk") <= 3)
          .select(col("q"), col("rk"), col("c"), col("cn"), col("aa_micro"))
          .orderBy("q", "rk")
      },
      Some("""WITH pp AS (SELECT DISTINCT
             |    least(a.l_partkey, b.l_partkey) AS p1,
             |    greatest(a.l_partkey, b.l_partkey) AS p2
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |und AS (SELECT p1 AS u, p2 AS v FROM pp
             |  UNION ALL SELECT p2, p1 FROM pp),
             |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS dg FROM und
             |  GROUP BY u),
             |wed AS (SELECT q.u AS q, c.v AS c, q.v AS w FROM und q
             |  JOIN und c ON q.v = c.u AND c.v <> q.u
             |  WHERE q.u % 97 = 0),
             |sc AS (SELECT wed.q, wed.c,
             |    CAST(count(*) AS BIGINT) AS cn,
             |    CAST(sum(CAST(floor(1000000.0 / ln(deg.dg)) AS BIGINT))
             |      AS BIGINT) AS aa_micro
             |  FROM wed JOIN deg ON wed.w = deg.u
             |  GROUP BY wed.q, wed.c),
             |nb AS (SELECT sc.* FROM sc
             |  WHERE NOT EXISTS (SELECT 1 FROM und
             |    WHERE und.u = sc.q AND und.v = sc.c)),
             |r AS (SELECT q, c, cn, aa_micro, ROW_NUMBER() OVER
             |  (PARTITION BY q ORDER BY cn DESC, aa_micro DESC, c) AS rk
             |  FROM nb)
             |SELECT q, CAST(rk AS INTEGER) AS rk, c, cn, aa_micro
             |FROM r WHERE rk <= 3 ORDER BY q, rk""".stripMargin)),

    // HITS hubs & authorities on the directed edges view — the second
    // classic eigenvector fixpoint next to x02, and like x02 fully
    // hash-checked: fixed 10 rounds of integer micro-score mutual
    // recursion (rescale-to-max with truncating division each round)
    // mirror as a DuckDB RECURSIVE CTE whose single recursive reference
    // feeds BOTH score updates via direction-tagged contribution edges,
    // with the per-round normalizer as a window max over the grouped
    // subquery (the x05 windows-in-the-recursive-arm trick). On this
    // view authorities are pointed-at vertices (customers, nations)
    // and pure sources (orders) keep authority 0 — direction semantics
    // the oracle checks to the row.
    // GOTCHA (cost a debugging session): inside WITH RECURSIVE, DuckDB
    // 1.0 does NOT deduplicate a plain UNION in a sibling CTE — verts
    // as `src UNION dst` silently seeds every vertex once PER INCIDENT
    // EDGE (75× for a 74-customer nation). x02 survived the same bug
    // only because this DAG drains the inflated mass into rank-
    // evaporating sinks before iteration 20; HITS's normalized
    // two-direction recurrence never flushes it. Both oracles now use
    // DISTINCT over UNION ALL.
    RegQuery("x08_hits",
      (s, d) => GraphAnalytics.hits(GraphStore.edges(s, d), iters = 10)
        .orderBy(col("auth_micro").desc, col("hub_micro").desc, col("id"))
        .limit(20),
      Some("""WITH RECURSIVE
             |edges AS (
             |  SELECT 'nation/' || n_nationkey AS src,
             |         'region/' || n_regionkey AS dst FROM nation
             |  UNION ALL SELECT 'customer/' || c_custkey,
             |    'nation/' || c_nationkey FROM customer
             |  UNION ALL SELECT 'orders/' || o_orderkey,
             |    'customer/' || o_custkey FROM orders),
             |verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges
             |  UNION ALL SELECT dst FROM edges)),
             |ced AS (
             |  SELECT src AS f, dst AS t, 'a' AS kind FROM edges
             |  UNION ALL SELECT dst, src, 'h' FROM edges
             |  UNION ALL SELECT id, id, 'z' FROM verts),
             |hits AS (
             |  SELECT 0 AS i, id, CAST(1000000 AS BIGINT) AS h,
             |    CAST(1000000 AS BIGINT) AS a FROM verts
             |  UNION ALL
             |  SELECT i, id,
             |    CAST(rh * 1000000 // greatest(max(rh) OVER (), 1)
             |      AS BIGINT) AS h,
             |    CAST(ra * 1000000 // greatest(max(ra) OVER (), 1)
             |      AS BIGINT) AS a
             |  FROM (
             |    SELECT s.i + 1 AS i, e.t AS id,
             |      SUM(CASE WHEN e.kind = 'h' THEN s.a ELSE 0 END) AS rh,
             |      SUM(CASE WHEN e.kind = 'a' THEN s.h ELSE 0 END) AS ra
             |    FROM hits s JOIN ced e ON e.f = s.id
             |    WHERE s.i < 10
             |    GROUP BY s.i + 1, e.t))
             |SELECT id, h AS hub_micro, a AS auth_micro FROM hits
             |WHERE i = 10
             |ORDER BY auth_micro DESC, hub_micro DESC, id
             |LIMIT 20""".stripMargin)),

    // GNN-style neighborhood aggregation (the GraphSAGE-mean /
    // message-passing layer shape): two rounds of "replace every
    // vertex's feature with the mean of its neighbors' features" over
    // the co-purchase graph, feature = retail price in integer cents
    // (floor-form rounding, the q16 trick) and mean = TRUNCATING
    // integer division — so a two-layer propagation is exact integer
    // math, hash-checked to the row. Each round is one equi-join on the
    // adjacency + one hash aggregate — embarrassingly shuffle-parallel,
    // the same per-round shape a distributed GNN feature pipeline runs
    // at 100 TB (layers = rounds; features here are 1-dim cents but the
    // plan is unchanged for vectors).
    RegQuery("x09_neighbor_agg",
      (s, d) => {
        val pp = coPurchasePairs(s, d)
        // checkpoint: adjacency feeds both propagation rounds
        val und = pp.select(col("p1").as("u"), col("p2").as("v"))
          .unionAll(pp.select(col("p2").as("u"), col("p1").as("v")))
          .localCheckpoint()
        val ft = graft.Tables(s, d, "part")
          .select(col("p_partkey").cast("long").as("id"),
            floor(col("p_retailprice") * 100 + 0.5).cast("long").as("f0"))
        def meanRound(state: org.apache.spark.sql.DataFrame,
            vcol: String, out: String): org.apache.spark.sql.DataFrame =
          und.join(state.select(col("id").as("v"), col(vcol).as("x")), "v")
            .groupBy(col("u").as("id"))
            .agg(expr("sum(x) div count(1)").as(out))
        val h1 = meanRound(ft, "f0", "h1")
        val h2 = meanRound(h1, "h1", "h2")
        ft.join(h1, "id").join(h2, "id")
          .select("id", "f0", "h1", "h2")
          .orderBy("id")
      },
      Some("""WITH pp AS (SELECT DISTINCT
             |    least(a.l_partkey, b.l_partkey) AS p1,
             |    greatest(a.l_partkey, b.l_partkey) AS p2
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |und AS (SELECT p1 AS u, p2 AS v FROM pp
             |  UNION ALL SELECT p2, p1 FROM pp),
             |ft AS (SELECT p_partkey AS id,
             |    CAST(floor(p_retailprice*100 + 0.5) AS BIGINT) AS f0
             |  FROM part),
             |h1 AS (SELECT und.u AS id,
             |    CAST(sum(ft.f0) // count(*) AS BIGINT) AS h1
             |  FROM und JOIN ft ON und.v = ft.id GROUP BY und.u),
             |h2 AS (SELECT und.u AS id,
             |    CAST(sum(h1.h1) // count(*) AS BIGINT) AS h2
             |  FROM und JOIN h1 ON und.v = h1.id GROUP BY und.u)
             |SELECT ft.id, ft.f0, h1.h1, h2.h2 FROM ft
             |JOIN h1 ON ft.id = h1.id JOIN h2 ON ft.id = h2.id
             |ORDER BY ft.id""".stripMargin)),

    // personalized PageRank from a two-customer seed set — the "related
    // items from here" primitive: x02's hash-checked integer recurrence
    // with restart mass pinned to the seeds (init 1e6·[seed], restart
    // 150000·[seed]), so only the seeds' forward ball ever holds mass
    // (here: the two customers, their nations, those nations' regions —
    // order vertices have no in-mass and stay absent). The DuckDB
    // mirror is x02's recursive CTE with a seed-conditional CASE in
    // both the anchor and the recursive arm.
    RegQuery("x10_personalized_pagerank",
      (s, d) => GraphAnalytics.personalizedPageRank(GraphStore.edges(s, d),
          Seq("customer/1", "customer/7"), iters = 20)
        .orderBy(col("rank_micro").desc, col("id"))
        .limit(20),
      Some("""WITH RECURSIVE
             |edges AS (
             |  SELECT 'nation/' || n_nationkey AS src,
             |         'region/' || n_regionkey AS dst FROM nation
             |  UNION ALL SELECT 'customer/' || c_custkey,
             |    'nation/' || c_nationkey FROM customer
             |  UNION ALL SELECT 'orders/' || o_orderkey,
             |    'customer/' || o_custkey FROM orders),
             |verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges
             |  UNION ALL SELECT dst FROM edges)),
             |od AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
             |ec AS (SELECT e.src, e.dst, od.od FROM edges e
             |    JOIN od ON e.src = od.src
             |  UNION ALL SELECT id, id, 0 FROM verts),
             |pr AS (
             |  SELECT 0 AS i, id, CAST(1000000 AS BIGINT) AS r FROM verts
             |  WHERE id IN ('customer/1', 'customer/7')
             |  UNION ALL
             |  SELECT p.i + 1, ec.dst,
             |    CAST(CASE WHEN ec.dst IN ('customer/1', 'customer/7')
             |        THEN 150000 ELSE 0 END
             |      + (85 * sum(
             |        CASE WHEN ec.od > 0 THEN p.r // ec.od ELSE 0 END)) // 100
             |      AS BIGINT) AS r
             |  FROM pr p JOIN ec ON ec.src = p.id
             |  WHERE p.i < 20
             |  GROUP BY p.i, ec.dst
             |  HAVING CASE WHEN ec.dst IN ('customer/1', 'customer/7')
             |      THEN 150000 ELSE 0 END
             |    + (85 * sum(
             |      CASE WHEN ec.od > 0 THEN p.r // ec.od ELSE 0 END)) // 100
             |    > 0)
             |SELECT id, r AS rank_micro FROM pr WHERE i = 20
             |ORDER BY rank_micro DESC, id LIMIT 20""".stripMargin)),

    // harmonic centrality over a landmark set (the sampled-pivot form
    // every at-scale centrality uses — HyperBall's estimator with exact
    // per-landmark BFS distances): H(v) = Σ_l 1e6 div d(v,l) over
    // reachable landmarks, d > 0. Integer division on integer hop
    // counts — no floats anywhere, fully hash-checked. Rides
    // shortestPathsAuto (Pregel / DF-BFS dispatch), so the per-landmark
    // cost is one BFS wave per hop; landmarks scale out as columns of
    // the same waves, not extra passes over the graph.
    RegQuery("x11_harmonic_centrality",
      (s, d) => GraphAnalytics.shortestPathsAuto(GraphStore.edges(s, d),
          Seq("region/1", "nation/1", "customer/7"))
        .where(col("dist") > 0)
        .groupBy("id")
        .agg(count(lit(1)).as("n_reach"),
          sum(expr("1000000 div dist")).cast("long").as("harm_micro"))
        .orderBy(col("harm_micro").desc, col("id")),
      Some("""WITH dist AS (
             |  SELECT 'nation/' || n_nationkey AS id, 1 AS d FROM nation
             |    WHERE n_regionkey = 1
             |  UNION ALL SELECT 'customer/' || c_custkey, 2
             |    FROM customer JOIN nation ON c_nationkey = n_nationkey
             |    WHERE n_regionkey = 1
             |  UNION ALL SELECT 'orders/' || o_orderkey, 3
             |    FROM orders JOIN customer ON o_custkey = c_custkey
             |    JOIN nation ON c_nationkey = n_nationkey
             |    WHERE n_regionkey = 1
             |  UNION ALL SELECT 'customer/' || c_custkey, 1 FROM customer
             |    WHERE c_nationkey = 1
             |  UNION ALL SELECT 'orders/' || o_orderkey, 2
             |    FROM orders JOIN customer ON o_custkey = c_custkey
             |    WHERE c_nationkey = 1
             |  UNION ALL SELECT 'orders/' || o_orderkey, 1 FROM orders
             |    WHERE o_custkey = 7)
             |SELECT id, CAST(count(*) AS BIGINT) AS n_reach,
             |  CAST(sum(1000000 // d) AS BIGINT) AS harm_micro
             |FROM dist GROUP BY id
             |ORDER BY harm_micro DESC, id""".stripMargin)),

    // local clustering coefficient — x04's triangle machinery turned
    // per-vertex: cc(v) = closed neighbor pairs / C(deg(v),2), THE
    // standard "how clique-like is this node's neighborhood" metric
    // (community seeding, spam/bot detection, graph feature columns).
    // Exact integer: cc_micro = tri·2e6 div (dg·(dg−1)) — hash-checked.
    // Scale shape: centers are a hash-sampled cohort (u % 11, the x07
    // move — per-center wedge volume is deg², sampling bounds the
    // explode exactly like landmark centrality bounds BFS waves); the
    // closure check is one equi-semi-join of wedges against the edge
    // list (never an all-pairs probe), and the full-graph variant
    // inherits x04's degree-ordered wedge direction. und materializes
    // once and feeds centers, degrees, and the closure probe.
    RegQuery("x12_clustering_coeff",
      (s, d) => GraphAnalytics
        .localClusteringCoeff(coPurchasePairs(s, d), centerMod = 11)
        .orderBy(col("cc_micro").desc, col("id"))
        .limit(20),
      Some("""WITH pp AS (SELECT DISTINCT
             |    least(a.l_partkey, b.l_partkey) AS p1,
             |    greatest(a.l_partkey, b.l_partkey) AS p2
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |und AS (SELECT p1 AS u, p2 AS v FROM pp
             |  UNION ALL SELECT p2, p1 FROM pp),
             |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS dg FROM und
             |  GROUP BY u),
             |cent AS (SELECT u AS c, v FROM und WHERE u % 11 = 0),
             |wed AS (SELECT x.c, x.v AS a, y.v AS b FROM cent x
             |  JOIN cent y ON x.c = y.c AND x.v < y.v),
             |tri AS (SELECT w.c, CAST(count(*) AS BIGINT) AS tri FROM wed w
             |  WHERE EXISTS (SELECT 1 FROM und
             |    WHERE und.u = w.a AND und.v = w.b)
             |  GROUP BY w.c),
             |r AS (SELECT deg.u AS id, deg.dg,
             |    CAST(COALESCE(tri.tri, 0) AS BIGINT) AS tri
             |  FROM deg LEFT JOIN tri ON deg.u = tri.c
             |  WHERE deg.u % 11 = 0 AND deg.dg >= 2)
             |SELECT id, dg, tri,
             |  CAST(tri * 2000000 // (dg * (dg - 1)) AS BIGINT) AS cc_micro
             |FROM r ORDER BY cc_micro DESC, id LIMIT 20""".stripMargin)),

    // landmark eccentricity + diameter lower bound — the x11 landmark
    // discipline applied to the other classic distance statistic:
    // ecc(l) = max hop distance any vertex needs to REACH l, and
    // max_l ecc(l) lower-bounds the directed diameter (the iFUB /
    // double-sweep estimation family every at-scale diameter
    // computation uses). Pure integer hop counts over the same BFS
    // waves x03/x11 ride — landmarks are extra columns on one wave
    // sweep, not extra graph passes; the diam_lb window runs over
    // #landmarks pre-aggregated rows (the p27 bounded-window shape).
    RegQuery("x13_eccentricity",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        GraphAnalytics.shortestPathsAuto(GraphStore.edges(s, d),
            Seq("region/1", "nation/1", "customer/7"))
          .groupBy("landmark")
          .agg(count(lit(1)).as("n_reach"), max("dist").as("ecc"))
          .withColumn("diam_lb",
            max(col("ecc")).over(Window.partitionBy(lit(1))))
          .select("landmark", "n_reach", "ecc", "diam_lb")
          .orderBy("landmark")
      },
      Some("""WITH dist AS (
             |  SELECT 'region/1' AS landmark, 'region/1' AS id, 0 AS d
             |  UNION ALL SELECT 'region/1', 'nation/' || n_nationkey, 1
             |    FROM nation WHERE n_regionkey = 1
             |  UNION ALL SELECT 'region/1', 'customer/' || c_custkey, 2
             |    FROM customer JOIN nation ON c_nationkey = n_nationkey
             |    WHERE n_regionkey = 1
             |  UNION ALL SELECT 'region/1', 'orders/' || o_orderkey, 3
             |    FROM orders JOIN customer ON o_custkey = c_custkey
             |    JOIN nation ON c_nationkey = n_nationkey
             |    WHERE n_regionkey = 1
             |  UNION ALL SELECT 'nation/1', 'nation/1', 0
             |  UNION ALL SELECT 'nation/1', 'customer/' || c_custkey, 1
             |    FROM customer WHERE c_nationkey = 1
             |  UNION ALL SELECT 'nation/1', 'orders/' || o_orderkey, 2
             |    FROM orders JOIN customer ON o_custkey = c_custkey
             |    WHERE c_nationkey = 1
             |  UNION ALL SELECT 'customer/7', 'customer/7', 0
             |  UNION ALL SELECT 'customer/7', 'orders/' || o_orderkey, 1
             |    FROM orders WHERE o_custkey = 7)
             |SELECT landmark, CAST(count(*) AS BIGINT) AS n_reach,
             |  CAST(max(d) AS INTEGER) AS ecc,
             |  CAST(MAX(max(d)) OVER () AS INTEGER) AS diam_lb
             |FROM dist GROUP BY landmark ORDER BY landmark""".stripMargin)),

    // deterministic random walks on the co-purchase graph — the corpus-
    // generation step of DeepWalk/node2vec (the output IS training
    // data: node sequences for a skip-gram embedding). The neighbor
    // choice at each hop is a hash of (walk, step, node) mod degree —
    // p45's reproducible-sampling discipline applied to graphs — so
    // the full 8-hop trajectory set is hash-checked against a DuckDB
    // recursive CTE computing the identical recurrence over the
    // identical dense neighbor ranking. ~1 walk per 41 nodes; every
    // step is one frontier⋈adjacency equi-join (adjacency built once:
    // two windows over one shuffle, checkpointed across rounds).
    RegQuery("x14_random_walks",
      (s, d) => GraphAnalytics.randomWalks(coPurchasePairs(s, d),
          startMod = 41L, steps = 8)
        .orderBy("walk_id", "step"),
      Some("""WITH RECURSIVE
             |pairs AS (SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |und AS (SELECT p1 AS src, p2 AS dst FROM pairs
             |  UNION ALL SELECT p2, p1 FROM pairs),
             |adj AS (SELECT src, dst,
             |  ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS rk,
             |  COUNT(*) OVER (PARTITION BY src) AS deg FROM und),
             |walk(walk_id, step, cur) AS (
             |  SELECT src, 0, src FROM (SELECT DISTINCT src FROM und)
             |  WHERE src % 41 = 0
             |  UNION ALL
             |  SELECT w.walk_id, w.step + 1, a.dst
             |  FROM walk w JOIN adj a ON a.src = w.cur
             |    AND a.rk = xor(
             |      (w.walk_id * 2654435761 + CAST(w.step AS BIGINT)
             |        * 1779033703 + w.cur * 104729) % 1000000007,
             |      ((w.walk_id * 2654435761 + CAST(w.step AS BIGINT)
             |        * 1779033703 + w.cur * 104729) % 1000000007) >> 13) % a.deg
             |  WHERE w.step < 8)
             |SELECT walk_id, step, cur AS node FROM walk
             |ORDER BY walk_id, step""".stripMargin)),

    // single-source WEIGHTED shortest paths (Bellman-Ford, fixed 4
    // rounds) on the co-purchase graph with deterministic integer edge
    // weights w = 1 + (p1+p2) mod 7. The x02/x05 determinization move
    // applied to distances: a fixed-round integer recurrence is exactly
    // a DuckDB RECURSIVE CTE whose working table carries "previous
    // round" — reached vertices ride a weight-0 self-loop so the
    // recursive term's min() implements keep-or-improve. Source = the
    // graph's min part id (computed, not hard-coded, so every SF has a
    // valid seed); output = the distance histogram of the 4-round
    // horizon. Exercises what x03/x13's hop-count BFS cannot: min-cost
    // path selection where the cheapest route is NOT the fewest-hops
    // route (w varies 1..7, so a 2-hop detour regularly beats a direct
    // heavy edge — at round 4 the histogram would differ from any
    // unweighted BFS relabeling).
    RegQuery("x15_weighted_sssp",
      (s, d) => {
        // checkpoint: the pair list feeds the source lookup AND the
        // relax loop's edge build — inlined it would run the
        // shuffle-heavy pair derivation twice
        val pairs = coPurchasePairs(s, d)
          .withColumn("w", lit(1L) + pmod(col("p1") + col("p2"), lit(7L)))
          .localCheckpoint()
        val src = pairs.agg(min("p1")).first().getLong(0)
        GraphAnalytics.weightedShortestPaths(pairs, src, rounds = 4)
          .groupBy("dist").agg(count(lit(1)).as("cnt"), min("id").as("min_id"))
          .orderBy("dist")
      },
      Some("""WITH RECURSIVE
             |pp AS (SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |verts AS (SELECT DISTINCT v FROM (
             |  SELECT p1 AS v FROM pp UNION ALL SELECT p2 FROM pp)),
             |e AS (SELECT p1 AS u, p2 AS v, 1 + (p1+p2) % 7 AS w FROM pp
             |  UNION ALL SELECT p2, p1, 1 + (p1+p2) % 7 FROM pp
             |  UNION ALL SELECT v, v, 0 FROM verts),
             |d(i, id, dist) AS (
             |  SELECT 0, (SELECT min(p1) FROM pp), CAST(0 AS BIGINT)
             |  UNION ALL
             |  SELECT d.i + 1, e.v, min(d.dist + e.w)
             |  FROM d JOIN e ON e.u = d.id
             |  WHERE d.i < 4
             |  GROUP BY d.i, e.v)
             |SELECT dist, count(*) AS cnt, min(id) AS min_id
             |FROM d WHERE i = 4 GROUP BY dist ORDER BY dist""".stripMargin)),

    // sampled bounded-depth Brandes betweenness on the co-purchase
    // graph: 3 fixed pivot sources (the 3 smallest canonical ids — the
    // Riondato-Kornaropoulos sampling determinized), horizon 3, and
    // dependencies δ in integer micro-units so the whole
    // forward-σ/backward-δ sweep is exact arithmetic. The oracle
    // unrolls the layers as chained CTEs (fixed depth needs no
    // recursion): σ per layer by group-sum with NOT-EXISTS visited
    // exclusion, δ per layer by the identical ⌊σu·(10⁶+δw)/σw⌋ fold
    // through LEFT JOINs (zero-δ vertices kept as denominators). Both
    // truncations are the production shape at 100 TB — exact
    // betweenness is O(nm); pivots × bounded horizon is what ships.
    RegQuery("x16_betweenness",
      (s, d) => {
        import s.implicits._
        // checkpoint: pair build feeds the pivot lookup AND the sweep
        val pairs = coPurchasePairs(s, d).localCheckpoint()
        val srcs = pairs.select("p1").distinct().orderBy("p1")
          .limit(3).as[Long].collect().toSeq
        GraphAnalytics.boundedBetweenness(pairs, srcs, depth = 3)
          .orderBy(col("bc_micro").desc, col("v"))
          .limit(25)
      },
      Some("""WITH pp AS (SELECT DISTINCT
             |    least(a.l_partkey, b.l_partkey) AS p1,
             |    greatest(a.l_partkey, b.l_partkey) AS p2
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |e AS (SELECT p1 AS u, p2 AS v FROM pp
             |  UNION ALL SELECT p2, p1 FROM pp),
             |srcs AS (SELECT DISTINCT p1 AS s FROM pp ORDER BY s LIMIT 3),
             |l0 AS (SELECT s AS src, s AS v, CAST(1 AS BIGINT) AS sigma
             |  FROM srcs),
             |l1 AS (SELECT l0.src, e.v, CAST(sum(l0.sigma) AS BIGINT) AS sigma
             |  FROM l0 JOIN e ON e.u = l0.v
             |  WHERE NOT EXISTS (SELECT 1 FROM l0 x
             |    WHERE x.src = l0.src AND x.v = e.v)
             |  GROUP BY l0.src, e.v),
             |l2 AS (SELECT l1.src, e.v, CAST(sum(l1.sigma) AS BIGINT) AS sigma
             |  FROM l1 JOIN e ON e.u = l1.v
             |  WHERE NOT EXISTS (SELECT 1 FROM l0 x
             |    WHERE x.src = l1.src AND x.v = e.v)
             |  AND NOT EXISTS (SELECT 1 FROM l1 y
             |    WHERE y.src = l1.src AND y.v = e.v)
             |  GROUP BY l1.src, e.v),
             |l3 AS (SELECT l2.src, e.v, CAST(sum(l2.sigma) AS BIGINT) AS sigma
             |  FROM l2 JOIN e ON e.u = l2.v
             |  WHERE NOT EXISTS (SELECT 1 FROM l0 x
             |    WHERE x.src = l2.src AND x.v = e.v)
             |  AND NOT EXISTS (SELECT 1 FROM l1 y
             |    WHERE y.src = l2.src AND y.v = e.v)
             |  AND NOT EXISTS (SELECT 1 FROM l2 z
             |    WHERE z.src = l2.src AND z.v = e.v)
             |  GROUP BY l2.src, e.v),
             |b2 AS (SELECT l2.src, l2.v, CAST(coalesce(sum(
             |    (l2.sigma * 1000000) // d3.sigma), 0) AS BIGINT) AS delta
             |  FROM l2
             |  LEFT JOIN e ON e.u = l2.v
             |  LEFT JOIN l3 d3 ON d3.src = l2.src AND d3.v = e.v
             |  GROUP BY l2.src, l2.v),
             |b1 AS (SELECT l1.src, l1.v, CAST(coalesce(sum(
             |    (l1.sigma * (1000000 + b.delta)) // d2.sigma), 0)
             |    AS BIGINT) AS delta
             |  FROM l1
             |  LEFT JOIN e ON e.u = l1.v
             |  LEFT JOIN l2 d2 ON d2.src = l1.src AND d2.v = e.v
             |  LEFT JOIN b2 b ON b.src = l1.src AND b.v = e.v
             |  GROUP BY l1.src, l1.v)
             |SELECT v, CAST(sum(delta) AS BIGINT) AS bc_micro
             |FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
             |WHERE delta > 0
             |GROUP BY v ORDER BY bc_micro DESC, v LIMIT 25""".stripMargin)),

    // HyperBall neighborhood function on the directed membership forest
    // (orders→customer→nation→region): per-vertex HLL ball registers
    // merged along out-edges for 3 rounds, q48's integer-exact register
    // algebra end to end, so even the ESTIMATES hash-match the DuckDB
    // recursive-CTE mirror (reach set via UNION-dedup recursion over
    // edges + self-loops, then identical register maxima + harmonic
    // mean). Output: per (t, node type) the estimated and exact
    // neighborhood function and the estimator's actual error in basis
    // points. String ids become integer keys (typecode·10⁷ + entity
    // key) computably on BOTH sides — no engine-specific hash.
    RegQuery("x17_hyperball",
      (s, d) => {
        def key(c: Column): Column =
          (when(split(c, "/")(0) === "region", 0L)
            .when(split(c, "/")(0) === "nation", 1L)
            .when(split(c, "/")(0) === "customer", 2L)
            .otherwise(3L)) * lit(10000000L) +
            split(c, "/")(1).cast("long")
        val e = GraphStore.edges(s, d)
          .select(key(col("src_id")).as("src"), key(col("dst_id")).as("dst"))
        GraphAnalytics.hyperBall(e, iters = 3)
          .withColumn("tpe", expr("id div 10000000"))
          .groupBy("t", "tpe")
          .agg(count(lit(1)).as("nodes"),
            sum("est_ball").as("nf_est"), sum("exact_ball").as("nf_exact"))
          .withColumn("err_bp",
            expr("abs(nf_est - nf_exact) * 10000 div nf_exact"))
          .orderBy("t", "tpe")
      },
      Some("""WITH RECURSIVE
             |edges AS (
             |  SELECT 10000000 + n_nationkey AS src,
             |         n_regionkey AS dst FROM nation
             |  UNION ALL SELECT 20000000 + c_custkey,
             |    10000000 + c_nationkey FROM customer
             |  UNION ALL SELECT 30000000 + o_orderkey,
             |    20000000 + o_custkey FROM orders),
             |verts AS (SELECT DISTINCT v AS id FROM (
             |  SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges)),
             |e2 AS (SELECT src, dst FROM edges
             |  UNION ALL SELECT id, id FROM verts),
             |reach AS (
             |  SELECT 0 AS t, id AS src, id AS node FROM verts
             |  UNION
             |  SELECT r.t + 1, r.src, e2.dst
             |  FROM reach r JOIN e2 ON e2.src = r.node WHERE r.t < 3),
             |h0 AS (SELECT id, (id * 2654435761 + 104729) % 1000000007 AS h1
             |  FROM verts),
             |hx AS (SELECT id,
             |  (xor(h1, h1 >> 15) * 1779033703) % 1000000007 AS h2 FROM h0),
             |hh AS (SELECT id, xor(h2, h2 >> 13) AS h FROM hx),
             |hr AS (SELECT id, h % 64 AS reg, CASE WHEN h // 64 = 0 THEN 25
             |    ELSE bit_count(((h // 64) & -(h // 64)) - 1) + 1 END AS rho
             |  FROM hh),
             |regs AS (SELECT r.t, r.src, hr.reg, max(hr.rho) AS mr
             |  FROM reach r JOIN hr ON hr.id = r.node
             |  WHERE r.t >= 1 GROUP BY 1, 2, 3),
             |est AS (SELECT t, src, CAST((97491078487212032 //
             |    (sum(CAST(1 AS BIGINT) << CAST(25 - mr AS INTEGER))
             |     + (64 - count(*)) * 33554432)) // 1000000 AS BIGINT)
             |    AS est_ball
             |  FROM regs GROUP BY t, src),
             |ex AS (SELECT t, src, count(*) AS exact_ball FROM reach
             |  WHERE t >= 1 GROUP BY t, src)
             |SELECT est.t, est.src // 10000000 AS tpe,
             |  CAST(count(*) AS BIGINT) AS nodes,
             |  CAST(sum(est_ball) AS BIGINT) AS nf_est,
             |  CAST(sum(exact_ball) AS BIGINT) AS nf_exact,
             |  CAST(abs(sum(est_ball) - sum(exact_ball)) * 10000
             |    // sum(exact_ball) AS BIGINT) AS err_bp
             |FROM est JOIN ex ON est.t = ex.t AND est.src = ex.src
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // bounded-round k-truss (k=4, 3 peel rounds) on the co-purchase
    // graph: the edge-cohesion completion of the x04/x05 family —
    // vertices have cores, edges have trusses. Synchronous support
    // recompute per round; 3 fixed rounds so the whole peel unrolls as
    // chained CTEs in DuckDB (aggregates can't live inside recursion)
    // and the final support histogram hash-matches to the row. Output
    // keeps 0-support survivors (peeled below threshold only after the
    // cutoff) — the left-join-fill-0 on BOTH sides is part of the
    // contract.
    RegQuery("x18_ktruss",
      (s, d) => GraphAnalytics.trussPeel(coPurchasePairs(s, d), k = 4,
          rounds = 3)
        .groupBy("sup").agg(count(lit(1)).as("n_edges"))
        .orderBy("sup"),
      Some("""WITH pp AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS p1,
             |    b.l_partkey AS p2
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |t0 AS MATERIALIZED (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
             |  FROM pp e1 JOIN pp e2 ON e1.p1 = e2.p1 AND e1.p2 < e2.p2
             |  JOIN pp e3 ON e3.p1 = e1.p2 AND e3.p2 = e2.p2),
             |s0 AS MATERIALIZED (SELECT p1, p2, count(*) AS sup FROM (
             |    SELECT a AS p1, b AS p2 FROM t0
             |    UNION ALL SELECT a, c FROM t0
             |    UNION ALL SELECT b, c FROM t0) GROUP BY 1, 2),
             |e1 AS MATERIALIZED (SELECT pp.p1, pp.p2 FROM pp
             |  LEFT JOIN s0 ON s0.p1 = pp.p1 AND s0.p2 = pp.p2
             |  WHERE coalesce(s0.sup, 0) >= 2),
             |t1 AS MATERIALIZED (SELECT x1.p1 AS a, x1.p2 AS b, x2.p2 AS c
             |  FROM e1 x1 JOIN e1 x2 ON x1.p1 = x2.p1 AND x1.p2 < x2.p2
             |  JOIN e1 x3 ON x3.p1 = x1.p2 AND x3.p2 = x2.p2),
             |s1 AS MATERIALIZED (SELECT p1, p2, count(*) AS sup FROM (
             |    SELECT a AS p1, b AS p2 FROM t1
             |    UNION ALL SELECT a, c FROM t1
             |    UNION ALL SELECT b, c FROM t1) GROUP BY 1, 2),
             |e2 AS MATERIALIZED (SELECT e1.p1, e1.p2 FROM e1
             |  LEFT JOIN s1 ON s1.p1 = e1.p1 AND s1.p2 = e1.p2
             |  WHERE coalesce(s1.sup, 0) >= 2),
             |t2 AS MATERIALIZED (SELECT x1.p1 AS a, x1.p2 AS b, x2.p2 AS c
             |  FROM e2 x1 JOIN e2 x2 ON x1.p1 = x2.p1 AND x1.p2 < x2.p2
             |  JOIN e2 x3 ON x3.p1 = x1.p2 AND x3.p2 = x2.p2),
             |s2 AS MATERIALIZED (SELECT p1, p2, count(*) AS sup FROM (
             |    SELECT a AS p1, b AS p2 FROM t2
             |    UNION ALL SELECT a, c FROM t2
             |    UNION ALL SELECT b, c FROM t2) GROUP BY 1, 2),
             |e3 AS MATERIALIZED (SELECT e2.p1, e2.p2 FROM e2
             |  LEFT JOIN s2 ON s2.p1 = e2.p1 AND s2.p2 = e2.p2
             |  WHERE coalesce(s2.sup, 0) >= 2),
             |t3 AS MATERIALIZED (SELECT x1.p1 AS a, x1.p2 AS b, x2.p2 AS c
             |  FROM e3 x1 JOIN e3 x2 ON x1.p1 = x2.p1 AND x1.p2 < x2.p2
             |  JOIN e3 x3 ON x3.p1 = x1.p2 AND x3.p2 = x2.p2),
             |s3 AS MATERIALIZED (SELECT p1, p2, count(*) AS sup FROM (
             |    SELECT a AS p1, b AS p2 FROM t3
             |    UNION ALL SELECT a, c FROM t3
             |    UNION ALL SELECT b, c FROM t3) GROUP BY 1, 2)
             |SELECT coalesce(s3.sup, 0) AS sup,
             |  CAST(count(*) AS BIGINT) AS n_edges
             |FROM e3 LEFT JOIN s3 ON s3.p1 = e3.p1 AND s3.p2 = e3.p2
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // degree assortativity (Newman 2002) of the co-purchase graph —
    // THE one-number summary of whether hubs attach to hubs. On the
    // doubled (both-directions) edge list Σj = Σk and Σj² = Σk², so
    // Pearson r over endpoint degrees reduces to
    //   r = (M·Σjk − Σj·Σk) / (M·Σj² − (Σj)²)
    // — every term exact integer arithmetic (no sqrt, no float),
    // emitted in ppm by truncating integer division (Spark `div` and
    // DuckDB `//` both truncate toward zero on negatives — checked, r
    // IS negative here), so the statistic hash-matches DuckDB exactly.
    // The ppm scaling runs in DECIMAL(38,0) / HUGEINT: M·Σjk·10⁶
    // overflows int64 already at sf0.1 (~6·10²³ at 10⁹ edges — 38
    // digits hold to ~10³⁷). One degree aggregate + one join + one
    // global aggregate; the single-row result makes the final exchange
    // free.
    RegQuery("x19_assortativity",
      (s, d) => {
        val pairs = coPurchasePairs(s, d)
        val e = pairs.select(col("p1").as("u"), col("p2").as("v"))
          .unionAll(pairs.select(col("p2").as("u"), col("p1").as("v")))
        val deg = e.groupBy("u").agg(count(lit(1)).as("dg"))
        e.join(deg, "u")
          .join(deg.select(col("u").as("v"), col("dg").as("dk")), "v")
          .agg(count(lit(1)).as("m"), sum(col("dg") * col("dk")).as("sjk"),
            sum("dg").as("sj"), sum(col("dg") * col("dg")).as("sjj"))
          .select(col("m"),
            expr("cast((cast(m as decimal(38,0)) * sjk - " +
              "cast(sj as decimal(38,0)) * sj) * 1000000 div " +
              "(cast(m as decimal(38,0)) * sjj - " +
              "cast(sj as decimal(38,0)) * sj) as bigint)").as("r_ppm"))
      },
      Some("""WITH pp AS (SELECT DISTINCT a.l_partkey AS p1,
             |    b.l_partkey AS p2
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |e AS (SELECT p1 AS u, p2 AS v FROM pp
             |  UNION ALL SELECT p2, p1 FROM pp),
             |deg AS (SELECT u, count(*) AS dg FROM e GROUP BY u),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS m,
             |    CAST(sum(du.dg * dv.dg) AS BIGINT) AS sjk,
             |    CAST(sum(du.dg) AS BIGINT) AS sj,
             |    CAST(sum(du.dg * du.dg) AS BIGINT) AS sjj
             |  FROM e JOIN deg du ON e.u = du.u JOIN deg dv ON e.v = dv.u)
             |SELECT m, CAST((CAST(m AS HUGEINT) * sjk - CAST(sj AS HUGEINT) * sj)
             |  * 1000000 // (CAST(m AS HUGEINT) * sjj
             |  - CAST(sj AS HUGEINT) * sj) AS BIGINT) AS r_ppm FROM t""".stripMargin)),

    // butterfly (2×2-biclique) counting on the natural customer–part
    // bipartite graph (Sanei-Mehri et al. 2018): a butterfly is two
    // customers sharing two parts — the bipartite analog of the
    // triangle, and the standard cohesion primitive for bipartite
    // networks. Exact wedge enumeration as a STREAMING self-join on the
    // customer key (the x04 orientation lesson re-confirmed here: the
    // in-row pair fan-out from collected part arrays measured 8.6 s at
    // sf0.1 — 13M 2-field structs of allocation churn — while the
    // equi-self-join streams the same 13M wedges in 4.0 s), then one
    // hash aggregate per (p1, p2) wedge endpoint; Σ C(w, 2) counts each
    // butterfly exactly once (w customers on the same part pair choose
    // 2). At 100 TB the wedge volume is Σ_c C(parts(c), 2) — bounded by
    // per-key activity; a pathological key would take the p43
    // bucket-cap treatment. Single-row output, integer-exact.
    RegQuery("x20_butterflies",
      (s, d) => {
        val cp = graft.Tables(s, d, "orders")
          .join(graft.Tables(s, d, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey"), col("l_partkey")).distinct()
          .localCheckpoint() // both wedge sides read it
        val wedges = cp.select(col("o_custkey"), col("l_partkey").as("p1"))
          .join(cp.select(col("o_custkey"), col("l_partkey").as("p2")),
            Seq("o_custkey"))
          .where(col("p1") < col("p2"))
        // packed-single-long aggregation key examined and REVERTED
        // (r10): it cut the wedge-count exchange ~11% in bytes but
        // bought no wall anywhere (interleaved ONLY-mode pairs read
        // parity) and two full-bench sessions read it +0.7 s
        // in-session; the partial aggregate over mostly-unique pairs
        // is compute-bound, not byte-bound, and the id-bounds probe
        // cost an extra job per run
        val wc = wedges.groupBy("p1", "p2").agg(count(lit(1)).as("w"))
        wc.agg(sum("w").as("n_wedges"),
            sum(expr("w * (w - 1) div 2")).as("n_butterflies"),
            count(lit(1)).as("n_pairs"))
      },
      Some("""WITH cp AS (SELECT DISTINCT o_custkey, l_partkey
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |wj AS (SELECT a.o_custkey, a.l_partkey AS p1,
             |    b.l_partkey AS p2
             |  FROM cp a JOIN cp b ON a.o_custkey = b.o_custkey
             |    AND a.l_partkey < b.l_partkey),
             |wc AS (SELECT p1, p2, CAST(count(*) AS BIGINT) AS w
             |  FROM wj GROUP BY p1, p2)
             |SELECT CAST(sum(w) AS BIGINT) AS n_wedges,
             |  CAST(sum(w * (w - 1) // 2) AS BIGINT) AS n_butterflies,
             |  CAST(count(*) AS BIGINT) AS n_pairs FROM wc""".stripMargin)),

    // rich-club coefficient (Colizza et al. 2006) of the co-purchase
    // graph: for each degree cutoff k, the density φ(k) of the subgraph
    // induced by nodes with degree > k — rising φ(k) means hubs
    // preferentially interlink (the "rich club"); the companion
    // statistic to x19's assortativity. One degree aggregate, one
    // two-sided degree join on the edge list, then a 6-row cutoff grid
    // fans out IN-ROW (broadcast-free: the grid is an array literal) —
    // per-k membership is a filter, never a per-k pass over the data.
    // Integer-exact: φ in ppm by truncating division; N_k < 2 emits
    // NULL rather than dividing by zero.
    RegQuery("x21_rich_club",
      (s, d) => {
        val pairs = coPurchasePairs(s, d).localCheckpoint()
        val deg = pairs.select(col("p1").as("v"))
          .unionAll(pairs.select(col("p2").as("v")))
          .groupBy("v").agg(count(lit(1)).as("dg"))
        val ks = array((Seq(1, 2, 4, 8, 16, 32)).map(lit): _*)
        val nk = deg.select(explode(ks).as("k"), col("dg"))
          .where(col("dg") > col("k"))
          .groupBy("k").agg(count(lit(1)).as("n_k"))
        val ek = pairs
          .join(deg.select(col("v").as("p1"), col("dg").as("d1")), "p1")
          .join(deg.select(col("v").as("p2"), col("dg").as("d2")), "p2")
          .select(explode(ks).as("k"), col("d1"), col("d2"))
          .where(col("d1") > col("k") && col("d2") > col("k"))
          .groupBy("k").agg(count(lit(1)).as("e_k"))
        nk.join(ek, Seq("k"), "left")
          .select(col("k"), col("n_k"),
            coalesce(col("e_k"), lit(0L)).as("e_k"),
            when(col("n_k") >= 2,
              expr("2 * coalesce(e_k, 0) * 1000000 div (n_k * (n_k - 1))"))
              .as("phi_ppm"))
          .orderBy("k")
      },
      Some("""WITH pp AS (SELECT DISTINCT a.l_partkey AS p1,
             |    b.l_partkey AS p2
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS dg FROM (
             |    SELECT p1 AS v FROM pp UNION ALL SELECT p2 FROM pp)
             |  GROUP BY v),
             |ks AS (SELECT unnest([1, 2, 4, 8, 16, 32]) AS k),
             |nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_k
             |  FROM deg, ks WHERE dg > k GROUP BY k),
             |ek AS (SELECT k, CAST(count(*) AS BIGINT) AS e_k
             |  FROM pp JOIN deg du ON pp.p1 = du.v
             |    JOIN deg dv ON pp.p2 = dv.v, ks
             |  WHERE du.dg > k AND dv.dg > k GROUP BY k)
             |SELECT nk.k, nk.n_k, coalesce(ek.e_k, 0) AS e_k,
             |  CASE WHEN nk.n_k >= 2 THEN
             |    2 * coalesce(ek.e_k, 0) * 1000000 // (nk.n_k * (nk.n_k - 1))
             |  END AS phi_ppm
             |FROM nk LEFT JOIN ek ON nk.k = ek.k ORDER BY nk.k""".stripMargin)),

    // modularity (Newman-Girvan) of the PLANTED partition on the
    // brand-clique-chain graph — the ground-truth companion to x06's
    // recovered labels: Q = Σ_c [e_c/m − (d_c/2m)²], computed as the
    // single exact fraction (Σ_c 4m·e_c − d_c²) / 4m² and emitted in
    // ppm (DECIMAL(38,0)/HUGEINT, the x19 overflow discipline). One
    // membership join per edge endpoint (broadcast at bench SF — the
    // membership frame is one row per part), one within-community edge
    // count, one degree-mass aggregate per community — two shuffles
    // total, single-row output.
    RegQuery("x22_modularity",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val mem = graft.Tables(s, d, "part")
          .select(col("p_partkey").cast("long").as("id"), col("p_brand"))
          .withColumn("grp", floor((row_number().over(
            Window.partitionBy("p_brand").orderBy("id")) - 1) / 10)
            .cast("long"))
          .select(col("id"),
            concat_ws("#", col("p_brand"), col("grp")).as("comm"))
        val edges = brandCliqueChain(s, d)
          .join(broadcast(mem).withColumnRenamed("id", "p1")
            .withColumnRenamed("comm", "c1"), "p1")
          .join(broadcast(mem).withColumnRenamed("id", "p2")
            .withColumnRenamed("comm", "c2"), "p2")
          .localCheckpoint()
        val m = edges.count()
        val ec = edges.where(col("c1") === col("c2"))
          .groupBy(col("c1").as("comm")).agg(count(lit(1)).as("e_c"))
        val dc = edges.select(col("c1").as("comm"))
          .unionAll(edges.select(col("c2").as("comm")))
          .groupBy("comm").agg(count(lit(1)).as("d_c"))
        dc.join(ec, Seq("comm"), "left")
          .select((lit(4L) * m * coalesce(col("e_c"), lit(0L))
            - col("d_c") * col("d_c")).as("num"))
          .agg(sum("num").as("num"), count(lit(1)).as("n_comms"))
          .select(lit(m).as("m"), col("n_comms"),
            expr(s"cast(cast(num as decimal(38,0)) * 1000000 div " +
              s"(4 * cast(${m}L as decimal(38,0)) * ${m}L) as bigint)")
              .as("q_ppm"))
      },
      Some("""WITH gp AS (SELECT CAST(p_partkey AS BIGINT) AS id, p_brand,
             |    CAST(floor((row_number() OVER (PARTITION BY p_brand
             |      ORDER BY p_partkey) - 1) / 10) AS BIGINT) AS grp
             |  FROM part),
             |mem AS (SELECT id, p_brand || '#' || grp AS comm FROM gp),
             |cl AS (SELECT p_brand, grp, list_sort(list(id)) AS ps
             |  FROM gp GROUP BY p_brand, grp),
             |cpairs AS (SELECT unnest(flatten(list_transform(ps,
             |    (a, i) -> list_transform(ps[i+1:],
             |      b -> {'p1': a, 'p2': b})))) AS e
             |  FROM cl),
             |cp AS (SELECT e.p1 AS p1, e.p2 AS p2 FROM cpairs),
             |br AS (SELECT ps[1] AS p1, lead(ps[1]) OVER
             |    (ORDER BY p_brand, grp) AS p2 FROM cl),
             |edges AS (SELECT p1, p2 FROM cp
             |  UNION ALL SELECT p1, p2 FROM br WHERE p2 IS NOT NULL),
             |ej AS (SELECT e.p1, e.p2, m1.comm AS c1, m2.comm AS c2
             |  FROM edges e JOIN mem m1 ON e.p1 = m1.id
             |    JOIN mem m2 ON e.p2 = m2.id),
             |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ej),
             |ec AS (SELECT c1 AS comm, CAST(count(*) AS BIGINT) AS e_c
             |  FROM ej WHERE c1 = c2 GROUP BY c1),
             |dc AS (SELECT comm, CAST(count(*) AS BIGINT) AS d_c FROM (
             |    SELECT c1 AS comm FROM ej UNION ALL SELECT c2 FROM ej)
             |  GROUP BY comm),
             |nm AS (SELECT CAST(sum(4 * mm.m * coalesce(ec.e_c, 0)
             |      - dc.d_c * dc.d_c) AS BIGINT) AS num,
             |    CAST(count(*) AS BIGINT) AS n_comms
             |  FROM dc LEFT JOIN ec ON dc.comm = ec.comm, mm)
             |SELECT mm.m, nm.n_comms,
             |  CAST(CAST(nm.num AS HUGEINT) * 1000000
             |    // (4 * CAST(mm.m AS HUGEINT) * mm.m) AS BIGINT) AS q_ppm
             |FROM nm, mm""".stripMargin)),

    // exact r≤2 neighborhood-ball sizes for a deterministic 1/97 node
    // sample of the co-purchase graph — the ground-truth companion to
    // x17's HyperBall estimates (same ball convention: self included).
    // Shape: two edge joins keyed by the frontier node with a distinct
    // between — wedge volume is Σ_sample deg², kept linear by the
    // sample rate the same way x16 bounds Brandes; the exact counts are
    // what you'd spot-audit a 100 TB HyperBall run against.
    RegQuery("x23_ball_sizes",
      (s, d) => {
        val pairs = coPurchasePairs(s, d).localCheckpoint()
        val e = pairs.select(col("p1").as("u"), col("p2").as("v"))
          .unionAll(pairs.select(col("p2").as("u"), col("p1").as("v")))
        val samp = e.select(col("u")).distinct()
          .where(col("u") % 97 === 0).select(col("u").as("root"))
        // (root, n) rows exist only to be deduped and counted per root
        // — when ids fit unsigned 31 bits, pack the pair into ONE long
        // (guide §2.3) so both ball distincts (the dominant shuffles:
        // every hop-2 neighbor row crosses them) move 8-byte keys, and
        // the group key unpacks with a shift at the aggregate. Wide-id
        // graphs keep the two-column path — identical rows either way.
        val pb = pairs.agg(
            coalesce(greatest(max("p1"), max("p2")), lit(0L)).as("mx"),
            coalesce(least(min("p1"), min("p2")), lit(0L)).as("mn")).first()
        val packed = pb.getLong(1) >= 0L && pb.getLong(0) < (1L << 31)
        val mask = lit(0xffffffffL)
        if (packed) {
          // pin both distinct exchanges (r10): at sf0.1 AQE coalesces
          // the ~29 MB ball-2 dedup to 1-2 tasks (bytes-sized), making
          // the dominant distinct near-serial; the pin keeps it at the
          // session's shuffle width (the coPurchasePairs discipline)
          val h1 = e.join(samp.withColumnRenamed("root", "u")
              .withColumn("root", col("u")), "u")
            .select(shiftleft(col("root"), 32).bitwiseOR(col("v")).as("rk"))
            .transform(graft.Part.pin(col("rk")))
            .distinct()
            .localCheckpoint() // feeds ball1, the hop-2 join, and ball2
          val h2 = h1.select(col("rk").bitwiseAND(mask).as("u"),
              shiftleft(shiftright(col("rk"), 32), 32).as("rhi"))
            .join(e, "u")
            .select(col("rhi").bitwiseOR(col("v")).as("rk"))
          // h1 is distinct and self-loop-free → ball1 = |h1| + 1 (self),
          // no union/distinct pass; the root re-enters at hop 2 (any
          // neighbor points back), so h1 ∪ h2 already contains self and
          // ball2 is one distinct over the union — two shuffles saved
          // vs the literal three-way union
          val ball1 = h1.groupBy(shiftright(col("rk"), 32).as("root"))
            .agg((count(lit(1)) + 1).as("ball1_sz"))
          val ball2 = h1.unionAll(h2)
            .transform(graft.Part.pin(col("rk"))).distinct()
            .groupBy(shiftright(col("rk"), 32).as("root"))
            .agg(count(lit(1)).as("ball2_sz"))
          ball1.join(ball2, "root").orderBy("root")
        } else {
          val h1 = e.join(samp.withColumnRenamed("root", "u")
              .withColumn("root", col("u")), "u")
            .select(col("root"), col("v").as("n"))
            .transform(graft.Part.pin(col("root"), col("n"))).distinct()
            .localCheckpoint() // feeds ball1, the hop-2 join, and ball2
          val h2 = h1.select(col("root"), col("n").as("u"))
            .join(e, "u")
            .select(col("root"), col("v").as("n")).distinct()
          val ball1 = h1.groupBy("root")
            .agg((count(lit(1)) + 1).as("ball1_sz"))
          val ball2 = h1.unionAll(h2)
            .transform(graft.Part.pin(col("root"), col("n")))
            .distinct().groupBy("root").agg(count(lit(1)).as("ball2_sz"))
          ball1.join(ball2, "root").orderBy("root")
        }
      },
      Some("""WITH pp AS (SELECT DISTINCT a.l_partkey AS p1,
             |    b.l_partkey AS p2
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |e AS (SELECT p1 AS u, p2 AS v FROM pp
             |  UNION ALL SELECT p2, p1 FROM pp),
             |samp AS (SELECT DISTINCT u AS root FROM e WHERE u % 97 = 0),
             |h1 AS (SELECT DISTINCT samp.root, e.v AS n
             |  FROM e JOIN samp ON e.u = samp.root),
             |h2 AS (SELECT DISTINCT h1.root, e.v AS n
             |  FROM h1 JOIN e ON h1.n = e.u),
             |b1 AS (SELECT root, CAST(count(*) AS BIGINT) AS ball1_sz
             |  FROM (SELECT root, n FROM h1
             |        UNION SELECT root, root FROM samp)
             |  GROUP BY root),
             |b2 AS (SELECT root, CAST(count(*) AS BIGINT) AS ball2_sz
             |  FROM (SELECT root, n FROM h1 UNION SELECT root, n FROM h2
             |        UNION SELECT root, root FROM samp)
             |  GROUP BY root)
             |SELECT b1.root, ball1_sz, ball2_sz
             |FROM b1 JOIN b2 ON b1.root = b2.root ORDER BY b1.root""".stripMargin)),

    // pointer-doubling cycle labeling of a functional graph — the
    // primitive under CC's pointer-jumping and distributed list
    // ranking, exercised standalone: 8 sharded quadratic maps
    // f(v) = base + (v² + shard + 1) mod m over the partkey space
    // (deterministic rho-shaped walks; measured bounds tail ≤ 9,
    // cycle ≤ 200 across sf0.001/0.01/0.1, against jump 2⁴ = 16 and
    // window 2⁸ = 256). Engine cost is log₂: 12 self-equi-joins
    // TOTAL where sequential chasing would pay O(tail + cycle) = up
    // to 209 dependent rounds — the reason canonical-pointer chains
    // (dedup chains, linked shards) resolve in seconds at 100 TB.
    // The DuckDB mirror IS the sequential chase (272 one-step
    // recursive-CTE rounds), so the hash compare pins the doubled
    // path against the naive semantics it replaces.
    RegQuery("x24_cycle_labels",
      (s, d) => {
        val parts = graft.Tables(s, d, "part").select(col("p_partkey").as("v"))
        val n = parts.count()
        val m = n / 8
        require(m * 8 == n, s"x24 shards the partkey space 8 ways; |part| = $n")
        val succ = parts.select(col("v"),
          expr(s"(v div $m) * $m + (v * v + (v div $m) + 1) % $m").as("p"))
        GraphAnalytics.cycleLabel(succ, jumpPow = 4, windowPow = 8)
          .groupBy("cycle_min")
          .agg(count(lit(1)).as("n_nodes"),
            countDistinct("w").as("n_cycle"))
          .orderBy("cycle_min")
      },
      Some("""WITH RECURSIVE pn AS (SELECT count(*) // 8 AS m FROM part),
             |walk AS (
             |  SELECT 0 AS i, p_partkey AS src, p_partkey AS node FROM part
             |  UNION ALL
             |  SELECT w.i + 1, w.src,
             |    (w.node // pn.m) * pn.m
             |      + (w.node * w.node + w.node // pn.m + 1) % pn.m
             |  FROM walk w, pn WHERE w.i < 272),
             |lab AS (SELECT src, min(node) AS cycle_min FROM walk
             |  WHERE i BETWEEN 16 AND 271 GROUP BY src),
             |wv AS (SELECT src, node AS w FROM walk WHERE i = 16)
             |SELECT l.cycle_min, CAST(count(*) AS BIGINT) AS n_nodes,
             |  CAST(count(DISTINCT wv.w) AS BIGINT) AS n_cycle
             |FROM lab l JOIN wv ON l.src = wv.src
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // strongly connected components of the item-transition graph
    // (consecutive line items within an order → directed part→part
    // edge, the session-graph construction recommendation pipelines
    // run at corpus scale), hash-thinned below the giant-SCC density
    // threshold so the structure is non-trivial (sf0.01: SCCs of
    // 550/534/176/3 + 702 singletons). Engine is FW-BW-Trim min-label
    // peeling (GraphAnalytics.stronglyConnectedComponents — trim
    // strips DAG tails as singletons, F=B pivots peel whole SCCs);
    // the DuckDB mirror is the O(V·E) reachability closure with
    // mutual-reach min, viable only because the vertex set is capped.
    // id_sum pins WHICH vertices anchor each size class, not just the
    // histogram shape.
    RegQuery("x25_scc",
      (s, d) => {
        GraphAnalytics.stronglyConnectedComponents(transitionEdges(s, d))
          .groupBy("scc_id").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_sccs"),
            sum("scc_id").as("id_sum"))
          .orderBy(col("sz").desc)
      },
      Some("WITH RECURSIVE " + transitionEdgesCte("e") +
        """,
          |reach AS (SELECT src, dst FROM e
          |  UNION SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
          |verts AS (SELECT DISTINCT src AS v FROM e
          |  UNION SELECT dst FROM e),
          |mutual AS (SELECT r1.src AS mv, r1.dst AS mu FROM reach r1
          |  JOIN reach r2 ON r2.src = r1.dst AND r2.dst = r1.src),
          |scc AS (SELECT v, least(coalesce(min(mu), v), v) AS scc_id
          |  FROM verts LEFT JOIN mutual ON mv = v GROUP BY v),
          |sizes AS (SELECT scc_id, count(*) AS sz FROM scc GROUP BY 1)
          |SELECT sz, count(*) AS n_sccs,
          |  CAST(sum(scc_id) AS BIGINT) AS id_sum
          |FROM sizes GROUP BY sz ORDER BY sz DESC""".stripMargin)),

    // double-sweep diameter estimation (the iFUB seed step) on the
    // UNDIRECTED thinned item-transition graph: BFS from the
    // max-degree vertex, then BFS from its farthest vertex — ecc of
    // sweep 2 is the classic high-quality diameter lower bound at the
    // cost of exactly TWO O(ecc)-round BFS waves (vs |V| BFS runs for
    // the exact diameter). Both sweeps' full profile is pinned (root,
    // ecc, reached mass, tie-broken farthest vertex); the DuckDB
    // mirror runs the identical two frontier recursions.
    RegQuery("x26_double_sweep",
      (s, d) => {
        import s.implicits._
        val de = transitionEdges(s, d)
        val und = de.select(col("src").as("u"), col("dst").as("v"))
          .unionAll(de.select(col("dst").as("u"), col("src").as("v")))
          .distinct().localCheckpoint()
        val root1 = und.groupBy("u").agg(count(lit(1)).as("dg"))
          .orderBy(col("dg").desc, col("u")).limit(1)
          .collect()(0).getLong(0)
        def sweep(i: Int, r: Long): (Int, Long, Long, Long, Long) = {
          val dist = GraphAnalytics.bfsDistances(und, r).localCheckpoint()
          val a = dist.agg(max("dist").as("ecc"),
            count(lit(1)).as("n_reach")).collect()(0)
          val far = dist.where(col("dist") === a.getLong(0))
            .agg(min("v")).collect()(0).getLong(0)
          (i, r, a.getLong(0), a.getLong(1), far)
        }
        val s1 = sweep(1, root1)
        val s2 = sweep(2, s1._5)
        Seq(s1, s2).toDF("sweep", "root", "ecc", "n_reach", "far")
      },
      Some("WITH RECURSIVE " + transitionEdgesCte("de") +
        """,
             |e AS (SELECT src AS u, dst AS v FROM de
             |  UNION SELECT dst, src FROM de),
             |deg AS (SELECT u, count(*) AS dg FROM e GROUP BY u),
             |r1 AS (SELECT u FROM deg ORDER BY dg DESC, u LIMIT 1),
             |b1 AS (SELECT u AS v, 0 AS dist FROM r1
             |  UNION SELECT e.v, b.dist + 1 FROM b1 b
             |  JOIN e ON e.u = b.v WHERE b.dist < 60),
             |m1 AS (SELECT v, min(dist) AS dist FROM b1 GROUP BY v),
             |s1 AS (SELECT 1 AS sweep, (SELECT u FROM r1) AS root,
             |  max(dist) AS ecc, count(*) AS n_reach,
             |  min(CASE WHEN dist = (SELECT max(dist) FROM m1) THEN v END)
             |    AS far FROM m1),
             |b2 AS (SELECT far AS v, 0 AS dist FROM s1
             |  UNION SELECT e.v, b.dist + 1 FROM b2 b
             |  JOIN e ON e.u = b.v WHERE b.dist < 60),
             |m2 AS (SELECT v, min(dist) AS dist FROM b2 GROUP BY v),
             |s2 AS (SELECT 2 AS sweep, (SELECT far FROM s1) AS root,
             |  max(dist) AS ecc, count(*) AS n_reach,
             |  min(CASE WHEN dist = (SELECT max(dist) FROM m2) THEN v END)
             |    AS far FROM m2)
             |SELECT sweep, root, CAST(ecc AS BIGINT) AS ecc,
             |  CAST(n_reach AS BIGINT) AS n_reach, far
             |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
             |ORDER BY sweep""".stripMargin)),

    // SCC condensation DAG + longest-path layering: contract x25's
    // components, keep the distinct inter-SCC edges (acyclic by
    // construction), and compute each condensation node's topological
    // depth — the schedule a dependency-aware pipeline executes the
    // components in, and the classic second act of any SCC analysis.
    // Engine composes stronglyConnectedComponents with the dagLayers
    // max-propagation fixpoint; the mirror extends the x25 closure
    // with a bounded depth walk. Layer histogram carries the vertex
    // mass and a min-scc witness per layer (sf0.01: 13 layers, the
    // giant SCCs at depths 4-5).
    RegQuery("x27_scc_condensation",
      (s, d) => {
        val e = transitionEdges(s, d)
          .localCheckpoint() // feeds the SCC run AND the contraction
        val lab = GraphAnalytics.stronglyConnectedComponents(e)
          .localCheckpoint() // feeds contraction, the id universe, sizes
        val ce = e
          .join(lab.select(col("id").as("src"), col("scc_id").as("cs")),
            "src")
          .join(lab.select(col("id").as("dst"), col("scc_id").as("cd")),
            "dst")
          .where(col("cs") =!= col("cd"))
          .select(col("cs").as("src"), col("cd").as("dst")).distinct()
        // SCCs with no inter-SCC edge never enter the layer fixpoint —
        // they are sources at depth 0 by definition
        val layers = lab.select(col("scc_id").as("c")).distinct()
          .join(GraphAnalytics.dagLayers(ce), Seq("c"), "left")
          .na.fill(0L, Seq("layer"))
        val sz = lab.groupBy("scc_id").agg(count(lit(1)).as("n"))
        layers.join(sz, layers("c") === sz("scc_id"))
          .groupBy("layer").agg(count(lit(1)).as("n_sccs"),
            sum("n").as("n_vertices"), min("c").as("min_scc"))
          .orderBy("layer")
      },
      Some("WITH RECURSIVE " + transitionEdgesCte("e") +
        """,
             |reach AS (SELECT src, dst FROM e
             |  UNION SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
             |verts AS (SELECT DISTINCT src AS v FROM e
             |  UNION SELECT dst FROM e),
             |mutual AS (SELECT r1.src AS mv, r1.dst AS mu FROM reach r1
             |  JOIN reach r2 ON r2.src = r1.dst AND r2.dst = r1.src),
             |scc AS (SELECT v, least(coalesce(min(mu), v), v) AS scc_id
             |  FROM verts LEFT JOIN mutual ON mv = v GROUP BY v),
             |ce AS (SELECT DISTINCT s1.scc_id AS src, s2.scc_id AS dst
             |  FROM e JOIN scc s1 ON e.src = s1.v
             |  JOIN scc s2 ON e.dst = s2.v
             |  WHERE s1.scc_id <> s2.scc_id),
             |cn AS (SELECT DISTINCT scc_id AS c FROM scc),
             |walk AS (
             |  SELECT c, 0 AS d FROM cn
             |  WHERE c NOT IN (SELECT dst FROM ce)
             |  UNION
             |  SELECT ce.dst, w.d + 1 FROM walk w JOIN ce ON ce.src = w.c
             |  WHERE w.d < 200),
             |lay AS (SELECT c, max(d) AS layer FROM walk GROUP BY c),
             |sz AS (SELECT scc_id, count(*) AS n FROM scc GROUP BY 1)
             |SELECT CAST(layer AS BIGINT) AS layer,
             |  CAST(count(*) AS BIGINT) AS n_sccs,
             |  CAST(sum(n) AS BIGINT) AS n_vertices,
             |  CAST(min(c) AS BIGINT) AS min_scc
             |FROM lay JOIN sz ON lay.c = sz.scc_id
             |GROUP BY layer ORDER BY layer""".stripMargin)),

    // maximal independent set on the UNDIRECTED thinned transition
    // graph — the primitive under parallel coloring / scheduling /
    // landmark selection. Engine is the derandomized Luby min-id round
    // peel (GraphAnalytics.maximalIndependentSet: winners = live local
    // minima, winners+neighbours leave, per-round lineage cuts); its
    // fixpoint equals the sequential greedy-by-id MIS, and the DuckDB
    // mirror replays the SAME rounds as list algebra over a one-row
    // recursive state (live list, mis list) — so the hash pins the
    // round semantics, not just the final set. Output is per-vertex
    // membership; MisSpec pins independence, maximality, and the
    // round-count property.
    RegQuery("x28_mis",
      (s, d) => {
        val de = transitionEdges(s, d)
        val mis = GraphAnalytics.maximalIndependentSet(de)
        de.select(col("src").as("v"))
          .unionAll(de.select(col("dst").as("v"))).distinct()
          .join(mis.select(col("v"), lit(true).as("in_mis")),
            Seq("v"), "left")
          .select(col("v"), coalesce(col("in_mis"), lit(false)).as("in_mis"))
          .orderBy("v")
      },
      Some("WITH RECURSIVE " + transitionEdgesCte("de") +
        """,
          |e AS (SELECT src AS u, dst AS v FROM de
          |  UNION SELECT dst, src FROM de),
          |verts AS (SELECT DISTINCT u AS v FROM e),
          |nb AS (SELECT u AS vv, list(v) AS nbrs
          |  FROM (SELECT u, v FROM e) GROUP BY u),
          |adj AS (SELECT list(vv ORDER BY vv) AS vs,
          |  list(nbrs ORDER BY vv) AS ns FROM nb),
          |step AS (
          |  SELECT 0 AS r, (SELECT list(v ORDER BY v) FROM verts) AS live,
          |    CAST([] AS BIGINT[]) AS mis
          |  UNION ALL
          |  SELECT s.r + 1,
          |    list_filter(s.live, x -> NOT list_contains(win.w, x)
          |      AND NOT list_has_any(win.w,
          |        coalesce(a.ns[list_position(a.vs, x)],
          |          CAST([] AS BIGINT[])))),
          |    list_concat(s.mis, win.w)
          |  FROM step s
          |  CROSS JOIN adj a
          |  CROSS JOIN LATERAL (SELECT list_filter(s.live, x ->
          |      len(list_filter(coalesce(a.ns[list_position(a.vs, x)],
          |        CAST([] AS BIGINT[])),
          |        y -> y < x AND list_contains(s.live, y))) = 0) AS w) win
          |  WHERE len(s.live) > 0),
          |fin AS (SELECT mis FROM step ORDER BY r DESC LIMIT 1)
          |SELECT v, list_contains((SELECT mis FROM fin), v) AS in_mis
          |FROM verts ORDER BY v""".stripMargin)),

    // greedy coloring (Jones–Plassmann min-id rounds) on the same
    // graph — partition the vertices into independent classes for
    // conflict-free parallel scheduling (chromatic scheduling, the
    // update-batching trick for graph training pipelines). Engine is
    // GraphAnalytics.greedyColoring (a vertex colors itself once all
    // smaller-id neighbours are colored, mex rule, per-round cuts);
    // equals the sequential greedy sweep, and its color-0 class is
    // exactly x28's MIS — ColoringSpec pins both. The mirror replays
    // the identical rounds as list algebra (one-row recursive state of
    // colored-vertex and color lists). Output: per-color class size,
    // min member, member sum.
    RegQuery("x29_coloring",
      (s, d) => {
        GraphAnalytics.greedyColoring(transitionEdges(s, d))
          .groupBy(col("color").cast("long").as("color"))
          .agg(count(lit(1)).as("n"), min("v").as("min_v"),
            sum("v").as("v_sum"))
          .orderBy("color")
      },
      Some("WITH RECURSIVE " + transitionEdgesCte("de") +
        """,
          |e AS (SELECT src AS u, dst AS v FROM de
          |  UNION SELECT dst, src FROM de),
          |verts AS (SELECT DISTINCT u AS v FROM e),
          |nb AS (SELECT u AS vv, list(v) AS nbrs
          |  FROM (SELECT u, v FROM e) GROUP BY u),
          |adj AS (SELECT list(vv ORDER BY vv) AS vs,
          |  list(nbrs ORDER BY vv) AS ns,
          |  (SELECT list(v ORDER BY v) FROM verts) AS av FROM nb),
          |step AS (
          |  SELECT 0 AS r, CAST([] AS BIGINT[]) AS cv,
          |    CAST([] AS BIGINT[]) AS cc
          |  UNION ALL
          |  SELECT s.r + 1, list_concat(s.cv, rdy.vs2),
          |    list_concat(s.cc, list_transform(rdy.vs2, x ->
          |      list_filter(range(0,
          |          CAST(len(a.ns[list_position(a.vs, x)]) AS BIGINT) + 1),
          |        c -> NOT list_contains(
          |          list_transform(
          |            list_filter(a.ns[list_position(a.vs, x)], y -> y < x),
          |            y -> s.cc[list_position(s.cv, y)]), c))[1]))
          |  FROM step s CROSS JOIN adj a CROSS JOIN LATERAL (
          |    SELECT list_filter(a.av, x -> NOT list_contains(s.cv, x)
          |      AND len(list_filter(a.ns[list_position(a.vs, x)],
          |        y -> y < x AND NOT list_contains(s.cv, y))) = 0) AS vs2) rdy
          |  WHERE len(s.cv) < len(a.av)),
          |fin AS (SELECT cv, cc FROM step ORDER BY r DESC LIMIT 1),
          |res AS (SELECT unnest(cv) AS v, unnest(cc) AS color FROM fin)
          |SELECT color, CAST(count(*) AS BIGINT) AS n,
          |  CAST(min(v) AS BIGINT) AS min_v, CAST(sum(v) AS BIGINT) AS v_sum
          |FROM res GROUP BY color ORDER BY color""".stripMargin)),

    // maximal matching (min-pointer handshake rounds) on the same
    // graph — the pairwise-merge scheduling primitive completing the
    // x28/x29 trio. Engine is GraphAnalytics.maximalMatching (every
    // live vertex points at its smallest live neighbour; mutual
    // pointers match and both endpoints leave; progress guaranteed —
    // the globally smallest live vertex always handshakes). The
    // mirror replays the SAME rounds as one-row recursive list
    // algebra, so pairs AND their round tags are hash-checked;
    // MatchingSpec pins matching validity, maximality, and the
    // serializing-path round count.
    RegQuery("x30_matching",
      (s, d) => GraphAnalytics.maximalMatching(transitionEdges(s, d))
        .select(col("u"), col("v"), col("mround").cast("long").as("mround"))
        .orderBy("u"),
      Some(x30Oracle)),

    // Borůvka minimum spanning forest on the weighted co-purchase
    // graph (weight = number of shared orders) — THE parallel MST
    // primitive (Borůvka 1926; the GNN-sampling / clustering-backbone
    // shape). Engine is GraphAnalytics.boruvkaMsf: per round every
    // component picks its min incident cross edge under the TOTAL
    // order (w, u, v), components contract by CC over the picked
    // pseudo-forest, rounds ≤ log2(V). The total order makes the
    // forest UNIQUE, so the oracle need not replay rounds: a
    // SEQUENTIAL Kruskal (one-row recursive CTE — one edge per step in
    // the same (w, u, v) order, component labels as a list) must
    // produce the identical edge set — a parallel algorithm checked by
    // its sequential specification. MsfSpec pins forest shape
    // (acyclic, spanning, per-component minimality on a hand graph)
    // and the maxRounds guard; the 10× rehearsal pins round counts
    // volume-independent.
    RegQuery("x31_msf",
      (s, d) => GraphAnalytics.boruvkaMsf(weightedCoPurchase(s, d))
        .select(col("u"), col("v"), col("w"))
        .orderBy("u", "v"),
      Some(x31Oracle)),

    // Louvain community detection (one level) on the planted
    // clique-chain graph — the modularity-DRIVEN recovery companion
    // to x06's label propagation and x22's ground-truth modularity:
    // deterministic synchronous gain rounds (exact-integer ΔQ order,
    // smallest-label ties, strictly-better moves, singleton-swap
    // guard) run to fixpoint, recovering the planted cliques. The
    // DuckDB mirror replays the SAME rounds as one-row recursive list
    // algebra — per round it rebuilds the community size/degree-mass
    // tables and every vertex's argmax — so the hash pins the round
    // semantics, not just the final partition. Output: per-community
    // (labeled by min member) size, member sum, degree mass, and
    // internal edge count — the exact inputs to x22's Q formula.
    RegQuery("x32_louvain",
      (s, d) => {
        val pairs = brandCliqueChain(s, d).localCheckpoint()
        val comm = GraphAnalytics.louvainOneLevel(
          pairs.select(col("p1").as("src"), col("p2").as("dst")))
        val lab = comm.groupBy("c").agg(min("v").as("comm_id"))
        val mem = comm.join(lab, "c")
          .select(col("v"), col("comm_id"), col("deg"))
          .localCheckpoint() // feeds the agg AND both edge probes
        val ec = pairs
          .join(mem.select(col("v").as("p1"), col("comm_id").as("c1")),
            "p1")
          .join(mem.select(col("v").as("p2"), col("comm_id").as("c2")),
            "p2")
          .where(col("c1") === col("c2"))
          .groupBy(col("c1").as("comm_id")).agg(count(lit(1)).as("e_c"))
        mem.groupBy("comm_id")
          .agg(count(lit(1)).as("n"), sum("v").as("v_sum"),
            sum("deg").as("d_c"))
          .join(ec, Seq("comm_id"), "left")
          .select(col("comm_id"), col("n"), col("v_sum"), col("d_c"),
            coalesce(col("e_c"), lit(0L)).as("e_c"))
          .orderBy("comm_id")
      },
      Some(x32Oracle)),

    // Louvain HIERARCHY: x32's level-1 fixpoint contracts into a
    // weighted supergraph (supernode = community, edge weight =
    // cross-community edge mass, self-loop = internal mass counted 2x
    // in degree) and a SECOND weighted gain-round level runs on it —
    // the full Blondel et al. loop, both levels deterministic. At
    // 100 TB the contraction is the step that makes Louvain iterable:
    // each level shrinks the graph by the community count, so level 2+
    // costs a fraction of level 1. The mirror replays BOTH levels (the
    // shared level-1 CTEs + a weighted recursive replay), so the hash
    // pins contraction arithmetic and second-level dynamics alike.
    RegQuery("x33_louvain_hier",
      (s, d) => {
        val pairs = brandCliqueChain(s, d).localCheckpoint()
        val l1 = GraphAnalytics.louvainOneLevel(
          pairs.select(col("p1").as("src"), col("p2").as("dst")))
        val lab = l1.groupBy("c").agg(min("v").as("comm_id"))
        val mem = l1.join(lab, "c").select(col("v"), col("comm_id"))
          .localCheckpoint() // feeds the contraction joins AND sizes
        val ej = pairs
          .join(mem.select(col("v").as("p1"), col("comm_id").as("c1")),
            "p1")
          .join(mem.select(col("v").as("p2"), col("comm_id").as("c2")),
            "p2")
          .localCheckpoint() // feeds cross masses AND self masses
        val cross = ej.where(col("c1") =!= col("c2"))
          .select(least(col("c1"), col("c2")).as("u"),
            greatest(col("c1"), col("c2")).as("v"))
          .groupBy("u", "v").agg(count(lit(1)).as("w"))
        val selfw = ej.where(col("c1") === col("c2"))
          .groupBy(col("c1").as("v")).agg(count(lit(1)).as("sw"))
        val l2 = GraphAnalytics.louvainWeighted(cross, selfw, maxRounds = 8)
        val lab2 = l2.groupBy("c").agg(min("v").as("comm2_id"))
        val sizes1 = mem.groupBy("comm_id").agg(count(lit(1)).as("nv"))
        l2.join(lab2, "c")
          .join(sizes1, l2("v") === sizes1("comm_id"))
          .groupBy("comm2_id")
          .agg(count(lit(1)).as("n_super"), sum("nv").as("n_vertices"),
            sum("deg").as("mass"))
          .orderBy("comm2_id")
      },
      Some(x33Oracle)),

    // Louvain FULL multi-level loop (Blondel et al.'s outer recursion,
    // closing x33's fixed-budget gap): levels repeat while the exact-
    // integer modularity gain clears the threshold, a budget-limited
    // oscillation is REJECTED (best-so-far kept), and an identity
    // level ends the loop — levels/rounds/gains/converged surfaced as
    // local properties (LouvainSpec pins them). The K4 chain fixture
    // NEEDS three levels (K4s → pairs → quads; measured gains all
    // positive, level 4 the identity stop), and the mirror replays ALL
    // THREE — each one the same weighted one-row recursive round
    // replay as x33's level 2, chained through two relational
    // contractions — so the hash pins the whole hierarchy: round
    // dynamics, contraction arithmetic, and mapping composition.
    RegQuery("x34_louvain_full",
      (s, d) => {
        val m = GraphAnalytics.louvainHierarchy(
          k4Chain(s, d).localCheckpoint(), maxLevels = 8)
        m.groupBy("comm")
          .agg(count(lit(1)).as("n_vertices"), sum("v0").as("v_sum"))
          .orderBy("comm")
      },
      Some(x34Oracle))
  )

  /** x34's fixture: 48 K4 cliques on part ids 0..191 chained by one
    * bridge per adjacent clique — a hierarchy the gain dynamics fold
    * one level at a time (cliques, then pairs, then quads). A CHAIN,
    * not a ring: endpoints break the symmetry that makes synchronous
    * supernode rounds oscillate. */
  private def k4Chain(s: org.apache.spark.sql.SparkSession,
                      d: String): org.apache.spark.sql.DataFrame = {
    val ids = graft.Tables(s, d, "part").where(col("p_partkey") < 192)
      .select(col("p_partkey").cast("long").as("id"))
    val intra = ids.as("a").join(ids.as("b"),
      expr("a.id div 4") === expr("b.id div 4") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst"))
    val chain = ids.where(col("id") % 4 === 0 && col("id") < 188)
      .select(col("id").as("src"), (col("id") + 4).as("dst"))
    intra.unionAll(chain)
  }

  /** Weighted co-purchase graph for x31: parts ≤ 150 sharing an order
    * (u &lt; v), weight = number of DISTINCT orders sharing the pair —
    * the bounded in-row fan-out of coPurchasePairs plus one count
    * aggregate, never a self-join. */
  private def weightedCoPurchase(s: org.apache.spark.sql.SparkSession,
                                 d: String): org.apache.spark.sql.DataFrame =
    graft.Tables(s, d, "lineitem")
      .where(col("l_partkey") <= 150)
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (a, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))), b =>
          struct(a.as("p1"), b.as("p2")))))).as("e"))
      .select(col("e.p1").cast("long").as("u"),
        col("e.p2").cast("long").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("w"))

  /** DuckDB mirror of x31: sequential Kruskal over the identical
    * (w, u, v) edge order — one edge per recursion step, component
    * labels carried as a vertex-aligned list, union = relabel the
    * larger label to the smaller. The engine's parallel Borůvka must
    * equal this by MSF uniqueness under the total order. */
  private def x31Oracle: String =
    """WITH RECURSIVE
      |pp AS MATERIALIZED (SELECT p1 AS u, p2 AS v, CAST(count(*) AS BIGINT) AS w
      |  FROM (SELECT DISTINCT a.l_orderkey AS o, a.l_partkey AS p1,
      |      b.l_partkey AS p2
      |    FROM lineitem a JOIN lineitem b
      |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |    WHERE a.l_partkey <= 150 AND b.l_partkey <= 150)
      |  GROUP BY p1, p2),
      |verts AS MATERIALIZED (SELECT DISTINCT x AS v FROM
      |  (SELECT u AS x FROM pp UNION SELECT v FROM pp)),
      |ed AS MATERIALIZED (SELECT list(u ORDER BY w, u, v) AS eu,
      |  list(v ORDER BY w, u, v) AS ev,
      |  list(w ORDER BY w, u, v) AS ew,
      |  (SELECT list(v ORDER BY v) FROM verts) AS vs FROM pp),
      |step AS (
      |  SELECT 0 AS r, (SELECT list(v ORDER BY v) FROM verts) AS lab,
      |    CAST([] AS BIGINT[]) AS mu, CAST([] AS BIGINT[]) AS mv,
      |    CAST([] AS BIGINT[]) AS mw
      |  UNION ALL
      |  SELECT s.r + 1,
      |    CASE WHEN la.a <> lb.b THEN list_transform(s.lab,
      |        x -> CASE WHEN x = greatest(la.a, lb.b)
      |               THEN least(la.a, lb.b) ELSE x END)
      |      ELSE s.lab END,
      |    CASE WHEN la.a <> lb.b THEN list_append(s.mu, e.eu[s.r + 1])
      |      ELSE s.mu END,
      |    CASE WHEN la.a <> lb.b THEN list_append(s.mv, e.ev[s.r + 1])
      |      ELSE s.mv END,
      |    CASE WHEN la.a <> lb.b THEN list_append(s.mw, e.ew[s.r + 1])
      |      ELSE s.mw END
      |  FROM step s CROSS JOIN ed e
      |  CROSS JOIN LATERAL (SELECT
      |    s.lab[list_position(e.vs, e.eu[s.r + 1])] AS a) la
      |  CROSS JOIN LATERAL (SELECT
      |    s.lab[list_position(e.vs, e.ev[s.r + 1])] AS b) lb
      |  WHERE s.r < len(e.eu)),
      |fin AS (SELECT mu, mv, mw FROM step ORDER BY r DESC LIMIT 1)
      |SELECT unnest(mu) AS u, unnest(mv) AS v, unnest(mw) AS w
      |FROM fin ORDER BY u, v""".stripMargin

  /** DuckDB mirror of the Louvain synchronous gain rounds: a one-row
    * recursive state carries the assignment list; each round rebuilds
    * the community size/degree-mass lists once (O(V·C) list algebra)
    * and every vertex picks its argmax candidate by the identical
    * exact-integer score, tie, strictness, and singleton-swap rules as
    * [[GraphAnalytics.louvainOneLevel]]. Subexpressions are generated
    * here (the x30 nested-lambda trick) so the doubly-inlined score
    * stays in lockstep with itself. */
  /** Shared level-1 Louvain replay (the x32 rounds) as a CTE-list
    * fragment ending in `mem(v, comm_id, deg)` — reused verbatim by
    * x33, whose contraction and weighted level-2 replay continue from
    * it. Subexpressions are generated (the x30 nested-lambda trick)
    * so the doubly-inlined score stays in lockstep with itself. */
  private def louvainL1ReplayCtes: String = {
    val ncs = "list_transform(a.ns[i], y -> s.cs[list_position(a.vs, y)])"
    val cur = "s.cs[i]"
    val deg = "a.degs[i]"
    def size(c: String) = s"ag.sizes[list_position(cx.cls, $c)]"
    def tot(c: String) = s"ag.tots[list_position(cx.cls, $c)]"
    def k(c: String, lv: Int) =
      s"CAST(len(list_filter($ncs, z$lv -> z$lv = $c)) AS BIGINT)"
    val stay = s"(a.m2 * ${k(cur, 3)} - $deg * (${tot(cur)} - $deg))"
    val cands = s"list_filter(list_distinct($ncs), c0 -> c0 <> $cur)"
    // sort by (-score, label) ascending: [1] = max score, min label
    val pick = s"list_sort(list_transform($cands, c9 -> " +
      s"{'negs': -(a.m2 * ${k("c9", 4)} - $deg * ${tot("c9")})," +
      s" 'cc': c9}))[1]"
    """gp AS (SELECT CAST(p_partkey AS BIGINT) AS id, p_brand,
      |    CAST(floor((row_number() OVER (PARTITION BY p_brand
      |      ORDER BY p_partkey) - 1) / 10) AS BIGINT) AS grp
      |  FROM part),
      |cl AS (SELECT p_brand, grp, list_sort(list(id)) AS ps
      |  FROM gp GROUP BY p_brand, grp),
      |cpairs AS (SELECT unnest(flatten(list_transform(ps,
      |    (aa, ii) -> list_transform(ps[ii+1:],
      |      bb -> {'p1': aa, 'p2': bb})))) AS e
      |  FROM cl),
      |cp AS (SELECT e.p1 AS p1, e.p2 AS p2 FROM cpairs),
      |br AS (SELECT ps[1] AS p1, lead(ps[1]) OVER
      |    (ORDER BY p_brand, grp) AS p2 FROM cl),
      |edges AS MATERIALIZED (SELECT p1, p2 FROM cp
      |  UNION ALL SELECT p1, p2 FROM br WHERE p2 IS NOT NULL),
      |e AS (SELECT p1 AS u, p2 AS v FROM edges
      |  UNION SELECT p2, p1 FROM edges),
      |nb AS (SELECT u AS vv, list(v) AS nbrs FROM e GROUP BY u),
      |adj AS MATERIALIZED (SELECT list(vv ORDER BY vv) AS vs,
      |  list(nbrs ORDER BY vv) AS ns,
      |  list(CAST(len(nbrs) AS BIGINT) ORDER BY vv) AS degs,
      |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS m2 FROM nb),
      |step AS (
      |  SELECT 0 AS r, true AS mv, (SELECT vs FROM adj) AS cs
      |  UNION ALL
      |  SELECT s.r + 1, nx.cs2 <> s.cs, nx.cs2
      |  FROM step s CROSS JOIN adj a
      |  CROSS JOIN LATERAL (SELECT list_distinct(s.cs) AS cls) cx
      |  CROSS JOIN LATERAL (SELECT
      |      list_transform(cx.cls, c1 ->
      |        CAST(len(list_filter(s.cs, z1 -> z1 = c1)) AS BIGINT))
      |        AS sizes,
      |      list_transform(cx.cls, c2 -> list_sum(list_transform(
      |        range(1, CAST(len(s.cs) AS BIGINT) + 1),
      |        j -> CASE WHEN s.cs[j] = c2 THEN a.degs[j]
      |             ELSE 0 END))) AS tots) ag
      |""".stripMargin +
      s"""  CROSS JOIN LATERAL (SELECT list_transform(a.vs, (x, i) ->
         |      CASE WHEN $pick IS NOT NULL
         |        AND -($pick.negs) > $stay
         |        AND NOT (${size(cur)} = 1 AND ${size(s"$pick.cc")} = 1
         |          AND $pick.cc > $cur)
         |      THEN $pick.cc ELSE $cur END) AS cs2) nx
         |  WHERE s.mv AND s.r < 16),
         |""".stripMargin +
      """fin AS MATERIALIZED (SELECT cs FROM step ORDER BY r DESC LIMIT 1),
        |asn AS (SELECT unnest(a.vs) AS v, unnest(f.cs) AS c,
        |    unnest(a.degs) AS deg FROM adj a, fin f),
        |rel AS (SELECT c, min(v) AS comm_id FROM asn GROUP BY c),
        |mem AS MATERIALIZED (SELECT asn.v, rel.comm_id, asn.deg
        |  FROM asn JOIN rel USING (c))
        |""".stripMargin
  }

  private def x32Oracle: String =
    "WITH RECURSIVE\n" + louvainL1ReplayCtes + "," +
      """
        |ein AS (SELECT m1.comm_id, CAST(count(*) AS BIGINT) AS e_c
        |  FROM edges ed JOIN mem m1 ON ed.p1 = m1.v
        |    JOIN mem m2 ON ed.p2 = m2.v
        |  WHERE m1.comm_id = m2.comm_id GROUP BY m1.comm_id),
        |agg2 AS (SELECT comm_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS v_sum,
        |    CAST(sum(deg) AS BIGINT) AS d_c
        |  FROM mem GROUP BY comm_id)
        |SELECT a.comm_id, a.n, a.v_sum, a.d_c,
        |  CAST(coalesce(e.e_c, 0) AS BIGINT) AS e_c
        |FROM agg2 a LEFT JOIN ein e USING (comm_id)
        |ORDER BY comm_id""".stripMargin

  /** DuckDB mirror of the full Louvain hierarchy: the shared level-1
    * replay, a relational contraction into the weighted supergraph
    * (cross-community edge masses + self-loop masses), then the SAME
    * recursive round replay generalized to weights — k(u,c) sums edge
    * weights, degrees carry 2x the self mass, and the gain order,
    * tie, strictness and singleton-swap rules are identical to
    * [[GraphAnalytics.louvainWeighted]]. */
  private def x33Oracle: String = {
    val cur = "s.cs[i]"
    val deg = "a.degs[i]"
    val ncs = "list_transform(a.ns[i], y -> s.cs[list_position(a.vs, y)])"
    def size(c: String) = s"ag.sizes[list_position(cx.cls, $c)]"
    def tot(c: String) = s"ag.tots[list_position(cx.cls, $c)]"
    def k(c: String, lv: Int) =
      s"CAST(list_sum(list_transform(range(1, " +
        s"CAST(len(a.ns[i]) AS BIGINT) + 1), j$lv -> CASE WHEN " +
        s"s.cs[list_position(a.vs, a.ns[i][j$lv])] = $c " +
        s"THEN a.ws[i][j$lv] ELSE 0 END)) AS BIGINT)"
    val stay = s"(a.m2 * ${k(cur, 3)} - $deg * (${tot(cur)} - $deg))"
    val cands = s"list_filter(list_distinct($ncs), c0 -> c0 <> $cur)"
    val pick = s"list_sort(list_transform($cands, c9 -> " +
      s"{'negs': -(a.m2 * ${k("c9", 4)} - $deg * ${tot("c9")})," +
      s" 'cc': c9}))[1]"
    "WITH RECURSIVE\n" + louvainL1ReplayCtes + "," +
      """
        |ej AS MATERIALIZED (SELECT m1.comm_id AS c1, m2.comm_id AS c2
        |  FROM edges ed JOIN mem m1 ON ed.p1 = m1.v
        |    JOIN mem m2 ON ed.p2 = m2.v),
        |cross2 AS MATERIALIZED (SELECT least(c1, c2) AS u, greatest(c1, c2) AS v,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM ej WHERE c1 <> c2 GROUP BY 1, 2),
        |selfw AS MATERIALIZED (SELECT c1 AS v, CAST(count(*) AS BIGINT) AS sw
        |  FROM ej WHERE c1 = c2 GROUP BY 1),
        |e2 AS (SELECT u, v, w FROM cross2
        |  UNION ALL SELECT v, u, w FROM cross2),
        |nb2 AS (SELECT u AS vv, list(v ORDER BY v) AS nbrs,
        |    list(w ORDER BY v) AS wts FROM e2 GROUP BY u),
        |degt AS (SELECT coalesce(nb2.vv, sl.v) AS vv,
        |    coalesce(nb2.nbrs, CAST([] AS BIGINT[])) AS nbrs,
        |    coalesce(nb2.wts, CAST([] AS BIGINT[])) AS wts,
        |    CAST(coalesce(list_sum(nb2.wts), 0) + 2 * coalesce(sl.sw, 0)
        |      AS BIGINT) AS dg
        |  FROM nb2 FULL OUTER JOIN selfw sl ON nb2.vv = sl.v),
        |adj2 AS MATERIALIZED (SELECT list(vv ORDER BY vv) AS vs,
        |  list(nbrs ORDER BY vv) AS ns, list(wts ORDER BY vv) AS ws,
        |  list(dg ORDER BY vv) AS degs,
        |  (SELECT CAST(sum(dg) AS BIGINT) FROM degt) AS m2 FROM degt),
        |step2 AS (
        |  SELECT 0 AS r, true AS mv, (SELECT vs FROM adj2) AS cs
        |  UNION ALL
        |  SELECT s.r + 1, nx.cs2 <> s.cs, nx.cs2
        |  FROM step2 s CROSS JOIN adj2 a
        |  CROSS JOIN LATERAL (SELECT list_distinct(s.cs) AS cls) cx
        |  CROSS JOIN LATERAL (SELECT
        |      list_transform(cx.cls, c1 ->
        |        CAST(len(list_filter(s.cs, z1 -> z1 = c1)) AS BIGINT))
        |        AS sizes,
        |      list_transform(cx.cls, c2 -> list_sum(list_transform(
        |        range(1, CAST(len(s.cs) AS BIGINT) + 1),
        |        j -> CASE WHEN s.cs[j] = c2 THEN a.degs[j]
        |             ELSE 0 END))) AS tots) ag
        |""".stripMargin +
      s"""  CROSS JOIN LATERAL (SELECT list_transform(a.vs, (x, i) ->
         |      CASE WHEN $pick IS NOT NULL
         |        AND -($pick.negs) > $stay
         |        AND NOT (${size(cur)} = 1 AND ${size(s"$pick.cc")} = 1
         |          AND $pick.cc > $cur)
         |      THEN $pick.cc ELSE $cur END) AS cs2) nx
         |  WHERE s.mv AND s.r < 8),
         |""".stripMargin +
      """fin2 AS MATERIALIZED (SELECT cs FROM step2 ORDER BY r DESC LIMIT 1),
        |asn2 AS MATERIALIZED (SELECT unnest(a.vs) AS v, unnest(f.cs) AS c,
        |    unnest(a.degs) AS deg FROM adj2 a, fin2 f),
        |rel2 AS (SELECT c, min(v) AS comm2_id FROM asn2 GROUP BY c),
        |sizes1 AS (SELECT comm_id, CAST(count(*) AS BIGINT) AS nv
        |  FROM mem GROUP BY comm_id)
        |SELECT r2.comm2_id, CAST(count(*) AS BIGINT) AS n_super,
        |  CAST(sum(s1.nv) AS BIGINT) AS n_vertices,
        |  CAST(sum(a2.deg) AS BIGINT) AS mass
        |FROM asn2 a2 JOIN rel2 r2 USING (c)
        |  JOIN sizes1 s1 ON a2.v = s1.comm_id
        |GROUP BY r2.comm2_id ORDER BY r2.comm2_id""".stripMargin
  }


  /** One weighted Louvain level as a DuckDB CTE-list fragment —
    * x33's level-2 replay generalized with a level suffix so the x34
    * mirror chains ANY number of levels. Consumes `e$l(u,v,w)`
    * (symmetric) + `sl$l(v,sw)`, emits `mem$l(v, cid)`; gain order,
    * ties, strictness, singleton-swap guard and the full-outer
    * self-loop-only vertex universe identical to
    * [[GraphAnalytics.louvainHierarchy]]'s louvainRounds. */
  private def louvainLevelCtes(l: Int, rounds: Int): String = {
    val cur = "s.cs[i]"
    val deg = "a.degs[i]"
    val ncs = "list_transform(a.ns[i], y -> s.cs[list_position(a.vs, y)])"
    def size(c: String) = s"ag.sizes[list_position(cx.cls, $c)]"
    def tot(c: String) = s"ag.tots[list_position(cx.cls, $c)]"
    def k(c: String, lv: Int) =
      s"CAST(list_sum(list_transform(range(1, " +
        s"CAST(len(a.ns[i]) AS BIGINT) + 1), j$lv -> CASE WHEN " +
        s"s.cs[list_position(a.vs, a.ns[i][j$lv])] = $c " +
        s"THEN a.ws[i][j$lv] ELSE 0 END)) AS BIGINT)"
    val stay = s"(a.m2 * ${k(cur, 3)} - $deg * (${tot(cur)} - $deg))"
    val cands = s"list_filter(list_distinct($ncs), c0 -> c0 <> $cur)"
    val pick = s"list_sort(list_transform($cands, c9 -> " +
      s"{'negs': -(a.m2 * ${k("c9", 4)} - $deg * ${tot("c9")})," +
      s" 'cc': c9}))[1]"
    s"""nb$l AS (SELECT u AS vv, list(v ORDER BY v) AS nbrs,
       |    list(w ORDER BY v) AS wts FROM e$l GROUP BY u),
       |degt$l AS (SELECT coalesce(nb$l.vv, sl.v) AS vv,
       |    coalesce(nb$l.nbrs, CAST([] AS BIGINT[])) AS nbrs,
       |    coalesce(nb$l.wts, CAST([] AS BIGINT[])) AS wts,
       |    CAST(coalesce(list_sum(nb$l.wts), 0) + 2 * coalesce(sl.sw, 0)
       |      AS BIGINT) AS dg
       |  FROM nb$l FULL OUTER JOIN sl$l sl ON nb$l.vv = sl.v),
       |adj$l AS MATERIALIZED (SELECT list(vv ORDER BY vv) AS vs,
       |  list(nbrs ORDER BY vv) AS ns, list(wts ORDER BY vv) AS ws,
       |  list(dg ORDER BY vv) AS degs,
       |  (SELECT CAST(sum(dg) AS BIGINT) FROM degt$l) AS m2
       |  FROM degt$l),
       |step$l AS (
       |  SELECT 0 AS r, true AS mv, (SELECT vs FROM adj$l) AS cs
       |  UNION ALL
       |  SELECT s.r + 1, nx.cs2 <> s.cs, nx.cs2
       |  FROM step$l s CROSS JOIN adj$l a
       |  CROSS JOIN LATERAL (SELECT list_distinct(s.cs) AS cls) cx
       |  CROSS JOIN LATERAL (SELECT
       |      list_transform(cx.cls, c1 ->
       |        CAST(len(list_filter(s.cs, z1 -> z1 = c1)) AS BIGINT))
       |        AS sizes,
       |      list_transform(cx.cls, c2 -> list_sum(list_transform(
       |        range(1, CAST(len(s.cs) AS BIGINT) + 1),
       |        j -> CASE WHEN s.cs[j] = c2 THEN a.degs[j]
       |             ELSE 0 END))) AS tots) ag
       |""".stripMargin +
      s"""  CROSS JOIN LATERAL (SELECT list_transform(a.vs, (x, i) ->
         |      CASE WHEN $pick IS NOT NULL
         |        AND -($pick.negs) > $stay
         |        AND NOT (${size(cur)} = 1 AND ${size(s"$pick.cc")} = 1
         |          AND $pick.cc > $cur)
         |      THEN $pick.cc ELSE $cur END) AS cs2) nx
         |  WHERE s.mv AND s.r < $rounds),
         |fin$l AS MATERIALIZED (SELECT cs FROM step$l
         |  ORDER BY r DESC LIMIT 1),
         |asn$l AS (SELECT unnest(a.vs) AS v, unnest(f.cs) AS c
         |  FROM adj$l a, fin$l f),
         |rel$l AS (SELECT c, min(v) AS cid FROM asn$l GROUP BY c),
         |mem$l AS MATERIALIZED (SELECT asn$l.v, rel$l.cid
         |  FROM asn$l JOIN rel$l USING (c))
         |""".stripMargin
  }

  /** Relational contraction `l → l+1`: e$l is symmetric so c1&lt;c2
    * counts each undirected cross edge once and u&lt;v each internal
    * edge once; carried self masses fold in by community. Mirrors
    * [[GraphAnalytics.louvainHierarchy]]'s contraction exactly. */
  private def louvainContractionCtes(l: Int): String =
    s"""ej$l AS MATERIALIZED (SELECT m1.cid AS c1, m2.cid AS c2, e.u, e.v, e.w
       |  FROM e$l e JOIN mem$l m1 ON e.u = m1.v
       |    JOIN mem$l m2 ON e.v = m2.v),
       |cr$l AS (SELECT c1 AS u, c2 AS v, CAST(sum(w) AS BIGINT) AS w
       |  FROM ej$l WHERE c1 < c2 GROUP BY c1, c2),
       |inn$l AS (SELECT c1 AS v, CAST(sum(w) AS BIGINT) AS sw
       |  FROM ej$l WHERE c1 = c2 AND u < v GROUP BY c1),
       |car$l AS (SELECT m.cid AS v, CAST(sum(sl.sw) AS BIGINT) AS sw
       |  FROM sl$l sl JOIN mem$l m ON sl.v = m.v GROUP BY m.cid),
       |sl${l + 1} AS (SELECT v, CAST(sum(sw) AS BIGINT) AS sw FROM
       |  (SELECT v, sw FROM inn$l UNION ALL SELECT v, sw FROM car$l)
       |  GROUP BY v),
       |e${l + 1} AS (SELECT u, v, w FROM cr$l
       |  UNION ALL SELECT v, u, w FROM cr$l)
       |""".stripMargin

  /** x34's mirror: the K4-chain fixture, THREE chained weighted level
    * replays (the number of accepted levels the engine's convergence
    * loop takes on this fixture — level 4 is the identity stop, so it
    * contributes nothing to replay), and the mapping composition. */
  private def x34Oracle: String =
    "WITH RECURSIVE\n" +
      """gp AS (SELECT CAST(p_partkey AS BIGINT) AS id FROM part
        |  WHERE p_partkey < 192),
        |cl AS (SELECT a.id AS p1, b.id AS p2 FROM gp a JOIN gp b
        |  ON a.id // 4 = b.id // 4 AND a.id < b.id),
        |chn AS (SELECT id AS p1, id + 4 AS p2 FROM gp
        |  WHERE id % 4 = 0 AND id < 188),
        |ed0 AS (SELECT p1 AS u, p2 AS v FROM cl
        |  UNION ALL SELECT p1, p2 FROM chn),
        |e1 AS (SELECT u, v, CAST(1 AS BIGINT) AS w FROM ed0
        |  UNION ALL SELECT v, u, CAST(1 AS BIGINT) FROM ed0),
        |sl1 AS (SELECT CAST(NULL AS BIGINT) AS v,
        |  CAST(NULL AS BIGINT) AS sw WHERE false),
        |""".stripMargin +
      louvainLevelCtes(1, 16) + "," +
      louvainContractionCtes(1) + "," +
      louvainLevelCtes(2, 16) + "," +
      louvainContractionCtes(2) + "," +
      louvainLevelCtes(3, 16) + "," +
      """map3 AS (SELECT m1.v AS v0, m3.cid AS comm FROM mem1 m1
        |  JOIN mem2 m2 ON m1.cid = m2.v
        |  JOIN mem3 m3 ON m2.cid = m3.v)
        |SELECT comm, CAST(count(*) AS BIGINT) AS n_vertices,
        |  CAST(sum(v0) AS BIGINT) AS v_sum
        |FROM map3 GROUP BY comm ORDER BY comm""".stripMargin

  /** DuckDB mirror of the min-pointer handshake rounds: `mmin(x)` is
    * the smallest LIVE neighbour; a pair (x, mmin(x)) matches when the
    * pointer is mutual. Nested-lambda expansion generated here so the
    * doubly-inlined mmin stays in lockstep with itself. */
  private def x30Oracle: String = {
    def mmin(arg: String, lv: Int): String =
      s"list_min(list_filter(a.ns[list_position(a.vs, $arg)]," +
        s" z$lv -> list_contains(s.live, z$lv)))"
    val m1 = mmin("x", 1)
    val m2 = mmin(m1, 2)
    "WITH RECURSIVE " + transitionEdgesCte("de") +
      s""",
         |e AS (SELECT src AS u, dst AS v FROM de
         |  UNION SELECT dst, src FROM de),
         |verts AS (SELECT DISTINCT u AS v FROM e),
         |nb AS (SELECT u AS vv, list(v) AS nbrs
         |  FROM (SELECT u, v FROM e) GROUP BY u),
         |adj AS (SELECT list(vv ORDER BY vv) AS vs,
         |  list(nbrs ORDER BY vv) AS ns FROM nb),
         |step AS (
         |  SELECT 0 AS r, (SELECT list(v ORDER BY v) FROM verts) AS live,
         |    CAST([] AS BIGINT[]) AS mu, CAST([] AS BIGINT[]) AS mv,
         |    CAST([] AS BIGINT[]) AS mr
         |  UNION ALL
         |  SELECT s.r + 1,
         |    list_filter(s.live, x -> NOT list_contains(w0.wu, x)
         |      AND NOT list_contains(w1.wv, x)),
         |    list_concat(s.mu, w0.wu),
         |    list_concat(s.mv, w1.wv),
         |    list_concat(s.mr, list_transform(w0.wu, x -> s.r + 1))
         |  FROM step s CROSS JOIN adj a
         |  CROSS JOIN LATERAL (SELECT list_filter(s.live, x ->
         |      $m1 IS NOT NULL AND x < $m1 AND $m2 = x) AS wu) w0
         |  CROSS JOIN LATERAL (SELECT list_transform(w0.wu,
         |      x -> $m1) AS wv) w1
         |  WHERE len(list_filter(s.live, x -> $m1 IS NOT NULL)) > 0),
         |fin AS (SELECT mu, mv, mr FROM step ORDER BY r DESC LIMIT 1)
         |SELECT unnest(mu) AS u, unnest(mv) AS v,
         |  CAST(unnest(mr) AS BIGINT) AS mround
         |FROM fin ORDER BY u""".stripMargin
  }

  /** Planted-community graph for x06: parts grouped into ~10-member
    * cliques by (brand, partkey-rank div 10) — the clique pair fan-out
    * is the bounded in-row explode from coPurchasePairs — plus one
    * bridge edge from each clique's min vertex to the next clique's
    * (brand, grp order), chaining every community together. The bridge
    * builder's global lead() window runs over one row per CLIQUE
    * (|parts|/10 — pre-aggregated, the p27 bounded-window shape), not
    * per vertex. */
  private def brandCliqueChain(s: org.apache.spark.sql.SparkSession,
                               d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gp = graft.Tables(s, d, "part")
      .select(col("p_partkey").cast("long").as("id"), col("p_brand"))
      .withColumn("grp", floor((row_number().over(
        Window.partitionBy("p_brand").orderBy("id")) - 1) / 10).cast("long"))
    val cl = gp.groupBy("p_brand", "grp")
      .agg(array_sort(collect_set(col("id"))).as("ps"))
      .select(col("p_brand"), col("grp"), col("ps"))
    val cliquePairs = cl
      .select(explode(flatten(transform(col("ps"), (a, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))), b =>
          struct(a.as("p1"), b.as("p2")))))).as("e"))
      .select(col("e.p1"), col("e.p2"))
    val bridges = cl
      .select(col("p_brand"), col("grp"), element_at(col("ps"), 1).as("mid"))
      .withColumn("p2", lead(col("mid"), 1).over(
        Window.orderBy("p_brand", "grp")))
      .where(col("p2").isNotNull)
      .select(col("mid").as("p1"), col("p2"))
    cliquePairs.unionAll(bridges)
  }

  /** The hash-thinned item-transition graph shared by x25/x26/x27
    * (consecutive line items within an order → directed part→part
    * edge; parts capped at 2000 and edges thinned by
    * (31·src + dst) % 7 == 0 to stay below the giant-SCC density
    * threshold). ONE definition site, paired with
    * [[transitionEdgesCte]], so an edit cannot desynchronize the three
    * engine/mirror pairs (round-5 verdict item 7). */
  private def transitionEdges(s: org.apache.spark.sql.SparkSession,
                              d: String): org.apache.spark.sql.DataFrame = {
    val li = graft.Tables(s, d, "lineitem")
      .where(col("l_partkey") <= 2000)
      .select(col("l_orderkey").as("o"), col("l_linenumber").as("ln"),
        col("l_partkey").as("p"))
    li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("b.ln") === col("a.ln") + 1)
      .where(col("a.p") =!= col("b.p") &&
        (col("a.p") * 31 + col("b.p")) % 7 === 0)
      .select(col("a.p").as("src"), col("b.p").as("dst")).distinct()
  }

  /** DuckDB twin of [[transitionEdges]] as a CTE-list fragment (no
    * WITH prefix); `edgeName` names the edge CTE so x26 can call its
    * directed set `de`. */
  private def transitionEdgesCte(edgeName: String): String =
    s"""li AS (
       |  SELECT l_orderkey o, l_linenumber ln, l_partkey p
       |  FROM lineitem WHERE l_partkey <= 2000),
       |$edgeName AS (SELECT DISTINCT a.p AS src, b.p AS dst
       |  FROM li a JOIN li b ON a.o = b.o AND b.ln = a.ln + 1
       |  WHERE a.p <> b.p AND (a.p * 31 + b.p) % 7 = 0)""".stripMargin

  /** Co-purchase pair list (parts sharing an order, p1 < p2): one
    * shuffle on l_orderkey + in-row fan-out (orders hold ≤7 parts) —
    * the same bounded-bucket explode as LSH candidatePairs, never a
    * self-join. Shared by x04 and x05. */
  private def coPurchasePairs(s: org.apache.spark.sql.SparkSession,
                              d: String): org.apache.spark.sql.DataFrame =
    // Both exchanges pinned (r10): QueryProfile showed AQE coalescing
    // the groupBy and the distinct to 3-4 tasks (it sizes by BYTES —
    // the per-order set build + in-row pair fanout and the pair dedup
    // are per-row CPU over small rows), serializing ~2.6 s/task on the
    // critical path of EVERY co-purchase consumer (x04/x18/x19/x21/
    // x23…). Part.pin keeps the width at the session's shuffle
    // parallelism — the same conf a cluster sizes — and groupBy/
    // distinct reuse the pinned hash partitioning (same keys), so no
    // exchange is added, one is un-coalesced.
    graft.Tables(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .transform(graft.Part.pin(col("l_orderkey")))
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (a, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))), b =>
          struct(a.as("p1"), b.as("p2")))))).as("e"))
      .select(col("e.p1").cast("long").as("p1"),
        col("e.p2").cast("long").as("p2"))
      .transform(graft.Part.pin(col("p1"), col("p2")))
      .distinct()
}
