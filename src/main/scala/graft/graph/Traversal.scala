package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recursive edge expansion — the reference's `follow` operator
  * (semantics: src/core/FileStore.fs:166-220,373-392; grammar
  * AHGHEE.g4:138-162). Spark has no recursive CTE, so the loop runs on
  * the driver as iterative joins over the `edges` view — the same shape
  * GraphX Pregel uses.
  *
  * Invariants (reference tests, src/core.tests/Tests.fs:882-900):
  *  - a node is emitted at most once per query (visited-set dedup; the
  *    reference uses a Bloom filter, we use an exact anti-join — correct
  *    rather than probabilistic);
  *  - the hop window [fromHop, toHop] gates emission: the reference
  *    decrements a Range per hop and emits while it covers 0
  *    (FileStore.fs:180-186).
  *
  * Scale: each iteration is one shuffle (frontier ⋈ edges on src_id).
  * With `edges` bucketed by src_id the join co-locates; the visited set
  * is carried as a DataFrame and `localCheckpoint`ed each hop to cut
  * lineage growth (iterative-join folklore; also what Pregel does).
  * Frontiers are typically ≪ |edges|, so the frontier side broadcasts
  * under AQE once it fits.
  */
object Traversal {

  /** Expand from `roots` (DataFrame with one column `id`) along edges
    * whose label matches `label` (None = follow any, the grammar's
    * `follow *`). Returns [id, hop] with hop = first hop-distance at
    * which the node was reached (0 = root), emitting only hops within
    * [fromHop, toHop]. */
  def follow(
      spark: SparkSession,
      edges: DataFrame,
      roots: DataFrame,
      label: Option[String],
      fromHop: Int,
      toHop: Int): DataFrame = {
    import spark.implicits._
    followEdges(spark,
      label.fold(edges)(l => edges.where(col("label") === l)),
      Right(roots), fromHop, toHop).fold(_.toDF("id", "hop"), identity)
  }

  /** Frontiers up to this size run the point-lookup path: ids held on the
    * driver, each hop one scan with `src_id IN (...)` pushed to parquet.
    * Beyond it, the distributed join loop takes over. 10k ids ≈ a few
    * hundred KB in the IN-list — well under filter-pushdown limits. */
  val PointPathMaxFrontier = 10000

  /** Same loop over an already-predicate-filtered edge set (the query
    * compiler passes arbitrary label predicates through here).
    *
    * Two physical strategies behind one semantic:
    *  - small frontier (the common `get <id> |> follow` shape): keep the
    *    frontier + visited set on the driver, each hop is a single
    *    `src_id IN (frontier)` filter that pushes down to the scan — on a
    *    bucketed 100 TB table that prunes to the frontier's buckets, no
    *    shuffle at all;
    *  - large frontier (whole-graph expansion): distributed joins with an
    *    exact anti-join visited set, `localCheckpoint` per hop to cut
    *    lineage. The point path hands off mid-traversal the moment a
    *    frontier outgrows the threshold.
    *
    * Roots are held on the driver (Left) or in a DataFrame [id] (Right).
    * The result stays on the driver — (id, hop) pairs — when the point
    * path runs to the end, so the caller can filter a literal id column;
    * otherwise it is the [id, hop] frame.
    */
  def followEdges(
      spark: SparkSession,
      edges: DataFrame,
      roots: Either[Seq[String], DataFrame],
      fromHop: Int,
      toHop: Int): Either[Seq[(String, Int)], DataFrame] = {
    require(toHop >= 0 && fromHop >= 0 && fromHop <= toHop,
      s"bad hop range [$fromHop,$toHop]")
    import spark.implicits._

    // a root frame is read twice past the threshold (the sample, then
    // the distributed seed): materialize it once
    val rootFrame = roots.map(_.select(col("id")).distinct().localCheckpoint())
    val rootSample = rootFrame.fold(_.distinct.toArray,
      _.limit(PointPathMaxFrontier + 1).collect().map(_.getString(0)))
    if (rootSample.length <= PointPathMaxFrontier) {
      spark.sparkContext.setLocalProperty("graft.traversal.impl", "point")
      followPoint(spark, edges, rootSample, fromHop, toHop)
    } else {
      spark.sparkContext.setLocalProperty("graft.traversal.impl",
        "distributed")
      val rootDf = rootFrame.fold(_ => rootSample.toSeq.toDF("id"), identity)
      Right(followDistributed(spark, edges,
        rootDf.withColumn("hop", lit(0)), fromHop, toHop))
    }
  }

  /** Driver-side frontier loop; falls back to the distributed loop if a
    * frontier outgrows the threshold. */
  private def followPoint(
      spark: SparkSession,
      edges: DataFrame,
      rootIds: Array[String],
      fromHop: Int,
      toHop: Int): Either[Seq[(String, Int)], DataFrame] = {
    import scala.collection.mutable
    val visited = mutable.LinkedHashMap[String, Int]()
    rootIds.foreach(id => visited(id) = 0)
    var frontier: Array[String] = rootIds
    var hop = 0

    while (hop < toHop && frontier.nonEmpty) {
      hop += 1
      // dedup on the driver: a `.distinct()` here adds an Exchange, and
      // with it a second job per hop
      val next = edges
        .where(col("src_id").isInCollection(frontier))
        .select(col("dst_id"))
        .collect().map(_.getString(0)).distinct
        .filterNot(visited.contains)
      if (next.length > PointPathMaxFrontier) {
        // frontier exploded: hand the remaining hops to the join loop,
        // seeded with everything reached so far
        import spark.implicits._
        next.foreach(id => visited(id) = hop)
        val seed = visited.toSeq.toDF("id", "hop")
        // observability for the scale-rehearsal pin: hand-off happened,
        // and at which hop
        spark.sparkContext.setLocalProperty("graft.traversal.impl",
          s"handoff@$hop")
        return Right(followDistributed(spark, edges, seed, fromHop, toHop,
          startHop = hop, startFrontier = Some(next)))
      }
      next.foreach(id => visited(id) = hop)
      frontier = next
    }
    Left(visited.toSeq.filter { case (_, h) => h >= fromHop && h <= toHop })
  }

  /** Distributed iterative-join loop (large frontiers). `seed` is
    * [id, hop] already visited; `startFrontier` (if given) is the hop
    * = startHop frontier, else the seed itself is the frontier.
    * Package-visible so TraversalSpec can run it pure (no point-path
    * prefix) and compare against the hand-off path. */
  private[graph] def followDistributed(
      spark: SparkSession,
      edges: DataFrame,
      seed: DataFrame,
      fromHop: Int,
      toHop: Int,
      startHop: Int = 0,
      startFrontier: Option[Array[String]] = None): DataFrame = {
    // materialize the (filtered) edge set once: each hop re-joins it,
    // and without this every iteration re-reads the source scans
    val ed0 = edges.select(col("src_id"), col("dst_id"))
    val ed = if (toHop - startHop > 1) ed0.localCheckpoint() else ed0

    var visited = seed.localCheckpoint()
    var frontier = startFrontier match {
      case Some(ids) =>
        import spark.implicits._
        ids.toSeq.toDF("id")
      case None => visited.select("id")
    }
    var hop = startHop
    var done = frontier.isEmpty

    while (hop < toHop && !done) {
      hop += 1
      val next = frontier.join(ed, frontier("id") === ed("src_id"))
        .select(ed("dst_id").as("id")).distinct()
        .join(visited.select("id"), Seq("id"), "left_anti")
        .withColumn("hop", lit(hop))
        .localCheckpoint() // materialize: cuts lineage AND makes the
                           // visited-set anti-join see a stable snapshot
      done = next.isEmpty
      visited = visited.unionAll(next).localCheckpoint()
      frontier = next.select("id")
    }
    visited.where(col("hop").between(fromHop, toHop))
  }
}
