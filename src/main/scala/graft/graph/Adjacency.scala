package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.graphx.Arms
import graft.model.Value

/** Driver-held out-edges of one graph snapshot: each `src_id` with its
  * `(label, dst_id)` pairs, so a point hop is map lookups and no Spark
  * job — the reference's traversal re-enters `LoadNode`, a hash lookup
  * per reached node (FileStore.fs:389, NodeAttrIndex.cs:183-232), and
  * Pregelix stores each vertex with its adjacency the same way.
  *
  * Immutable: a put's fold or a remove shares every untouched list with
  * the snapshot it came from. A set per source, so duplicate edges
  * (metadata variants, re-puts) hold once. An edge with no `dst_id`
  * reaches no node and an edge with no `src_id` is reached from none;
  * neither is held. */
final class Adjacency private (
    private val out: Map[String, Set[(String, String)]],
    /** Distinct edges held. */
    val size: Long) {

  /** Targets of `src`'s out-edges whose label passes `label`. */
  def targets(src: String, label: String => Boolean): Iterator[String] =
    out.getOrElse(src, Set.empty).iterator.collect {
      case (l, dst) if label(l) => dst
    }

  /** This adjacency plus `edges` (src_id, label, dst_id). */
  def ++(edges: Iterable[(String, String, String)]): Adjacency = {
    var (m, n) = (out, size)
    edges.foreach { case (src, label, dst) =>
      if (src != null && dst != null) {
        val had = m.getOrElse(src, Set.empty)
        val now = had + (label -> dst)
        if (now.size > had.size) { m = m.updated(src, now); n += 1 }
      }
    }
    new Adjacency(m, n)
  }

  /** This adjacency without the out-edges of `ids`. */
  def --(ids: Iterable[String]): Adjacency =
    new Adjacency(out -- ids, size - ids.iterator.distinct
      .map(out.get(_).fold(0)(_.size)).sum)

  /** Every edge held, as (src_id, label, dst_id). */
  def edges: Set[(String, String, String)] =
    out.iterator.flatMap { case (s, es) => es.iterator.map(e => (s, e._1, e._2)) }
      .toSet
}

object Adjacency {

  /** The local-arm default: graphs with at most this many edge rows are
    * held on the driver ([[Arms.LimitConf]] overrides it). */
  val DefaultLimit = 1000000L

  /** The adjacency of `edges` (src_id, label, dst_id). */
  def apply(edges: Iterator[(String, String, String)]): Adjacency = {
    val out = edges.filter(e => e._1 != null && e._3 != null).toVector
      .groupMap(_._1)(e => (e._2, e._3)).map { case (s, es) => s -> es.toSet }
    new Adjacency(out, out.valuesIterator.map(_.size.toLong).sum)
  }

  /** The edge view of an attribute table: every NODEID-valued attribute
    * as [src_id, label, dst_id]. */
  def edgesOf(attrs: DataFrame): DataFrame =
    attrs.where(col("value.vtype") === Value.NODEID)
      .select(col("id").as("src_id"), col("key").as("label"),
        col("value.iri").as("dst_id"))

  /** Whether `a` may serve point hops under the limit in force now. */
  def within(spark: SparkSession, a: Adjacency): Boolean =
    a.size <= Arms.limit(spark, DefaultLimit)

  /** `held`'s adjacency if it may serve point hops now. At limit 0 (every
    * distributed arm forced) `held` is not even asked, so no snapshot
    * builds one, nor keeps "over the limit" once the limit is lifted. */
  def inForce(spark: SparkSession, held: () => Option[Adjacency])
      : Option[Adjacency] =
    if (Arms.limit(spark, DefaultLimit) <= 0) None
    else held().filter(within(spark, _))

  /** The adjacency of an edge frame [src_id, label, dst_id], by one
    * bounded collect; None (the per-hop scan arm) when the frame holds
    * more rows than the limit. The collect is one job of one task: on
    * one partition the limit never rescans in rounds, and the task stops
    * at limit + 1 rows. At limit 0 (every distributed arm forced) no job
    * runs. Tags `graft.adjacency.impl` local/distributed. */
  def collect(spark: SparkSession, edges: DataFrame): Option[Adjacency] = {
    val limit = Arms.limit(spark, DefaultLimit)
    lazy val rows = edges.select("src_id", "label", "dst_id").coalesce(1)
      .limit(math.min(limit, Int.MaxValue - 1L).toInt + 1).collect()
    Option.when(Arms.local(spark, "adjacency",
        if (limit <= 0) 1L else rows.length, DefaultLimit)) {
      // one String per label: labels are few, edges many
      val labels = scala.collection.mutable.HashMap.empty[String, String]
      apply(rows.iterator.map { r =>
        val l = r.getString(1)
        (r.getString(0), if (l == null) l else labels.getOrElseUpdate(l, l),
          r.getString(2))
      })
    }
  }
}
