package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, Cast, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}

/** Whole-operator Catalyst extension (the (c) tier beyond native
  * expressions): brute-force cosine top-k as ONE narrow pass over the
  * corpus instead of the declarative crossJoin × window formulation.
  *
  * The composed plan (p09) materializes |corpus|·|queries| joined rows
  * and shuffles them into a rank window; this operator holds a bounded
  * k-heap per query per partition while streaming the corpus ONCE,
  * then merges the ≤ partitions·q·k survivors by key — at 100 TB the
  * shuffle carries kilobytes, not the cross product. Determinism
  * matches p09 exactly: cosine accumulates left-to-right (CosineSim's
  * loop), rounds to micro units, ranks by (cos desc, id asc) — so the
  * SAME DuckDB oracle hash-checks both plans.
  *
  * The operator is a true BINARY node: the probe side is a second
  * child plan, not a driver-resident literal — it can be any query
  * (a filter over the corpus, a loaded probe table, the output of
  * another operator) and EnsureRequirements plans it as a
  * `BroadcastExchange` (IdentityBroadcastMode), never a shuffle. So
  * probe batches ride Spark's torrent broadcast like any build side,
  * and the operator slots into arbitrary plans — the reference's
  * plugin aspiration (reference README.md:34-57) realized at the
  * whole-operator tier.
  *
  * Degenerate-vector contract: zero-norm corpus rows are SKIPPED and
  * zero-norm probe rows emit nothing (cosine is undefined at zero
  * norm; the composed p09 plan would propagate NaN, which Spark sorts
  * largest — silently ranking garbage first). Probe ids must be
  * unique — two probe rows sharing an id would have their heaps
  * merged as if one query.
  *
  * Wiring: `CosineTopKPlan` (logical, fixed output) is planned by
  * `CosineTopKStrategy` (injected via
  * `SparkSessionExtensions.injectPlannerStrategy`) into
  * `CosineTopKExec`. `CosineTopK.topK` builds the DataFrame through
  * `classic.Dataset.ofRows`.
  */
case class CosineTopKPlan(
    k: Int,
    excludeSelf: Boolean,
    // output attrs are a constructor FIELD, not a generated val —
    // Catalyst copies nodes freely during optimization, and fresh
    // exprIds on copy would orphan every downstream reference
    output: Seq[Attribute],
    left: LogicalPlan, // corpus (id, vector)
    right: LogicalPlan) // probes (id, vector)
    extends BinaryNode {
  // we consume every column of both children — declaring the full
  // child outputs as referenced keeps ColumnPruning honest about it
  override def references: AttributeSet = left.outputSet ++ right.outputSet
  // the output attrs originate HERE (they ride the constructor, which
  // QueryPlan would otherwise scan into references → phantom
  // missingInput)
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildrenInternal(l: LogicalPlan,
      r: LogicalPlan): CosineTopKPlan = copy(left = l, right = r)
}

class CosineTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CosineTopKPlan(k, excludeSelf, out, corpus, probes) =>
      CosineTopKExec(k, excludeSelf, out,
        planLater(corpus), planLater(probes)) :: Nil
    case _ => Nil
  }
}

case class CosineTopKExec(
    k: Int,
    excludeSelf: Boolean,
    output: Seq[Attribute],
    left: SparkPlan, // corpus — streamed
    right: SparkPlan) // probes — broadcast build side
    extends BinaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    "numCorpusRows" -> SQLMetrics.createMetric(sparkContext,
      "number of corpus rows scanned"))

  // the probe side is a build side: EnsureRequirements wraps it in a
  // BroadcastExchange (identity mode — plain rows), NEVER a shuffle;
  // the corpus side streams wherever it already lives
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override protected def withNewChildrenInternal(l: SparkPlan,
      r: SparkPlan): CosineTopKExec = copy(left = l, right = r)

  protected override def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val exclSelf = excludeSelf
    val bc = right.executeBroadcast[Array[InternalRow]]()
    val numOutputRows = longMetric("numOutputRows")
    val numCorpusRows = longMetric("numCorpusRows")

    // heap entries (id, cosMicro); "worst" = smaller cos, then larger
    // id — it compares GREATEST (PriorityQueue dequeues the max), so
    // an ASCENDING sorted(worstFirst) is best-first
    val worstFirst = new Ordering[(Long, Long)] {
      override def compare(a: (Long, Long), b: (Long, Long)): Int = {
        val c = java.lang.Long.compare(b._2, a._2)
        if (c != 0) c else java.lang.Long.compare(a._1, b._1)
      }
    }

    val partials: RDD[(Long, Array[(Long, Long)])] =
      left.execute().mapPartitions { iter =>
        // normalize the broadcast probe rows once per partition;
        // zero-norm probes are dropped (see contract above)
        val q = bc.value.iterator.filter(r =>
            !r.isNullAt(0) && !r.isNullAt(1))
          .map { r =>
            val arr = r.getArray(1).toDoubleArray()
            var nq = 0.0
            var i = 0
            while (i < arr.length) { nq += arr(i) * arr(i); i += 1 }
            (r.getLong(0), arr, math.sqrt(nq))
          }.filter(_._3 > 0).toArray.sortBy(_._1)
        val heaps = q.map(_ =>
          new scala.collection.mutable.PriorityQueue[(Long, Long)]()(
            worstFirst))
        iter.foreach { row =>
          numCorpusRows += 1
          if (!row.isNullAt(0) && !row.isNullAt(1)) {
            val id = row.getLong(0)
            val v = row.getArray(1).toDoubleArray()
            // per-row norm computed once, shared by every query
            var nv = 0.0
            var i = 0
            while (i < v.length) { nv += v(i) * v(i); i += 1 }
            nv = math.sqrt(nv)
            var j = 0
            // zero-norm corpus rows are skipped (guard on nv), so the
            // NaN → 0-cos silent ranking cannot happen
            while (j < q.length && nv > 0) {
              val (qid, qv, nq) = q(j)
              if (!(exclSelf && id == qid)) {
                val n = math.min(qv.length, v.length)
                var dot = 0.0
                var t = 0
                while (t < n) { dot += qv(t) * v(t); t += 1 }
                // identical determinization to p09: micro-rounded cos
                val micro = math.floor(dot / (nq * nv) * 1000000 + 0.5).toLong
                val h = heaps(j)
                if (h.size < kLocal) h.enqueue((id, micro))
                else if (worstFirst.compare((id, micro), h.head) < 0) {
                  h.dequeue(); h.enqueue((id, micro))
                }
              }
              j += 1
            }
          }
        }
        heaps.iterator.zipWithIndex.filter(_._1.nonEmpty).map {
          case (h, j) => (q(j)._1, h.toArray)
        }
      }

    partials
      .reduceByKey { (a, b) =>
        // merge two bounded heaps: best-first sort, keep best k
        (a ++ b).sorted(worstFirst).take(kLocal)
      }
      .mapPartitions { it =>
        // downstream operators consume UnsafeRow — project per partition
        val proj = org.apache.spark.sql.catalyst.expressions
          .UnsafeProjection.create(Array(LongType, IntegerType, LongType,
            DoubleType): Array[org.apache.spark.sql.types.DataType])
        it.flatMap { case (qid, top) =>
          top.sorted(worstFirst).iterator.zipWithIndex.map {
            case ((id, micro), idx) =>
              numOutputRows += 1
              proj(new GenericInternalRow(Array[Any](
                qid, idx + 1, id, micro / 1e6))).copy(): InternalRow
          }
        }
      }
  }
}

object CosineTopK {
  private[plans] def outputAttrs: Seq[Attribute] = Seq(
    AttributeReference("q_id", LongType, nullable = false)(),
    AttributeReference("rank", IntegerType, nullable = false)(),
    AttributeReference("n_id", LongType, nullable = false)(),
    AttributeReference("cos_r", DoubleType, nullable = false)())

  /** Top-k cosine neighbours over `corpus` of each probe row in
    * `probes` — BOTH are DataFrames (columns projected/cast here);
    * the probe side plans as a broadcast build side. Returns
    * [q_id, rank, n_id, cos_r]. */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      k: Int, excludeSelf: Boolean): DataFrame = {
    val c = corpus.select(col(idCol).cast("long"),
      col(vecCol).cast(ArrayType(DoubleType)))
    val p = probes.select(col(probeIdCol).cast("long"),
      col(probeVecCol).cast(ArrayType(DoubleType)))
    org.apache.spark.sql.GraftInternals.ofRows(corpus.sparkSession,
      CosineTopKPlan(k, excludeSelf, outputAttrs,
        c.queryExecution.analyzed, p.queryExecution.analyzed))
  }

  /** ONE definition of the name→plan wiring for the SQL-hint path
    * (plans/SqlSurface): casts each side's (id, vector) to
    * (long, array&lt;double&gt;) behind a Project, exactly the shape
    * `topK` builds through the DataFrame API. */
  private[plans] def buildPlan(corpus: LogicalPlan, idCol: String,
      vecCol: String, probes: LogicalPlan, probeIdCol: String,
      probeVecCol: String, k: Int, excludeSelf: Boolean): CosineTopKPlan = {
    def castSide(p: LogicalPlan, id: String, vec: String): LogicalPlan = {
      def res(n: String) = p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"cosine_topk: column '$n' " +
          s"not found in [${p.output.map(_.name).mkString(", ")}]"))
      Project(Seq(
        Alias(Cast(res(id), LongType), id)(),
        Alias(Cast(res(vec), ArrayType(DoubleType)), vec)()), p)
    }
    CosineTopKPlan(k, excludeSelf, outputAttrs,
      castSide(corpus, idCol, vecCol),
      castSide(probes, probeIdCol, probeVecCol))
  }

  /** Literal-probe sugar over the binary form: the Seq becomes a
    * local relation on the probe side. */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: Seq[(Long, Seq[Double])], k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    topK(corpus, idCol, vecCol,
      queries.toDF("q_id", "q_vec"), "q_id", "q_vec", k, excludeSelf)
  }
}
