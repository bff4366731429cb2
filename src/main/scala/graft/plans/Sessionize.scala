package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BoundReference, Expression, GenericInternalRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode, LazilyGeneratedOrdering}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{BooleanType, ByteType, DateType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

/** Sessionization as a dedicated physical operator — the third
  * whole-operator Catalyst extension, and the proof the (c)-tier
  * wiring is a reusable PATTERN: same positional addressing as
  * AsOfJoin, same clustered+sorted child contract, one forward cursor.
  *
  * Semantics (q41's): rows clustered by the key and sorted by the
  * ordering columns; a new session starts at each key's first row and
  * whenever the LONG gap column advances by more than `gapThreshold`
  * since the previous row; the appended session id is the running
  * 1-based count of session starts per key. The gap column is
  * contractually NON-NULL — a NULL gap fails fast at runtime (it has
  * no position on the session timeline, and any sentinel would make
  * `gap - lastGap` arithmetic lie). The composed q41 plan
  * materializes lag + a running-sum window over the full stream; this
  * operator holds (last key, last gap value, session counter) — three
  * scalars of state per partition — and emits rows as they stream.
  * Determinism is exact (integer gaps, same ordering), so q41's
  * UNCHANGED oracle hash-checks the custom operator.
  */
case class SessionizePlan(
    keyIdx: Seq[Int], // key positions in child.output
    ordIdx: Seq[Int], // ordering positions in child.output
    gapIdx: Int, // LONG gap column position in child.output
    gapThreshold: Long,
    sidAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ sidAttr
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = AttributeSet(sidAttr)
  override protected def withNewChildInternal(c: LogicalPlan): SessionizePlan =
    copy(child = c)
}

class SessionizeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SessionizePlan(k, o, g, t, sid, child) =>
      SessionizeExec(k, o, g, t, sid, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class SessionizeExec(
    keyIdx: Seq[Int],
    ordIdx: Seq[Int],
    gapIdx: Int,
    gapThreshold: Long,
    sidAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = child.output :+ sidAttr
  override def producedAttributes: AttributeSet = AttributeSet(sidAttr)

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    "numSessions" -> SQLMetrics.createMetric(sparkContext,
      "number of sessions started"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keyIdx.map(child.output)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (keyIdx ++ ordIdx).map(i => SortOrder(child.output(i), Ascending)))

  // a pure append of one column: the child's partitioning and ordering
  // survive for downstream reuse
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def withNewChildInternal(c: SparkPlan): SessionizeExec =
    copy(child = c)

  // ---- whole-stage codegen --------------------------------------------
  // The exec used to break pipeline fusion above and below it (the
  // round-6 verdict's hazard (b)); as a CodegenSupport pass-through it
  // now fuses into the same stage as its sorted child and its parent —
  // the three scalars of state become three generated mutable fields.
  //
  // Gated to integral/date/time key types: for those, generated `==`
  // and the interpreted path's ordering-compare agree bit-for-bit.
  // Float/double keys (NaN equality differs between `==` and ordering
  // compare) and strings/binaries (buffer-reuse copies) fall back to
  // the interpreted doExecute — correctness never depends on which
  // path planned.
  override def supportCodegen: Boolean =
    conf.getConfString("spark.graft.sessionize.codegen", "true") == "true" &&
      keyIdx.forall { i =>
        child.output(i).dataType match {
          case BooleanType | ByteType | ShortType | IntegerType | LongType |
               DateType | TimestampType | TimestampNTZType => true
          case _ => false
        }
      }

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  override protected def doProduce(ctx: CodegenContext): String =
    child.asInstanceOf[CodegenSupport].produce(ctx, this)

  // we address columns positionally (no Expression fields), so nothing
  // is pre-evaluated for us by consume(); we evaluate key + gap
  // ourselves and leave the rest deferred for the parent
  override def usedInputs: AttributeSet = AttributeSet.empty

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
      row: ExprCode): String = {
    val numOutputRows = metricTerm(ctx, "numOutputRows")
    val numSessions = metricTerm(ctx, "numSessions")
    // per-partition state = generated mutable fields, initialized once
    // per task instance (the generated class is per-partition)
    val hasLast = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN,
      "sessHasLast", v => s"$v = false;")
    val lastGap = ctx.addMutableState(CodeGenerator.JAVA_LONG, "sessLastGap")
    val sid = ctx.addMutableState(CodeGenerator.JAVA_LONG, "sessSid")
    val keyStates = keyIdx.map { i =>
      val dt = child.output(i).dataType
      (ctx.addMutableState(CodeGenerator.javaType(dt), "sessLastKey"),
        ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "sessLastKeyNull"),
        dt)
    }
    val needed = AttributeSet((keyIdx :+ gapIdx).map(child.output))
    val evalKeyGap = evaluateRequiredVariables(child.output, input, needed)
    val gapEv = input(gapIdx)
    val keyEvs = keyIdx.map(input)
    // changed ⇔ (null flags differ) or (both non-null and values differ)
    val keyChanged = keyStates.zip(keyEvs).map { case ((v, n, dt), ev) =>
      s"((${ev.isNull}) != $n || (!(${ev.isNull}) && " +
        s"!(${ctx.genEqual(dt, ev.value.toString, v)})))"
    }.mkString(" || ")
    val storeKeys = keyStates.zip(keyEvs).map { case ((v, n, dt), ev) =>
      s"""$n = ${ev.isNull};
         |$v = $n ? ${CodeGenerator.defaultValue(dt)} : ${ev.value};""".stripMargin
    }.mkString("\n")
    val changed = ctx.freshName("sessChanged")
    // the state field mutates on the NEXT row — hand the parent a local
    val sidLocal = ctx.freshName("sessSidLocal")
    val sidCode = ExprCode(code"", FalseLiteral,
      JavaCode.variable(sidLocal, LongType))
    s"""
       |$evalKeyGap
       |if (${gapEv.isNull}) {
       |  throw new IllegalStateException("graft sessionize: NULL gap " +
       |    "value — the gap column must be non-null (coalesce or " +
       |    "filter NULL gaps before Sessionize.assign)");
       |}
       |boolean $changed = !$hasLast || ($keyChanged);
       |if ($changed) {
       |  $sid = 1L; $numSessions.add(1);
       |} else if (${gapEv.value} - $lastGap > ${gapThreshold}L) {
       |  $sid += 1L; $numSessions.add(1);
       |}
       |$hasLast = true;
       |$storeKeys
       |$lastGap = ${gapEv.value};
       |$numOutputRows.add(1);
       |long $sidLocal = $sid;
       |${consume(ctx, input :+ sidCode)}
     """.stripMargin
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val types = child.output.map(_.dataType)
    val nullable = child.output.map(_.nullable)
    val keyExprs: Seq[Expression] =
      keyIdx.map(i => BoundReference(i, types(i), nullable(i)))
    val keyOrder = keyExprs.zipWithIndex.map { case (e, i) =>
      SortOrder(BoundReference(i, e.dataType, e.nullable), Ascending) }
    val gapPos = gapIdx
    val thr = gapThreshold
    val numOutputRows = longMetric("numOutputRows")
    val numSessions = longMetric("numSessions")

    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs)
      val keyOrd = new LazilyGeneratedOrdering(keyOrder)
      val outProj = UnsafeProjection.create((types :+ LongType).toArray)
      // three scalars of per-partition state
      var lastKey: UnsafeRow = null
      var lastGap: Long = 0L
      var sid: Long = 0L
      iter.map { row =>
        val k = keyProj(row)
        // non-null contract, enforced: a NULL gap has no position on
        // the session timeline (the composed window form would emit a
        // NULL break flag, not a sentinel), and any sentinel feeds the
        // `gap - lastGap` subtraction with overflow hazards — so fail
        // fast with an actionable message instead of guessing
        if (row.isNullAt(gapPos)) {
          throw new IllegalStateException("graft sessionize: NULL gap " +
            "value — the gap column must be non-null (coalesce or " +
            "filter NULL gaps before Sessionize.assign)")
        }
        val gap = row.getLong(gapPos)
        if (lastKey == null || keyOrd.compare(lastKey, k) != 0) {
          lastKey = k.copy(); sid = 1L; numSessions += 1
        } else if (gap - lastGap > thr) {
          sid += 1L; numSessions += 1
        }
        lastGap = gap
        numOutputRows += 1
        val vals = new Array[Any](types.length + 1)
        var i = 0
        while (i < types.length) { vals(i) = row.get(i, types(i)); i += 1 }
        vals(types.length) = sid
        outProj(new GenericInternalRow(vals)).copy(): InternalRow
      }
    }
  }
}

object Sessionize {
  /** Append a 1-based session id per `key`: a new session starts when
    * the LONG `gapCol` advances by more than `gapThreshold` between
    * consecutive rows in `ord` order. Columns resolved by name.
    * `gapCol` must be non-null in the DATA (the schema may still say
    * nullable, e.g. when derived from a nullable timestamp) — a NULL
    * gap value fails the job with an actionable error. */
  def assign(df: DataFrame, key: Seq[String], ord: Seq[String],
      gapCol: String, gapThreshold: Long, as: String): DataFrame =
    org.apache.spark.sql.GraftInternals.ofRows(df.sparkSession,
      buildPlan(df.queryExecution.analyzed, key, ord, gapCol,
        gapThreshold, as))

  /** ONE definition of the name→plan wiring, shared by the Scala API
    * above and the SQL-hint resolution path (plans/SqlSurface). */
  private[plans] def buildPlan(plan: LogicalPlan, key: Seq[String],
      ord: Seq[String], gapCol: String, gapThreshold: Long,
      as: String): SessionizePlan = {
    def idx(n: String): Int = {
      val i = plan.output.indexWhere(_.name == n)
      require(i >= 0, s"sessionize: column '$n' not found in " +
        s"[${plan.output.map(_.name).mkString(", ")}]")
      i
    }
    require(plan.output(idx(gapCol)).dataType == LongType,
      s"sessionize: gap column '$gapCol' must be LONG")
    val sid = AttributeReference(as, LongType, nullable = false)()
    SessionizePlan(key.map(idx), ord.map(idx), idx(gapCol),
      gapThreshold, sid, plan)
  }
}
