package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSet, BoundReference, Expression, GenericInternalRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode, LazilyGeneratedOrdering}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{BooleanType, ByteType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

/** As-of join as a dedicated physical operator — the second
  * whole-operator Catalyst extension ((c) tier), the one-pass sorted
  * merge commercial engines ship for temporal joins (the reference's
  * temporal-attribute semantics anchor: reference
  * src/ahghee/Printers.cs:139-152).
  *
  * Semantics (backward / "at or before"): for every left row, find the
  * LAST right row with the same equi key whose ordering key is &lt;=
  * the left row's, and append one or more value columns from it (null
  * when no such row). The composed q24 formulation unions both streams into a
  * per-key window and materializes `last(...) ignoreNulls` over the
  * FULL merged event history; this operator instead requires both
  * children clustered on the equi keys and sorted by (equi, ord) —
  * EnsureRequirements plans the standard exchanges/sorts — and then
  * streams each co-partition pair ONCE with a single cursor into the
  * right side. Per-partition state is one (equi key, values) entry; no
  * window buffer, no merged materialization, and the operator
  * preserves the left side's partitioning and ordering for downstream
  * reuse.
  *
  * Key columns are addressed POSITIONALLY (index into each child's
  * output), with the distribution/ordering expressions derived from
  * `child.output` on demand — never stored: when both sides read the
  * same base relation, re-analysis runs DeduplicateRelations and mints
  * fresh exprIds for one subtree, which would orphan any stored
  * attribute reference (the CosineTopK positional-access lesson
  * applied to a keyed operator). The builder fixes the right child's
  * layout to [equi keys…, ord keys…, values…] via a fresh-alias Project,
  * so ordinals are stable under every optimizer rewrite that preserves
  * output order (they all do).
  *
  * Wiring mirrors CosineTopK: `AsOfJoinPlan` (logical; the value attrs
  * ride the constructor so optimizer copies keep their exprIds) →
  * `AsOfJoinStrategy` (injectPlannerStrategy) → `AsOfJoinExec`.
  */
case class AsOfJoinPlan(
    leftKeyIdx: Seq[Int], // equi-key positions in left.output
    leftOrdIdx: Seq[Int], // ordering-key positions in left.output
    valueAttrs: Seq[Attribute],
    left: LogicalPlan,
    right: LogicalPlan) // layout contract: [equi…, ord…, values…]
    extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ valueAttrs
  // we pass through every left column and consume all of the right's
  // (pre-projected) columns — declaring both child outputs referenced
  // keeps ColumnPruning from cutting what the exec reads
  override def references: AttributeSet = left.outputSet ++ right.outputSet
  // valueAttrs originate HERE (they ride the constructor, which
  // QueryPlan would otherwise scan into references → phantom
  // missingInput)
  override def producedAttributes: AttributeSet = AttributeSet(valueAttrs)
  override protected def withNewChildrenInternal(l: LogicalPlan,
      r: LogicalPlan): AsOfJoinPlan = copy(left = l, right = r)
}

class AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(lk, lo, vas, l, r) =>
      AsOfJoinExec(lk, lo, vas, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeyIdx: Seq[Int],
    leftOrdIdx: Seq[Int],
    valueAttrs: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = left.output ++ valueAttrs
  override def producedAttributes: AttributeSet = AttributeSet(valueAttrs)

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext,
      "number of rows with an as-of match"))

  private def nk = leftKeyIdx.length
  private def no = leftOrdIdx.length
  private def leftKeys: Seq[Expression] = leftKeyIdx.map(left.output)
  private def rightKeys: Seq[Expression] = right.output.take(nk)

  // both sides hash-clustered on the equi keys (EnsureRequirements
  // inserts compatible exchanges, exactly as for a sort-merge join)…
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil
  // …and sorted within partitions by (equi, ord) so one forward cursor
  // per partition suffices
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeyIdx ++ leftOrdIdx).map(i => SortOrder(left.output(i), Ascending)),
    right.output.take(nk + no).map(SortOrder(_, Ascending)))

  // a pure append of value columns: left's partitioning and ordering
  // survive for downstream reuse
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(l: SparkPlan,
      r: SparkPlan): AsOfJoinExec = copy(left = l, right = r)

  // ---- whole-stage codegen --------------------------------------------
  // The SortMergeJoin produce pattern applied to the as-of merge: both
  // sorted children arrive as input iterators (they finish their own
  // stages below; zipped by WholeStageCodegenExec exactly like the
  // interpreted zipPartitions), and the single-cursor merge becomes a
  // generated loop whose state — the lookahead right row, the matched
  // equi key, and the matched values — are generated mutable fields.
  // The win is ABOVE the operator: output rows flow into the parent's
  // codegen as variables instead of a per-row GenericInternalRow +
  // UnsafeProjection copy.
  //
  // Gated (with a spark.graft.asof.codegen kill-switch) to
  // integral/date/time compare columns — generated comparisons agree
  // bit-for-bit with the interpreted ordering there — and primitive
  // value columns (stored across rows by plain field assignment;
  // strings/binaries would need buffer-copy discipline and stay on the
  // interpreted path).
  override def supportCodegen: Boolean = {
    def comparable(dt: org.apache.spark.sql.types.DataType) = dt match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    def storable(dt: org.apache.spark.sql.types.DataType) =
      comparable(dt) || dt == FloatType || dt == DoubleType
    conf.getConfString("spark.graft.asof.codegen", "true") == "true" &&
      (leftKeyIdx ++ leftOrdIdx).forall(i =>
        comparable(left.output(i).dataType)) &&
      right.output.take(nk + no).forall(a => comparable(a.dataType)) &&
      valueAttrs.forall(a => storable(a.dataType))
  }

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  // output vars reference the CURRENT left row and mutating fields — a
  // buffering parent must copy
  override def needCopyResult: Boolean = true

  protected override def doProduce(ctx: CodegenContext): String = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val leftInput = ctx.addMutableState("scala.collection.Iterator",
      "asofLeftInput", v => s"$v = inputs[0];", forceInline = true)
    val rightInput = ctx.addMutableState("scala.collection.Iterator",
      "asofRightInput", v => s"$v = inputs[1];", forceInline = true)
    val pending = ctx.addMutableState("InternalRow", "asofPending")
    val haveMatch = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN,
      "asofHaveMatch", v => s"$v = false;")
    val numOutputRows = metricTerm(ctx, "numOutputRows")
    val numMatched = metricTerm(ctx, "numMatched")

    val cmpIdxLeft = (leftKeyIdx ++ leftOrdIdx).toArray
    val cmpTypes = right.output.take(nk + no).map(_.dataType).toArray
    val valueTypes = valueAttrs.map(_.dataType).toArray
    val valuePos0 = right.output.length - valueTypes.length

    // stored matched equi key + values: generated mutable fields
    val mk = cmpTypes.take(nk).map { dt =>
      (ctx.addMutableState(CodeGenerator.javaType(dt), "asofMk"),
        ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "asofMkNull"), dt)
    }
    val mv = valueTypes.map { dt =>
      (ctx.addMutableState(CodeGenerator.javaType(dt), "asofVal"),
        ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "asofValNull"), dt)
    }

    val leftRow = ctx.freshName("asofLeftRow")
    // left compare tuple locals, in (equi, ord) order
    val lTuple = cmpTypes.zipWithIndex.map { case (dt, j) =>
      (ctx.freshName("asofLV"), ctx.freshName("asofLN"), dt, cmpIdxLeft(j))
    }
    val evalLeftTuple = lTuple.map { case (lv, ln, dt, idx) =>
      s"""boolean $ln = $leftRow.isNullAt($idx);
         |${CodeGenerator.javaType(dt)} $lv = $ln
         |  ? ${CodeGenerator.defaultValue(dt)}
         |  : ${CodeGenerator.getValue(leftRow, dt, idx.toString)};""".stripMargin
    }.mkString("\n")

    // right-vs-left tuple compare (Ascending, NULLS FIRST — the
    // interpreted LazilyGeneratedOrdering's contract): first non-zero
    // column decides
    val cmp = ctx.freshName("asofCmp")
    val rn = ctx.freshName("asofRN")
    val rv = ctx.freshName("asofRV")
    val compareCode = cmpTypes.zipWithIndex.map { case (dt, j) =>
      val (lv, ln, _, _) = lTuple(j)
      s"""if ($cmp == 0) {
         |  boolean $rn$j = $pending.isNullAt($j);
         |  if ($rn$j || $ln) {
         |    $cmp = ($rn$j && $ln) ? 0 : ($rn$j ? -1 : 1);
         |  } else {
         |    ${CodeGenerator.javaType(dt)} $rv$j =
         |      ${CodeGenerator.getValue(pending, dt, j.toString)};
         |    $cmp = ${ctx.genComp(dt, s"$rv$j", lv)};
         |  }
         |}""".stripMargin
    }.mkString("\n")

    val storeMatch = (mk.zipWithIndex.map { case ((v, n, dt), j) =>
      s"""$n = $pending.isNullAt($j);
         |$v = $n ? ${CodeGenerator.defaultValue(dt)}
         |  : ${CodeGenerator.getValue(pending, dt, j.toString)};""".stripMargin
    } ++ mv.zipWithIndex.map { case ((v, n, dt), j) =>
      val pos = valuePos0 + j
      s"""$n = $pending.isNullAt($pos);
         |$v = $n ? ${CodeGenerator.defaultValue(dt)}
         |  : ${CodeGenerator.getValue(pending, dt, pos.toString)};""".stripMargin
    }).mkString("\n")

    // matched ⇔ a consumed right row exists with the SAME equi key
    // (null == null matches — they cluster together, same as the
    // interpreted projected-key-row compare)
    val matched = ctx.freshName("asofMatched")
    val equiCheck = mk.zipWithIndex.map { case ((v, n, dt), j) =>
      val (lv, ln, _, _) = lTuple(j)
      s"""if ($matched && ($ln != $n ||
         |    (!$ln && !(${ctx.genEqual(dt, lv, v)})))) {
         |  $matched = false;
         |}""".stripMargin
    }.mkString("\n")

    // output vars: left columns as row accessors + matched values as
    // locals (fields mutate on the NEXT row; parents get locals)
    ctx.INPUT_ROW = leftRow
    ctx.currentVars = null
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    val valueVars = mv.map { case (v, n, dt) =>
      val on = ctx.freshName("asofOutN")
      val ov = ctx.freshName("asofOutV")
      ExprCode(
        code"""boolean $on = !$matched || $n;
              |${CodeGenerator.javaType(dt)} $ov = $on
              |  ? ${CodeGenerator.defaultValue(dt)} : $v;""".stripMargin,
        JavaCode.isNullVariable(on), JavaCode.variable(ov, dt))
    }

    s"""
       |while ($limitNotReachedCond $leftInput.hasNext()) {
       |  InternalRow $leftRow = (InternalRow) $leftInput.next();
       |  $evalLeftTuple
       |  // consume every right row at-or-before this left row
       |  while (true) {
       |    if ($pending == null) {
       |      if (!$rightInput.hasNext()) break;
       |      $pending = (InternalRow) $rightInput.next();
       |    }
       |    int $cmp = 0;
       |    $compareCode
       |    if ($cmp <= 0) {
       |      $storeMatch
       |      $haveMatch = true;
       |      $pending = null;
       |    } else break;
       |  }
       |  boolean $matched = $haveMatch;
       |  $equiCheck
       |  $numOutputRows.add(1);
       |  if ($matched) $numMatched.add(1);
       |  ${consume(ctx, leftVars ++ valueVars)}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val leftTypes = left.output.map(_.dataType)
    val rightTypes = right.output.map(_.dataType)
    val valueTypes = valueAttrs.map(_.dataType).toArray
    val lKeyIdx = (leftKeyIdx ++ leftOrdIdx).toArray
    val nKeys = nk
    val nAll = nk + no
    val nVals = valueTypes.length
    val valuePos0 = right.output.length - nVals

    def bound(idx: Seq[Int], types: Seq[org.apache.spark.sql.types.DataType],
        nullable: Seq[Boolean]): Seq[Expression] =
      idx.map(i => BoundReference(i, types(i), nullable(i)))
    val lNullable = left.output.map(_.nullable)
    val rNullable = right.output.map(_.nullable)
    val lKeyExprs = bound(lKeyIdx.toSeq, leftTypes, lNullable)
    val rKeyExprs = bound(0 until nAll, rightTypes, rNullable)
    val keyRowOrder = lKeyExprs.zipWithIndex.map { case (e, i) =>
      SortOrder(BoundReference(i, e.dataType, e.nullable), Ascending) }
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")

    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs)
      val rKeyProj = UnsafeProjection.create(rKeyExprs)
      // orderings over the PROJECTED key rows (same types both sides —
      // the builder enforces it)
      val fullOrd = new LazilyGeneratedOrdering(keyRowOrder)
      val equiOrd = new LazilyGeneratedOrdering(keyRowOrder.take(nKeys))
      val outProj = UnsafeProjection.create(
        (leftTypes ++ valueTypes).toArray)
      val rBuf = ri.buffered

      // single-cursor merge state: the last right row consumed, as its
      // (copied) key row + (copied) values — one entry per partition
      var lastKey: UnsafeRow = null
      var lastVals: Array[Any] = null

      li.map { lrow =>
        val lk = lKeyProj(lrow)
        // consume every right row at-or-before this left row; the
        // right projection uses its own buffer so comparing against lk
        // is safe, and the consumed row's key/value are copied out
        // before the buffered iterator reuses the row object
        while (rBuf.hasNext && fullOrd.compare(rKeyProj(rBuf.head), lk) <= 0) {
          val r = rBuf.next()
          lastKey = rKeyProj(r).copy()
          lastVals = Array.tabulate(nVals) { j =>
            if (r.isNullAt(valuePos0 + j)) null
            else InternalRow.copyValue(r.get(valuePos0 + j, valueTypes(j)))
          }
        }
        val matched = lastKey != null && equiOrd.compare(lastKey, lk) == 0
        numOutputRows += 1
        if (matched) numMatched += 1
        val vals = new Array[Any](leftTypes.length + nVals)
        var i = 0
        while (i < leftTypes.length) {
          vals(i) = lrow.get(i, leftTypes(i)); i += 1
        }
        var j = 0
        while (j < nVals) {
          vals(leftTypes.length + j) = if (matched) lastVals(j) else null
          j += 1
        }
        outProj(new GenericInternalRow(vals)).copy(): InternalRow
      }
    }
  }
}

object AsOfJoin {
  /** Backward as-of join: for each `left` row, the last `right` row
    * with equal `on` keys and (ord of right) &lt;= (ord of left),
    * appending right's `valueCol` as `as` (null when no match).
    * Columns are resolved by name on each side and must agree in type.
    */
  def asOfLE(left: DataFrame, right: DataFrame, on: Seq[String],
      ord: Seq[String], valueCol: String, as: String): DataFrame =
    asOfLE(left, right, on, ord, Seq(valueCol -> as))

  /** FORWARD as-of join: for each `left` row, the FIRST `right` row
    * with equal keys and (ord of right) &gt;= (ord of left) — the
    * backward merge run on NEGATED ordering columns (sorted ascending
    * by −ord, "last with −r ≤ −l" IS "first with r ≥ l"), so the same
    * exec, codegen, and spill profile serve both directions. Ordering
    * columns must be numeric (negatable). */
  def asOfGE(left: DataFrame, right: DataFrame, on: Seq[String],
      ord: Seq[String], valueCol: String, as: String): DataFrame = {
    val neg = ord.map(c => c -> s"graft_asof_neg_$c")
    def negate(df: DataFrame) = neg.foldLeft(df) { case (d, (c, n)) =>
      d.withColumn(n, org.apache.spark.sql.functions.negate(
        org.apache.spark.sql.functions.col(c)))
    }
    asOfLE(negate(left), negate(right), on, neg.map(_._2),
      Seq(valueCol -> as)).drop(neg.map(_._2): _*)
  }

  /** Multi-value form: append several columns of the matched right
    * row at once — `values` maps right column → output alias. */
  def asOfLE(left: DataFrame, right: DataFrame, on: Seq[String],
      ord: Seq[String], values: Seq[(String, String)]): DataFrame =
    org.apache.spark.sql.GraftInternals.ofRows(left.sparkSession,
      buildPlan(left.queryExecution.analyzed,
        right.queryExecution.analyzed, on, ord, values))

  /** ONE definition of the name→plan wiring, shared by the Scala API
    * above and the SQL-hint resolution path (plans/SqlSurface). */
  private[plans] def buildPlan(l: LogicalPlan, r: LogicalPlan,
      on: Seq[String], ord: Seq[String],
      values: Seq[(String, String)]): AsOfJoinPlan = {
    def resolve(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"as-of join: column '$n' not found in [${p.output.map(_.name).mkString(", ")}]"))
    val lk = on.map(resolve(l, _))
    val lo = ord.map(resolve(l, _))
    val rk = on.map(resolve(r, _))
    val ro = ord.map(resolve(r, _))
    require(lk.map(_.dataType) == rk.map(_.dataType) &&
      lo.map(_.dataType) == ro.map(_.dataType),
      "as-of join: key/ordering column types must match across sides")
    val rvs = values.map { case (c, _) => resolve(r, c) }
    // fix the right layout to [equi…, ord…, values…] behind FRESH
    // aliases (fresh exprIds survive DeduplicateRelations when both
    // sides read the same base relation; the value aliases also dodge
    // duplicate columns when a value is itself a key)
    val rProj = Project((rk ++ ro).map(a => Alias(a, a.name)()) ++
      rvs.zipWithIndex.map { case (a, i) =>
        Alias(a, s"graft_asof_value_$i")() }, r)
    val vas = values.zip(rvs).map { case ((_, as), rv) =>
      AttributeReference(as, rv.dataType, nullable = true)() }
    AsOfJoinPlan(lk.map(l.output.indexOf), lo.map(l.output.indexOf),
      vas, l, rProj)
  }

  /** The FORWARD wiring at the logical level (the SQL-hint twin of
    * [[asOfGE]]): negated ordering columns appended behind Projects on
    * both children, the SAME backward buildPlan, then the helpers
    * projected away — so ASOF_GE in SQL text shares every line of
    * semantics with the Scala call and the ASOF_LE path. */
  private[plans] def buildPlanGE(l: LogicalPlan, r: LogicalPlan,
      on: Seq[String], ord: Seq[String],
      values: Seq[(String, String)]): LogicalPlan = {
    def resolve(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"as-of join: column '$n' not found in [${p.output.map(_.name).mkString(", ")}]"))
    val negs = ord.map(c => c -> s"graft_asof_neg_$c")
    def addNeg(p: LogicalPlan): LogicalPlan =
      Project(p.output ++ negs.map { case (c, n) =>
        val a = resolve(p, c)
        // order reversal, not arithmetic: only comparisons on the
        // helper columns ever run (they are projected away below), so
        // integral types reverse via BITWISE NOT — a total strictly
        // decreasing bijection with no overflow, where UnaryMinus
        // wraps -MinValue to itself and mis-sorts a row carrying the
        // sentinel minimum (Long.MinValue et al.) to the FRONT of the
        // negated order
        val neg = a.dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType =>
            org.apache.spark.sql.catalyst.expressions.BitwiseNot(a)
          case _ =>
            org.apache.spark.sql.catalyst.expressions.UnaryMinus(
              a, failOnError = false)
        }
        Alias(neg, n)()
      }, p)
    val asOf = buildPlan(addNeg(l), addNeg(r), on, negs.map(_._2), values)
    val negNames = negs.map(_._2).toSet
    Project(asOf.output.filterNot(a => negNames.contains(a.name)), asOf)
  }
}
