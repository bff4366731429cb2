package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}

import graft.functions.{CosineSim, JaccardSorted, MinhashSigs, PolyHash, XxMinhashSigs}

/** Engine extension point (the Spark-native answer to the reference's
  * WASM plugin vision, reference README.md:34-57): custom Catalyst
  * expressions injected through the public SparkSessionExtensions API.
  *
  * Enable with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * — then `cosine_sim(a, b)` is available in SQL and via `expr()`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // whole-plan rewrite: pure inequality joins -> binned equi-joins
    // when spark.graft.rangeJoin.binWidth is set or a RANGE_BIN(w)
    // hint marks the join (see RangeJoinBinning)
    e.injectHintResolutionRule(_ => graft.plans.ResolveRangeBinHint())
    e.injectOptimizerRule(_ => graft.plans.RangeJoinBinning())
    // SQL-text surface for the custom-operator tier: SESSIONIZE(...) /
    // ASOF_LE(...) hints become typed markers in the Hints batch, then
    // resolve into SessionizePlan/AsOfJoinPlan through the same
    // buildPlan wiring the Scala API uses (see plans/SqlSurface)
    e.injectHintResolutionRule(_ => graft.plans.ResolveGraftOperatorHints())
    e.injectResolutionRule(_ => graft.plans.ResolveGraftMarkers())
    // whole-operator extension: CosineTopKPlan -> CosineTopKExec (one
    // narrow corpus pass + bounded heap merge; see plans/CosineTopK)
    e.injectPlannerStrategy(_ => new graft.plans.CosineTopKStrategy)
    // whole-operator extension: AsOfJoinPlan -> AsOfJoinExec (sorted
    // single-cursor merge per co-partition; see plans/AsOfJoin)
    e.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    // whole-operator extension: SessionizePlan -> SessionizeExec
    // (three scalars of state per partition; see plans/Sessionize)
    e.injectPlannerStrategy(_ => new graft.plans.SessionizeStrategy)
    // a compacted generation is already deduplicated: its marker plans
    // as its child, and a min-only merge aggregate over it as a Project
    // (see plans/DistinctGeneration)
    e.injectPlannerStrategy(_ => new graft.plans.DistinctGenerationStrategy)
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSim(Cast(children(0), ArrayType(DoubleType)),
          Cast(children(1), ArrayType(DoubleType)))))
    e.injectFunction((
      new FunctionIdentifier("jaccard_sorted"),
      new ExpressionInfo(classOf[JaccardSorted].getName, "jaccard_sorted"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        JaccardSorted(Cast(children(0), ArrayType(LongType)),
          Cast(children(1), ArrayType(LongType)))))
    e.injectFunction((
      new FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        PolyHash(children(0),
          Cast(children(1), LongType), Cast(children(2), LongType))))
    e.injectFunction((
      new FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinhashSigs].getName, "minhash_sigs"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MinhashSigs(Cast(children(0), ArrayType(LongType)),
          Cast(children(1), IntegerType))))
    e.injectFunction((
      new FunctionIdentifier("xx_minhash_sigs"),
      new ExpressionInfo(classOf[XxMinhashSigs].getName, "xx_minhash_sigs"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        XxMinhashSigs(Cast(children(0), ArrayType(LongType)),
          Cast(children(1), IntegerType))))
  }
}
