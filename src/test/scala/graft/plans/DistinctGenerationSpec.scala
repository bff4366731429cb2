package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ProjectExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The distinct-generation marker: an aggregate over a marked child
  * plans as a projection and returns the aggregate's rows; anything
  * the one-row-per-group argument does not cover keeps its aggregate. */
class DistinctGenerationSpec extends SparkSpec {
  import spark.implicits._

  private object H extends AdaptiveSparkPlanHelper
  private val keys = Seq("id", "key")

  private def aggs(df: DataFrame): Int = {
    df.collect()
    H.collect(df.queryExecution.executedPlan) { case a: HashAggregateExec => a }.size
  }
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The min-ts merge of frames, as Engine.dedup merges generations. */
  private def merge(frames: DataFrame*): DataFrame =
    frames.reduce(_ unionByName _).groupBy(keys.map(col): _*)
      .agg(min("ts").as("ts"))

  // two generations, each distinct on (id, key), overlapping in (a, k)
  // and (c, k) with different ts
  private val g1 = Seq(("a", "k", 5L), ("b", "k", 2L), ("c", "k", 1L))
    .toDF("id", "key", "ts")
  private val g2 = Seq(("a", "k", 3L), ("c", "k", 4L), ("d", "j", 7L))
    .toDF("id", "key", "ts")

  test("the guard reads spark.sql.extensions") {
    assert(DistinctGeneration.planned(Some("graft.GraftExtensions")))
    assert(DistinctGeneration.planned(Some("x.Other, graft.GraftExtensions")))
    assert(!DistinctGeneration.planned(Some("x.Other")))
    assert(!DistinctGeneration.planned(None))
    assert(DistinctGeneration.planned(
      spark.conf.getOption("spark.sql.extensions")))
  }

  test("a min merge over a marked generation plans as a projection, same rows") {
    val merged = merge(g1, g2)
    val gen = DistinctGeneration.mark(merged.localCheckpoint(), keys)
    // the cross-generation duplicates make the first merge a real one
    assert(aggs(merged) > 0)
    val again = merge(gen)
    assert(aggs(again) == 0 && H.collect(again.queryExecution.executedPlan) {
      case p: ProjectExec => p }.nonEmpty)
    assert(rows(again) == rows(merged))
    assert(rows(again) == Seq("[a,k,3]", "[b,k,2]", "[c,k,1]", "[d,j,7]"))

    // a pending frame the id predicate empties drops out of the union,
    // one it reaches keeps the aggregate — both agree with the
    // unmarked merge
    val pending = Seq(("a", "k", 0L)).toDF("id", "key", "ts")
    val plain = merged.localCheckpoint()
    Seq("b" -> 0, "a" -> 1).foreach { case (id, expectAgg) =>
      val marked = merge(gen, pending).where(col("id") === id)
      assert((aggs(marked) > 0) == (expectAgg > 0), s"get $id")
      assert(rows(marked) == rows(merge(plain, pending).where(col("id") === id)))
    }
  }

  test("other aggregates and unmarked children keep the aggregate") {
    val gen = DistinctGeneration.mark(merge(g1, g2).localCheckpoint(), keys)
    val unmarked = merge(g1, g2).localCheckpoint()
    def by(df: DataFrame) = df.groupBy(keys.map(col): _*)
    val kept = Seq(
      "unmarked" -> by(unmarked).agg(min("ts")),
      "count" -> by(gen).agg(count("ts")),
      "sum" -> by(gen).agg(sum("ts")),
      "max" -> by(gen).agg(max("ts")),
      "filter" -> by(gen).agg(expr("min(ts) FILTER (WHERE ts > 2)")),
      "distinct" -> by(gen).agg(sum_distinct(col("ts"))),
      "global" -> gen.agg(min("ts")))
    kept.foreach { case (what, df) => assert(aggs(df) > 0, what) }
    // a FILTER'd min over one-row groups is null where the row fails it
    assert(rows(by(gen).agg(expr("min(ts) FILTER (WHERE ts > 2)").as("m")))
      == Seq("[a,k,3]", "[b,k,null]", "[c,k,null]", "[d,j,7]"))
    // a grouping wider than the distinct key still plans as a projection,
    // and so does an output that derives columns from the grouping (a
    // projection collapsed into the aggregate)
    assert(aggs(gen.groupBy("id", "key", "ts").agg(min("ts"))) == 0)
    val derived = merge(gen).select(upper(col("id")).as("uid"), col("ts"))
    assert(aggs(derived) == 0)
    assert(rows(derived) == Seq("[A,3]", "[B,2]", "[C,1]", "[D,7]"))
  }
}
