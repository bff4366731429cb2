package graft.lang

import graft.SparkSpec
import graft.model.Value

/** Parser unit tests for the AHGHEE query language (grammar
  * src/cli-grammer/AHGHEE.g4:92-190) plus step-fusion sanity: the
  * compiler leans on Catalyst for what MergeSameSteps did by hand.
  */
class LangSpec extends SparkSpec {

  test("get with ids, scan, and every pipe command parses") {
    val q = AhgheeParser.parse(
      """get "a" "b" |> filter "k" == "v" |> fields *: ^
        ||> skip 3 |> take 7 |> follow "likes" 1..2""".stripMargin)
    assert(q.ids == Seq("a", "b") && !q.scan)
    assert(q.steps == Seq(
      Filter(Cmp("k", "==", graft.ingest.ValueRow.str("v"))),
      Fields(Include(Matcher(AnyPart, EdgePart))),
      Skip(3), Limit(7),
      Follow(LabelEdge("likes"), 1, 2)))
  }

  test("scan form and follow-any default range") {
    val q = AhgheeParser.parse("""get "*" |> follow *""")
    assert(q.scan && q.steps == Seq(Follow(AnyEdge, 0, 1)))
  }

  test("compound filter tree with nesting") {
    val q = AhgheeParser.parse(
      """get "*" |> filter (("a" == 1 && "b" > 2.5) || "c" == ^"x")""")
    val Filter(FOr(FAnd(Cmp("a", "==", va), Cmp("b", ">", vb)), Cmp("c", "==", vc))) =
      q.steps.head: @unchecked
    assert(va.vtype == Value.I32 && va.i64.contains(1L))
    assert(vb.vtype == Value.F && vb.num.contains(2.5))
    assert(vc.vtype == Value.NODEID && vc.iri.contains("x"))
  }

  test("clude lists with include/exclude and type parts") {
    val q = AhgheeParser.parse(
      """get "a" |> fields ("name": *, - *: int, "e": ^"t")""")
    val Fields(CludeList(items)) = q.steps.head: @unchecked
    assert(items == Seq(
      Include(Matcher(StrPart("name"), AnyPart)),
      Exclude(Matcher(AnyPart, IntPart)),
      Include(Matcher(StrPart("e"), EdgeToPart("t")))))
  }

  test("follow with edge alternation and to-only range") {
    val q = AhgheeParser.parse("""get "a" |> follow ("x" || "y") 3""")
    assert(q.steps == Seq(Follow(OrEdge(LabelEdge("x"), LabelEdge("y")), 0, 3)))
  }

  test("aliases: offset/limit == skip/take") {
    val q = AhgheeParser.parse("""get "a" |> offset 1 |> limit 2""")
    assert(q.steps == Seq(Skip(1), Limit(2)))
  }

  test("parse errors carry position context") {
    val e = intercept[IllegalArgumentException](
      AhgheeParser.parse("""get "a" |> bogus 3"""))
    assert(e.getMessage.contains("pipe command"))
  }

  test("script splitter: keywords in strings and bodies don't split") {
    val stmts = ScriptRunner.split(
      """put "get/1" { "put": "load nt", "n": 1 }
        |get "get/1" |> filter "put" == "load nt"
        |load nt "/tmp/x.nt"""".stripMargin)
    assert(stmts.map(_._1) == Seq("put", "get", "load"))
    assert(ScriptRunner.split("   ") == Seq.empty)
    intercept[IllegalArgumentException] {
      ScriptRunner.split("""junk put "a" {}""")
    }
  }

  test("mixed put/load/get script session executes in order") {
    val nt = java.nio.file.Files.createTempFile("graft_langspec_", ".nt")
    java.nio.file.Files.writeString(nt, "<x/2> <name> \"loaded\" .\n")
    val res = graft.api.Engine.forEmpty(spark).run(
      s"""put "x/1" { "name": "first", "e": ^"x/2" }
         |load nt "${nt.toString}"
         |get "x/1" |> follow "e" 1""".stripMargin)
    val got = res.select("id", "key").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("x/1", "name"), ("x/1", "e"), ("x/2", "name")))
    // script with no get returns an empty frame
    assert(graft.api.Engine.forEmpty(spark)
      .run("""put "y/1" { "a": 1 }""").count() == 0)
  }

  test("multi-hop follow expands edges of freshly-reached nodes") {
    // regression: hop-2 edges live on nodes loaded during traversal,
    // not on the query's root set
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val attrs = Seq(
      ("a", "next", "b"), ("b", "next", "c"), ("c", "next", "d"))
      .toDF("id", "key", "iri")
      .select(col("id"), col("key"),
        graft.model.Value.nodeid(col("iri")).as("value"), lit(0L).as("ts"))
    val out = StepCompiler.run(spark, attrs,
      AhgheeParser.parse("""get "a" |> follow * 0..3"""))
    assert(out.select("id").distinct().collect().map(_.getString(0)).toSet ==
      Set("a", "b", "c")) // d has no attrs in long form; c reached at hop 2
  }

  test("!= executes (reference parses it but throws — documented deviation)") {
    import org.apache.spark.sql.functions._
    val attrs = graft.graph.GraphView.nodesAttrs(spark, sfDir)
    val out = StepCompiler.run(spark, attrs,
      AhgheeParser.parse("""get "*" |> filter "name" != "x" |> take 2"""))
    assert(out.select("id").distinct().count() == 2)
  }

  test("filter's flag aggregate is materialized once, not re-inlined") {
    // the a07 regression: DataFrame plans don't share common subtrees,
    // so the filter-step aggregate was re-computed at every downstream
    // reference (3× in filter+limit queries, 17 s at sf0.1). The fix
    // collects the `take` page's ids in one bounded job — the final
    // plan must contain ZERO flag aggregates (they ran inside that job)
    // and filter the page's literal id list instead of joining ids.
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val attrs = graft.graph.GraphView.nodesAttrs(spark, sfDir)
    val out = StepCompiler.run(spark, attrs, AhgheeParser.parse(
      """get "*" |> filter "acctbal" > 1000 |> take 5"""))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("f0#") && !plan.toLowerCase.contains("max(f0"),
      s"flag aggregate re-inlined into the final plan:\n$plan")
    val lp = out.queryExecution.optimizedPlan
    // the id predicate is pushed into each scan branch, where `id` is
    // the expression that builds it
    val literalIds = lp.collect { case f: Filter => f.condition }.exists(_.exists {
      case In(_, vs) => vs.nonEmpty && vs.forall(_.foldable)
      case _: InSet => true
      case _ => false
    })
    assert(literalIds && lp.collect {
      case j: Join if j.joinType == LeftSemi => j }.isEmpty,
      s"expected a literal id list and no LeftSemi join in:\n$lp")
  }

  test("numeric filters compare across the numeric family, not by vtype") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // n stored as i32, f32, double, and ui64 (two's-complement > MaxLong)
    val attrs = Seq(
      ("i32", graft.ingest.ValueRow.i32(7)),
      ("f32", graft.ingest.ValueRow.f32(7.5f)),
      ("d", graft.ingest.ValueRow.d(8.25)),
      ("ui64big", graft.ingest.ValueRow.ui64(-1L))) // 2^64 - 1
      .map { case (id, v) => (id, "n", v) }
      .toDF("id", "key", "value")
      .withColumn("value", col("value").cast(graft.model.Value.schema))
      .withColumn("ts", lit(0L))
    def ids(q: String) = StepCompiler.run(spark, attrs, AhgheeParser.parse(q))
      .select("id").as[String].collect().toSet
    // int literal vs f32/double/ui64 storage
    assert(ids("""get "*" |> filter "n" > 7""") == Set("f32", "d", "ui64big"))
    // float literal vs i32 storage
    assert(ids("""get "*" |> filter "n" <= 7.5""") == Set("i32", "f32"))
    // equality across carriers: 7 == 7.0
    assert(ids("""get "*" |> filter "n" == 7.0""") == Set("i32"))
    // the ui64 two's-complement wraparound lands above every double here
    assert(ids("""get "*" |> filter "n" > 1000000""") == Set("ui64big"))
  }
}
