package graft.lang

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.graph.{Adjacency, Traversal}
import graft.ingest.ValueRow
import graft.model.Value

/** Compiles a parsed AHGHEE step chain into DataFrame transformations
  * over the long-form nodes_attrs table (SURVEY.md §3.1 "Spark
  * equivalent"). Catalyst then does the optimizing the reference did by
  * hand (step fusion FileStore.fs:221-269 ≙ CombineFilters/CombineLimits)
  * and the ones it never had (pushdown, pruning).
  *
  * Steps stay lazy, with two exceptions that end on the driver: a
  * `take n` page that fits the point path is collected (one bounded
  * job), and a point-path `follow` runs its hops. Either way the later
  * steps read a literal id list, which prunes into the store scan and
  * past the merge of the pending puts.
  *
  * Semantics notes (deviations documented in SURVEY.md §7.3):
  *  - skip/limit page over ids ORDERED BY id — the reference pages in
  *    arbitrary storage order (risk 2);
  *  - a node whose attributes are all projected away drops out of the
  *    long-form result (the reference emits an empty node shell);
  *  - `!=` executes (the reference parses it but throws,
  *    FileStore.fs:164);
  *  - value comparisons are vtype-tagged: cross-type orders by proto
  *    case number, same-type natively (MemoryPointer.partial.cs:377-402)
  *    — all through Value.sortKey, never raw column compare (risk 1).
  */
object StepCompiler {

  /** VALUE literal → struct column matching Value.schema. */
  def valueLit(v: ValueRow): Column = {
    def n(dt: DataType) = lit(null).cast(dt)
    struct(
      lit(v.vtype).as("vtype"),
      v.str.map(lit(_)).getOrElse(n(StringType)).as("str"),
      v.i64.map(lit(_)).getOrElse(n(LongType)).as("i64"),
      v.num.map(lit(_)).getOrElse(n(DoubleType)).as("num"),
      v.b.map(lit(_)).getOrElse(n(BooleanType)).as("b"),
      v.iri.map(lit(_)).getOrElse(n(StringType)).as("iri"),
      v.type_iri.map(lit(_)).getOrElse(n(StringType)).as("type_iri"),
      v.bytes.map(lit(_)).getOrElse(n(BinaryType)).as("bytes"))
  }

  private val numericTypes =
    Seq(Value.I32, Value.I64, Value.UI32, Value.UI64, Value.D, Value.F)

  /** The VALUE's magnitude on one shared numeric axis: `num` for D/F,
    * `i64` for the int family (ui64 rides two's-complement — fold the
    * wraparound back). Intent semantics (docs/index.md:202-206): `42`,
    * `42.0f` and `42.0` are the same number to `filter`. */
  private def numAxis(value: Column): Column = {
    val asInt = when(value.getField("vtype") === Value.UI64 &&
        value.getField("i64") < 0,
      value.getField("i64").cast(DoubleType) + lit(1.8446744073709552E19))
      .otherwise(value.getField("i64").cast(DoubleType))
    coalesce(value.getField("num"), asInt)
  }

  private def cmpCol(op: String, value: Column, litV: ValueRow): Column = {
    def bin(l: Column, r: Column): Column = op match {
      case "==" => l === r
      case "!=" => l =!= r
      case "<" => l < r
      case "<=" => l <= r
      case ">" => l > r
      case ">=" => l >= r
    }
    if (numericTypes.contains(litV.vtype)) {
      // numeric literals compare ACROSS the numeric family — a sniffed
      // i32/f32 literal must still order against stored i64/double
      // attrs (sortKey puts vtype first, which would order by type tag)
      value.getField("vtype").isin(numericTypes.map(x => x: Any): _*) &&
        bin(numAxis(value), numAxis(valueLit(litV)))
    } else bin(Value.sortKey(value), Value.sortKey(valueLit(litV)))
  }

  /** Run a query against the full nodes_attrs table; returns the
    * surviving attribute rows [id, key, value, ts (, key_meta,
    * value_meta)] — TMD metadata columns ride along when the input
    * carries them (the reference's Get returns whole TMD pairs).
    * `edgesHint` short-circuits edge derivation with a pre-built
    * [src_id, label, dst_id] view (skips scanning the non-edge attribute
    * branches — Engine passes GraphView.edges while the graph is
    * unmodified). `adjacency` yields the same graph's driver-held
    * out-edges (Engine passes its snapshot's, built on first use): a
    * point-path follow then hops by lookups and runs no job. */
  def run(spark: SparkSession, nodesAttrs: DataFrame, q: GetQuery,
          edgesHint: Option[DataFrame] = None,
          adjacency: () => Option[Adjacency] = () => None): DataFrame = {
    val metaCols =
      Seq("key_meta", "value_meta").filter(nodesAttrs.columns.contains)
    val all = nodesAttrs.select(
      (Seq("id", "key", "value", "ts") ++ metaCols).map(col): _*)

    // the surviving rows are keep(rows, ids), built once at the end:
    // `rows` is the table under the fields projections since the last
    // follow, `ids` the surviving node set — None while every node with
    // a row survives (a scan), on the driver (Left) while it is known
    // there (the get roots, a collected page, a point-path follow), else
    // a lazy frame (Right). `narrowed`: a fields step since `ids` was
    // set, so nodes left without rows must drop out of the set before
    // it is paged or followed.
    var rows = all
    var ids: Option[Either[Seq[String], DataFrame]] =
      if (q.scan) None else Some(Left(q.ids.distinct))
    var narrowed = false
    def survive(i: Either[Seq[String], DataFrame]): Unit = {
      ids = Some(i)
      narrowed = false
    }
    // the set a step pages or follows from
    def live: Either[Seq[String], DataFrame] = ids match {
      case None => Right(rows.select("id").distinct())
      case Some(i) if narrowed => Right(keep(rows, i).select("id").distinct())
      case Some(i) => i
    }
    def surviving: DataFrame = ids.fold(rows)(keep(rows, _))

    q.steps.foreach {
      case Filter(pred) =>
        // one flag per Cmp leaf, one aggregate, boolean tree over flags.
        // Rows whose key matches no leaf can't set a flag, and an
        // all-flags-false node never passes a monotone AND/OR tree over
        // `flag === 1` leaves — so pre-filtering to the leaf keys is
        // semantics-preserving and shrinks the aggregate input to the
        // touched keys only (matters when the filter names 1 key of 50).
        val leaves = collectLeaves(pred)
        val leafKeys = leaves.map(_.key).distinct
        val flags = leaves.zipWithIndex.map { case (c, i) =>
          max(when(col("key") === c.key &&
            cmpCol(c.op, col("value"), c.value), 1).otherwise(0)).as(s"f$i")
        }
        val flagged = surviving.where(col("key").isin(leafKeys: _*))
          .groupBy("id").agg(flags.head, flags.tail: _*)
        // lazy: the flag aggregate is referenced by `ids` alone, never by
        // `rows`, so the final keep(rows, ids) holds it once — and a
        // later `take` collects its page, leaving a literal id list (the
        // a07 hazard: an aggregate referenced by both the rows and the
        // paging ids re-ran at each reference, 3× = 17 s at sf0.1)
        survive(Right(flagged.where(boolCol(pred, leaves)).select("id")))

      case Fields(clude) =>
        rows = rows.where(cludeCol(clude))
        narrowed = true

      case Skip(n) =>
        survive(Right(idFrame(spark, live).orderBy("id").offset(n)))

      case Limit(n) =>
        // a page that fits the point path is collected in one bounded
        // job; every later read filters its literal id list
        val page = idFrame(spark, live).orderBy("id").limit(n)
        survive(if (n <= Traversal.PointPathMaxFrontier)
          Left(page.collect().map(_.getString(0)).toSeq) else Right(page))

      case Follow(pred, from, to) =>
        // edges come from the FULL table: traversal loads each newly
        // reached node fresh from storage (the reference's QueryNodes
        // recursion re-enters LoadNode, FileStore.fs:389), so a prior
        // fields projection does not amputate the frontier's edges
        def edges = edgesHint.getOrElse(Adjacency.edgesOf(all))
          .where(edgeCol(pred))
        survive(Traversal.followEdges(spark, edges, live, from, to,
            adjacency, edgeTest(pred))
          .fold(hops => Left(hops.map(_._1)), df => Right(df.select("id"))))
        rows = all
    }
    surviving
  }

  /** Rows of `df` whose id survives: ids on the driver filter a literal
    * id column, which Catalyst pushes below the merge aggregate and into
    * the store scan (pushdown + bucket pruning); ids in a frame, or too
    * many for the IN-list bound the point path keeps, semi-join. */
  private def keep(df: DataFrame,
                   ids: Either[Seq[String], DataFrame]): DataFrame =
    ids match {
      case Left(xs) if xs.size <= Traversal.PointPathMaxFrontier =>
        df.where(col("id").isInCollection(xs))
      case _ => df.join(idFrame(df.sparkSession, ids), Seq("id"), "left_semi")
    }

  private def idFrame(spark: SparkSession,
                      ids: Either[Seq[String], DataFrame]): DataFrame = {
    import spark.implicits._
    ids.fold(_.toDF("id"), identity)
  }

  private def collectLeaves(f: FilterExpr): Seq[Cmp] = f match {
    case c: Cmp => Seq(c)
    case FAnd(l, r) => collectLeaves(l) ++ collectLeaves(r)
    case FOr(l, r) => collectLeaves(l) ++ collectLeaves(r)
  }

  private def boolCol(f: FilterExpr, leaves: Seq[Cmp]): Column = f match {
    case c: Cmp => col(s"f${leaves.indexWhere(_ eq c)}") === 1
    case FAnd(l, r) => boolCol(l, leaves) && boolCol(r, leaves)
    case FOr(l, r) => boolCol(l, leaves) || boolCol(r, leaves)
  }

  /** include ∪ / exclude ∖ algebra over matched attribute sets
    * (FileStore.fs:103-138): keep = (∪ includes, or all if none) ∖
    * (∪ excludes). */
  private def cludeCol(c: Clude): Column = {
    def collect(c: Clude): (Seq[Matcher], Seq[Matcher]) = c match {
      case Include(m) => (Seq(m), Nil)
      case Exclude(m) => (Nil, Seq(m))
      case CludeList(xs) =>
        val parts = xs.map(collect)
        (parts.flatMap(_._1), parts.flatMap(_._2))
    }
    val (inc, exc) = collect(c)
    val included = if (inc.isEmpty) lit(true)
      else inc.map(matcherCol).reduce(_ || _)
    val excluded = if (exc.isEmpty) lit(false)
      else exc.map(matcherCol).reduce(_ || _)
    included && !excluded
  }

  private def matcherCol(m: Matcher): Column =
    partCol(m.key, isKey = true) && partCol(m.value, isKey = false)

  private def partCol(p: Part, isKey: Boolean): Column = p match {
    case AnyPart => lit(true)
    case StrPart(s) =>
      if (isKey) col("key") === s
      else col("value.vtype") === Value.STR && col("value.str") === s
    case EdgePart =>
      if (isKey) col("key").startsWith("^") // reference-keyed attribute
      else col("value.vtype") === Value.NODEID
    case EdgeToPart(iri) =>
      if (isKey) col("key") === s"^$iri"
      else col("value.vtype") === Value.NODEID && col("value.iri") === iri
    case IntPart =>
      lit(!isKey) && col("value.vtype")
        .isin(Value.I32, Value.I64, Value.UI32, Value.UI64)
    case FloatPart =>
      lit(!isKey) && col("value.vtype").isin(Value.D, Value.F)
    case StringPart => lit(!isKey) && col("value.vtype") === Value.STR
  }

  private[graft] def edgeCol(p: EdgePred): Column = p match {
    case AnyEdge => lit(true)
    case LabelEdge(l) => col("label") === l
    case OrEdge(a, b) => edgeCol(a) || edgeCol(b)
  }

  /** [[edgeCol]] on the driver, for adjacency lookups: a null label
    * passes only `AnyEdge`, as the column's null comparison drops it. */
  private[graft] def edgeTest(p: EdgePred): String => Boolean = p match {
    case AnyEdge => _ => true
    case LabelEdge(l) => _ == l
    case OrEdge(a, b) =>
      val (f, g) = (edgeTest(a), edgeTest(b))
      label => f(label) || g(label)
  }
}
