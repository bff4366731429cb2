package graft.api

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Engine façade + extension-point coverage: first(), metrics listener,
  * the SQL-registered native cosine_sim, approx_count_distinct bounds,
  * csv/text sources, foreachBatch sink — the §2.2 rows that don't fit
  * the oracle registry.
  */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  test("Engine.first returns the first matching node in id order") {
    val e = Engine.forDir(spark, sfDir)
    val f = e.first("""get "*" |> filter "name" == "ASIA"""").get
    assert(f.select("id").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("region/2"))
    assert(e.first("""get "*" |> filter "name" == "NO_SUCH"""").isEmpty)
  }

  test("TMD metadata round-trips through the bucketed store") {
    import graft.ingest.NTriplesReader
    // @lang + ^^type value metadata from N-Triples, key metadata from an
    // AHGHEE ^"key" fedge — write the merged graph as a bucketed table
    // (the real ingest path) and read everything back from the store
    val nt = spark.createDataset(Seq(
      "<m/1> <label> \"Bonjour\"@fr .",
      "<m/1> <size> \"7\"^^<http://www.w3.org/2001/XMLSchema#integer> ."))
      .flatMap(l => NTriplesReader.parseLine(l))
    val eng = Engine.forEmpty(spark)
      .load(nt)
      .put("""put "m/2" { ^"m/1": ^"m/3" }""")
    val stored = graft.sources.GraphStore.materialize(
      spark, "graft_test_tmd", "id", eng.nodes)
    val fr = stored.where(col("value_meta.str") === "lang:@fr")
      .select("id", "key", "value.str").collect()
    assert(fr.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      == Seq(("m/1", "label", "Bonjour")))
    val typed = stored.where(col("value_meta.vtype") === graft.model.Value.NODEID)
      .select("value_meta.iri").collect().map(_.getString(0)).toSeq
    assert(typed == Seq("http://www.w3.org/2001/XMLSchema#integer"))
    val kref = stored.where(col("key_meta").isNotNull)
      .select("id", "key", "key_meta.iri", "value.iri").collect()
    assert(kref.map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getString(3))).toSeq == Seq(("m/2", "^m/1", "m/1", "m/3")))
    spark.sql("DROP TABLE IF EXISTS graft_test_tmd")
  }

  test("typed Dataset[Node] round-trip: put → getNodes → Node equality") {
    import graft.ingest.{Node, NodeAttr, ValueRow}
    val e = Engine.forEmpty(spark)
      .put("""put "n/1" { "b": 2, "a": "x", "e": ^"n/2" } "n/2" { "a": "y" }""")
    val nodes = e.getNodes("""get "n/1" "n/2"""").collect().sortBy(_.id)
    assert(nodes.toSeq == Seq(
      Node("n/1", Seq(
        NodeAttr("a", ValueRow.str("x")),
        NodeAttr("b", ValueRow.i32(2)),
        NodeAttr("e", ValueRow.nodeid("n/2")))),
      Node("n/2", Seq(NodeAttr("a", ValueRow.str("y"))))))
  }

  test("merge algebra: idempotent, commutative, associative on random batches") {
    // the storage contract: fragments may arrive in ANY grouping and
    // order (concurrent appends, retried batches, compaction passes)
    // and the merged graph must be identical. Random attr batches with
    // deliberate overlap (small key space) and conflicting timestamps.
    import org.scalacheck.Gen
    import graft.ingest.{AttrRow, ValueRow}
    val genRow: Gen[AttrRow] = for {
      id <- Gen.choose(1, 5).map(i => s"m/$i")
      key <- Gen.oneOf("a", "b", "c")
      v <- Gen.oneOf(ValueRow.str("x"), ValueRow.str("y"), ValueRow.i32(1))
      ts <- Gen.choose(0L, 3L)
    } yield AttrRow("", id, key, v, ts, None, None)
    def frame(rows: Seq[AttrRow]) = {
      import spark.implicits._
      Engine.withMeta(spark.createDataset(rows).toDF()
        .withColumn("graph", lit(""))
        .select("graph", "id", "key", "value", "ts", "key_meta", "value_meta"))
    }
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val e = Engine.forEmpty(spark)
    val batches = Gen.listOfN(3, Gen.listOfN(15, genRow)).sample.get
      .map(frame)
    val Seq(a, b, c) = batches
    val leftFold = e.merge(e.merge(a, b), c)
    val rightFold = e.merge(a, e.merge(b, c))
    val reversed = e.merge(c, e.merge(b, a))
    assert(canon(leftFold) == canon(rightFold), "merge not associative")
    assert(canon(leftFold) == canon(reversed), "merge not commutative")
    assert(canon(e.merge(leftFold, leftFold)) == canon(leftFold),
      "merge not idempotent")
    // replaying any single batch into the merged whole changes nothing
    assert(canon(e.merge(leftFold, b)) == canon(leftFold),
      "replayed fragment changed the merged graph")
  }

  test("flat merge-on-read equals the nested merge fold across compactions") {
    // 18 seeded loads cross two every-8th compactions (the last two stay
    // pending) with duplicate attributes, explicit ts, metadata variants
    // and one remove; the engine must hold exactly the left fold of
    // merge over the same batches — the nested semantics
    import graft.ingest.{AttrRow, ValueRow}
    import graft.graph.Traversal
    val rnd = new scala.util.Random(4)
    val metas = Seq(None, Some(ValueRow.str("lang:@en")),
      Some(ValueRow.str("lang:@fr")),
      Some(ValueRow.nodeid("http://www.w3.org/2001/XMLSchema#string")))
    def row(): AttrRow = {
      val id = s"n/${rnd.nextInt(6)}"
      if (rnd.nextInt(3) == 0)
        AttrRow("", id, "knows", ValueRow.nodeid(s"n/${rnd.nextInt(6)}"), 0L,
          None, None)
      else
        AttrRow("", id, Seq("a", "b")(rnd.nextInt(2)),
          ValueRow.str(Seq("x", "y")(rnd.nextInt(2))), 0L,
          Seq(None, Some(ValueRow.nodeid("n/9")))(rnd.nextInt(2)),
          metas(rnd.nextInt(metas.size)))
    }
    val cols = Seq("id", "key", "value", "ts", "key_meta", "value_meta")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq

    val e = Engine.forEmpty(spark)
    var fold = Engine.emptyAttrs(spark)
    (1 to 18).foreach { i =>
      val batch = Seq.fill(6)(row())
      val rows = batch ++ batch.take(2) // in-batch duplicates
      val ts = rnd.nextInt(3).toLong
      e.load(spark.createDataset(rows), ts)
      fold = e.merge(fold, stamped(rows, ts))
      if (i == 10) {
        e.remove(Seq("n/2"))
        fold = fold.join(Seq("n/2").toDF("id"), Seq("id"), "left_anti")
      }
    }
    assert(canon(e.nodes) == canon(fold), "flat merge differs from the fold")

    // literal point reads return what the semi-join form returns
    val all = e.nodes.select(cols.map(col): _*)
    def semi(ids: org.apache.spark.sql.DataFrame) =
      all.join(ids, Seq("id"), "left_semi")
    assert(canon(e.query("""get "n/1" "n/3" "n/7"""")) ==
      canon(semi(Seq("n/1", "n/3", "n/7").toDF("id"))))
    val edges = all.where(col("value.vtype") === graft.model.Value.NODEID)
      .select(col("id").as("src_id"), col("key").as("label"),
        col("value.iri").as("dst_id"))
    Seq("n/0", "n/1", "n/4").foreach { r =>
      val reached = Traversal.follow(spark, edges, Seq(r).toDF("id"), None,
        0, 2).select("id")
      assert(canon(e.query(s"""get "$r" |> follow * 0..2""")) ==
        canon(semi(reached)), s"follow from $r")
    }
  }

  /** Attribute rows as `load` stamps them: graph "", the call's ts. */
  private def stamped(rows: Seq[graft.ingest.AttrRow], ts: Long) =
    spark.createDataset(rows).toDF()
      .select(lit("").as("graph"), col("id"), col("key"),
        col("value").cast(graft.model.Value.schema).as("value"),
        lit(ts).as("ts"),
        col("key_meta").cast(graft.model.Value.schema).as("key_meta"),
        col("value_meta").cast(graft.model.Value.schema).as("value_meta"))

  /** Every row as sorted JSON text (binary values render as base64). */
  private def canonJson(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(to_json(struct(
      Seq("graph", "id", "key", "value", "ts", "key_meta", "value_meta")
        .map(col): _*))).collect().map(_.getString(0)).sorted.toSeq

  /** A seeded AHGHEE put script over nodes n/0..n/3: plain and `^"key"`
    * reference keys, every value form the put parser sniffs. */
  private def putScript(rnd: scala.util.Random): String = {
    def value(): String = rnd.nextInt(10) match {
      case 0 => s"\"s${rnd.nextInt(3)}\""
      case 1 => rnd.nextInt(100).toString                // i32
      case 2 => (3000000000L + rnd.nextInt(3)).toString  // i64
      case 3 => "18446744073709551615"                   // ui64
      case 4 => "2.5"                                    // f32
      case 5 => "1e300"                                  // d
      case 6 => Seq("true", "false")(rnd.nextInt(2))
      case 7 => """{"a": [1, 2]}"""                      // JSON bytes
      case _ => s"^\"n/${rnd.nextInt(4)}\""
    }
    def key(): String =
      if (rnd.nextInt(3) == 0) s"^\"n/${rnd.nextInt(4)}\""
      else s"\"k${rnd.nextInt(3)}\""
    Seq.fill(1 + rnd.nextInt(2)) {
      s"\"n/${rnd.nextInt(4)}\" { " +
        Seq.fill(1 + rnd.nextInt(4))(s"${key()}: ${value()}").mkString(", ") +
        " }"
    }.mkString("put ", " ", "")
  }

  test("puts form one in-memory relation; a plain put runs no job") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    def locals(e: Engine) = e.nodes.queryExecution.analyzed.collect {
      case l: LocalRelation => l
    }
    val e = Engine.forDir(spark, sfDir)
    val putJobs = (1 to 7).map(i =>
      jobs(e.put(s"""put "customer/$i" { "pin": "p$i", "n": $i }"""))._2)
    assert(putJobs.forall(_ == 0), s"jobs per put: $putJobs")
    assert(locals(e).size == 1 && locals(e).head.data.size == 14,
      s"puts are not one relation:\n${e.nodes.queryExecution.analyzed}")
    // the 8th put compacts the buffer into the generation
    assert(jobs(e.put("""put "customer/8" { "pin": "p8" }"""))._2 > 0)
    assert(locals(e).isEmpty)
    assert(e.query("""get "customer/3"""").where(col("key") === "pin")
      .select("value.str").collect().map(_.getString(0)).toSeq == Seq("p3"))
  }

  test("a put holds exactly the rows a load of its parsed script holds") {
    import graft.ingest.AhgheePut
    val rnd = new scala.util.Random(11)
    val (viaPut, viaLoad) = (Engine.forEmpty(spark), Engine.forEmpty(spark))
    (1 to 10).foreach { i => // all buffered at 7, one compaction by 10
      val script = putScript(rnd)
      val ts = rnd.nextInt(4).toLong
      viaPut.put(script, ts)
      viaLoad.load(spark.createDataset(AhgheePut.parse(script)), ts)
      if (i == 7 || i == 10)
        assert(canonJson(viaPut.nodes) == canonJson(viaLoad.nodes),
          s"put and load differ after $i scripts")
    }
    assert(canonJson(viaPut.nodes).exists(_.contains("\"key\":\"^n/")),
      "no ^\"key\" reference was put")
  }

  test("puts, loads and a remove across two compactions equal the nested merge fold") {
    import graft.ingest.{AhgheePut, AttrRow, ValueRow}
    val rnd = new scala.util.Random(9)
    def rows(): Seq[AttrRow] = Seq.fill(4)(AttrRow("", s"n/${rnd.nextInt(4)}",
      s"k${rnd.nextInt(3)}", ValueRow.str(s"s${rnd.nextInt(3)}")))
    // one attribute put three times: at ts 5, after the first compaction
    // at ts 2, and pending at the end at ts 4 — min ts (2) wins
    val dup = """put "n/1" { "dup": "v" }"""
    val dupTs = Map(3 -> 5L, 12 -> 2L, 17 -> 4L)
    val e = Engine.forEmpty(spark)
    var fold = Engine.emptyAttrs(spark)
    (1 to 18).foreach { i =>
      val ts = rnd.nextInt(4).toLong
      if (dupTs.contains(i)) {
        e.put(dup, dupTs(i))
        fold = e.merge(fold, stamped(AhgheePut.parse(dup), dupTs(i)))
      } else if (rnd.nextBoolean()) {
        val script = putScript(rnd)
        e.put(script, ts)
        fold = e.merge(fold, stamped(AhgheePut.parse(script), ts))
      } else {
        val batch = rows()
        e.load(spark.createDataset(batch), ts)
        fold = e.merge(fold, stamped(batch, ts))
      }
      if (i == 10) {
        e.remove(Seq("n/2"))
        fold = fold.where(col("id") =!= "n/2")
      }
    }
    assert(canonJson(e.nodes) == canonJson(fold),
      "puts and loads differ from the fold")
    assert(e.query("""get "n/1"""").where(col("key") === "dup")
      .select("ts").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("point get: one merge aggregate with the id filter below it, any puts") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    object H extends AdaptiveSparkPlanHelper
    val q = """get "customer/1""""
    def executed(e: Engine): SparkPlan = {
      val df = e.query(q)
      assert(df.where(col("key") === "name").count() == 1)
      df.collect() // AQE settles its final plan on execution
      df.queryExecution.executedPlan
    }
    def idFilters(p: SparkPlan) = H.collect(p) {
      case f: FilterExec if f.condition.references.exists(_.name == "id") &&
        f.condition.toString.contains("customer/1") => f
    }
    // before any put the literal reaches the bucketed scan
    val scans = H.collect(executed(Engine.forDir(spark, sfDir))) {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty && scans.forall(s =>
      s.metadata.getOrElse("PushedFilters", "").contains("(id,customer/1")),
      s"id not pushed to the scan: ${scans.map(_.metadata)}")

    def afterPuts(n: Int): SparkPlan = {
      val e = Engine.forDir(spark, sfDir)
      (1 to n).foreach(i => e.put(s"""put "customer/$i" { "pin": "p$i" }"""))
      executed(e)
    }
    val plans = Seq(1, 7).map(afterPuts)
    val exchanges = plans.map(p =>
      H.collect(p) { case x: ShuffleExchangeLike => x }.size)
    assert(exchanges.distinct.size == 1,
      s"exchanges grow with puts: $exchanges\n${plans.last}")
    plans.foreach { p =>
      val aggs = H.collect(p) { case a: HashAggregateExec => a }
      assert(aggs.nonEmpty && aggs.forall(a => idFilters(a).nonEmpty),
        s"id predicate not below the merge aggregate:\n$p")
    }
  }

  /** The body's value and the jobs it started (the listener bus
    * drained on both sides). */
  private def jobs[T](body: => T): (T, Int) = {
    val stats = graft.QueryStats.attach(spark)
    try {
      stats.flush()
      stats.reset()
      val out = body
      stats.flush()
      (out, stats.totals.jobs)
    } finally stats.detach()
  }

  private object H extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  private def aggs(df: org.apache.spark.sql.DataFrame): Int = H.collect(
    df.queryExecution.executedPlan) {
    case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
  }.size
  private def exchanges(df: org.apache.spark.sql.DataFrame): Int = H.collect(
    df.queryExecution.executedPlan) {
    case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => x
  }.size

  test("reads that miss the pending puts run one job per point read, no shuffle") {
    // 8 puts compact into a generation marked distinct; one more put on
    // A stays pending and duplicates an attribute A holds there
    val (a, b) = ("customer/1", "customer/2")
    val e = Engine.forDir(spark, sfDir)
    e.put(s"""put "$a" { "pin": "x" }""", ts = 3L)
    (3 to 9).foreach(i => e.put(s"""put "customer/$i" { "pin": "p$i" }"""))
    e.put(s"""put "$a" { "pin": "x" }""", ts = 1L)

    val getB = e.query(s"""get "$b"""")
    val (rows, getJobs) = jobs(getB.collect())
    assert(getJobs == 1)
    assert(rows.nonEmpty && rows.forall(_.getAs[String]("id") == b))
    assert(exchanges(getB) == 0 && aggs(getB) == 0,
      s"get $b planned a shuffle:\n${getB.queryExecution.executedPlan}")

    // a read that reaches the pending put keeps the merge: min ts wins
    val getA = e.query(s"""get "$a"""")
    val pins = getA.where(col("key") === "pin").select("ts").collect()
    assert(pins.map(_.getLong(0)).toSeq == Seq(1L))
    assert(aggs(getA) > 0)

    // two driver-side hops and the final read
    val (reached, followJobs) = jobs(e.query(s"""get "$b" |> follow * 0..2""")
      .select("id").collect().map(_.getString(0)).toSet)
    assert(followJobs == 3 && reached.size == 3 && reached.contains(b))

    // the page is collected once; the final read filters its ids
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val (page, scanJobs) = jobs(e.query(
      """get "*" |> filter "nation" == ^"nation/1" |> take 10""")
      .select("id").collect().map(_.getString(0)).toSet)
    assert(scanJobs <= 3 && page.size == 6, s"$scanJobs jobs for $page")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "the scan persisted an RDD")
  }

  test("remove commits a distinct generation; first reads its winner by id") {
    val e = Engine.forDir(spark, sfDir)
    e.put("""put "customer/1" { "pin": "x" }""")
    e.remove(Seq("customer/3"))
    assert(aggs(e.nodes) == 0, "remove left a lazy merge behind")
    assert(e.query("""get "customer/3"""").isEmpty)
    assert(e.query("""get "customer/1"""").where(col("key") === "pin")
      .count() == 1)
    // a later pending put does not put the merge back on other reads
    e.put("""put "customer/1" { "pin": "y" }""")
    val getB = e.query("""get "customer/2"""")
    assert(jobs(getB.collect())._2 == 1 && aggs(getB) == 0)

    // the winner is read by literal id: no join beyond the query's own
    // (whose semi-join the id predicate may even drop from pruned branches)
    val q = """get "*" |> filter "nation" == ^"nation/16""""
    def semis(df: org.apache.spark.sql.DataFrame) =
      "LeftSemi".r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val f = e.first(q).get
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    assert(f.select("id").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("customer/107"))
    assert(semis(f) <= semis(e.query(q)) &&
      f.queryExecution.optimizedPlan.toString.contains("= customer/107"),
      s"first joins its winner:\n${f.queryExecution.optimizedPlan}")
  }

  test("concurrent puts are never lost while a reader queries") {
    val e = Engine.forEmpty(spark)
    val go = new java.util.concurrent.CountDownLatch(1)
    val acked = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var writing = true
    val writers = (0 until 4).map { w =>
      new Thread(() => {
        go.await()
        (1 to 6).foreach { i =>
          try {
            e.put(s"""put "w/$w" { "seq": "$i" }""")
            acked.add(s"w/$w" -> i.toString)
          } catch { case t: Throwable => errors.add(t) }
        }
      })
    }
    val reader = new Thread(() => {
      go.await()
      try while (writing) e.query("""get "w/0" "w/3"""").collect()
      catch { case t: Throwable => errors.add(t) }
    })
    (writers :+ reader).foreach(_.start())
    go.countDown()
    writers.foreach(_.join())
    writing = false
    reader.join()
    assert(errors.isEmpty, s"errors: ${errors.asScala.take(3)}")
    val stored = e.nodes.where(col("key") === "seq")
      .select(col("id"), col("value.str")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    val lost = acked.asScala.toSet -- stored
    assert(acked.size == 24 && lost.isEmpty, s"lost writes: $lost")
  }

  test("merge keeps metadata in the dedup key but collapses true duplicates") {
    import graft.ingest.NTriplesReader
    val nt = spark.createDataset(Seq(
      "<d/1> <t> \"X\"@en .",
      "<d/1> <t> \"X\"@fr .",
      "<d/1> <t> \"X\"@en .",   // exact duplicate of the first
      "<d/1> <t> \"X\" ."))     // no metadata — distinct from both
      .flatMap(l => NTriplesReader.parseLine(l))
    val n = Engine.forEmpty(spark).load(nt).nodes
    assert(n.count() == 3)
    assert(n.where(col("value_meta").isNull).count() == 1)
  }

  test("metrics listener records completed query executions") {
    val m = graft.QueryStats.attach(spark)
    try {
      spark.range(10).count()
      m.flush()
      val snap = m.executions
      assert(snap.nonEmpty && snap.forall(_.error.isEmpty))
      assert(snap.exists(e => e.action == "count" && e.durationNs > 0), snap)
    } finally m.detach()
  }

  test("cosine_sim is callable from SQL via GraftExtensions") {
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c1, " +
      "cosine_sim(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS c0").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("cosine_sim expression matches the composed zip_with/aggregate form") {
    val e = graft.Tables(spark, sfDir, "embeddings").limit(50)
      .select(col("vec_id"), graft.llm.VectorOps.toDouble(col("embedding")).as("v"))
    val a = e.select(col("vec_id").as("a_id"), col("v").as("av"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("bv"))
    val both = a.crossJoin(b).where(col("a_id") < col("b_id"))
      .select(graft.llm.VectorOps.cosine(col("av"), col("bv")).as("slow"),
        graft.llm.VectorOps.cosineFast(col("av"), col("bv")).as("fast"))
    assert(both.where(col("slow") =!= col("fast")).count() == 0)
  }

  test("jaccard_sorted matches array_intersect/union on random sets") {
    import graft.llm.TextOps
    // random token sets → hashed sorted longs; the native merge-walk
    // must equal the composed built-in formula on every pair
    val docs = graft.Tables(spark, sfDir, "documents").limit(60)
      .select(col("doc_id"),
        array_sort(transform(
          array_distinct(TextOps.tokens(col("text"))),
          t => xxhash64(t))).as("sh"))
      .localCheckpoint()
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    val both = a.crossJoin(b).where(col("a_id") < col("b_id"))
      .select(TextOps.jaccard(col("a_sh"), col("b_sh")).as("slow"),
        TextOps.jaccardSorted(col("a_sh"), col("b_sh")).as("fast"))
    assert(both.where(col("slow") =!= col("fast")).count() == 0)
    // SQL registration + empty∪empty = 0.0 (the defined corner)
    val r = spark.sql(
      "SELECT jaccard_sorted(array(1L,2L,3L), array(2L,3L,4L)) AS j, " +
      "jaccard_sorted(array(), array()) AS z").head()
    assert(r.getDouble(0) == 0.5 && r.getDouble(1) == 0.0)
  }

  test("approx_count_distinct within documented relative error") {
    val li = graft.Tables(spark, sfDir, "lineitem")
    val exact = li.select(countDistinct(col("l_partkey"))).head().getLong(0)
    val approx = li.select(approx_count_distinct(col("l_partkey"), 0.05))
      .head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.15,
      s"approx $approx vs exact $exact")
  }

  test("registerViews exposes the graph to spark.sql") {
    Engine.forEmpty(spark)
      .put("""put "v/1" { "name": "Ada", "knows": ^"v/2" } "v/2" { "name": "Bob" }""")
      .registerViews("sqlv")
    val names = spark.sql(
      """SELECT n.value.str AS who FROM sqlv_edges e
        |JOIN sqlv_nodes n ON e.dst_id = n.id AND n.key = 'name'
        |WHERE e.label = 'knows'""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(names == Seq("Bob"))
  }

  test("forDir auto-registers the default SQL views") {
    Engine.forDir(spark, sfDir)
    assert(spark.catalog.tableExists("graft_nodes") &&
      spark.catalog.tableExists("graft_edges"))
    assert(spark.sql("SELECT count(*) FROM graft_nodes").first().getLong(0) > 0)
  }

  test("csv, text, and json sources round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("srcs")
    java.nio.file.Files.writeString(dir.resolve("d.csv"), "a,b\n1,x\n2,y\n")
    val csv = spark.read.option("header", "true").csv(dir.toString + "/d.csv")
    assert(csv.count() == 2 && csv.columns.toSeq == Seq("a", "b"))
    val txt = spark.read.textFile(dir.toString + "/d.csv")
    assert(txt.count() == 3)
    java.nio.file.Files.writeString(dir.resolve("d.jsonl"),
      """{"a":1,"b":"x"}""" + "\n" + """{"a":2,"b":"y"}""" + "\n")
    val js = spark.read.json(dir.toString + "/d.jsonl")
    assert(js.count() == 2 && js.columns.sorted.toSeq == Seq("a", "b"))
    // ORC round-trip (columnar alternative; same DataFrameReader surface)
    val orcPath = dir.resolve("d.orc").toString
    js.write.mode("overwrite").orc(orcPath)
    val orc = spark.read.orc(orcPath)
    assert(orc.count() == 2 &&
      orc.columns.sorted.toSeq == Seq("a", "b"), "orc round-trip")
  }

  test("loadStream: continuous NT put merges each micro-batch into the graph") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_nt_cput")
    // duplicate triple across files: merge-on-write must collapse it
    java.nio.file.Files.writeString(dir.resolve("a.nt"),
      "<s/1> <name> \"a\" .\n<s/1> <tag> \"t\"@en .\n")
    java.nio.file.Files.writeString(dir.resolve("b.nt"),
      "<s/2> <name> \"b\" .\n<s/1> <name> \"a\" .\n")
    val e = Engine.forEmpty(spark)
    val q = e.loadStream(dir.toString, maxFilesPerTrigger = 1)
    q.awaitTermination(60000)
    val rows = e.nodes.select("id", "key").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.length == 3, s"merged rows: ${rows.toSeq}") // dup collapsed
    assert(rows.count(_._1 == "s/1") == 2 && rows.count(_._1 == "s/2") == 1)
    // metadata survived the streaming path into the merged graph
    assert(e.nodes.where(col("value_meta").isNotNull).count() == 1)
  }

  test("foreachBatch sink receives every micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    src.addData(1 to 10: _*)
    val seen = new java.util.concurrent.atomic.AtomicLong
    val q = src.toDS().writeStream
      .foreachBatch((batch: org.apache.spark.sql.Dataset[Int], _: Long) =>
        seen.addAndGet(batch.count()): Unit)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(seen.get() == 10)
  }
}
