package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.api.{Engine, Server}
import graftbench.Ops._

/** oltp_mixed: two closed-loop clients call the Engine API in-process on
  * the bucketed graph store of an sf0.01 graph (16.5k nodes, 34.5k
  * attribute rows). Each read's result is fetched with `toLocalIterator`
  * and rendered with `Server.jsonRow`, as the HTTP `/get` streams it (the
  * rows are buffered first, so drain and rendering are timed apart). Puts
  * change the read path (they drop the edge hint, and every 8th
  * checkpoints the merged table), so both uses are measured against each
  * other. Client 0 is the one writer; client 1 reads while it writes. */
object Oltp {
  /** Point ops cost about the same on any graph size (they are bound by
    * per-job overhead); set-up grows with it. sf0.01 keeps set-up short. */
  val Sf = 0.01
  val Clients = 2
  /** Each op class's share of the mix. */
  val Mix: Map[String, Double] =
    Map("get" -> 0.50, "follow" -> 0.15, "scan" -> 0.05, "put" -> 0.30)
  /** An op slower than this counts as failed (timed out). */
  val OpLimitMs = 20000.0
  /** Puts issued in warm-up: one short of the engine's every-8th-put
    * checkpoint, so the put that opens the measured window runs it. */
  val WarmPuts = 7
  /** The engine checkpoints its merged table on every 8th put. */
  val CheckpointEvery = 8
  /** Warm-up put sequence numbers start here, above any a client issues. */
  val WarmSeq = 900000000L
  /** Puts each of the lost-write probe's two threads issues. */
  val ProbePuts = 3

  /** A result's rows, fetched as `/get` fetches them: `toLocalIterator`,
    * one job per result partition. */
  def drain(df: DataFrame): Seq[Row] = df.toLocalIterator().asScala.toVector

  def run(r: Run): Unit = {
    val spark = r.spark
    val dir = s"${r.work}/oltp"
    val t0 = System.nanoTime()
    Gen.write(spark, dir, Sf, Seq("region", "nation", "customer", "orders"))
    val m0 = System.nanoTime()
    graft.sources.GraphStore.nodesAttrs(spark, dir)
    graft.sources.GraphStore.edges(spark, dir)
    val m1 = System.nanoTime()
    r.log(f"generated ${(m0 - t0) / 1e9}%.1fs, materialized ${(m1 - m0) / 1e9}%.1fs")
    val oracle = new GraphOracle(spark, dir)
    val engine = Engine.forDir(spark, dir)
    val seed = r.seed
    val nodes = shuffled(oracle.nodeIds, seed)
    val zipf = new Zipf(nodes.size, 0.99)

    // warm-up: a read on the pristine store, WarmPuts puts, and a read of
    // the merged store they leave
    val issued = new ConcurrentHashMap[String, java.util.Set[String]]()
    def warmPut(i: Int): Unit = {
      val p = Put(nodes(i), WarmSeq + i)
      issued.computeIfAbsent(p.id, _ => ConcurrentHashMap.newKeySet[String]())
        .add(p.seq.toString)
      engine.put(putScript(p))
    }
    val w0 = System.nanoTime()
    drain(engine.query(query(Get(nodes(0)))))
    (0 until WarmPuts).foreach(warmPut)
    drain(engine.query(query(Follow(nodes(1)))))
    val warmS = (System.nanoTime() - w0) / 1e9
    r.log(f"oracle ${oracle.buildS}%.1fs, warm-up ${warmS}%.1fs")
    r.e2e("setup_s") = (r.sessionS + (m1 - t0) / 1e9 + oracle.buildS + warmS, "s")
    r.setLayer("sources.materialize_s", (m1 - m0) / 1e9)

    val acked = new java.util.concurrent.ConcurrentLinkedQueue[Put]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Op, Double)]()
    val getRows = new java.util.concurrent.atomic.AtomicLong()
    r.startMeasuring()
    val c0 = System.nanoTime()
    val deadline = c0 + r.seconds * 1000000000L
    // the window runs until the deadline and on until the next checkpoint
    // put completes, so every run covers whole checkpoint cycles (never
    // past a hard cap)
    val cap = deadline + 2 * r.seconds * 1000000000L
    val timedPuts = new java.util.concurrent.atomic.AtomicLong()
    @volatile var closed = false
    def runOp(op: Op): Unit = {
      r.attempted.incrementAndGet()
      // the engine tags traversal jobs with this property and never
      // clears it; reset it so each op's jobs carry only its own tag
      spark.sparkContext.setLocalProperty("graft.traversal.impl", null)
      try {
        op match {
          case p: Put =>
            issued.computeIfAbsent(p.id, _ => ConcurrentHashMap.newKeySet[String]())
              .add(p.seq.toString)
            val t = System.nanoTime()
            r.tracer.span("op", "put") {
              if (r.tracer.on) r.tracer.span("ingest.put_parse", "put") {
                graft.ingest.AhgheePut.parse(putScript(p))
              }
              r.tracer.span("api.put", "put") { engine.put(putScript(p)) }
            }
            if ((WarmPuts + timedPuts.incrementAndGet()) % CheckpointEvery == 0 &&
                System.nanoTime() >= deadline) closed = true
            val ms = (System.nanoTime() - t) / 1e6
            r.log(f"put ${ms}%.0f ms")
            if (ms > OpLimitMs) r.fail(s"put ${p.id}", f"timed out after $ms%.0f ms", wrong = false)
            else { done.add(p -> ms); acked.add(p) }
          case q =>
            val text = query(q)
            val t = System.nanoTime()
            val rows = r.tracer.span("op", q.cls) {
              if (r.tracer.on) r.tracer.span("lang.parse", q.cls) {
                graft.lang.AhgheeParser.parse(text)
              }
              val df = r.tracer.span("api.query", q.cls) { engine.query(text) }
              val rows = r.tracer.span("api.drain", q.cls) { drain(df) }
              r.tracer.span("api.serialize", q.cls) {
                val schema = df.schema
                rows.foreach(row => Server.jsonRow(schema, row))
              }
              rows
            }
            val ms = (System.nanoTime() - t) / 1e6
            r.log(f"$text ${ms}%.0f ms, ${rows.size} rows")
            oracle.check(q, rows, issued) match {
              case Some(why) => r.fail(text, why, wrong = true)
              case None if ms > OpLimitMs =>
                r.fail(text, f"timed out after $ms%.0f ms", wrong = false)
              case None =>
                done.add(q -> ms)
                if (q.cls == "get") getRows.addAndGet(rows.size)
            }
        }
      } catch {
        case e: Throwable => r.fail(op.toString, r.errorText(e), wrong = false)
      }
    }

    // the window opens with the 8th put, issued alone: it runs the engine's
    // every-8th-put checkpoint, so every run starts at the same point of the
    // checkpoint cycle, and the clients' reads scan the checkpointed table
    // with the writer's puts made since merged on top
    runOp(Put(nodes(WarmPuts), WarmSeq + WarmPuts))
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => {
        val ops = new OpStream(seed, c, nodes, zipf, 25)
        while (!closed && System.nanoTime() < cap) runOp(ops.next())
      }, s"oltp-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - c0) / 1e9

    // lost-write check: every acknowledged put must be readable
    val stored = engine.nodes.where(col("key") === "bench_seq")
      .select(col("id"), col("value")).collect()
      .map(row => (row.getString(0), GraphOracle.render(row.getStruct(1)))).toSet
    val lost: Set[Op] = acked.asScala.filterNot(p =>
      stored.contains((p.id, p.seq.toString))).toSet
    // a lost write is a failed put; the reads it affected returned what the
    // store held, so it does not mark their outputs wrong
    lost.foreach(p => r.fail(putScript(p.asInstanceOf[Put]),
      "acknowledged put missing on read-back (lost write)", wrong = false))

    lostWriteProbe(r, engine)

    // a lost put contributes no time
    val ok = done.asScala.toSeq.filterNot { case (op, _) => lost.contains(op) }
    r.meanLatency(ok.map { case (op, ms) => op.cls -> ms }, Mix)
    r.e2e("throughput_per_s") = (ok.size / wallS, "1/s")

    def p(cls: String, q: Double): Double = {
      val xs = ok.collect { case (op, ms) if op.cls == cls => ms }
      if (xs.isEmpty) 0.0 else Ops.percentile(xs, q)
    }
    r.setLayer("api.get_p50_ms", p("get", 0.5))
    r.setLayer("api.get_p90_ms", p("get", 0.9))
    r.setLayer("api.follow_p50_ms", p("follow", 0.5))
    r.setLayer("api.scan_p50_ms", p("scan", 0.5))
    r.setLayer("api.put_p50_ms", p("put", 0.5))
    r.setLayer("api.put_p90_ms", p("put", 0.9))
    if (r.tracer.on) traced(r, getRows.get)
  }

  /** The engine's unlocked `attrsDf` reassignment, seen from outside: after
    * the measured window, two threads put at once, as two writers would, and
    * every put is read back. How many are lost changes from run to run, so
    * the count is reported (`probe.lost_writes`, one note per lost put) but
    * is not a failed op of the workload, whose one writer loses none. */
  private def lostWriteProbe(r: Run, engine: Engine): Unit = {
    val go = new java.util.concurrent.CountDownLatch(1)
    val acked = new java.util.concurrent.ConcurrentLinkedQueue[Put]()
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => {
        go.await()
        (1 to ProbePuts).foreach { i =>
          val p = Put(s"probe/$c", i)
          try { engine.put(putScript(p)); acked.add(p) }
          catch { case e: Throwable => r.note(s"${putScript(p)}: ${r.errorText(e)}") }
        }
      }, s"oltp-probe-$c")
      t.start()
      t
    }
    go.countDown()
    threads.foreach(_.join())
    val stored = engine.nodes.where(col("key") === "bench_seq" && col("id").startsWith("probe/"))
      .select(col("id"), col("value")).collect()
      .map(row => (row.getString(0), GraphOracle.render(row.getStruct(1)))).toSet
    val lost = acked.asScala.filterNot(p => stored.contains((p.id, p.seq.toString)))
    lost.foreach(p => r.note(s"${putScript(p)}: acknowledged concurrent put missing on read-back"))
    r.extra("probe.lost_writes") = (lost.size.toDouble, "count")
  }

  /** Per-layer metrics from the spans and the listener's counters. */
  private def traced(r: Run, getRowsReturned: Long): Unit = {
    val spans = r.tracer.spans
    val counters = r.measuredCounters()
    val byId = spans.map(s => s.id -> s).toMap
    def cnt(id: Long): Counters = counters.getOrElse(id.toString, new Counters)
    // each span's own counters plus its descendants', rolled up per op span
    val opOf = mutable.Map.empty[Long, Long]
    def opId(id: Long): Long = opOf.getOrElseUpdate(id, {
      val s = byId(id)
      if (s.name == "op" || s.parent == 0) id else opId(s.parent)
    })
    val perOp = mutable.Map.empty[Long, Counters]
    spans.foreach(s => perOp.getOrElseUpdate(opId(s.id), new Counters).add(cnt(s.id)))
    val ops = spans.filter(_.name == "op")
    def meanMs(name: String, key: String => Boolean): Double = {
      val ss = spans.filter(s => s.name == name && key(s.key))
      if (ss.isEmpty) 0.0 else ss.map(_.dur).sum / 1e6 / ss.size
    }
    Seq("get", "follow", "scan").foreach(c =>
      r.setLayer(s"api.query_ms.$c", meanMs("api.query", _ == c)))
    r.setLayer("api.drain_ms", meanMs("api.drain", _ => true))
    r.setLayer("api.serialize_ms", meanMs("api.serialize", _ => true))
    r.setLayer("api.put_ms", meanMs("api.put", _ => true))
    r.setLayer("lang.parse_us", meanMs("lang.parse", _ => true) * 1e3)
    r.setLayer("ingest.put_parse_us", meanMs("ingest.put_parse", _ => true) * 1e3)
    def meanJobs(name: String, key: String => Boolean): Double = {
      val ss = spans.filter(s => s.name == name && key(s.key))
      if (ss.isEmpty) 0.0 else ss.map(s => cnt(s.id).jobs).sum.toDouble / ss.size
    }
    r.setLayer("api.put_jobs", meanJobs("api.put", _ => true))
    r.setLayer("lang.eager_jobs", meanJobs("api.query", _ => true))
    val follows = ops.filter(_.key == "follow").map(s => perOp(s.id))
    r.setLayer("graph.follow_jobs",
      if (follows.isEmpty) 0.0 else follows.map(_.jobs).sum.toDouble / follows.size)
    val fj = follows.map(_.jobs).sum
    r.setLayer("graph.point_arm_share",
      if (fj == 0) 0.0 else follows.map(_.pointJobs).sum.toDouble / fj)
    val gets = ops.filter(_.key == "get")
    val getC = new Counters
    gets.foreach(s => getC.add(perOp(s.id)))
    r.setLayer("sources.rows_examined_per_row", if (getRowsReturned == 0) 0.0
      else getC.inputRecords.toDouble / getRowsReturned)
    r.setLayer("sources.read_kb_per_get",
      if (gets.isEmpty) 0.0 else getC.inputBytes / 1024.0 / gets.size)
    val opC = new Counters
    ops.foreach(s => opC.add(perOp(s.id)))
    val n = math.max(ops.size, 1)
    r.setLayer("exec.tasks_per_op", opC.tasks.toDouble / n)
    r.setLayer("exec.task_ms_per_op", opC.taskMs.toDouble / n)
    r.setLayer("exec.sched_ms_per_op",
      ops.map(s => s.dur / 1e6 - perOp(s.id).taskMs.toDouble / r.cores).sum / n)
    r.setLayer("exec.queue_ms", if (opC.jobs == 0) 0.0 else opC.queueMs.toDouble / opC.jobs)
  }
}

/** Expected oltp_mixed results, computed from the generated parquet tables
  * with plain Spark reads and driver-side maps — never through the engine.
  * The graph: customer/N -nation-> nation/N -region-> region/N and
  * orders/N -customer-> customer/N. */
final class GraphOracle(spark: SparkSession, dir: String) {
  private val t0 = System.nanoTime()
  private def table(n: String): Array[Row] =
    spark.read.parquet(s"$dir/$n.parquet").collect()

  private val region: Map[Long, String] = table("region")
    .map(r => r.getInt(0).toLong -> r.getString(1)).toMap
  private val nation: Map[Long, (String, Long)] = table("nation")
    .map(r => r.getInt(0).toLong -> (r.getString(1), r.getInt(2).toLong)).toMap
  private val cust: Map[Long, (String, Double, Long)] = spark.read
    .parquet(s"$dir/customer.parquet")
    .select("c_custkey", "c_name", "c_acctbal", "c_nationkey").collect()
    .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getInt(3).toLong)).toMap
  private val orders: Map[Long, (Double, Long)] = spark.read
    .parquet(s"$dir/orders.parquet")
    .select("o_orderkey", "o_totalprice", "o_custkey").collect()
    .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
  /** Per nation: the ten customers `filter ... |> take 10` returns (by id). */
  private val firstTen: Map[Long, Seq[String]] = cust.toSeq
    .map { case (k, (_, _, n)) => n -> s"customer/$k" }
    .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sorted.take(10) }
  val buildS: Double = (System.nanoTime() - t0) / 1e9

  val nodeIds: IndexedSeq[String] =
    (region.keys.map(k => s"region/$k") ++ nation.keys.map(k => s"nation/$k") ++
      cust.keys.map(k => s"customer/$k") ++ orders.keys.map(k => s"orders/$k"))
      .toIndexedSeq.sorted

  private def num(s: String): Long = s.substring(s.indexOf('/') + 1).toLong

  /** (key, rendered value) attribute pairs of a node. */
  def attrs(id: String): Seq[(String, String)] = id.takeWhile(_ != '/') match {
    case "region" => Seq("name" -> region(num(id)))
    case "nation" =>
      val (n, r) = nation(num(id)); Seq("name" -> n, "region" -> s"region/$r")
    case "customer" =>
      val (n, b, nat) = cust(num(id))
      Seq("name" -> n, "acctbal" -> b.toString, "nation" -> s"nation/$nat")
    case "orders" =>
      val (p, c) = orders(num(id))
      Seq("totalprice" -> p.toString, "customer" -> s"customer/$c")
  }

  /** Nodes within 0..2 hops along the graph's edges. */
  def reach(id: String): Seq[String] = id.takeWhile(_ != '/') match {
    case "region" => Seq(id)
    case "nation" => Seq(id, s"region/${nation(num(id))._2}")
    case "customer" =>
      val n = cust(num(id))._3
      Seq(id, s"nation/$n", s"region/${nation(n)._2}")
    case "orders" =>
      val c = orders(num(id))._2
      Seq(id, s"customer/$c", s"nation/${cust(c)._3}")
  }

  /** None when `rows` is the right answer to `op`, else what is wrong.
    * Rows of `bench_seq` (written by concurrent puts) are accepted when
    * they carry a sequence number issued for that node. */
  def check(op: Ops.Op, rows: Seq[Row],
            issued: ConcurrentHashMap[String, java.util.Set[String]]): Option[String] = {
    val ids = op match {
      case Ops.Get(id) => Seq(id)
      case Ops.Follow(id) => reach(id)
      case Ops.Scan(k) => firstTen.getOrElse(k.toLong, Nil)
      case p: Ops.Put => sys.error(s"$p has no read result")
    }
    val got = rows.map(row => (row.getString(0), row.getString(1),
      GraphOracle.render(row.getStruct(2))))
    val (seqRows, base) = got.partition(_._2 == "bench_seq")
    val want = ids.flatMap(id => attrs(id).map { case (k, v) => (id, k, v) })
    val stray = seqRows.filterNot { case (id, _, v) =>
      Option(issued.get(id)).exists(_.contains(v)) }
    if (base.sorted != want.sorted)
      Some(s"expected ${want.size} attribute rows of ${ids.size} nodes, got " +
        s"${base.size} (first difference: ${base.diff(want).headOption
          .orElse(want.diff(base).headOption).getOrElse("-")})")
    else if (stray.nonEmpty) Some(s"unexpected bench_seq rows ${stray.take(3)}")
    else None
  }
}

object GraphOracle {
  /** A VALUE struct as text: its one set payload field. */
  def render(v: Row): String =
    (1 until 6).collectFirst { case i if !v.isNullAt(i) => v.get(i).toString }
      .getOrElse("null")
}
