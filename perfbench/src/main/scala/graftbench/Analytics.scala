package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** analytics_batch: one client runs a fixed list of entries in sequence,
  * pass after pass until the run's time is up (at least one pass):
  * registry entries through `SparkEntry.queries` (GraphX fixpoints,
  * LLM-pipeline joins, a custom physical plan, bucketed and versioned
  * source joins, two streaming entries) and the streaming N-Triples load
  * of [[StreamLoad]]. Exchange, checkpoint, driver-collect and micro-batch
  * heavy; it never touches the query language or the traversal. Each
  * entry's result is collected — the client receives it — and checked
  * against the fingerprint recorded when the benchmark was defined. The
  * seed rotates the entry order and seeds the N-Triples files. */
object Analytics {
  /** The smallest scale factor the registry entries are defined on. The
    * entries are dominated by per-job costs, so a larger one mostly
    * lengthens the run. */
  val Sf = 0.001
  val EntryLimitS = 120.0

  def run(r: Run): Unit = {
    val spark = r.spark
    val dir = s"${r.work}/analytics"
    val g0 = System.nanoTime()
    Gen.write(spark, dir, Sf, Seq("customer", "orders", "lineitem", "events",
      "documents", "embeddings"))
    val load = new StreamLoad(r)
    val genS = (System.nanoTime() - g0) / 1e9
    // warm-up: the session's first jobs and the cheapest entry, so the
    // one-off JIT and code-generation costs land on no timed entry
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.SparkEntry.queries("q66_sessionize_exec")(spark, dir).collect()
    cleanUp(spark)
    val setupS = (System.nanoTime() - g0) / 1e9
    r.log(f"generated ${genS}%.1f s, set up ${setupS}%.1f s")
    r.e2e("setup_s") = (r.sessionS + setupS, "s")

    val n = Run.Entries.size
    val start = Math.floorMod(r.seed, n.toLong).toInt
    val order = Run.Entries.drop(start) ++ Run.Entries.take(start)
    val walls = mutable.Map.empty[String, mutable.Buffer[Double]]
    val progress = new StreamLoad.Progress
    if (r.tracer.on) spark.streams.addListener(progress)
    r.startMeasuring()
    val t0 = System.nanoTime()
    var passes = 0
    // whole passes while another one still fits in the window
    var passS = 0.0
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 + passS < r.seconds) {
      val p0 = System.nanoTime()
      order.foreach { case (name, _) =>
        timeEntry(r, name, dir, load).foreach(s =>
          walls.getOrElseUpdate(name, mutable.Buffer.empty) += s)
      }
      passes += 1
      passS = (System.nanoTime() - p0) / 1e9
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val all = walls.toSeq.flatMap { case (k, v) => v.map(s => k -> s * 1e3) }
    r.meanLatency(all, Run.Entries.map(_._1 -> 1.0).toMap)
    r.e2e("throughput_per_s") = (all.size / wallS, "1/s")

    val med = walls.map { case (k, v) => k -> Ops.median(v.toSeq) }
    med.foreach { case (k, v) => r.setLayer(s"entry.$k.wall_s", v) }
    if (med.nonEmpty) {
      r.setLayer("analytics.total_s", med.values.sum)
      r.setLayer("analytics.geomean_s", Ops.geomean(med.values.toSeq))
    }
    if (r.tracer.on) {
      spark.streams.removeListener(progress)
      traced(r, passes)
      load.traced(progress, passes)
    }
  }

  /** Runs one entry, checks its result, and returns its wall seconds, or
    * None when it failed. */
  private def timeEntry(r: Run, name: String, dir: String,
                        load: StreamLoad): Option[Double] = {
    r.attempted.incrementAndGet()
    val t = System.nanoTime()
    try {
      val check: () => Option[String] = r.tracer.span("entry", name) {
        if (name == StreamLoad.Name) load.run()
        else {
          val df = r.tracer.span("construct", name) {
            graft.SparkEntry.queries(name)(r.spark, dir)
          }
          val rows = r.tracer.span("execute", name) { df.collect() }
          () => Fingerprints.check(name, Fingerprints.of(rows))
        }
      }
      val s = (System.nanoTime() - t) / 1e9
      r.log(f"$name ${s}%.2f s")
      if (r.tracer.on) rdds(name) = rdds.getOrElse(name, 0L) +
        r.spark.sparkContext.getPersistentRDDs.size
      // checked before the clean-up: the load's result lives in
      // checkpointed blocks the clean-up drops
      val verdict = check()
      cleanUp(r.spark)
      verdict match {
        case Some(why) => r.fail(name, why, wrong = true); None
        case None if s > EntryLimitS =>
          r.fail(name, f"timed out after $s%.1f s", wrong = false); None
        case None => Some(s)
      }
    } catch {
      case e: Throwable =>
        cleanUp(r.spark)
        r.fail(name, r.errorText(e), wrong = false); None
    }
  }

  private val rdds = mutable.Map.empty[String, Long]

  /** Session hygiene between entries, as the repository's bench does:
    * drop cached blocks iterative operators left and unload streaming
    * state stores, so one entry's leftovers do not land on the next. */
  def cleanUp(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    org.apache.spark.sql.GraftInternals.stopStateStores()
  }

  private def traced(r: Run, passes: Int): Unit = {
    val spans = r.tracer.spans
    val counters = r.measuredCounters()
    val byId = spans.map(s => s.id -> s).toMap
    def entryOf(id: Long): Option[Ops.Span] = byId.get(id).flatMap(s =>
      if (s.name == "entry") Some(s) else entryOf(s.parent))
    val layerOf = Run.Entries.toMap
    val perLayer = mutable.Map.empty[String, Counters]
    spans.foreach { s =>
      entryOf(s.id).foreach { e =>
        counters.get(s.id.toString).foreach(c =>
          perLayer.getOrElseUpdate(layerOf(e.key), new Counters).add(c))
      }
    }
    def perPass(x: Double): Double = x / passes
    val mb = 1048576.0
    Run.Layers.foreach { l =>
      def secs(name: String) = spans.filter(s => s.name == name &&
        layerOf(s.key) == l).map(_.dur).sum / 1e9
      val c = perLayer.getOrElse(l, new Counters)
      r.setLayer(s"$l.construct_s", perPass(secs("construct")))
      r.setLayer(s"$l.execute_s", perPass(secs("execute")))
      r.setLayer(s"$l.task_s", perPass(c.taskMs / 1e3))
      r.setLayer(s"$l.sched_s", perPass(secs("entry") - c.taskMs / 1e3 / r.cores))
      r.setLayer(s"$l.jobs", perPass(c.jobs.toDouble))
      r.setLayer(s"$l.stages", perPass(c.stages.toDouble))
      r.setLayer(s"$l.tasks", perPass(c.tasks.toDouble))
      r.setLayer(s"exchange.$l.shuffle_write_mb", perPass(c.shuffleWrite / mb))
      r.setLayer(s"exchange.$l.shuffle_read_mb", perPass(c.shuffleRead / mb))
      r.setLayer(s"exchange.$l.max_stage_tasks", c.maxStageTasks.toDouble)
      r.setLayer(s"exchange.$l.mean_stage_tasks",
        if (c.stages == 0) 0.0 else c.stageTasks.toDouble / c.stages)
      r.setLayer(s"$l.spill_mb", perPass(c.spill / mb))
      r.setLayer(s"$l.driver_result_mb", perPass(c.resultBytes / mb))
      r.setLayer(s"ckpt.$l.rdds", perPass(Run.Entries.collect {
        case (e, `l`) => rdds.getOrElse(e, 0L) }.sum.toDouble))
    }
  }
}

/** Order-independent result fingerprints: row count plus the sum of a
  * hash of each row's rendering. The recorded values live in
  * `perfbench/fingerprints.txt`, one `name count hash` line per entry. */
object Fingerprints {
  @volatile var expected: Map[String, String] = Map.empty
  /** When set, fingerprints are written here instead of checked. */
  @volatile var recordTo: Option[String] = None
  private val recorded = mutable.LinkedHashMap.empty[String, String]

  def of(rows: Array[Row]): String = {
    val h = rows.iterator.map(row => scala.util.hashing.MurmurHash3
      .stringHash(row.toSeq.map(render).mkString("\u0001")).toLong).sum
    s"${rows.length} $h"
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case bs: Array[Byte] => bs.mkString("b[", ",", "]")
    case other => other.toString
  }

  def load(path: String): Unit = {
    val src = scala.io.Source.fromFile(path)
    try expected = src.getLines().map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(n, c, h) = l.split(" "); n -> s"$c $h" }.toMap
    finally src.close()
  }

  /** None when `got` matches the recorded fingerprint, else the mismatch. */
  def check(name: String, got: String): Option[String] = recordTo match {
    case Some(path) => synchronized {
      recorded(name) = got
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (expected ++ recorded).toSeq.sortBy(_._1).map { case (k, v) => s"$k $v\n" }
          .mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      None
    }
    case None => expected.get(name) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"result fingerprint $got differs from the recorded $want")
      case None => Some("no recorded fingerprint")
    }
  }
}
