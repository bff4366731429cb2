package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one seed, one run. Writes its
  * result as JSON to `--out`; `run.py` builds, launches and reports.
  *
  * {{{
  * graftbench.Main --workload oltp_mixed --seed 1 --seconds 20 --trace 0
  *                 --work <scratch dir> --out <result.json>
  *                 --expected <fingerprints.txt> | --record <fingerprints.txt>
  * }}}
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    a.get("expected").foreach(Fingerprints.load)
    a.get("record").foreach { path =>
      if (new java.io.File(path).exists) Fingerprints.load(path)
      Fingerprints.recordTo = Some(path)
    }
    val run = new Run(a("work"), a("seed").toLong, a("seconds").toInt,
      a("trace") == "1")
    try {
      workload match {
        case "oltp_mixed" => Oltp.run(run)
        case "analytics_batch" => Analytics.run(run)
        case other => sys.error(s"unknown workload $other")
      }
      run.finish()
      run.writeResult(a("out"), workload)
    } finally run.spark.stop()
  }
}

/** State shared by every workload: the session, failure accounting, the
  * tracer and listener of a traced run, and the metrics gathered. */
final class Run(val work: String, val seed: Long, val seconds: Int,
                traced: Boolean) {

  /** The session settings the repository's own bench uses, with every
    * scratch location inside the run's work dir. */
  val spark: SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder().appName("graftbench")
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/stream-ck")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val cores: Int = spark.sparkContext.defaultParallelism

  /** Seconds from JVM start until the session is up. */
  val sessionS: Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  val tracer = new Tracer(traced, spark.sparkContext)
  val stats: Option[JobStats] =
    if (traced) Some(new JobStats) else None
  stats.foreach(spark.sparkContext.addSparkListener)

  // ---- failure accounting ---------------------------------------------

  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  @volatile var correct = true
  private val causes = new ConcurrentLinkedQueue[String]()

  /** Counts a failed op or entry; `wrong` marks an output that disagreed
    * with its oracle (which makes the run incorrect), as opposed to an
    * error or a timeout. Every failure is counted; the first 200 causes
    * are kept for the report. */
  def fail(what: String, cause: String, wrong: Boolean): Unit = {
    failed.incrementAndGet()
    if (wrong) correct = false
    if (causes.size < 200) causes.add(s"$what: $cause")
  }

  private val born = System.nanoTime()
  /** A progress line in the JVM log. */
  def log(msg: String): Unit =
    System.err.println(f"graftbench +${(System.nanoTime() - born) / 1e9}%.1fs $msg")

  /** Findings reported with the result that are not failed ops. */
  private val notes = new ConcurrentLinkedQueue[String]()
  def note(msg: String): Unit = if (notes.size < 200) notes.add(msg)

  def errorText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .linesIterator.take(3).mkString(" | ").take(400)

  // ---- measurement ------------------------------------------------------

  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Printed with the metrics but not part of them: sample counts, and the
    * tail percentile of each op class that has ten samples beyond it. */
  val extra = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics a workload does not exercise read 0. */
  Run.layerMetrics.foreach { case (n, u) => layer(n) = (0.0, u) }

  /** Reports a workload's mean latency per unit of work from (class, ms)
    * samples: each class's mean weighted by the class's share of the
    * specified mix, which a short run's sampling of the mix does not move. */
  def meanLatency(samples: Seq[(String, Double)], mix: Map[String, Double]): Unit = {
    require(samples.nonEmpty, "no operation completed")
    val byCls = samples.groupBy(_._1).filter { case (c, _) => mix.contains(c) }
    val w = byCls.keys.toSeq.map(mix).sum
    e2e("mean_ms") = (byCls.map { case (c, xs) =>
      mix(c) * xs.map(_._2).sum / xs.size }.sum / w, "ms")
    byCls.toSeq.sortBy(_._1).foreach { case (c, xs) =>
      val ms = xs.map(_._2)
      extra(s"samples.$c") = (ms.size.toDouble, "count")
      extra(s"median.${c}_ms") = (Ops.median(ms), "ms")
      Ops.tailPercentile(ms.size).foreach(q =>
        extra(s"p$q.${c}_ms") = (Ops.percentile(ms, q / 100.0), "ms"))
    }
  }

  def setLayer(name: String, v: Double): Unit = {
    require(layer.contains(name), s"undeclared per-layer metric $name")
    layer(name) = (v, layer(name)._2)
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private var gc0 = 0L
  private var counters0: Option[Map[String, Counters]] = None

  /** Marks the start of the measured phase: JVM-wide counters and peaks
    * are read relative to this point. */
  def startMeasuring(): Unit = {
    gc0 = gcMs
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    counters0 = stats.map(_.snapshot(spark.sparkContext))
  }

  /** Counters of the measured phase, per span key. */
  def measuredCounters(): Map[String, Counters] = stats match {
    case None => Map.empty
    case Some(js) =>
      val before = counters0.getOrElse(Map.empty)
      js.snapshot(spark.sparkContext).filter { case (k, _) => !before.contains(k) }
  }

  /** Fills the per-layer metrics every workload reports. */
  def finish(): Unit = if (traced) {
    val all = new Counters
    measuredCounters().values.foreach(all.add)
    setLayer("exec.jobs", all.jobs.toDouble)
    setLayer("exec.task_s", all.taskMs / 1e3)
    setLayer("exec.gc_s", (gcMs - gc0) / 1e3)
    setLayer("exec.heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0)
    val self = Ops.selfTimes(tracer.spans)
    tracer.spans.groupBy(_.name).foreach { case (name, ss) =>
      val metric = s"self.${name}_ms"
      if (layer.contains(metric))
        setLayer(metric, ss.map(s => self(s.id)).sum / 1e6 / ss.size)
    }
  }

  // ---- output -------------------------------------------------------------

  def writeResult(path: String, workload: String): Unit = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]): String =
      m.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
        .mkString("{", ",", "}")
    val spans = tracer.spans.sortBy(_.start)
    val self = Ops.selfTimes(spans)
    val byKey = stats.map(_ => measuredCounters()).getOrElse(Map.empty)
    val spanJson = spans.map { s =>
      val c = byKey.get(s.id.toString)
        .map(c => s""","jobs":${c.jobs},"tasks":${c.tasks},"task_ms":${c.taskMs}""")
        .getOrElse("")
      s"""{"id":${s.id},"parent":${s.parent},"name":${str(s.name)},""" +
        s""""key":${str(s.key)},"start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_ns":${self(s.id)}$c}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"workload":${str(workload)},"seed":$seed,"correct":$correct,""" +
      s""""attempted":${attempted.get},"failed":${failed.get},""" +
      s""""failures":${causes.asScala.map(str).mkString("[", ",", "]")},""" +
      s""""notes":${notes.asScala.map(str).mkString("[", ",", "]")},""" +
      s""""e2e":${metrics(e2e)},"layer":${metrics(layer)},"extra":${metrics(extra)},""" +
      s""""spans":$spanJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Run {
  /** The entries of analytics_batch, each with the layer it loads. */
  val Entries: Seq[(String, String)] = Seq(
    "x18_ktruss" -> "graphx", "p53_prefix_join_dedup" -> "llm",
    "q66_sessionize_exec" -> "plans",
    "g16_dsv2_spj_join" -> "sources",
    "s21_stream_incremental_agg" -> "streaming", StreamLoad.Name -> "streaming")

  val Layers: Seq[String] = Entries.map(_._2).distinct

  /** Every per-layer metric with its unit; BENCHMARK.json lists the same. */
  val layerMetrics: Seq[(String, String)] =
    Seq("get", "follow", "scan").map(c => s"api.query_ms.$c" -> "ms") ++ Seq(
      "api.drain_ms" -> "ms", "api.serialize_ms" -> "ms",
      "api.put_ms" -> "ms", "api.put_jobs" -> "count",
      "api.get_p50_ms" -> "ms", "api.get_p90_ms" -> "ms",
      "api.follow_p50_ms" -> "ms", "api.scan_p50_ms" -> "ms",
      "api.put_p50_ms" -> "ms", "api.put_p90_ms" -> "ms",
      "lang.parse_us" -> "us", "ingest.put_parse_us" -> "us",
      "lang.eager_jobs" -> "count",
      "graph.follow_jobs" -> "count", "graph.point_arm_share" -> "ratio",
      "sources.rows_examined_per_row" -> "ratio",
      "sources.read_kb_per_get" -> "KiB", "sources.materialize_s" -> "s",
      "exec.tasks_per_op" -> "count", "exec.task_ms_per_op" -> "ms",
      "exec.sched_ms_per_op" -> "ms", "exec.queue_ms" -> "ms") ++
    Layers.flatMap(l => Seq(
      s"$l.construct_s" -> "s", s"$l.execute_s" -> "s", s"$l.task_s" -> "s",
      s"$l.sched_s" -> "s", s"$l.jobs" -> "count", s"$l.stages" -> "count",
      s"$l.tasks" -> "count", s"exchange.$l.shuffle_write_mb" -> "MiB",
      s"exchange.$l.shuffle_read_mb" -> "MiB",
      s"exchange.$l.max_stage_tasks" -> "count",
      s"exchange.$l.mean_stage_tasks" -> "count", s"$l.spill_mb" -> "MiB",
      s"$l.driver_result_mb" -> "MiB", s"ckpt.$l.rdds" -> "count")) ++
    Entries.map { case (e, _) => s"entry.$e.wall_s" -> "s" } ++ Seq(
      "analytics.total_s" -> "s", "analytics.geomean_s" -> "s",
      "streaming.trigger_p50_ms" -> "ms", "streaming.trigger_p90_ms" -> "ms",
      "streaming.add_batch_ms" -> "ms", "streaming.plan_ms" -> "ms",
      "streaming.offsets_ms" -> "ms", "streaming.commit_ms" -> "ms",
      "streaming.start_ms" -> "ms", "streaming.stop_ms" -> "ms",
      "streaming.batches" -> "count", "streaming.state_rows" -> "count",
      "streaming.state_mb" -> "MiB",
      "ingest.parse_lines_per_s" -> "1/s", "ingest.rows_per_s" -> "1/s",
      "exec.jobs" -> "count", "exec.task_s" -> "s", "exec.gc_s" -> "s",
      "exec.heap_peak_mb" -> "MiB") ++
    Seq("op", "api.query", "api.drain", "api.serialize", "api.put", "entry",
      "construct", "execute")
      .map(n => s"self.${n}_ms" -> "ms")
}
