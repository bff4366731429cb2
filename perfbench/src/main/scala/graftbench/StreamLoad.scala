package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.api.Engine

/** The reference's streaming `Load` as one analytics_batch entry: an empty
  * engine drains seeded N-Triples files, one file per micro-batch. The
  * files are written once, when the workload is set up. */
final class StreamLoad(r: Run) {
  import StreamLoad._

  private val dir = s"${r.work}/ntriples"
  val lines: IndexedSeq[Seq[String]] =
    (0 until NtFiles).map(f => Ops.nTriplesFile(r.seed, f, TriplesPerFile))
  Files.createDirectories(Paths.get(dir))
  lines.zipWithIndex.foreach { case (ls, f) =>
    Files.write(Paths.get(dir, f"f$f%03d.nt"), ls.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  private var loadS = 0.0
  private var loads = 0

  /** Loads every file and returns the check of what was ingested: the row
    * count must equal the triples generated, and sampled subjects must
    * read back with their four attributes. */
  def run(): () => Option[String] = {
    val engine = Engine.forEmpty(r.spark)
    val t = System.nanoTime()
    val q = engine.loadStream(dir, maxFilesPerTrigger = 1)
    q.awaitTermination()
    loadS += (System.nanoTime() - t) / 1e9
    loads += 1
    val batchRows = q.recentProgress.map(_.numInputRows).sum
    () => {
      val want = NtFiles.toLong * TriplesPerFile
      val stored = engine.nodes.count()
      val rng = new Ops.Rng(Ops.subSeed(r.seed, 7))
      val bad = (0 until Samples).iterator.map { _ =>
        Ops.nTriplesSubject(rng.nextInt(NtFiles), rng.nextInt(TriplesPerFile))
      }.map { subj =>
        subj -> engine.query(s"""get "$subj"""").select(col("key")).collect()
          .map(_.getString(0)).sorted.toSeq
      }.find(_._2 != Seq("label", "link", "name", "weight"))
      if (stored != want || batchRows != want)
        Some(s"ingested $stored rows ($batchRows via micro-batches), generated $want")
      else bad.map { case (subj, keys) => s"$subj read back with keys $keys" }
    }
  }

  /** Streaming metrics of every query the listener saw (the load and the
    * streaming registry entries), and the N-Triples parser alone. */
  def traced(p: Progress, passes: Int): Unit = {
    org.apache.spark.sql.GraftInternals.flushListenerBus(r.spark.sparkContext)
    val ps = p.events.asScala.toSeq.filter(_.numInputRows > 0)
    def d(k: String) = ps.map(x =>
      Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val trig = d("triggerExecution")
    if (trig.nonEmpty) {
      r.setLayer("streaming.trigger_p50_ms", Ops.percentile(trig, 0.5))
      r.setLayer("streaming.trigger_p90_ms", Ops.percentile(trig, 0.9))
    }
    r.setLayer("streaming.add_batch_ms", mean(d("addBatch")))
    r.setLayer("streaming.plan_ms", mean(d("queryPlanning")))
    r.setLayer("streaming.offsets_ms",
      mean(d("latestOffset").zip(d("getBatch")).map { case (a, b) => a + b }))
    r.setLayer("streaming.commit_ms",
      mean(d("walCommit").zip(d("commitOffsets")).map { case (a, b) => a + b }))
    r.setLayer("streaming.start_ms", mean(p.startMs.asScala.toSeq))
    r.setLayer("streaming.stop_ms", mean(p.stopMs.asScala.toSeq))
    r.setLayer("streaming.batches", ps.size.toDouble / passes)
    val state = ps.flatMap(_.stateOperators)
    r.setLayer("streaming.state_rows",
      if (state.isEmpty) 0.0 else state.map(_.numRowsTotal).max.toDouble)
    r.setLayer("streaming.state_mb",
      if (state.isEmpty) 0.0 else state.map(_.memoryUsedBytes).max / 1048576.0)
    if (loads > 0)
      r.setLayer("ingest.rows_per_s", NtFiles.toLong * TriplesPerFile * loads / loadS)
    val t = System.nanoTime()
    var n = 0
    lines.foreach(_.foreach(l =>
      if (graft.ingest.NTriplesReader.parseLine(l).isDefined) n += 1))
    r.setLayer("ingest.parse_lines_per_s", n / ((System.nanoTime() - t) / 1e9))
  }
}

object StreamLoad {
  val Name = "load_ntriples"
  val NtFiles = 8
  val TriplesPerFile = 2000
  val Samples = 10

  /** Progress of every streaming query, as the listener bus delivers it. */
  final class Progress extends StreamingQueryListener {
    private val started = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()
    private val last = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()
    val startMs = new ConcurrentLinkedQueue[Double]()
    val stopMs = new ConcurrentLinkedQueue[Double]()
    val events = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

    override def onQueryStarted(e: QueryStartedEvent): Unit =
      started.put(e.id, System.nanoTime())
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val now = System.nanoTime()
      events.add(e.progress)
      // start: query started until its first progress report
      Option(started.remove(e.progress.id)).foreach(s => startMs.add((now - s) / 1e6))
      last.put(e.progress.id, now)
    }
    // stop: last progress report until the query terminated
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      Option(last.remove(e.id)).foreach(l => stopMs.add((System.nanoTime() - l) / 1e6))
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  }
}
