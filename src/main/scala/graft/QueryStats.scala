package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.{GraftInternals, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** The one listener behind every per-query signal graft reports: the
  * profiler's tables ([[graft.bench.QueryProfile]]) and the server's
  * `/metrics` ([[graft.api.Server]]) — the Spark counterpart of the
  * reference's single GetMetrics registry (src/core/FileStore.fs:415-485,
  * definitions src/core/Metrics.fs). One SparkListener on the context's
  * bus receives all of it:
  *
  *   - jobs and completed stages (tasks, executor run time, shuffle
  *     write and read), summed per `graft.truss.round` job property
  *     ("setup" when unset; set per peel round by
  *     [[graft.graphx.GraphAnalytics.trussPeel]]);
  *   - the session's own named SQL executions (`collect`, `count`,
  *     `toLocalIterator`, a write): action, duration and error. These
  *     are the events Spark's ExecutionListenerBus hands a
  *     QueryExecutionListener, under the same filter;
  *   - streaming micro-batches: query name, the `durationMs`
  *     accounting and input rows.
  *
  * Stages, executions and batches keep the last [[QueryStats.Keep]]
  * entries, so a server that runs for days holds a fixed record; the
  * per-round sums never drop anything. Events arrive on the bus thread
  * after the fact: a reader that must see an action's events calls
  * `flush()` first.
  */
final class QueryStats private (spark: SparkSession) extends SparkListener {
  import QueryStats._

  private val perRound = mutable.LinkedHashMap.empty[String, Totals]
  private val stageLog = mutable.ArrayDeque.empty[Stage]
  private val execLog = mutable.ArrayDeque.empty[Execution]
  private val batchLog = mutable.ArrayDeque.empty[Batch]
  private val stageRound = mutable.Map.empty[Int, String] // running stages

  /** Jobs and stage sums per round, in first-seen order. */
  def rounds: Seq[(String, Totals)] = synchronized(perRound.toSeq)
  def totals: Totals = rounds.map(_._2).foldLeft(Totals())(_ + _)
  def stages: Seq[Stage] = synchronized(stageLog.toSeq)
  def executions: Seq[Execution] = synchronized(execLog.toSeq)
  def batches: Seq[Batch] = synchronized(batchLog.toSeq)

  /** Wait until the bus has delivered every event posted so far. */
  def flush(): Unit = GraftInternals.flushListenerBus(spark.sparkContext)

  def reset(): Unit = synchronized {
    perRound.clear(); stageLog.clear(); execLog.clear(); batchLog.clear()
  }

  def detach(): Unit = spark.sparkContext.removeSparkListener(this)

  private def round(props: java.util.Properties): String = Option(props)
    .flatMap(p => Option(p.getProperty("graft.truss.round")))
    .getOrElse("setup")

  private def add(r: String, t: Totals): Unit =
    perRound(r) = perRound.getOrElse(r, Totals()) + t

  private def keep[T](log: mutable.ArrayDeque[T], x: T): Unit = {
    log += x
    if (log.size > Keep) log.removeHead(): Unit
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add(round(e.properties), Totals(jobs = 1))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stageRound(e.stageInfo.stageId) = round(e.properties) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = Option(i.taskMetrics)
      val s = Stage(stageRound.remove(i.stageId).getOrElse("setup"),
        i.stageId, i.name.take(80), i.numTasks,
        m.fold(0L)(_.executorRunTime),
        m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
        m.fold(0L)(_.shuffleReadMetrics.totalBytesRead))
      add(s.round, Totals(0, 1, s.tasks, s.taskMs, s.shufW, s.shufR))
      keep(stageLog, s)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      GraftInternals.namedAction(end, spark).foreach { case (action, ns) =>
        synchronized {
          keep(execLog, Execution(action, ns, end.errorMessage.filter(_.nonEmpty)))
        }
      }
    case p: QueryProgressEvent =>
      val q = p.progress
      synchronized {
        keep(batchLog, Batch(Option(q.name).getOrElse(q.id.toString),
          q.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          q.numInputRows))
      }
    case _ => ()
  }
}

object QueryStats {

  /** Entries each record keeps: the reference's Channel(1000) bound. */
  val Keep = 1000

  final case class Totals(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
      taskMs: Long = 0L, shufW: Long = 0L, shufR: Long = 0L) {
    def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, taskMs + o.taskMs, shufW + o.shufW, shufR + o.shufR)
  }
  final case class Stage(round: String, id: Int, name: String, tasks: Int,
      taskMs: Long, shufW: Long, shufR: Long)
  final case class Execution(action: String, durationNs: Long,
      error: Option[String])
  final case class Batch(query: String, durations: Map[String, Long],
      rows: Long)

  /** A listener on `spark`'s context; `detach()` removes it. */
  def attach(spark: SparkSession): QueryStats = {
    val s = new QueryStats(spark)
    spark.sparkContext.addSparkListener(s)
    s
  }
}
