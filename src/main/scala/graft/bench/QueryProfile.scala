package graft.bench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.GraftInternals
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Bench, Session}

/** The cost-structure profiler for any registry entry: runs each named
  * entry cold, then warm, the way the bench times it (same session,
  * set-up, noop sink and hygiene), with one SparkListener and one
  * StreamingQueryListener. Per run it prints:
  *
  *   - the totals: wall time, Spark jobs, stages, tasks, cumulative
  *     task runtime and shuffle bytes. Is the wall time data or
  *     driver-side job choreography? Compare `task_s` (executor work)
  *     against `wall_s` (what the bench pays): a 20 s query with 3 s
  *     of task time across 90 jobs is scheduling, not data;
  *   - the top stages by task time (a 3-task stage with 8 task_s is a
  *     serialized barrier);
  *   - when jobs carry the `graft.truss.round` local property (set in
  *     [[graft.graphx.GraphAnalytics.trussPeel]]), the jobs, stages,
  *     tasks and shuffle bytes per peel round;
  *   - when streams ran, each micro-batch's duration accounting from
  *     QueryProgressEvent, and the gap between the summed trigger time
  *     and the wall (the start/stop/setup floor).
  *
  *   sbt "runMain graft.bench.QueryProfile <sfDir> <name1> <name2> ..."
  */
object QueryProfile {
  private final case class Stage(round: String, id: Int, name: String,
      tasks: Int, taskMs: Long, shufW: Long, shufR: Long)
  private final case class Batch(query: String, durations: Map[String, Long],
      rows: Long)

  /** Everything the listeners saw since the last `reset`. */
  private final class Recorder extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[String, Int] // round → jobs
    val stages = mutable.ArrayBuffer.empty[Stage]
    val batches = mutable.ArrayBuffer.empty[Batch]
    private val stageRound = mutable.Map.empty[Int, String]

    def reset(): Unit = synchronized {
      jobs.clear(); stages.clear(); batches.clear(); stageRound.clear()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val r = Option(e.properties)
        .flatMap(p => Option(p.getProperty("graft.truss.round")))
        .getOrElse("setup")
      jobs(r) = jobs.getOrElse(r, 0) + 1
      e.stageIds.foreach(stageRound(_) = r)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        val m = Option(i.taskMetrics)
        stages += Stage(stageRound.getOrElse(i.stageId, "setup"), i.stageId,
          i.name.take(80), i.numTasks, m.fold(0L)(_.executorRunTime),
          m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          m.fold(0L)(_.shuffleReadMetrics.totalBytesRead))
      }
    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        Recorder.this.synchronized {
          batches += Batch(e.progress.name, e.progress.durationMs.asScala
            .map { case (k, v) => k -> v.longValue() }.toMap,
            e.progress.numInputRows)
        }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = Session.build()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.streams.addListener(rec.streams)
    Bench.warmUp(spark, sfDir)
    def mb(bytes: Long) = bytes / 1e6
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      Seq("cold", "warm").foreach { run =>
        GraftInternals.flushListenerBus(spark.sparkContext)
        rec.reset()
        val wall = Bench.time(spark, sfDir, fn)
        GraftInternals.flushListenerBus(spark.sparkContext)
        rec.synchronized {
          val ss = rec.stages
          println(f"${"query"}%-28s ${"run"}%-5s ${"wall_s"}%7s ${"jobs"}%5s " +
            f"${"stages"}%7s ${"tasks"}%6s ${"task_s"}%7s ${"shufW_MB"}%9s ${"shufR_MB"}%9s")
          println(f"$n%-28s $run%-5s $wall%7.2f ${rec.jobs.values.sum}%5d " +
            f"${ss.size}%7d ${ss.map(_.tasks).sum}%6d " +
            f"${ss.map(_.taskMs).sum / 1e3}%7.1f " +
            f"${mb(ss.map(_.shufW).sum)}%9.1f ${mb(ss.map(_.shufR).sum)}%9.1f")
          println("  top stages by task time:")
          ss.sortBy(-_.taskMs).take(12).foreach { s =>
            println(f"    [${s.round}%-5s] s${s.id}%-5d ${s.tasks}%4d tasks " +
              f"${s.taskMs / 1e3}%7.1f task_s ${mb(s.shufW)}%7.1f MB  ${s.name}")
          }
          if (rec.jobs.keySet.exists(_ != "setup")) {
            println(f"  ${"round"}%-8s ${"jobs"}%5s ${"stages"}%7s " +
              f"${"tasks"}%6s ${"shufW_MB"}%9s ${"shufR_MB"}%9s")
            rec.jobs.keys.toSeq.sortBy(_.toIntOption.getOrElse(0)).foreach { r =>
              val rs = ss.filter(_.round == r)
              println(f"  $r%-8s ${rec.jobs(r)}%5d ${rs.size}%7d " +
                f"${rs.map(_.tasks).sum}%6d ${mb(rs.map(_.shufW).sum)}%9.1f " +
                f"${mb(rs.map(_.shufR).sum)}%9.1f")
            }
          }
          if (rec.batches.nonEmpty) {
            val trig = rec.batches.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3
            println(f"  batches=${rec.batches.size}%d triggerSum=$trig%5.2f s " +
              f"gap=${wall - trig}%5.2f s")
            rec.batches.zipWithIndex.foreach { case (b, i) =>
              val keys = Seq("triggerExecution", "queryPlanning", "getBatch",
                "latestOffset", "addBatch", "walCommit", "commitOffsets")
              println(s"    batch$i (${b.query}, ${b.rows} rows): " +
                keys.map(k => s"$k=${b.durations.getOrElse(k, 0L)}").mkString(" "))
            }
          }
        }
      }
    }
    spark.stop()
  }
}
