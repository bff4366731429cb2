package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graftbench.Ops.Span

/** Spark work attributed to one span, read from the listener bus. */
final class Counters {
  var jobs, pointJobs, stages, tasks, maxStageTasks, stageTasks = 0L
  var taskMs, queueMs, inputRecords, inputBytes = 0L
  var shuffleRead, shuffleWrite, spill, resultBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; pointJobs += o.pointJobs; stages += o.stages
    tasks += o.tasks; maxStageTasks = math.max(maxStageTasks, o.maxStageTasks)
    stageTasks += o.stageTasks; taskMs += o.taskMs
    queueMs += o.queueMs; inputRecords += o.inputRecords
    inputBytes += o.inputBytes; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    resultBytes += o.resultBytes
  }
}

/** Attributes every job, stage and task to the span that was open on the
  * launching thread. The harness publishes that span as the thread-local
  * Spark property [[Tracer.SpanProp]]; the engine is not modified. */
final class JobStats extends SparkListener {
  private val byKey = new ConcurrentHashMap[String, Counters]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobKey = new ConcurrentHashMap[Int, String]()

  private def c(key: String): Counters =
    byKey.computeIfAbsent(key, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val key = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .getOrElse("-")
    val cc = c(key)
    cc.synchronized {
      cc.jobs += 1
      if (props.flatMap(p => Option(p.getProperty("graft.traversal.impl")))
          .contains("point")) cc.pointJobs += 1
    }
    jobKey.put(e.jobId, key)
    jobSubmit.put(e.jobId, e.time)
    e.stageIds.foreach { s => stageKey.put(s, key); stageJob.put(s, e.jobId) }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    // queue time: job submission until its first task launches
    val job = stageJob.get(e.stageId)
    val sub = jobSubmit.remove(job)
    if (sub != null) {
      val cc = c(jobKey.getOrDefault(job, "-"))
      cc.synchronized { cc.queueMs += math.max(0L, e.taskInfo.launchTime - sub) }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val cc = c(stageKey.getOrDefault(e.stageInfo.stageId, "-"))
    val n = e.stageInfo.numTasks.toLong
    cc.synchronized {
      cc.stages += 1; cc.stageTasks += n
      cc.maxStageTasks = math.max(cc.maxStageTasks, n)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val cc = c(stageKey.getOrDefault(e.stageId, "-"))
    cc.synchronized {
      cc.tasks += 1
      cc.taskMs += m.executorRunTime
      cc.inputRecords += m.inputMetrics.recordsRead
      cc.inputBytes += m.inputMetrics.bytesRead
      cc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      cc.resultBytes += m.resultSize
    }
  }

  /** Counters per span key, once the listener bus has drained. */
  def snapshot(sc: SparkContext): Map[String, Counters] = {
    org.apache.spark.sql.GraftInternals.flushListenerBus(sc)
    byKey.asScala.toMap
  }
}

/** In-memory spans. When tracing is off, [[span]] only runs its body. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong()
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[A](name: String, key: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, name, key, t0, System.nanoTime()))
        stack.set(stack.get().tail)
        sc.setLocalProperty(Tracer.SpanProp,
          stack.get().headOption.map(_.toString).orNull)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq
}

object Tracer {
  val SpanProp = "graftbench.span"
}
