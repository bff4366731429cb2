package graft

import java.nio.file.Files

import org.apache.spark.sql.ExecutionEnds
import org.apache.spark.sql.functions.{col, lit, raise_error}
import org.apache.spark.sql.streaming.Trigger

/** The one listener: job, stage and task counts, the session's own
  * named actions with their errors, streaming batches, and the bound
  * on every record. */
class QueryStatsSpec extends SparkSpec {

  private def measured[T](body: => T): QueryStats = {
    val stats = QueryStats.attach(spark)
    try {
      stats.flush()
      stats.reset()
      body
      stats.flush()
      stats
    } finally stats.detach()
  }

  test("a two-stage query: one job, two stages, every task counted") {
    val stats = measured(spark.sparkContext.parallelize(1 to 100, 4)
      .map(i => (i % 3, 1)).reduceByKey(_ + _, 2).collect())
    val t = stats.totals
    assert((t.jobs, t.stages, t.tasks) == ((1, 2, 6)), stats.stages)
    assert(stats.rounds.map(_._1) == Seq("setup"))
    assert(stats.stages.map(_.tasks).sorted == Seq(2, 4))
    assert(t.shufW > 0 && t.shufR > 0 && t.taskMs >= 0)
    assert(stats.executions.isEmpty) // an RDD action is no SQL execution
  }

  test("jobs and stages are summed per graft.truss.round") {
    val sc = spark.sparkContext
    val stats = measured {
      sc.parallelize(1 to 10, 2).count()
      sc.setLocalProperty("graft.truss.round", "1")
      try sc.parallelize(1 to 10, 3).map(i => (i, i)).groupByKey().count()
      finally sc.setLocalProperty("graft.truss.round", null)
    }
    val rounds = stats.rounds.toMap
    assert(rounds("setup").jobs == 1 && rounds("setup").tasks == 2)
    assert(rounds("1").jobs == 1 && rounds("1").stages == 2)
    assert(stats.stages.filter(_.round == "1").map(_.tasks).sum ==
      rounds("1").tasks)
  }

  test("a Dataset action is one execution entry with its action name") {
    val stats = measured(spark.range(5).collect())
    assert(stats.executions.map(e => (e.action, e.error)) ==
      Seq(("collect", None)))
    assert(stats.executions.head.durationNs > 0)
  }

  test("a failed action keeps its error and its real duration") {
    val stats = measured(intercept[Exception](
      spark.range(3).select(raise_error(lit("boom")).as("x")).collect()))
    val Seq(e) = stats.executions
    assert(e.action == "collect")
    assert(e.error.exists(_.contains("boom")), e)
    assert(e.durationNs > 0)
  }

  test("the execution record keeps the last Keep end events, in order") {
    val stats = QueryStats.attach(spark)
    stats.detach() // fed by hand, not by the bus
    val qe = spark.range(1).queryExecution
    val n = QueryStats.Keep + 5
    (0 until n).foreach { i =>
      stats.onOtherEvent(ExecutionEnds(qe, s"a$i", i.toLong,
        if (i % 2 == 0) None else Some(s"e$i")))
    }
    val kept = stats.executions
    assert(kept.size == QueryStats.Keep)
    assert(kept.map(_.action) == (5 until n).map(i => s"a$i"))
    assert(kept.map(_.durationNs) == (5 until n).map(_.toLong))
    assert(kept.head.error.contains("e5") && kept(1).error.isEmpty)
    // another session's actions are not this session's
    val other = spark.newSession().range(1).queryExecution
    stats.onOtherEvent(ExecutionEnds(other, "other", 1L, None))
    assert(stats.executions.last.action == s"a${n - 1}")
  }

  test("the batches of an AvailableNow file stream") {
    val dir = Files.createTempDirectory("graft_qs_stream")
    Files.writeString(dir.resolve("a.txt"), "1\n2\n")
    Files.writeString(dir.resolve("b.txt"), "3\n")
    val stats = measured {
      val q = spark.readStream.option("maxFilesPerTrigger", 1)
        .text(dir.toString).where(col("value").isNotNull)
        .writeStream.format("memory").queryName("qs_stream")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_qs_ck").toString)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000))
    }
    val bs = stats.batches
    assert(bs.map(_.query) == Seq("qs_stream", "qs_stream"), bs)
    assert(bs.map(_.rows).sorted == Seq(1L, 2L), bs)
    assert(bs.forall(_.durations.contains("triggerExecution")), bs)
  }
}
