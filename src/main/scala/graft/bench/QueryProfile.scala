package graft.bench

import graft.{Bench, QueryStats, Session}

/** The cost-structure profiler for any registry entry: runs each named
  * entry cold, then warm, the way the bench times it (same session,
  * set-up, noop sink and hygiene), and prints what [[graft.QueryStats]]
  * recorded. Per run it prints:
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
  *   - when streams ran, each micro-batch's duration accounting, and
  *     the gap between the summed trigger time and the wall (the
  *     start/stop/setup floor).
  *
  *   sbt "runMain graft.bench.QueryProfile <sfDir> <name1> <name2> ..."
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = Session.build()
    spark.sparkContext.setLogLevel("ERROR")
    val stats = QueryStats.attach(spark)
    Bench.warmUp(spark, sfDir)
    def mb(bytes: Long) = bytes / 1e6
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      Seq("cold", "warm").foreach { run =>
        stats.flush()
        stats.reset()
        val wall = Bench.time(spark, sfDir, fn)
        stats.flush()
        val t = stats.totals
        println(f"${"query"}%-28s ${"run"}%-5s ${"wall_s"}%7s ${"jobs"}%5s " +
          f"${"stages"}%7s ${"tasks"}%6s ${"task_s"}%7s ${"shufW_MB"}%9s ${"shufR_MB"}%9s")
        println(f"$n%-28s $run%-5s $wall%7.2f ${t.jobs}%5d ${t.stages}%7d " +
          f"${t.tasks}%6d ${t.taskMs / 1e3}%7.1f ${mb(t.shufW)}%9.1f ${mb(t.shufR)}%9.1f")
        println("  top stages by task time:")
        stats.stages.sortBy(-_.taskMs).take(12).foreach { s =>
          println(f"    [${s.round}%-5s] s${s.id}%-5d ${s.tasks}%4d tasks " +
            f"${s.taskMs / 1e3}%7.1f task_s ${mb(s.shufW)}%7.1f MB  ${s.name}")
        }
        val rounds = stats.rounds
        if (rounds.exists(_._1 != "setup")) {
          println(f"  ${"round"}%-8s ${"jobs"}%5s ${"stages"}%7s " +
            f"${"tasks"}%6s ${"shufW_MB"}%9s ${"shufR_MB"}%9s")
          rounds.sortBy(_._1.toIntOption.getOrElse(0)).foreach { case (r, rt) =>
            println(f"  $r%-8s ${rt.jobs}%5d ${rt.stages}%7d " +
              f"${rt.tasks}%6d ${mb(rt.shufW)}%9.1f ${mb(rt.shufR)}%9.1f")
          }
        }
        val batches = stats.batches
        if (batches.nonEmpty) {
          val trig = batches.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3
          println(f"  batches=${batches.size}%d triggerSum=$trig%5.2f s " +
            f"gap=${wall - trig}%5.2f s")
          batches.zipWithIndex.foreach { case (b, i) =>
            val keys = Seq("triggerExecution", "queryPlanning", "getBatch",
              "latestOffset", "addBatch", "walCommit", "commitOffsets")
            println(s"    batch$i (${b.query}, ${b.rows} rows): " +
              keys.map(k => s"$k=${b.durations.getOrElse(k, 0L)}").mkString(" "))
          }
        }
      }
    }
    spark.stop()
  }
}
