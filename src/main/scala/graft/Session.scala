package graft

import org.apache.spark.sql.SparkSession

/** The one way the dev tools (Bench, Headline, QueryProfile, Verify,
  * Explain, Cli) build a Spark session, and the hygiene they run
  * between entries, so every tool drives the engine the way the bench
  * measures it.
  *
  *   - `SPARK_GRAFT_CPUS` sets `local[n]` and the shuffle partitions
  *     (default: every core);
  *   - `SPARK_LOCAL_DIRS` holds shuffle blocks and the per-pid stream
  *     checkpoints (default: the tmpfs `/dev/shm/graft-spark`).
  */
object Session {
  private val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)
  // shuffle/checkpoint blocks on tmpfs: a shared disk can stall
  // stochastically for tens of seconds under shuffle-file churn
  // (measured 2026-08: same query 3 s alone vs 100 s mid-session);
  // a real cluster would use local SSDs — tmpfs is the local[] stand-in
  private val localDir: String =
    sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark")
  private val ckPrefix = "stream-ck-"
  // per-pid names keep live concurrent runs (verify + profile side by
  // side) from clobbering each other's streaming state
  private def streamCk =
    new java.io.File(localDir, ckPrefix + ProcessHandle.current.pid)

  /** A `local[SPARK_GRAFT_CPUS]` session with graft's extensions, at
    * log level WARN. Also removes the stream checkpoints of dead JVMs:
    * memory-sink queries cannot recover a checkpoint, so a stale dir
    * fails the query. */
  def build(): SparkSession = {
    val spark = SparkSession.builder()
      .config("spark.local.dir", localDir)
      // streaming state checkpoints default to /tmp (disk) — the same
      // stochastic-stall device; keep them on the tmpfs scratch too
      .config("spark.sql.streaming.checkpointLocation", streamCk.getPath)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bound listener-state retention: with hundreds of executions in
      // one session the retained plan graphs + metrics age the driver
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Option(new java.io.File(localDir).listFiles()).foreach(_
      .filter(f => f.getName.startsWith(ckPrefix) &&
        !f.getName.stripPrefix(ckPrefix).toLongOption
          .exists(pid => ProcessHandle.of(pid).isPresent()))
      .foreach(rmrf))
    spark
  }

  /** Per-entry hygiene: drop blocks left by iterative operators
    * (localCheckpoint RDDs), unload finished streams' state-store
    * providers, clear this JVM's stream checkpoints (so the next run
    * of a memory-sink query starts fresh) and run the ContextCleaner
    * now — otherwise cleanup storms and lingering join state land
    * mid-query later on. */
  def clean(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    org.apache.spark.sql.GraftInternals.stopStateStores()
    rmrf(streamCk)
    System.gc()
  }

  private def rmrf(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(): Unit
  }
}
