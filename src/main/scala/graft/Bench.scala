package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry bench, and the run loop it shares with
  * [[graft.bench.Headline]]: set-up, per-entry timing through the
  * noop sink, session hygiene and the JSON file.
  *
  *   SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.Bench"
  *
  * `SPARK_GRAFT_ONLY=name,…` runs a subset; `SPARK_GRAFT_FORCE_DIST=1`
  * forces the distributed fixpoint arms.
  */
object Bench {
  type Program = (SparkSession, String) => DataFrame

  /** What the loop measured: each timed entry's samples (seconds), in
    * run order, and the entries that threw — those are never timed. */
  final case class Run(samples: Seq[(String, Seq[Double])],
                       failed: Seq[String]) {
    def times: Seq[(String, Double)] =
      samples.map { case (n, s) => n -> s.min }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build()
    // forced-distributed mode (VERDICT r09 item 3): the sf0.1 graphs
    // all sit below the local-arm limits, so the DISTRIBUTED fixpoint
    // arms — the actual 100 TB path — are invisible to the regular
    // bench. SPARK_GRAFT_FORCE_DIST=1 sets the one local-arm limit to
    // 0 so every fixpoint runs its distributed loop; the run writes
    // bench_dist.json (committed per round) instead of bench_out.json
    // so distributed-arm drift is tracked round-over-round. Results are
    // identical either way (the arms-equality specs pin it); only the
    // execution path changes.
    val forceDist = sys.env.get("SPARK_GRAFT_FORCE_DIST")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    if (forceDist) spark.conf.set(graft.graphx.Arms.LimitConf, "0")
    // optional name filter for standalone profiling / drift bisection:
    // SPARK_GRAFT_ONLY=x01_connected_components,p14_ann_ivf
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    warmUp(spark, sfDir)
    val controls = control(spark)
    val timed = measure(spark, sfDir, picked)
    val ctlNames = Seq("ingest_50k_nodes", "scan_merge_50k")
    val all = timed.times ++ controls.toSeq.flatMap { case (i, s) =>
      ctlNames.zip(Seq(i, s)) }
    val run = timed.copy(failed =
      timed.failed ++ (if (controls.isEmpty) ctlNames else Nil))
    // the driver tail-captures ~2 KB of stdout: round 1's full-precision
    // line (~3.5 KB) lost its head ("parsed": null in BENCH_r01.json),
    // and at 98 queries even 3-decimal full names (~2.4 KB) would again.
    // stdout gets short ids (unique prefix per query: q01, p18, x04…);
    // the full-name map lands in bench_out.json alongside
    val shortIds = all.map { case (k, v) => k.split("_").head -> v }
    // a first-token collision would silently emit duplicate JSON keys
    // (last-wins on parse) in the tail-captured line — fail loudly instead
    require(shortIds.map(_._1).distinct.size == shortIds.size,
      "bench short-id collision: " + shortIds.map(_._1).diff(
        shortIds.map(_._1).distinct).mkString(","))
    // redundant full-name copy on disk in case stdout capture truncates;
    // carries the raw per-query samples (stdout only gets the min)
    writeJson(outName(forceDist, only.isDefined), fullLine(all, sfDir), run)
    spark.stop()
    // Print both renderings AFTER Spark shutdown so no log line lands
    // below them. The driver tail-captures exactly 2,000 characters of
    // stdout (BENCH_r01..r09 all carry tail_len=2000 and parsed:null)
    // and sbt appends a ~78-byte "[success]" line below, so a full
    // 260-entry map — at the theoretical minimum `"xxx":v,` rendering
    // already ≥ 2,081 bytes — can NEVER parse from the tail. Keep the
    // full-registry line (same shape and numbers as every prior round,
    // printed first; bench_out.json carries the full-name copy), then
    // print LAST a compact line with the SAME schema whose `queries`
    // map holds the most expensive entries that fit the capture plus a
    // "_rest" rollup of the remainder (ADDING an entry is allowed by
    // the bench contract; nothing is removed from the full line).
    // BenchFormatSpec pins the compact length under the capture.
    println(fullLine(shortIds, sfDir))
    println(compactLine(shortIds, sfDir))
  }

  /** The file a run writes. A filtered (SPARK_GRAFT_ONLY) run is a
    * profiling run and always writes the gitignored bench_only.json,
    * also when forced distributed, so it can never clobber a committed
    * full-registry artifact (bit us twice in round 4). */
  def outName(forceDist: Boolean, filtered: Boolean): String =
    if (filtered) "bench_only.json"
    else if (forceDist) "bench_dist.json" else "bench_out.json"

  /** Set-up shared by every timing tool: absorb the one-time
    * session/JIT/codegen warmup so it doesn't land on whichever query
    * happens to run first, and build the bucketed graph store up front
    * — it's the storage layer (one-time ingest), not part of any
    * query's cost. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    reported("graph store build") {
      graft.sources.GraphStore.nodesAttrs(spark, sfDir)
      graft.sources.GraphStore.edges(spark, sfDir)
    }: Unit
  }

  /** The sustained ingest-then-scan macro harness (BASELINE.md;
    * reference shape src/core/Program.fs:74-213): fixed work with a
    * documented normal-band cost, so it doubles as the host-weather
    * gauge. (ingest, scan) seconds, or None when it failed. */
  def control(spark: SparkSession): Option[(Double, Double)] =
    reported("ingest/scan control")(graft.bench.IngestScan.run(spark))

  /** Seconds one execution of `fn` takes through the noop sink, which
    * forces full evaluation (projections, sorts, limits all execute)
    * without paying a real write — a bare count() would let Catalyst
    * prune most of the plan. The session hygiene runs after the clock
    * stops, also when `fn` throws. */
  def time(spark: SparkSession, sfDir: String, fn: Program): Double = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } finally Session.clean(spark)
  }

  /** Times each entry, min of two executions: a shared host can stall
    * whole queries for 30-190 s at random (storage-layer interference
    * from outside the process); the min is the honest steady-state
    * cost and one stall per query no longer poisons the round's
    * number. A third sample is
    * taken when the two DISAGREE by >1.3× (a stall likely hit one of
    * them, so the min rests on two consistent observations), or when a
    * guarded entry's min-of-2 is at or over its `limits` entry (one
    * stall can blanket two samples; a plan regression survives all
    * three). An entry that throws prints its stack trace to stderr,
    * lands in `failed` and is never timed. */
  def measure(spark: SparkSession, sfDir: String,
              entries: Seq[(String, Program)],
              limits: Map[String, Double] = Map.empty): Run = {
    val outcomes = entries.map { case (name, fn) =>
      name -> reported(name) {
        val two = Seq(time(spark, sfDir, fn), time(spark, sfDir, fn))
        if (two.max / two.min > 1.3 || limits.get(name).exists(two.min >= _))
          two :+ time(spark, sfDir, fn)
        else two
      }
    }
    Run(outcomes.collect { case (n, Some(s)) => n -> s },
      outcomes.collect { case (n, None) => n })
  }

  /** Writes `line` to `path` with `extra` fields, the run's per-entry
    * samples (ms precision) and its `_failed` list appended. */
  def writeJson(path: String, line: String, run: Run,
                extra: String = ""): Unit =
    reported(s"writing $path") {
      val samples = run.samples.map { case (k, vs) =>
        "\"" + k + "\":" + vs.map(v => math.rint(v * 1000) / 1000)
          .mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val failed = run.failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val w = new java.io.PrintWriter(path)
      try w.println(line.stripSuffix("}") + extra +
        s""","samples":$samples,"_failed":$failed}""")
      finally w.close()
    }: Unit

  /** `body`, or None after printing what failed and its stack trace to
    * stderr: nothing the bench runs fails silently. */
  private def reported[A](what: String)(body: => A): Option[A] =
    try Some(body) catch { case e: Throwable =>
      System.err.println(s"[bench] $what failed:")
      e.printStackTrace()
      None
    }

  private[graft] def f3(v: Double): String = "%.3f".format(v)

  /** A JSON object of 3-decimal numbers, in `entries` order. */
  private[graft] def obj(entries: Seq[(String, Double)]): String =
    entries.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")

  /** The full one-line JSON (every entry, 3-decimal seconds) — the
    * shape every round has printed; ~3.6 KB at 260 entries. */
  def fullLine(entries: Seq[(String, Double)], sfDir: String): String =
    s"""{"metric":"total","value":${f3(entries.map(_._2).sum)},"unit":"sec","queries":${obj(entries)},"sf":"$sfDir"}"""

  /** Driver-parseable rendering: identical schema, `queries` limited to
    * the most expensive entries that keep the whole line under
    * `budget` bytes, with a "_rest" entry rolling up the remainder so
    * the map still sums to `value`. Deterministic: entries sorted by
    * (-seconds, name). 1,800 bytes default = the driver's measured
    * 2,000-char tail capture minus sbt's trailer line with margin. */
  def compactLine(entries: Seq[(String, Double)], sfDir: String,
                  budget: Int = 1800): String = {
    val total = f3(entries.map(_._2).sum)
    val head = s"""{"metric":"total","value":$total,"unit":"sec","queries":{"""
    val tail = s"""},"sf":"$sfDir"}"""
    // _rest sums a subset of the entries, so it renders no wider than
    // the total
    val restReserve = ",\"_rest\":".length + total.length
    val sorted = entries.sortBy { case (n, v) => (-v, n) }
    val sb = new StringBuilder(head)
    var used = head.length + tail.length + restReserve
    var taken = 0
    var rest = 0.0
    sorted.foreach { case (k, v) =>
      val piece = (if (taken == 0) "" else ",") + "\"" + k + "\":" + f3(v)
      if (used + piece.length <= budget) {
        sb.append(piece); used += piece.length; taken += 1
      } else rest += v
    }
    if (taken < sorted.size)
      sb.append((if (taken == 0) "" else ",") + "\"_rest\":" + f3(rest))
    sb.append(tail)
    sb.toString
  }
}
