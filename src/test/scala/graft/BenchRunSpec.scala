package graft

/** The bench's shared run loop (Bench and Headline): an entry that
  * throws, while building its plan or while executing it, is reported
  * failed and contributes no time. */
class BenchRunSpec extends SparkSpec {

  private val throwsEagerly: Bench.Program =
    (_, _) => throw new IllegalStateException("boom")
  private val throwsInJob: Bench.Program =
    (s, _) => s.range(1).selectExpr("raise_error('boom') AS x")
  private val fine: Bench.Program = (s, _) => s.range(10).toDF()

  test("a failed entry is reported failed and never timed") {
    val run = Bench.measure(spark, sfDir, Seq("eager" -> throwsEagerly,
      "ok" -> fine, "in_job" -> throwsInJob))
    assert(run.failed == Seq("eager", "in_job"))
    assert(run.samples.map(_._1) == Seq("ok"))
    assert(run.times.map(_._1) == Seq("ok"))
    assert(run.samples.head._2.size >= 2)
  }

  test("a failed headline guard counts as a breach") {
    val run = Bench.Run(Seq("q02_agg_hash" -> Seq(0.1, 0.1),
      "x18_ktruss" -> Seq(99.0, 99.0, 99.0)), Seq("g01_point_get"))
    assert(bench.Headline.breaches(run) == Seq("g01_point_get", "x18_ktruss"))
  }
}
