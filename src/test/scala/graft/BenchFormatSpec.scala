package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench stdout contract's compact rendering: the driver
  * tail-captures exactly 2,000 characters of stdout and sbt appends a
  * ~78-byte "[success]" trailer below the last line, so the LAST
  * printed JSON line must stay well under that to be parseable — every
  * prior round's full-registry line (~3.6 KB) was decapitated
  * (parsed:null in BENCH_r01..r09). These tests run the real renderers
  * over a synthetic 260-entry registry shaped like the real one. */
class BenchFormatSpec extends AnyFunSuite {

  // 260 entries with realistic short ids and second magnitudes,
  // including a >10 s entry and the two long-keyed controls
  private val entries: Seq[(String, Double)] =
    (1 to 76).map(i => f"q$i%02d" -> 0.45) ++
    (1 to 90).map(i => f"p$i%02d" -> 1.85) ++
    (1 to 32).map(i => f"s$i%02d" -> 2.10) ++
    (1 to 34).map(i => f"x$i%02d" -> (if (i == 18) 12.638 else 3.95)) ++
    (1 to 19).map(i => f"g$i%02d" -> 0.95) ++
    (1 to 7).map(i => f"a$i%02d" -> 0.90) ++
    Seq("ingest" -> 4.298, "scan" -> 2.098)

  test("compact line fits the driver's 2,000-char tail capture") {
    val line = Bench.compactLine(entries, "/root/testdata/sf0.1")
    // 2000 (capture) − 78 ([success] trailer) − 2 newlines = 1920 hard
    // ceiling; the renderer's own budget is 1,800 for margin
    assert(line.length <= 1800, s"compact line is ${line.length} bytes")
    assert(line.startsWith("{\"metric\":\"total\",\"value\":"))
    assert(line.endsWith("\"}"))
    // the same registry scaled past 10^5 s in total: a _rest rollup
    // wider than 99999.999 must still fit the budget
    val huge = Bench.compactLine(entries.map { case (k, v) => k -> v * 1e5 },
      "/data/testdata/sf0.1")
    assert(huge.length <= 1800, s"compact line is ${huge.length} bytes")
  }

  test("compact line keeps the schema, biggest entries, and a _rest rollup") {
    val line = Bench.compactLine(entries, "/root/testdata/sf0.1")
    for (k <- Seq("\"metric\":", "\"value\":", "\"unit\":\"sec\"",
                  "\"queries\":{", "\"sf\":"))
      assert(line.contains(k), s"missing $k")
    // the most expensive entries always make the cut
    assert(line.contains("\"x18\":12.638"))
    assert(line.contains("\"ingest\":4.298"))
    // the rollup is present and balances: value == sum(queries ∪ _rest)
    assert(line.contains("\"_rest\":"))
    val pairs = "\"([a-z_0-9]+)\":([0-9.]+)".r.findAllMatchIn(line).toSeq
    val total = pairs.find(_.group(1) == "value").get.group(2).toDouble
    val qsum = pairs.filter(_.group(1) != "value")
      .map(_.group(2).toDouble).sum
    assert(math.abs(qsum - total) < 0.5,
      s"queries sum $qsum vs value $total")
  }

  test("full line keeps every entry (nothing dropped or renamed)") {
    val line = Bench.fullLine(entries, "/root/testdata/sf0.1")
    entries.foreach { case (k, _) =>
      assert(line.contains("\"" + k + "\":"), s"missing $k")
    }
    // sanity: at today's registry size the full line genuinely cannot
    // fit the capture — the compact line is load-bearing, not a backup
    assert(line.length > 2000)
  }

  test("compact line degrades to _rest-only rather than overflowing") {
    val line = Bench.compactLine(entries, "/root/testdata/sf0.1",
      budget = 120)
    assert(line.length <= 120)
    assert(line.contains("\"_rest\":"))
  }

  test("a filtered run never writes a committed artifact") {
    // (SPARK_GRAFT_FORCE_DIST, SPARK_GRAFT_ONLY set) -> file written
    for (((forceDist, filtered), file) <- Seq(
        (false, false) -> "bench_out.json",
        (true, false) -> "bench_dist.json",
        (false, true) -> "bench_only.json",
        (true, true) -> "bench_only.json"))
      assert(Bench.outName(forceDist, filtered) == file,
        s"forceDist=$forceDist filtered=$filtered")
  }
}
