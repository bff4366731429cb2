package graftbench

import org.scalatest.funsuite.AnyFunSuite

import graftbench.Ops._

class OpsSpec extends AnyFunSuite {

  test("tail percentile keeps at least ten samples beyond it") {
    assert(tailPercentile(100).contains(90))
    assert(tailPercentile(1000).contains(99))
    assert(tailPercentile(20).contains(50))
    assert(tailPercentile(19).isEmpty)
    for (n <- 20 to 2000) {
      val p = tailPercentile(n).get
      val xs = (1 to n).map(_.toDouble)
      def beyond(q: Int) = xs.count(_ > percentile(xs, q / 100.0))
      assert(beyond(p) >= 10, s"n=$n p=$p")
      if (p < 99) assert(beyond(p + 1) < 10, s"n=$n p=${p + 1} is not the highest")
    }
  }

  test("nearest-rank percentile and median") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(median(xs) == 3.0)
    assert(median(xs :+ 6.0) == 3.5)
    assert(percentile(xs, 0.9) == 5.0)
    assert(percentile(xs, 0.2) == 1.0)
  }

  test("self time subtracts the union of child intervals") {
    val spans = Seq(
      Span(1, 0, "op", "get", 0, 100),
      Span(2, 1, "a", "get", 10, 30),
      Span(3, 1, "b", "get", 20, 50), // overlaps 2: the union counts once
      Span(4, 1, "c", "get", 60, 70),
      Span(5, 4, "d", "get", 65, 90), // outlives its parent: clipped to it
      Span(6, 0, "op", "put", 0, 40))
    val self = selfTimes(spans)
    assert(self(1) == 100 - 40 - 10)
    assert(self(2) == 20 && self(3) == 30)
    assert(self(4) == 5)
    assert(self(5) == 25)
    assert(self(6) == 40)
  }

  private val nodes = (0 until 1000).map(i => s"n/$i")
  private val zipf = new Zipf(nodes.size, 0.99)
  private def ops(seed: Long, client: Int, n: Int): Seq[Op] = {
    val s = new OpStream(seed, client, shuffled(nodes, seed), zipf, 25)
    Seq.fill(n)(s.next())
  }

  test("the op stream is a function of seed and client") {
    assert(ops(7, 0, 500) == ops(7, 0, 500))
    assert(ops(7, 0, 500) != ops(8, 0, 500))
    assert(ops(7, 0, 500) != ops(7, 1, 500))
    // only client 0 writes, and its put sequence numbers never repeat
    assert(!ops(7, 1, 2000).exists(_.isInstanceOf[Put]))
    val seqs = ops(7, 0, 2000).collect { case p: Put => p.seq }
    assert(seqs.distinct.size == seqs.size)
  }

  test("every 20 ops of each client hold its deck, together the specified mix") {
    val want = Seq(
      Map("get" -> 4, "follow" -> 3, "scan" -> 1, "put" -> 12),
      Map("get" -> 16, "follow" -> 3, "scan" -> 1, "put" -> 0))
    for (client <- 0 to 1) {
      val xs = ops(3, client, 20000)
      assert(xs.take(4).map(_.cls).toSet == want(client).filter(_._2 > 0).keySet,
        "a short run meets every class of the deck")
      xs.grouped(20).foreach { deck =>
        want(client).foreach { case (cls, n) => assert(deck.count(_.cls == cls) == n) }
      }
    }
    val both = want(0).map { case (cls, n) => cls -> (n + want(1)(cls)) }
    assert(both == Map("get" -> 20, "follow" -> 6, "scan" -> 2, "put" -> 12))
    assert(ops(3, 0, 20).map(_.cls) == ops(4, 0, 20).map(_.cls), "the class order is fixed")
    assert(ops(3, 0, 20) != ops(4, 0, 20), "the node ids are seeded")
    val xs = ops(3, 1, 20000)
    val ids = xs.collect { case Get(id) => id }
    val top = ids.groupBy(identity).values.map(_.size).max
    assert(top > ids.size / 20, "the hottest node should draw several percent")
  }

  test("BENCHMARK.json declares exactly the per-layer metrics the harness emits") {
    val src = scala.io.Source.fromFile("../BENCHMARK.json")
    val json = try src.mkString finally src.close()
    val perLayer = json.substring(json.indexOf("\"per_layer\""))
    val declared = """"name": "([^"]+)", "unit": "([^"]+)"""".r
      .findAllMatchIn(perLayer).map(m => m.group(1) -> m.group(2)).toSeq
    assert(declared == _root_.graftbench.Run.layerMetrics)
  }

  test("N-Triples files are a function of seed and file, and parse") {
    assert(nTriplesFile(5, 3, 400) == nTriplesFile(5, 3, 400))
    assert(nTriplesFile(5, 3, 400) != nTriplesFile(6, 3, 400))
    assert(nTriplesFile(5, 3, 400) != nTriplesFile(5, 4, 400))
    val rows = nTriplesFile(5, 3, 400).zipWithIndex.map { case (l, i) =>
      val row = graft.ingest.NTriplesReader.parseLine(l)
      assert(row.exists(_.id == nTriplesSubject(3, i)), l)
      row.get
    }
    // four distinct attributes per subject: nothing dedups on load
    assert(rows.map(r => (r.id, r.key)).distinct.size == 400)
  }
}
