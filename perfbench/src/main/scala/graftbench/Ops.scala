package graftbench

/** The benchmark's pure parts — seeded input generation and the
  * statistics rules — kept free of Spark so the unit tests run them
  * directly. */
object Ops {

  /** SplitMix64: a small, fully specified generator, so a seed names the
    * same inputs on every JVM and JDK. */
  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    /** Uniform in [0, 1). */
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = (nextDouble() * n).toInt
  }

  /** Mixes a seed with a stream number, so each client draws its own
    * independent sequence. */
  def subSeed(seed: Long, stream: Long): Long =
    new Rng(seed * 0x2545F4914F6CDD1DL + stream).nextLong()

  /** Zipf(s) over ranks 0 until n (rank 0 most frequent), by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(rng: Rng): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Seeded Fisher-Yates permutation: which node gets which Zipf rank. */
  def shuffled[A](xs: IndexedSeq[A], seed: Long): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    val rng = new Rng(seed)
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  // ---- oltp_mixed op stream -------------------------------------------

  sealed trait Op { def cls: String }
  final case class Get(id: String) extends Op { def cls = "get" }
  final case class Follow(id: String) extends Op { def cls = "follow" }
  final case class Scan(nation: Int) extends Op { def cls = "scan" }
  final case class Put(id: String, seq: Long) extends Op { def cls = "put" }

  /** The cycles of op classes the two clients deal. Client 0 is the one
    * writer: its 20 ops hold 12 put, 4 get, 3 follow and 1 scan, the puts
    * spread evenly. Client 1 only reads: 16 get, 3 follow, 1 scan. Any 40
    * ops, 20 of each client, hold the specified mix: 50% get, 15% follow,
    * 5% scan, 30% put. Each deck meets all of its classes within its first
    * four ops. */
  val Decks: IndexedSeq[IndexedSeq[String]] = IndexedSeq(
    IndexedSeq(
      "put", "get", "follow", "scan", "put", "put", "get", "put", "put", "follow",
      "put", "put", "get", "put", "put", "follow", "put", "get", "put", "put"),
    IndexedSeq(
      "get", "follow", "scan", "get", "get", "get", "get", "get", "follow", "get",
      "get", "get", "get", "get", "follow", "get", "get", "get", "get", "get"))

  def query(op: Op): String = op match {
    case Get(id) => s"""get "$id""""
    case Follow(id) => s"""get "$id" |> follow * 0..2"""
    case Scan(k) => s"""get "*" |> filter "nation" == ^"nation/$k" |> take 10"""
    case p: Put => sys.error(s"$p is a put, not a query")
  }

  def putScript(p: Put): String = s"""put "${p.id}" { "bench_seq": ${p.seq} }"""

  /** One client's op stream: node ids Zipf(0.99) over `nodes` (already
    * seed-shuffled). Classes cycle through the client's deck in `Decks`; the
    * seed draws the node ids and nations. A read's cost depends on how many
    * puts the store has merged since its last checkpoint, so a fixed class
    * order keeps the course of a run the same from seed to seed. Only
    * client 0 puts: `Engine.load` reassigns its table without a lock, so two
    * writers lose puts at random, and a failure count that changes from
    * run to run would make two runs of the same code disagree. Put
    * sequence numbers are unique. */
  final class OpStream(seed: Long, client: Int, nodes: IndexedSeq[String],
                       zipf: Zipf, nations: Int) {
    private val rng = new Rng(subSeed(seed, client))
    private val deck = Decks(client)
    private var k = 0L
    def next(): Op = {
      val cls = deck((k % deck.size).toInt)
      k += 1
      cls match {
        case "get" => Get(nodes(zipf.sample(rng)))
        case "follow" => Follow(nodes(zipf.sample(rng)))
        case "scan" => Scan(rng.nextInt(nations))
        case _ => Put(nodes(zipf.sample(rng)), client * 100000000L + k)
      }
    }
  }

  // ---- N-Triples input of the streaming load ---------------------------

  /** One N-Triples file of `triples` lines: subjects `bench/s<file>_<i>`
    * carrying a literal, a typed literal, a language-tagged literal and an
    * edge to an earlier subject of the same file. */
  def nTriplesFile(seed: Long, file: Int, triples: Int): Seq[String] = {
    val rng = new Rng(subSeed(seed, 1000000L + file))
    val subjects = math.max(1, triples / 4)
    (0 until triples).map { i =>
      val s = i / 4
      val subj = s"<bench/s${file}_$s>"
      (i % 4) match {
        case 0 => s"""$subj <name> "node ${rng.nextInt(1000000)}" ."""
        case 1 =>
          s"""$subj <weight> "${rng.nextInt(100000)}"^^<xsd:int> ."""
        case 2 => s"""$subj <label> "l${rng.nextInt(50)}"@en ."""
        case _ =>
          s"$subj <link> <bench/s${file}_${rng.nextInt(subjects)}> ."
      }
    }
  }

  /** Subject id of the i-th triple of a file, as the reader stores it. */
  def nTriplesSubject(file: Int, i: Int): String = s"bench/s${file}_${i / 4}"

  // ---- statistics ----------------------------------------------------

  /** Nearest-rank percentile (q in [0, 1]) of unsorted samples. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  /** The highest percentile (in whole percent, at most 99) that still has
    * at least `beyond` samples above it; None when even the median lacks
    * them. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] = {
    val p = ((n - beyond) * 100L / math.max(n, 1)).toInt
    if (p >= 50) Some(math.min(p, 99)) else None
  }

  /** The middle value, or the mean of the two middle values. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  // ---- spans -----------------------------------------------------------

  final case class Span(id: Long, parent: Long, name: String, key: String,
                        start: Long, end: Long) {
    def dur: Long = end - start
  }

  /** Self time of every span: its duration minus the part of it covered
    * by its children (children may overlap each other, so their union
    * counts once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }
}
