package graft.ingest

import graft.SparkSpec
import graft.model.Value

/** Golden tests for the three ingest paths, porting the reference's
  * expected-attribute tables for the public TinkerPop "modern" graph
  * (reference: src/core.tests/Tests.fs:317-352,647-857) and the
  * N-Triples / put-literal semantics (NTRIPLES.g4, AHGHEE.g4).
  */
class IngestSpec extends SparkSpec {

  // The public TinkerPop "modern" toy graph (same data as the reference
  // fixture; reconstructed from the published dataset, not copied).
  private val modernXml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<graphml xmlns="http://graphml.graphdrawing.org/xmlns">
      |  <key id="labelV" for="node" attr.name="labelV" attr.type="string"/>
      |  <key id="name" for="node" attr.name="name" attr.type="string"/>
      |  <key id="lang" for="node" attr.name="lang" attr.type="string"/>
      |  <key id="age" for="node" attr.name="age" attr.type="int"/>
      |  <key id="labelE" for="edge" attr.name="labelE" attr.type="string"/>
      |  <key id="weight" for="edge" attr.name="weight" attr.type="double"/>
      |  <graph id="G" edgedefault="directed">
      |    <node id="1"><data key="labelV">person</data><data key="name">marko</data><data key="age">29</data></node>
      |    <node id="2"><data key="labelV">person</data><data key="name">vadas</data><data key="age">27</data></node>
      |    <node id="3"><data key="labelV">software</data><data key="name">lop</data><data key="lang">java</data></node>
      |    <node id="4"><data key="labelV">person</data><data key="name">josh</data><data key="age">32</data></node>
      |    <node id="5"><data key="labelV">software</data><data key="name">ripple</data><data key="lang">java</data></node>
      |    <node id="6"><data key="labelV">person</data><data key="name">peter</data><data key="age">35</data></node>
      |    <edge id="7" source="1" target="2"><data key="labelE">knows</data><data key="weight">0.5</data></edge>
      |    <edge id="8" source="1" target="4"><data key="labelE">knows</data><data key="weight">1.0</data></edge>
      |    <edge id="9" source="1" target="3"><data key="labelE">created</data><data key="weight">0.4</data></edge>
      |    <edge id="10" source="4" target="5"><data key="labelE">created</data><data key="weight">1.0</data></edge>
      |    <edge id="11" source="4" target="3"><data key="labelE">created</data><data key="weight">0.4</data></edge>
      |    <edge id="12" source="6" target="3"><data key="labelE">created</data><data key="weight">0.2</data></edge>
      |  </graph>
      |</graphml>""".stripMargin

  private lazy val rows = GraphMlReader.parse(modernXml)

  private def attrs(id: String, key: String): Seq[ValueRow] =
    rows.filter(r => r.id == id && r.key == key).map(_.value)

  test("all 12 node ids present (vertices + reified edge-nodes)") {
    assert(rows.map(_.id).toSet == (1 to 12).map(_.toString).toSet)
  }

  test("labelV golden table (Tests.fs:660-667)") {
    val expect = Map("1" -> "person", "2" -> "person", "3" -> "software",
      "4" -> "person", "5" -> "software", "6" -> "person")
    expect.foreach { case (id, l) =>
      assert(attrs(id, "labelV").flatMap(_.str) == Seq(l), s"node $id")
    }
  }

  test("age values round-trip as i32 (Tests.fs:684-689)") {
    val expect = Map("1" -> 29L, "2" -> 27L, "4" -> 32L, "6" -> 35L)
    expect.foreach { case (id, a) =>
      val v = attrs(id, "age")
      assert(v.map(_.vtype) == Seq(Value.I32) && v.flatMap(_.i64) == Seq(a))
    }
  }

  test("out/in edge attributes point at the EDGE-NODE, not the far vertex") {
    assert(attrs("1", "out.knows").flatMap(_.iri).toSet == Set("7", "8"))
    assert(attrs("1", "out.created").flatMap(_.iri) == Seq("9"))
    assert(attrs("2", "in.knows").flatMap(_.iri) == Seq("7"))
    assert(attrs("3", "in.created").flatMap(_.iri).toSet == Set("9", "11", "12"))
    assert(attrs("4", "out.created").flatMap(_.iri).toSet == Set("10", "11"))
  }

  test("edge-nodes carry labelE, weight(double), source, target") {
    assert(attrs("7", "labelE").flatMap(_.str) == Seq("knows"))
    assert(attrs("7", "weight").flatMap(_.num) == Seq(0.5))
    assert(attrs("7", "source").flatMap(_.iri) == Seq("1"))
    assert(attrs("7", "target").flatMap(_.iri) == Seq("2"))
    (9 to 12).foreach { e =>
      assert(attrs(e.toString, "labelE").flatMap(_.str) == Seq("created"))
    }
  }

  test("GraphML reads distributed through the Dataset API") {
    val dir = java.nio.file.Files.createTempDirectory("gml").toFile
    val f = new java.io.File(dir, "modern.xml")
    java.nio.file.Files.writeString(f.toPath, modernXml)
    val ds = GraphMlReader.read(spark, f.getAbsolutePath)
    assert(ds.count() == rows.size)
  }

  // ---- N-Triples ------------------------------------------------------

  test("N-Triples: IRI object becomes an edge") {
    val r = NTriplesReader.parseLine("<http://s> <http://p> <http://o> .").get
    assert(r.id == "http://s" && r.key == "http://p")
    assert(r.value.vtype == Value.NODEID && r.value.iri.contains("http://o"))
  }

  test("N-Triples: typed literal carries type IRI as metadata") {
    val r = NTriplesReader.parseLine(
      """<http://s> <http://p> "42"^^<http://www.w3.org/2001/XMLSchema#int> .""").get
    assert(r.value.str.contains("42"))
    assert(r.value_meta.get.iri.contains("http://www.w3.org/2001/XMLSchema#int"))
  }

  test("N-Triples: lang tag carries lang: metadata") {
    val r = NTriplesReader.parseLine("""<http://s> <http://p> "chat"@fr .""").get
    assert(r.value.str.contains("chat"))
    assert(r.value_meta.get.str.contains("lang:@fr"))
  }

  test("N-Triples: blank nodes and comments") {
    val r = NTriplesReader.parseLine("_:b1 <http://p> _:b2 .").get
    assert(r.id == "_:b1" && r.value.iri.contains("_:b2"))
    assert(NTriplesReader.parseLine("# comment").isEmpty)
    assert(NTriplesReader.parseLine("   ").isEmpty)
  }

  test("N-Triples: load from an HTTP URL (WatService.cs:216-239 analog)") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val nt = "<u/1> <name> \"from-http\" .\n<u/1> <knows> <u/2> .\n"
    val http = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    http.createContext("/data.nt", (ex: HttpExchange) => {
      val bytes = nt.getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      val out = ex.getResponseBody
      try out.write(bytes) finally out.close()
    })
    http.start()
    try {
      val url = s"http://localhost:${http.getAddress.getPort}/data.nt"
      val rows = NTriplesReader.read(spark, url).collect()
      assert(rows.length == 2)
      assert(rows.exists(r => r.key == "name" && r.value.str.contains("from-http")))
      assert(rows.exists(r => r.key == "knows" && r.value.iri.contains("u/2")))
    } finally http.stop(0)
  }

  test("N-Triples: streaming load with observed progress (Load progress stream)") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_nt_stream")
    // two files → with maxFilesPerTrigger=1 at least two micro-batches,
    // so the progress feed shows incremental ticks, not one lump
    java.nio.file.Files.writeString(dir.resolve("a.nt"),
      "<s/1> <name> \"a\" .\n<s/1> <size> \"1\"^^<http://t/int> .\n")
    java.nio.file.Files.writeString(dir.resolve("b.nt"),
      "<s/2> <name> \"b\"@en .\n")
    val q = NTriplesReader.stream(spark, dir.toString, maxFilesPerTrigger = 1)
      .writeStream.format("memory").queryName("nt_load")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_nt_ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000))
    // the query's own progress, complete once it has terminated
    val ticks = q.recentProgress.map(_.numInputRows)
    assert(spark.table("nt_load").count() == 3)
    assert(ticks.sum == 3, s"progress ticks: ${ticks.toSeq}")
    assert(ticks.count(_ > 0) >= 2) // incremental
    // value metadata survives the streaming path
    assert(spark.table("nt_load")
      .where(org.apache.spark.sql.functions.col("value_meta").isNotNull)
      .count() == 2)
  }

  // ---- AHGHEE put literals --------------------------------------------

  test("put: kvp/edge/fedge/dedge pair forms") {
    val rows = AhgheePut.parse(
      """put "wat/1" {
        |  "name": "austin",
        |  "friend": ^"wat/2",
        |  ^"mother": "kendra",
        |  ^"father": ^"alan"
        |}""".stripMargin)
    val m = rows.map(r => r.key -> r.value).toMap
    assert(m("name").str.contains("austin"))
    assert(m("friend").iri.contains("wat/2"))
    assert(m("^mother").str.contains("kendra"))
    assert(m("^father").iri.contains("alan"))
  }

  test("put: number sniffing i32→i64→ui64→f32→f64 with boundary literals") {
    def v(s: String) = AhgheePut.sniffNumber(s)
    assert(v("42").vtype == Value.I32)
    assert(v("2147483647").vtype == Value.I32)          // Int.MaxValue
    assert(v("2147483648").vtype == Value.I64)          // +1 → i64
    assert(v("9223372036854775807").vtype == Value.I64) // Long.MaxValue
    assert(v("9223372036854775808").vtype == Value.UI64)
    assert(v("18446744073709551615").vtype == Value.UI64)
    assert(v("1.5").vtype == Value.F)                   // fits f32 first
    assert(v("1e40").vtype == Value.D)                  // overflows f32
    assert(v("-3").vtype == Value.I32)
  }

  test("put: multimap — repeated keys coexist (Tests.fs:200-205 analog)") {
    val rows = AhgheePut.parse(
      """put "a" { "child": ^"b", "child": ^"c", "child": ^"d" }""")
    assert(rows.count(_.key == "child") == 3)
    assert(rows.flatMap(_.value.iri).toSet == Set("b", "c", "d"))
  }

  test("put: nested object falls back to TypeBytes(application/json)") {
    val rows = AhgheePut.parse("""put "a" { "cfg": {"x": [1, 2]} }""")
    val v = rows.head.value
    assert(v.vtype == Value.METABYTES)
    assert(v.type_iri.contains("application/json"))
    assert(new String(v.bytes.get, "UTF-8") == """{"x": [1, 2]}""")
  }

  test("put: empty node and bools") {
    assert(AhgheePut.parse("""put "wat/man"""").isEmpty)
    val rows = AhgheePut.parse("""put "a" { "ok": true, "bad": false }""")
    assert(rows.map(r => r.key -> r.value.b.get).toMap ==
      Map("ok" -> true, "bad" -> false))
  }

  test("GraphML export: read → write → read is the identical graph") {
    import spark.implicits._
    val loaded = spark.createDataset(rows).toDF()
    val xml = GraphMlWriter.render(graft.api.Engine.withMeta(loaded))
    val reparsed = GraphMlReader.parse(xml)
    def canon(rs: Seq[AttrRow]) =
      rs.map(r => (r.id, r.key, r.value)).sortBy(t => (t._1, t._2,
        t._3.toString)).toSeq
    assert(canon(reparsed) == canon(rows),
      s"round-trip diverged: only-new=${(canon(reparsed).toSet --
        canon(rows).toSet).take(3)} only-old=${(canon(rows).toSet --
        canon(reparsed).toSet).take(3)}")
    // typed values survived: ages back as i32, weights as double
    assert(reparsed.exists(r => r.id == "1" && r.key == "age" &&
      r.value == ValueRow.i32(29)))
    assert(reparsed.exists(r => r.id == "7" && r.key == "weight" &&
      r.value == ValueRow.d(0.5)))
  }

  test("GraphML export of a put-script graph: documented loss only") {
    import spark.implicits._
    // non-GraphML-origin data: no edge reification, typed scalars, a
    // nodeid attr, and a plain STRING attribute named "source" (the
    // documents table's shape) that must not be mistaken for
    // edge-reification metadata
    val put = AhgheePut.parse(
      """put "d/1" { "name": "Ada", "age": 36, "knows": ^"d/2", "source": "web" }""") ++
      AhgheePut.parse("""put "d/2" { "name": "Bob", "ok": true, "score": 1.5 }""")
    val xml = GraphMlWriter.render(
      graft.api.Engine.withMeta(spark.createDataset(put).toDF()))
    // ADVICE r3: the string-typed source attr gets a <key> declaration
    // (only NODEID-typed source/target pairs are reification-suppressed)
    assert(xml.contains("<key id=\"source\""), xml)
    assert(xml.contains("<key id=\"knows\""))
    assert(xml.contains("<data key=\"source\">web</data>"), xml)
    val reparsed = GraphMlReader.parse(xml)
    // the documented loss (GraphMlWriter.scala:8-18) and nothing more:
    // nodeid attrs on non-edge nodes come back as plain strings;
    // every other (id, key, typed value) triple is bit-identical
    val expected = put.map { r =>
      if (r.value.vtype == Value.NODEID)
        r.copy(value = ValueRow.str(r.value.iri.get))
      else r
    }
    def canon(rs: Seq[AttrRow]) =
      rs.map(r => (r.id, r.key, r.value.toString)).sorted
    assert(canon(reparsed) == canon(expected),
      s"expected exactly the documented loss:\n${canon(reparsed)}\nvs\n${canon(expected)}")
  }

  test("N-Triples export: load → write → reload is the identical graph") {
    // every NT-native form: edge, plain / escaped / lang-tagged /
    // typed literal, blank node
    val nt = Seq(
      "<d/1> <knows> <d/2> .",
      """<d/1> <name> "A \"quoted\" name\nline" .""",
      """<d/1> <title> "Chef"@en .""",
      """<d/2> <size> "42"^^<http://t/int> .""",
      "_:b0 <ref> <d/1> .").mkString("\n")
    val dir = java.nio.file.Files.createTempDirectory("graft_ntw")
    java.nio.file.Files.writeString(dir.resolve("in.nt"), nt)
    val loaded = NTriplesReader.read(spark, dir.resolve("in.nt").toString)
      .toDF()
    NTriplesWriter.write(loaded, dir.resolve("out").toString)
    val reloaded = NTriplesReader.read(spark,
      dir.resolve("out").toString).toDF()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(reloaded) == canon(loaded),
      s"round-trip diverged:\n${canon(reloaded)}\nvs\n${canon(loaded)}")
    assert(canon(loaded).size == 5)

    // engine-native scalars exit as XSD-typed literals (documented
    // lossy-by-format: NT has no native numbers)
    import spark.implicits._
    val putRows = spark.createDataset(
      AhgheePut.parse("""put "a" { "n": 7, "f": 1.5, "ok": true }""")).toDF()
    val lines = NTriplesWriter.lines(putRows).collect().sorted
    assert(lines.exists(_.contains("\"7\"^^<http://www.w3.org/2001/XMLSchema#long>")), lines.mkString("\n"))
    assert(lines.exists(_.contains("XMLSchema#double")))
    assert(lines.exists(_.contains("\"true\"^^")))
  }
}
