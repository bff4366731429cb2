package graft.api

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.QueryStats
import graft.ingest.{GraphMlReader, NTriplesReader}

/** Network service over the Engine — the Spark-native analog of the
  * reference's gRPC WatDbService quartet (reference:
  * src/ahghee.grpc/types.proto:231-239 Put/Get/Load/GetMetrics; server
  * impl src/server/Services/WatService.cs:209-401). HTTP + JSON instead
  * of gRPC so it stays inside the JDK (this build adds no deps):
  *
  *   POST /put      body = AHGHEE put script          → {"ok":true}
  *   POST /get      body = AHGHEE get query           → NDJSON row stream
  *   POST /sql      body = one SQL statement          → NDJSON row stream
  *   POST /load     body = path or http(s) url,
  *                  ?format=nt|graphml                → {"ok":true}
  *   GET  /metrics                                    → JSON entries, the
  *                  last [[QueryStats.Keep]] Dataset actions
  *
  * /get STREAMS: rows flow from `query(...).toLocalIterator` into a
  * chunked response, partition-at-a-time on the driver — the gRPC
  * server-streaming analog (WatService.cs:319-343 writes nodes to the
  * response stream as they arrive); nothing is collected.
  */
final class Server private (val engine: Engine, http: HttpServer,
                            stats: QueryStats,
                            pool: java.util.concurrent.ExecutorService) {
  def port: Int = http.getAddress.getPort
  def stop(): Unit = { http.stop(0); pool.shutdown(); stats.detach() }
}

object Server {

  /** Start serving `engine` on `port` (0 = ephemeral). */
  def start(engine: Engine, port: Int = 0): Server = {
    val stats = QueryStats.attach(engine.spark)
    val http = HttpServer.create(new java.net.InetSocketAddress(port), 0)
    // without an executor every handler runs on the single dispatcher
    // thread — a minutes-long streaming /load would freeze /get and
    // /metrics for its whole duration. Daemon threads so the JVM can
    // still exit if stop() is never called.
    val pool = java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => {
        val t = new Thread(r, "graft-http")
        t.setDaemon(true)
        t
      })
    http.setExecutor(pool)

    http.createContext("/put", (ex: HttpExchange) => guard(ex) {
      engine.put(body(ex))
      respond(ex, 200, """{"ok":true}""")
    })

    http.createContext("/get", (ex: HttpExchange) => guard(ex) {
      // ?shape=nodes streams one grouped Node per line (the gRPC
      // stream-of-Node-messages shape, WatService.cs:319-343); default
      // streams long-form attribute rows
      val q = body(ex)
      streamRows(ex, Option(ex.getRequestURI.getQuery)
        .filter(_.contains("shape=nodes"))
        .map(_ => engine.getNodes(q).toDF())
        .getOrElse(engine.query(q)))
    })

    http.createContext("/sql", (ex: HttpExchange) => guard(ex) {
      // the ANALYTICS wire surface (the reference UI's query box,
      // reference src/UI/Pages/Query.razor, re-based on SQL): one SQL
      // statement over the session catalog — including the hint-marked
      // custom-operator tier (plans/SqlSurface: SESSIONIZE / ASOF_LE /
      // COSINE_TOPK plan into the custom execs from this endpoint).
      // Same streaming discipline as /get: toLocalIterator into a
      // chunked NDJSON response, nothing collected.
      streamRows(ex, engine.spark.sql(body(ex)))
    })

    http.createContext("/load", (ex: HttpExchange) => guard(ex) {
      val path = body(ex).trim
      val query = Option(ex.getRequestURI.getQuery).getOrElse("")
      val format = query
        .split("&").map(_.split("=", 2)).collectFirst {
          case Array("format", v) => v
        }.getOrElse("nt")
      if (query.contains("stream=progress")) {
        // the reference's Load RETURNS a stream: one LoadFileResponse
        // per second until ingest finishes (WatService.cs:262-300).
        // Here: run the continuous put (nt dir source) and relay each
        // micro-batch of the load query's own `recentProgress` as an
        // NDJSON line as it lands, then a final summary — the client
        // watches rows accumulate, exactly the gRPC progress-stream
        // shape
        ex.getResponseHeaders.add("Content-Type", "application/x-ndjson")
        ex.sendResponseHeaders(200, 0)
        val out = ex.getResponseBody
        try {
          val sq = engine.loadStream(path)
          var last = -1L
          var total = 0L
          def relay(): Unit =
            sq.recentProgress.filter(_.batchId > last).foreach { p =>
              out.write((s"""{"batch":${p.batchId},"rows":${p.numInputRows}}""" +
                "\n").getBytes(UTF_8))
              out.flush()
              last = p.batchId
              total += p.numInputRows
            }
          while (!sq.awaitTermination(100)) relay()
          // the query fills recentProgress before it terminates: this
          // pass sees its last batches
          relay()
          out.write((s"""{"done":true,"total_rows":$total}""" + "\n")
            .getBytes(UTF_8))
        } finally out.close()
      } else {
        val rows = format match {
          case "graphml" => GraphMlReader.read(engine.spark, path)
          case _ => NTriplesReader.read(engine.spark, path)
        }
        engine.load(rows)
        respond(ex, 200, """{"ok":true}""")
      }
    })

    http.createContext("/export", (ex: HttpExchange) => guard(ex) {
      // the export half of Load: body = AHGHEE get query (default
      // `get "*"`), response = the surviving subgraph as N-Triples,
      // streamed line-at-a-time from toLocalIterator — the graph leaves
      // the engine in the same standard format it arrived in
      val q = Option(body(ex).trim).filter(_.nonEmpty).getOrElse("""get "*"""")
      val fmt = Option(ex.getRequestURI.getQuery).getOrElse("")
        .split("&").map(_.split("=", 2)).collectFirst {
          case Array("format", v) => v
        }.getOrElse("nt")
      if (fmt == "graphml") {
        // one XML document by nature — rendered id-at-a-time, then sent
        val xml = graft.ingest.GraphMlWriter.render(engine.query(q))
        ex.getResponseHeaders.add("Content-Type", "application/xml")
        val bytes = xml.getBytes(UTF_8)
        ex.sendResponseHeaders(200, bytes.length.toLong)
        val out = ex.getResponseBody
        try out.write(bytes) finally out.close()
      } else {
        val lines = graft.ingest.NTriplesWriter.lines(engine.query(q))
        stream(ex, "application/n-triples")(lines.toLocalIterator().asScala)
      }
    })

    http.createContext("/policies", (ex: HttpExchange) => guard(ex) {
      // the reference's ListPolicies RPC streams policy Nodes
      // (types.proto:217-221,238; impl left at the unimplemented base,
      // WatService.cs:392-394). Here the engine's tunables ARE the
      // policy surface: one node per subsystem, long-form attribute
      // rows in the same NDJSON shape /get streams, filterable by
      // ?iris=policy/a,policy/b (ListPoliciesRequest.iris).
      val iris = Option(ex.getRequestURI.getQuery)
        .map(_.split("&")).flatMap(_.collectFirst {
          case s if s.startsWith("iris=") =>
            s.drop(5).split(",").filter(_.nonEmpty).toSet
        }).filter(_.nonEmpty)
      val conf = engine.spark.conf
      val rows = Seq(
        ("policy/storage", "bucket_count", "32"),
        ("policy/storage", "layout", "bucketed_sorted_murmur3"),
        ("policy/traversal", "point_path_max_frontier",
          graft.graph.Traversal.PointPathMaxFrontier.toString),
        ("policy/analytics", "cc_local_edge_threshold",
          graft.graphx.Arms.limit(engine.spark, 1000000L).toString),
        ("policy/ingest", "lineage_cut_every_loads", "8"),
        ("policy/ingest", "max_files_per_trigger", "10"),
        ("policy/session", "shuffle_partitions",
          conf.get("spark.sql.shuffle.partitions")),
        ("policy/session", "state_store_provider",
          conf.get("spark.sql.streaming.stateStore.providerClass",
            "HDFSBackedStateStoreProvider").split("\\.").last))
        .filter { case (id, _, _) => iris.forall(_(id)) }
      stream(ex, "application/x-ndjson")(rows.iterator.map {
        case (id, key, value) =>
          s"""{"id":${q(id)},"key":${q(key)},"value":${q(value)}}"""
      })
    })

    http.createContext("/stats", (ex: HttpExchange) => guard(ex) {
      val rows = engine.stats.collect() // 4 rows — bounded by construction
      respond(ex, 200, rows.map(r =>
        s"""{"stat":${q(r.getString(0))},"value":${r.getLong(1)}}""")
        .mkString("[", ",", "]"))
    })

    http.createContext("/metrics", (ex: HttpExchange) => guard(ex) {
      val entries = stats.executions.map { e =>
        s"""{"action":${q(e.action)},"duration_ns":${e.durationNs},""" +
          s""""error":${e.error.map(q).getOrElse("null")}}"""
      }
      respond(ex, 200, entries.mkString("[", ",", "]"))
    })

    http.start()
    new Server(engine, http, stats, pool)
  }

  private def guard(ex: HttpExchange)(f: => Unit): Unit =
    try f
    catch {
      case e: Throwable =>
        try respond(ex, 400, s"""{"ok":false,"error":${q(String.valueOf(e.getMessage))}}""")
        catch { case _: Throwable => () } // headers already sent mid-stream
    } finally ex.close()

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  private def respond(ex: HttpExchange, code: Int, s: String): Unit = {
    val bytes = s.getBytes(UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val out = ex.getResponseBody
    try out.write(bytes) finally out.close()
  }

  /** A chunked 200 response of `lines`, one per line. The first line is
    * pulled before the headers go out, so a statement whose first job
    * fails still gets `guard`'s 400; the later jobs run while the client
    * reads, and nothing is collected. A failure in a later partition,
    * after the 200 is sent, can only truncate the stream. */
  private def stream(ex: HttpExchange, contentType: String)(
      lines: Iterator[String]): Unit = {
    val it = lines.buffered
    it.hasNext // runs the jobs up to the first line
    ex.getResponseHeaders.add("Content-Type", contentType)
    ex.sendResponseHeaders(200, 0) // chunked — length unknown up front
    val out = ex.getResponseBody
    try it.foreach(l => out.write((l + "\n").getBytes(UTF_8)))
    finally out.close()
  }

  /** `df` as an NDJSON stream, one [[jsonRow]] per row. */
  private def streamRows(ex: HttpExchange, df: DataFrame): Unit = {
    val schema = df.schema
    stream(ex, "application/x-ndjson")(
      df.toLocalIterator().asScala.map(jsonRow(schema, _)))
  }

  /** One Row → one JSON object line (nested structs/arrays/maps recurse;
    * binary renders base64 like the reference's proto JSON form). */
  def jsonRow(schema: StructType, row: Row): String =
    schema.fields.indices.map { i =>
      s"${q(schema.fields(i).name)}:${cell(row.get(i))}"
    }.mkString("{", ",", "}")

  private def cell(v: Any): String = v match {
    case null => "null"
    case s: String => q(s)
    case b: Boolean => b.toString
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case d: Double => if (d.isFinite) d.toString else q(d.toString)
    case f: Float => if (f.isFinite) f.toString else q(f.toString)
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.underlying.toPlainString
    case bs: Array[Byte] => q(java.util.Base64.getEncoder.encodeToString(bs))
    case r: Row => jsonRow(r.schema, r)
    case seq: scala.collection.Seq[_] =>
      seq.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, mv) => s"${q(String.valueOf(k))}:${cell(mv)}" }
        .mkString("{", ",", "}")
    case other => q(other.toString) // dates, timestamps, intervals
  }

  /** JSON string escape (backslash, quote, all control chars). */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
