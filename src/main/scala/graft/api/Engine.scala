package graft.api

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ingest.{AhgheePut, AttrRow, ValueRow}
import graft.lang.{AhgheeParser, StepCompiler}
import graft.model.Value

/** Driver-side façade — the Spark twin of the reference's storage/query
  * API surface (reference: IStorage in src/core/FileStoreCommon.fs plus
  * the gRPC service types.proto:231-239):
  *
  *   put   ≙ WatDbService.Put   — AHGHEE node literals → attr rows
  *   query ≙ WatDbService.Get   — `get ... |> steps` → attribute rows
  *   nodes ≙ IStorage.Nodes()   — full scan
  *   current/history            — temporal views (Printers.cs:139-152)
  *
  * Streaming a result to a caller (the gRPC stream) is
  * `query(q).toLocalIterator` — pull-based, nothing collects.
  */
final class Engine(val spark: SparkSession, attrs0: DataFrame,
                   edges0: Option[DataFrame] = None) {

  /** Last compacted generation (at first the caller's frame, TMD
    * metadata columns added if it predates them), the load frames since
    * then, and the put buffer: every put's rows since then, as rows of
    * [[Engine.attrsSchema]] held on the driver — the in-memory component
    * the reference's FASTER store is to its checkpoints
    * (NodeAttrIndex.cs:183-232). Only mutators touch these, under
    * `lock`. */
  private var base: DataFrame = Engine.withMeta(attrs0)
  private var loads: Vector[DataFrame] = Vector.empty
  private var buffer: Vector[Row] = Vector.empty
  private var mutations = 0L
  private val lock = new Object
  /** Current attribute table: `base` merged with `loads` and `buffer` on
    * read. Readers take this snapshot without locking. */
  @volatile private var attrsDf: DataFrame = base
  /** Pre-derived edge view; invalidated by mutation. */
  @volatile private var edgesHint: Option[DataFrame] = edges0

  def nodes: DataFrame = attrsDf

  /** Run an AHGHEE `get` query; returns surviving attribute rows. */
  def query(q: String): DataFrame =
    StepCompiler.run(spark, attrsDf, AhgheeParser.parse(q), edgesHint)

  /** Run an AHGHEE `get` query and group the surviving rows into typed
    * Nodes — the reference's return shape (stream of Node messages,
    * types.proto:66-70; node assembly from fragments Tests.fs:354-373).
    * Attrs sort by (key, value) so Node equality is deterministic. */
  def getNodes(q: String): org.apache.spark.sql.Dataset[graft.ingest.Node] = {
    import spark.implicits._
    query(q)
      .groupBy("id")
      .agg(sort_array(collect_list(struct(
        col("key"), col("value"), col("ts"),
        col("key_meta"), col("value_meta")))).as("attrs"))
      .as[graft.ingest.Node]
  }

  /** Execute a whole AHGHEE script — any mix of `put` / `load` / `get`
    * statements in order (reference: AHGHEE.g4:5-9; the CLI REPL's
    * stream, Program.cs:25-228). Mutations apply as they appear; the
    * LAST `get`'s result is returned (empty frame if the script has no
    * get). */
  def run(script: String): DataFrame = {
    var last: Option[DataFrame] = None
    graft.lang.ScriptRunner.parse(script).foreach { st =>
      runStatement(st).foreach(df => last = Some(df))
    }
    last.getOrElse(Engine.emptyAttrs(spark).drop("graph"))
  }

  /** Execute one parsed statement; Some(result) for a `get`. */
  def runStatement(st: graft.lang.ScriptRunner.Statement): Option[DataFrame] = {
    import graft.lang.ScriptRunner._
    st match {
      case PutStmt(text) => put(text); None
      case LoadStmt("graphml", path) =>
        load(graft.ingest.GraphMlReader.read(spark, path)); None
      case LoadStmt(_, path) =>
        load(graft.ingest.NTriplesReader.read(spark, path)); None
      case GetStmt(q) =>
        Some(StepCompiler.run(spark, attrsDf, q, edgesHint))
    }
  }

  /** Ingest AHGHEE `put` literals: append + merge-dedup keeping the
    * first-write timestamp (reference FileStore.fs:82-89 stamps at
    * write; NodeAttrIndex.cs:221 dedups identical attributes). The
    * parsed rows, stamped `ts`, join the driver-held put buffer: a put
    * builds no Dataset and runs no job, except the every-8th compaction
    * (see [[load]]). */
  def put(script: String, ts: Long = 0L): Engine = {
    val rows = AhgheePut.parse(script).map(Engine.row(_, ts))
    lock.synchronized {
      buffer ++= rows
      mutated()
    }
    this
  }

  /** Ingest pre-parsed attribute rows (the N-Triples / GraphML readers'
    * output) — the `Load` half of the reference service quartet
    * (types.proto:231-239). Metadata rides along: `@lang` / `^^<type>`
    * in value_meta, `^"key"` references in key_meta.
    *
    * Merge-on-read, as the reference merges fragments and compacts on a
    * cadence (NodeAttrIndex.cs:74,115-121): a load appends its frame to
    * `loads`, a put its rows to the buffer, and the table reads as ONE
    * union over `base +: loads :+ buffer` under one dedup aggregate; all
    * buffered puts are one `LocalRelation` branch. A point read's
    * literal id predicate pushes below the aggregate into every branch.
    * Every 8th mutation (put or load) compacts: `base` becomes the
    * merged table, localCheckpoint'ed and marked distinct
    * ([[graft.plans.DistinctGeneration]]), and the frames and the
    * buffer are cleared. A read whose id predicate empties every other
    * branch then plans no aggregate at all — a filtered scan of the
    * generation, one job; a read that reaches a pending put keeps the
    * aggregate (min ts). Mutators serialize on the engine's lock, so
    * concurrent puts never lose one another's rows. */
  def load(rows: org.apache.spark.sql.Dataset[graft.ingest.AttrRow],
           ts: Long = 0L): Engine = {
    val fresh = rows.toDF()
      .select(lit("").as("graph"), col("id"), col("key"),
        col("value").cast(Value.schema).as("value"),
        lit(ts).as("ts"),
        col("key_meta").cast(Value.schema).as("key_meta"),
        col("value_meta").cast(Value.schema).as("value_meta"))
    lock.synchronized {
      loads :+= fresh
      mutated()
    }
    this
  }

  /** Count a mutation, compact on every 8th, publish; under `lock`. */
  private def mutated(): Unit = {
    mutations += 1
    if (mutations % 8 == 0) commit(merged)
    publish()
  }

  /** `base`, `loads` and the put buffer under one dedup; under `lock`. */
  private def merged: DataFrame = Engine.dedup((base +: loads) ++
    Option.when(buffer.nonEmpty)(
      spark.createDataFrame(buffer.asJava, Engine.attrsSchema)))

  /** Make `gen` the compacted generation; under `lock`. */
  private def commit(gen: DataFrame): Unit = {
    base = Engine.generation(gen)
    loads = Vector.empty
    buffer = Vector.empty
  }

  /** Expose the merged table to readers; called under `lock`. */
  private def publish(): Unit = {
    attrsDf = if (loads.isEmpty && buffer.isEmpty) base else merged
    edgesHint = None // graph mutated — derive edges from attrs again
  }

  /** Continuous put: stream an N-Triples directory into the graph, one
    * `load` per micro-batch — the reference's chunked `Load` with
    * backpressure and a progress stream (WatService.cs:241-300;
    * `maxFilesPerTrigger` ≙ the bounded Channel(1000); the returned
    * query's `recentProgress` holds one entry per micro-batch, which
    * `/load?stream=progress` relays). AvailableNow
    * drains everything present, then terminates — callers wanting a
    * forever-tailing load pass a ProcessingTime trigger instead. */
  def loadStream(dir: String, maxFilesPerTrigger: Int = 10,
                 trigger: org.apache.spark.sql.streaming.Trigger =
                   org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.ingest.NTriplesReader
      .stream(spark, dir, maxFilesPerTrigger = maxFilesPerTrigger)
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[graft.ingest.AttrRow],
         _: Long) =>
          // materialize INSIDE the micro-batch: the merge consumes the
          // rows lazily, and an unexecuted batch would read its source
          // after the trigger (fine for files, wrong for queues) and
          // report numInputRows=0 to the progress stream
          load(batch.localCheckpoint()); ()
      }
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_load_ck").toString)
      .trigger(trigger)
      .start()

  /** Merge two attribute frames — [[Engine.dedup]] of the pair. */
  def merge(a: DataFrame, b: DataFrame): DataFrame = Engine.dedup(Seq(a, b))

  /** Register the graph as SQL temp views (`graft_nodes` long-form
    * attrs, `graft_edges`) so `spark.sql("SELECT ...")` composes with
    * the full relational surface over the same data. Re-call after
    * mutations to refresh the snapshot the views capture. */
  def registerViews(prefix: String = "graft"): Engine = {
    attrsDf.createOrReplaceTempView(s"${prefix}_nodes")
    edgesView.createOrReplaceTempView(s"${prefix}_edges")
    this
  }

  private def edgesView: DataFrame = edgesHint.getOrElse(
    attrsDf.where(col("value.vtype") === Value.NODEID)
      .select(col("id").as("src_id"), col("key").as("label"),
        col("value.iri").as("dst_id")))

  /** Graph statistics in one aggregate pass — the reference's
    * GetStats/ListStats surface (types.proto:231-239;
    * FileStore.fs:415-485 serializes its registry the same way):
    * long-form [stat, value] rows for attrs / nodes / keys / edges. */
  def stats: DataFrame = {
    attrsDf.agg(
      count(lit(1)).as("attrs"),
      countDistinct(col("id")).as("nodes"),
      countDistinct(col("key")).as("keys"),
      sum(when(col("value.vtype") === Value.NODEID, 1L).otherwise(0L))
        .as("edges"))
      .select(explode(map(
        lit("attrs"), col("attrs"),
        lit("edges"), coalesce(col("edges"), lit(0L)),
        lit("keys"), col("keys"),
        lit("nodes"), col("nodes"))).as(Seq("stat", "value")))
  }

  /** Latest value per (id, key) — the printer's "current" view. */
  def current: DataFrame = {
    val w = Window.partitionBy("id", "key")
      .orderBy(col("ts").desc, Value.sortKey(col("value")).desc)
    attrsDf.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
  }

  /** All versions ordered by write time — the "history" view. */
  def history: DataFrame = attrsDf.orderBy("id", "key", "ts")

  /** First node matching a query (reference First,
    * MemoryStore.fs:38-43): the id of the first surviving node in id
    * order plus its attributes. */
  def first(q: String): Option[DataFrame] = {
    val res = query(q)
    // collect ONLY the winning id (one bounded job), then read it by
    // literal id: the predicate prunes the scan like a point get
    res.select("id").orderBy("id").limit(1).collect().headOption
      .map(r => res.where(col("id") === r.getString(0)))
  }

  /** Export a query's surviving subgraph as N-Triples text files —
    * the write half of `load` (default: the whole graph). */
  def export(path: String, q: String = """get "*""""): Engine = {
    graft.ingest.NTriplesWriter.write(query(q), path)
    this
  }

  /** Delete nodes by id (reference Remove, MemoryStore.fs:18-22): the
    * merged table without them becomes the new compacted generation, so
    * later reads do not re-run the pending merge. */
  def remove(ids: Seq[String]): Engine = {
    lock.synchronized {
      commit(merged.where(!col("id").isInCollection(ids)))
      publish()
    }
    this
  }
}

object Engine {
  /** Engine over the bucketed graph store of a testdata dir: point
    * lookups and traversal hops filter a literal id column (pushdown +
    * bucket pruning), and id-joins co-locate on the bucket hash. The
    * store scan is the first `base` generation, so until the first
    * compaction reads prune through the merge into the scan.
    * Registers the `graft_nodes`/`graft_edges` SQL views so
    * `spark.sql` composes with the relational surface immediately
    * (latest forDir wins the names; call registerViews(prefix) for
    * several engines side by side). */
  def forDir(spark: SparkSession, dir: String): Engine =
    new Engine(spark, graft.sources.GraphStore.nodesAttrs(spark, dir),
      Some(graft.sources.GraphStore.edges(spark, dir)
        .select("src_id", "label", "dst_id")))
      .registerViews()

  /** Engine over an empty graph — populated purely by put/load. */
  def forEmpty(spark: SparkSession): Engine =
    new Engine(spark, emptyAttrs(spark))

  /** Full nodes_attrs schema including the TMD metadata columns. */
  val attrsSchema: StructType = StructType(Seq(
    StructField("graph", StringType),
    StructField("id", StringType),
    StructField("key", StringType),
    StructField("value", Value.schema),
    StructField("ts", LongType),
    StructField("key_meta", Value.schema),
    StructField("value_meta", Value.schema)))

  /** One parsed attribute as a row of [[attrsSchema]], stamped `ts` —
    * the row `load` makes of it (graph "", the VALUE structs
    * positional). */
  private def row(a: AttrRow, ts: Long): Row =
    Row("", a.id, a.key, value(a.value), ts,
      a.key_meta.map(value).orNull, a.value_meta.map(value).orNull)

  private def value(v: ValueRow): Row =
    Row(v.vtype, v.str.orNull, v.i64.getOrElse(null), v.num.getOrElse(null),
      v.b.getOrElse(null), v.iri.orNull, v.type_iri.orNull, v.bytes.orNull)

  /** An empty attribute table — the seed for an Engine populated purely
    * by put/load. */
  def emptyAttrs(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), attrsSchema)

  /** Merge-on-read dedup over attribute frames: identical (id,
    * key+key_meta, value+value_meta) keeps min ts — one union, one
    * aggregate however many frames. Metadata is part of the dedup key —
    * the reference compares whole TMD pairs (NodeAttrIndex.cs:221), so
    * `"x"@en` and `"x"@fr` are distinct attributes. */
  def dedup(frames: Seq[DataFrame]): DataFrame =
    frames.map(withMeta).reduce(_ unionByName _)
      .groupBy(dedupKey.map(col): _*)
      .agg(min("ts").as("ts"))

  private val dedupKey =
    Seq("graph", "id", "key", "key_meta", "value", "value_meta")

  /** A compacted generation: `merged` (a [[dedup]] output, or rows of
    * one) materialized and marked distinct on the dedup key, so a
    * later merge over it alone plans as a projection. */
  private def generation(merged: DataFrame): DataFrame =
    graft.plans.DistinctGeneration.mark(merged.localCheckpoint(), dedupKey)

  /** Add NULL TMD metadata columns to a pre-metadata attribute frame so
    * old and new schemas merge byName. */
  def withMeta(df: DataFrame): DataFrame = {
    var out = df
    if (!out.columns.contains("key_meta"))
      out = out.withColumn("key_meta", Value.nullValue)
    if (!out.columns.contains("value_meta"))
      out = out.withColumn("value_meta", Value.nullValue)
    out
  }
}
