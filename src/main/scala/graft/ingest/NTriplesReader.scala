package graft.ingest

import org.apache.spark.sql.{Dataset, SparkSession}

/** RDF N-Triples source (reference: grammar src/cli-grammer/
  * NTRIPLES.g4:5-29; triple→node mapping src/server/
  * ContextExtensions.cs:50-119):
  *
  *  - `<s> <p> <o> .` with IRI object → edge (nodeid value);
  *  - plain literal → string value;
  *  - `"lit"^^<type>` → value with metadata = nodeid(type IRI);
  *  - `"lit"@lang` → value with metadata = str("lang:@xx");
  *  - `_:b` blank nodes → ids under `_:`.
  *
  * Line-oriented ⇒ splittable: `spark.read.textFile` parallelizes by
  * HDFS block, so a 100 TB .nt corpus fans out across the cluster
  * (unlike the reference's single-reader 81920-byte chunk loop,
  * WatService.cs:241-300 — Spark's split-per-block subsumes it).
  */
object NTriplesReader {

  /** Read N-Triples from a file/dir/glob path or an http(s) URL
    * (reference: `load nt "<url>"`, WatService.cs:216-239 accepts both).
    * A URL is spooled to a local temp file first — the network leg is a
    * single stream either way (the reference reads the response in
    * 81920-byte chunks, WatService.cs:241-260) — and parsing then fans
    * out over the spooled file's blocks like any other path. */
  def read(spark: SparkSession, path: String, graph: String = ""): Dataset[AttrRow] = {
    import spark.implicits._
    spark.read.textFile(localize(path)).flatMap(line => parseLine(line, graph))
  }

  /** Pass a filesystem path through; spool an http(s) URL to a local
    * temp file (shared by the N-Triples and GraphML readers). */
  private[ingest] def localize(path: String): String =
    if (path.startsWith("http://") || path.startsWith("https://")) spool(path)
    else path

  /** Continuous N-Triples load over a directory — files appearing in
    * `dir` stream through the parser as micro-batches.
    * `maxFilesPerTrigger` bounds each batch (the backpressure analog of
    * the reference's Channel(1000) between reader and writer,
    * FileStorePartition.fs:26); progress/cancellation ride Structured
    * Streaming: the started query's `recentProgress` is the reference's
    * progress stream (WatService.cs:262-291), stop() the query to
    * cancel. */
  def stream(spark: SparkSession, dir: String, graph: String = "",
             maxFilesPerTrigger: Int = 10): Dataset[AttrRow] = {
    import spark.implicits._
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .textFile(dir)
      .flatMap(line => parseLine(line, graph))
  }

  /** Download a URL to a local temp file (driver-side, single stream). */
  private def spool(url: String): String = {
    val tmp = java.nio.file.Files.createTempFile("graft_nt_", ".nt")
    val in = new java.net.URI(url).toURL.openStream()
    try java.nio.file.Files.copy(in, tmp,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    tmp.toFile.deleteOnExit()
    tmp.toString
  }

  private val Iri = """<([^>]*)>""".r

  /** Parse one N-Triples line (returns empty for comments/blanks). */
  def parseLine(line0: String, graph: String = ""): Option[AttrRow] = {
    val line = line0.trim
    if (line.isEmpty || line.startsWith("#")) return None

    // subject: IRI or blank node
    val (subj, rest1) = takeTerm(line)
    val (pred, rest2) = takeTerm(rest1)
    val objPart = rest2.trim.stripSuffix(".").trim
    val subjIri = termId(subj)
    val predIri = termId(pred)

    val value2 =
      if (objPart.startsWith("<") || objPart.startsWith("_:"))
        (ValueRow.nodeid(termId(objPart)), None)
      else parseLiteral(objPart)

    Some(AttrRow(graph, subjIri, predIri, value2._1, 0L, value2._2))
  }

  /** Split off the first term (IRI, blank node, or literal). */
  private def takeTerm(s0: String): (String, String) = {
    val s = s0.trim
    if (s.startsWith("<")) {
      val i = s.indexOf('>')
      (s.substring(0, i + 1), s.substring(i + 1))
    } else {
      val i = s.indexOf(' ')
      if (i < 0) (s, "") else (s.substring(0, i), s.substring(i + 1))
    }
  }

  private def termId(t: String): String = t match {
    case Iri(iri) => iri
    case b => b // blank node id, keep the _: prefix
  }

  /** `"lit"`, `"lit"^^<type>`, `"lit"@lang` → (value, value_meta).
    * (metadata mapping ContextExtensions.cs:70-102) */
  def parseLiteral(s: String): (ValueRow, Option[ValueRow]) = {
    val endQuote = s.lastIndexOf('"')
    val lit = unescape(s.substring(1, endQuote))
    val suffix = s.substring(endQuote + 1).trim
    if (suffix.startsWith("^^")) {
      val typeIri = termId(suffix.substring(2).trim)
      (ValueRow.str(lit), Some(ValueRow.nodeid(typeIri)))
    } else if (suffix.startsWith("@")) {
      (ValueRow.str(lit), Some(ValueRow.str("lang:" + suffix)))
    } else (ValueRow.str(lit), None)
  }

  private def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\n", "\n").replace("\\t", "\t")
      .replace("\\r", "\r").replace("\\\\", "\\")
}
