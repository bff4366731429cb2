package graft

import java.io.{BufferedReader, PrintWriter}

import org.apache.spark.sql.functions._

import graft.api.Engine
import graft.lang.ScriptRunner
import graft.model.Value

/** Interactive REPL — the reference CLI's `wat>` loop (reference:
  * src/cli/Program.cs:25-228: prompt, statement stream, `status>` lines
  * with wall time, simple node printing via Printers.cs). Statements
  * buffer until braces/quotes close, then execute through the same
  * ScriptRunner/Engine path as scripts; `get` results STREAM to the
  * console via toLocalIterator (partition at a time, like the gRPC
  * result stream), grouped per node.
  *
  * Usage: runMain graft.Cli [sfDir|-] [script.wat]
  *   sfDir       → engine over that dir's bucketed graph store;
  *   `-` or none → empty graph (populate via put/load);
  *   script.wat  → executed before the prompt (the reference CLI reads
  *                 ./testscript.wat at startup, Program.cs:95).
  * `exit` / ctrl-D quits.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    val spark = Session.build()
    spark.sparkContext.setLogLevel("ERROR")
    val engine = args.headOption match {
      case Some(dir) if dir != "-" => Engine.forDir(spark, dir)
      case _ => Engine.forEmpty(spark)
    }
    val out = new PrintWriter(System.out, true)
    args.drop(1).headOption.foreach { script =>
      out.println(s"executing $script ...")
      execute(engine, java.nio.file.Files.readString(
        java.nio.file.Paths.get(script)), out)
    }
    out.println("graft interactive — put / get / load, 'exit' to quit")
    repl(engine,
      new BufferedReader(new java.io.InputStreamReader(System.in)), out)
    spark.stop()
  }

  /** The loop, with injectable streams so specs can drive it. */
  def repl(engine: Engine, in: BufferedReader, out: PrintWriter): Unit = {
    val buf = new StringBuilder
    out.print("wat> "); out.flush()
    var line = in.readLine()
    while (line != null && line.trim != "exit") {
      buf.append(line).append('\n')
      if (complete(buf.toString)) {
        execute(engine, buf.toString, out)
        buf.clear()
        out.print("wat> "); out.flush()
      } else {
        out.print("...> "); out.flush()
      }
      line = in.readLine()
    }
  }

  /** A buffer is executable when quotes and braces are closed — and,
    * for a `sql` statement, when parentheses balance too (multi-line
    * subqueries keep the continuation prompt open). */
  private[graft] def complete(s: String): Boolean = {
    var depth = 0
    var parens = 0
    var inStr = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        if (c == '\\') i += 1 else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => depth += 1
        case '}' => depth -= 1
        case '(' => parens += 1
        case ')' => parens -= 1
        case '#' => while (i < s.length && s.charAt(i) != '\n') i += 1
        case _ =>
      }
      i += 1
    }
    !inStr && depth <= 0 &&
      (!s.trim.startsWith("sql") || parens <= 0)
  }

  private val ExportCmd = """(?s)export\s+"([^"]+)"\s*(.*)""".r
  private val SqlCmd = """(?s)sql\s+(.+)""".r

  private def execute(engine: Engine, text: String, out: PrintWriter): Unit = {
    if (text.trim.isEmpty) return
    text.trim match {
      case ExportCmd(path, rest) =>
        // export "dir" [get ...] — subgraph leaves as N-Triples
        val t0 = System.nanoTime()
        try {
          val q = if (rest.trim.isEmpty) """get "*"""" else rest.trim
          engine.export(path, q)
          out.println(
            s"status> export.done $path in ${(System.nanoTime() - t0) / 1000000}ms")
        } catch {
          case e: Exception => out.println(s"status> err(${e.getMessage})")
        }
        return
      case SqlCmd(stmt) =>
        // sql <statement> — the analytics surface at the prompt
        // (temp views + parquet paths + the hint-marked custom-operator
        // tier); rows stream via toLocalIterator, never collected
        val t0 = System.nanoTime()
        try {
          val df = engine.spark.sql(stmt)
          val cols = df.columns
          out.println(s"cols> ${cols.mkString(", ")}")
          val it = df.toLocalIterator()
          var n = 0
          while (it.hasNext) {
            val r = it.next()
            out.println(s"row> " + cols.indices.map { i =>
              if (r.isNullAt(i)) "null" else r.get(i).toString
            }.mkString(", "))
            n += 1
          }
          out.println(s"status> sql.done $n rows in " +
            s"${(System.nanoTime() - t0) / 1000000}ms")
        } catch {
          case e: Exception => out.println(s"status> err(${e.getMessage})")
        }
        return
      case _ =>
    }
    try ScriptRunner.parse(text).foreach { st =>
      val t0 = System.nanoTime()
      def ms = (System.nanoTime() - t0) / 1000000
      engine.runStatement(st) match {
        case None =>
          val kind = st match {
            case _: ScriptRunner.PutStmt => "put"
            case ScriptRunner.LoadStmt(f, p) => s"load $f $p"
            case _ => "?"
          }
          out.println(s"status> $kind.done in ${ms}ms")
        case Some(df) =>
          // stream, grouped per node (Printers.cs simple mode shape)
          val it = df
            .select(col("id"), col("key"), Value.render(col("value")).as("v"))
            .orderBy("id", "key").toLocalIterator()
          var lastId: String = null
          var n = 0
          while (it.hasNext) {
            val r = it.next()
            if (r.getString(0) != lastId) {
              lastId = r.getString(0)
              out.println(s"node> $lastId")
              n += 1
            }
            out.println(s"  ${r.getString(1)}: ${r.getString(2)}")
          }
          out.println(s"status> get.done $n nodes in ${ms}ms")
      }
    } catch {
      case e: Exception => out.println(s"status> err(${e.getMessage})")
    }
  }
}
