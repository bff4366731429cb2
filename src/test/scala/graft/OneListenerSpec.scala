package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every listener on Spark's buses lives in `graft/QueryStats.scala`:
  * a second SparkListener, StreamingQueryListener or
  * QueryExecutionListener in the main sources fails here, so the
  * profiler, the server and the ingest path keep reading one record. */
class OneListenerSpec extends AnyFunSuite {

  private val listener =
    ("""\b(extends|with|new)\s+([\w.]+\.)?(SparkListener|""" +
      """StreamingQueryListener|QueryExecutionListener)\b|""" +
      """\bQueryExecutionListener\b|addSparkListener|""" +
      """listenerManager\.register|streams\.addListener""").r

  test("only graft/QueryStats.scala declares or registers a listener") {
    val main = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(main), s"no main sources under $main")
    val sources = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50, sources.size)
    def hits(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq
      .zipWithIndex.collect {
        case (l, i) if listener.findFirstIn(l).nonEmpty => s"${main.relativize(p)}:${i + 1}: $l"
      }
    val found = sources.flatMap(hits)
    assert(found.nonEmpty && found.forall(_.startsWith("graft/QueryStats.scala:")),
      found.mkString("\n"))
  }
}
