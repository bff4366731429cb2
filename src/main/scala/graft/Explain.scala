package graft

/** Plan-inspection utility: prints the formatted physical plan of the
  * named registry queries (all relational ones by default). Used to
  * check that filters/projections reach the parquet scan
  * (PushedFilters/ReadSchema), small dims broadcast, and hot paths sit
  * inside WholeStageCodegen spans — the 100 TB checklist.
  *
  *   sbt "runMain graft.Explain [sfDir] [name...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.filter(_.startsWith("q")).toSeq.sorted
    val spark = Session.build()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"(failed: ${e.getMessage})") }
    }
    spark.stop()
  }
}
