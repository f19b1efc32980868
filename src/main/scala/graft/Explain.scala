package graft

/** Plan audit: print the formatted physical plan of catalog queries
  * without executing them (streaming-harness queries execute their
  * streaming leg to produce a result table, so their inner plan is
  * audited via the Spark UI / StreamSpec instead).
  *
  * Usage: `runMain graft.Explain [sfDir] [queryName ...]` — no names =
  * all batch queries.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    names.filterNot(_.startsWith("st")).foreach { name =>
      println(s"\n========== $name ==========")
      try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"(explain failed: ${e.getMessage})") }
    }
    spark.stop()
  }
}
