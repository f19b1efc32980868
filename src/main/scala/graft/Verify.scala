package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name prefixes — dev spot-checks
    // of a few queries without paying for the full catalog (the driver
    // always calls with 2 args = everything)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] = args.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(name: String) = only.forall(_.exists(name.startsWith))
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A failing query must be *visible*, not vanish from the report: record
    // every failure in errors.json and exit nonzero so the gate can't pass
    // with silently-missing results (round-1 lesson: tx07's overflow was
    // swallowed here and never reached CORRECTNESS).
    val failures = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => wanted(kv._1)).flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        Some(name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Same wanted() filter as the result dump: a prefix-filtered dev run
    // must emit a matching oracle set, or the DuckDB compare reports
    // every unselected query as missing results.
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries failed — see $outDir/errors.json")
      sys.exit(1)
    }
  }
}
