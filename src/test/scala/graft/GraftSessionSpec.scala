package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The session policy lives in one place: [[GraftSession]] is the only
  * SparkSession builder under `src/`, and the suite runs under exactly
  * the settings that ship. */
class GraftSessionSpec extends SparkSuite {

  test("GraftSession is the only SparkSession builder under src/") {
    // split so this file does not match itself
    val needle = "SparkSession" + ".builder"
    val walk = Files.walk(Paths.get("src"))
    val hits = try walk.iterator().asScala
      .filter(Files.isRegularFile(_))
      .filter(p => new String(Files.readAllBytes(p), UTF_8).contains(needle))
      .map(_.toString).toList.sorted
    finally walk.close()
    assert(hits == List("src/main/scala/graft/GraftSession.scala"))
  }

  test("the suite's session runs under the shipped settings with N = 4") {
    val expected = Seq(
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.graft.textMetaRewrite" -> "true",
      "spark.sql.adaptive.enabled" -> "true")
    assert(GraftSession.settings(4) == expected)
    // the creation-time conf: specs may change runtime SQL confs
    val conf = spark.sparkContext.getConf
    expected.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    assert(spark.sparkContext.master == "local[4]")
  }
}
