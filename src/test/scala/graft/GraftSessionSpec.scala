package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The session policy lives in one place: [[GraftSession]] is the only
  * SparkSession builder under `src/`, and the suite runs under exactly
  * the settings that ship. The scratch policy too: streams take their
  * scratch directories from [[graft.stream.StreamRunner.scratchDir]]. */
class GraftSessionSpec extends SparkSuite {

  /** The files under `root` whose text contains `needle`, sorted. */
  private def filesContaining(root: String, needle: String): List[String] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala
      .filter(Files.isRegularFile(_))
      .filter(p => new String(Files.readAllBytes(p), UTF_8).contains(needle))
      .map(_.toString).toList.sorted
    finally walk.close()
  }

  test("GraftSession is the only SparkSession builder under src/") {
    // split so this file does not match itself
    assert(filesContaining("src", "SparkSession" + ".builder") ==
      List("src/main/scala/graft/GraftSession.scala"))
  }

  test("StreamRunner.scratchDir is the only temp-directory maker under src/main") {
    assert(filesContaining("src/main", "createTempDirectory") ==
      List("src/main/scala/graft/stream/StreamRunner.scala"))
  }

  test("catalog streams leave no checkpoint in the system temp dir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def leaked() = Option(tmp.list()).getOrElse(Array.empty[String])
      .count(_.startsWith("graft-ckpt-"))
    val before = leaked()
    Seq("st09_stream_asof_enrich", "st22_stream_quarantine")
      .foreach(name => SparkEntry.queries(name)(spark, sf).collect())
    assert(leaked() == before)
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
