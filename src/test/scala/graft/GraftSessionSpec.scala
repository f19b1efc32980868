package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The session policy lives in one place: [[GraftSession]] is the only
  * SparkSession builder under `src/`, and the suite runs under exactly
  * the settings that ship. The scratch policy too: streams take their
  * scratch directories from [[graft.stream.StreamRunner.scratchDir]],
  * and deleting them leaves the memoized fixtures alone. And the Hadoop
  * conf policy: the repo's file-system calls go through
  * [[GraftSession.hadoopConf]]. */
class GraftSessionSpec extends SparkSuite {

  /** Every path under `root`, `root` included. */
  private def walk(root: String): List[java.nio.file.Path] = {
    val paths = Files.walk(Paths.get(root))
    try paths.iterator().asScala.toList finally paths.close()
  }

  /** The files under `root` whose text contains `needle`, sorted. */
  private def filesContaining(root: String, needle: String): List[String] =
    walk(root).filter(Files.isRegularFile(_))
      .filter(p => new String(Files.readAllBytes(p), UTF_8).contains(needle))
      .map(_.toString).sorted

  test("GraftSession is the only SparkSession builder under src/") {
    // split so this file does not match itself
    assert(filesContaining("src", "SparkSession" + ".builder") ==
      List("src/main/scala/graft/GraftSession.scala"))
  }

  test("StreamRunner.scratchDir is the only temp-directory maker under src/main") {
    assert(filesContaining("src/main", "createTempDirectory") ==
      List("src/main/scala/graft/stream/StreamRunner.scala"))
  }

  test("the scratch root is named only in StreamRunner") {
    // split so this file does not match itself
    assert(filesContaining("src", "target/" + "stream-scratch") ==
      List("src/main/scala/graft/stream/StreamRunner.scala"))
  }

  test("under src/main only GraftSession.hadoopConf and Lineage read the context's Hadoop conf") {
    // the repo's own file-system calls take the session's conf
    assert(filesContaining("src/main", ".hadoopConfiguration") == List(
      "src/main/scala/graft/GraftSession.scala", "src/main/scala/graft/ops/Lineage.scala"))
  }

  test("deleteScratchDirs leaves no registered scratch dir and no fixture touched") {
    def fixtureTree() =
      walk("target/fixtures").map(p => p.toString -> p.toFile.lastModified).sorted
    graft.queries.StreamQueries.ensureLateChunks(spark, sf)
    val fixtures = fixtureTree()
    val mine = graft.stream.StreamRunner.scratchDir("scrub-")
    val scratch = new java.io.File(mine).getParentFile
    def listed() = Option(scratch.list()).getOrElse(Array.empty[String]).toSet
    val before = listed() - new java.io.File(mine).getName
    val nested = Files.createDirectories(Paths.get(mine, "a", "b"))
    Files.write(nested.resolve("f.txt"), "x".getBytes(UTF_8))
    SparkEntry.queries("st09_stream_asof_enrich")(spark, sf).collect()
    val made = listed() -- before
    assert(made.size >= 2, made)
    graft.stream.StreamRunner.deleteScratchDirs()
    assert((listed() intersect made).isEmpty)
    assert(fixtureTree() == fixtures)
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
