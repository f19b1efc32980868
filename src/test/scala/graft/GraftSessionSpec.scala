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

  test("no session-global conf pin under src/ wraps an await") {
    // split so this file does not match itself
    val pins = Seq("pinnedStatePartitions" + "(", "pinnedConf" + "(")
    val awaits = Seq("awaitTermination", "processAllAvailable")
    /** The argument lists of a call from its first `(`: `(args)`,
      * `(args)(body)` or `(args) { body }`, as text. */
    def callText(src: String, open: Int): String = {
      var end = open
      var next = open
      while (next < src.length && "({".contains(src(next))) {
        end = closing(src, next) + 1
        next = end
        while (next < src.length && src(next).isWhitespace) next += 1
      }
      src.substring(open, end)
    }
    /** The bracket closing the one at `open`, skipping string literals. */
    def closing(src: String, open: Int): Int = {
      var depth = 0
      var inString = false
      var i = open
      do {
        val c = src(i)
        if (inString) { if (c == '\\') i += 1 else if (c == '"') inString = false }
        else if (c == '"') inString = true
        else if ("({".contains(c)) depth += 1
        else if (")}".contains(c)) depth -= 1
        i += 1
      } while (depth > 0)
      i - 1
    }
    val walk = Files.walk(Paths.get("src"))
    val files = try walk.iterator().asScala.filter(p => p.toString.endsWith(".scala")).toList
    finally walk.close()
    val calls = for {
      file <- files
      src = new String(Files.readAllBytes(file), UTF_8)
      pin <- pins
      at <- Iterator.iterate(src.indexOf(pin))(i => src.indexOf(pin, i + 1)).takeWhile(_ >= 0)
    } yield (file.toString, callText(src, at + pin.length - 1))
    assert(calls.size >= 10, s"expected the pin's call sites, found ${calls.size}")
    val wrapped = calls.filter { case (_, text) => awaits.exists(text.contains) }
    assert(wrapped.isEmpty, wrapped.map { case (f, text) => s"$f: ${text.take(80)}" }
      .mkString("a pin wraps an await (pin start() alone):\n", "\n", ""))
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
