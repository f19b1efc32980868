package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs — one JVM-wide session, small local parallelism. */
object SparkSuite {
  // local[4] and 4 partitions whatever $SPARK_GRAFT_CPUS and
  // $SPARK_MASTER say, so results do not depend on the host
  lazy val spark: SparkSession =
    GraftSession(Some("graft-tests"), master = "local[4]", partitions = 4)

  val Sf = "/root/testdata/sf0.001"
}

abstract class SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSuite.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def sf: String = SparkSuite.Sf

  private val testDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** A fresh directory `target/test-dirs/<prefix>…` for a test's files;
    * every one a suite makes is deleted after the suite, so no run leaves
    * its files behind in the system temp dir. */
  protected def testDir(prefix: String): String = {
    val dir = Files.createTempDirectory(
      Files.createDirectories(Paths.get("target/test-dirs").toAbsolutePath), prefix).toString
    testDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try testDirs.forEach(dir => graft.stream.StreamRunner.deleteRecursively(new java.io.File(dir)))
    finally super.afterAll()

  /** Total shuffle-write records observed while `body` runs (listener-bus
    * events are async, so poll until the counter is stable). Shared by
    * the probe-shuffle pins (DedupSpec, StreamSpec). */
  protected def shuffleRecords(body: => Unit): Long = {
    val recs = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics)
          .foreach(m => recs.addAndGet(m.shuffleWriteMetrics.recordsWritten): Unit)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var prev = -1L
      var cur = recs.get()
      var spins = 0
      while (cur != prev && spins < 50) {
        prev = cur; Thread.sleep(200); cur = recs.get(); spins += 1
      }
      cur
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
