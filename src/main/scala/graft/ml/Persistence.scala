package graft.ml

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Model + threshold artifact persistence — the reference's
  * train→save→load→score contract (model dirs at `train.scala:42` loaded at
  * `InvoicePipeline.scala:178-193`; one-line threshold text file written at
  * `Clustering.scala:138-144` and re-read with
  * `sc.textFile(file).map(_.toDouble).first()`).
  *
  * Models use the `spark.ml` writer (parquet + JSON metadata — a
  * distributed artifact readable by any cluster). The threshold is a
  * driver-side scalar, so it is plain file IO here, not a 20-partition
  * Spark job like the reference (`InvoicePipeline.scala:180` — 20
  * partitions for a one-line file is pure overhead). That IO goes through
  * the Hadoop FileSystem of the path, as the model writer's does, so a
  * threshold sits next to its model on `file:`, `hdfs:` or any other
  * scheme.
  */
object Persistence {

  def saveThreshold(path: String, threshold: Double): Unit = {
    val p = new Path(path)
    val out = p.getFileSystem(hadoopConf).create(p, true) // makes the parents
    try out.write(threshold.toString.getBytes(UTF_8))
    finally out.close()
  }

  def loadThreshold(path: String): Double = {
    val p = new Path(path)
    val in = p.getFileSystem(hadoopConf).open(p)
    try new String(in.readAllBytes(), UTF_8).trim.toDouble
    finally in.close()
  }

  /** The running session's Hadoop settings (cluster file systems,
    * credentials), or the defaults outside one. */
  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(new Configuration())(_.sparkContext.hadoopConfiguration)

  /** Where session-local model artifacts live (scratch, not checked in). */
  def artifactDir(key: String): String =
    new java.io.File(s"target/models/${key.replaceAll("[^A-Za-z0-9._-]", "_")}")
      .getAbsolutePath
}
