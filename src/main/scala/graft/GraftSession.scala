package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main and the test suite build
  * their session here, so they all run under the same session policy
  * ([[settings]]) and the settings the tests run under are the ones
  * that ship.
  *
  * The master is `$SPARK_MASTER` when set, else `local[N]` with N =
  * [[cpus]]; N also sets the shuffle partition count.
  */
object GraftSession {

  /** `$SPARK_GRAFT_CPUS`, default 4: local parallelism and shuffle
    * partitions. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** The session policy for `partitions` shuffle partitions (pinned in
    * GraftSessionSpec). */
  def settings(partitions: Int): Seq[(String, String)] = Seq(
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.shuffle.partitions" -> partitions.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // events.ts may be parquet TIMESTAMP(NANOS), which Spark only reads
    // as a long under this conf — Tables.events converts it back to a
    // timestamp column
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.graft.textMetaRewrite" -> "true",
    "spark.sql.adaptive.enabled" -> "true")

  def apply(appName: Option[String] = None,
            master: String = sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"),
            partitions: Int = cpus): SparkSession = {
    val builder = settings(partitions).foldLeft(SparkSession.builder().master(master)) {
      case (b, (k, v)) => b.config(k, v)
    }
    appName.fold(builder)(builder.appName).getOrCreate()
  }
}
