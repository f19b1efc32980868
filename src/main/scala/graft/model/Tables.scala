package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's parquet testdata (TESTDATA.md).
  *
  * Plain `spark.read.parquet` — the vectorized parquet reader plus
  * Catalyst column pruning / predicate pushdown handle projection and
  * selection at the scan, which is the behavior that matters at 100 TB
  * (never read columns or row groups a query doesn't need).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` is parquet TIMESTAMP(NANOS). Depending on
    * `spark.sql.legacy.parquet.nanosAsLong` (set by Verify/Bench/tests —
    * but resolved through the THREAD-LOCAL `SQLConf.get` during parquet
    * schema conversion, so a reader thread without an active session can
    * silently see the default instead) the scan yields either a raw nanos
    * long or a TIMESTAMP_NTZ. Normalize BOTH to a microsecond
    * TimestampType here so every query sees the same column type
    * regardless of which thread first resolved the schema:
    *  - long: exact integer division nanos→micros;
    *  - NTZ: cast, which interprets the naive value in the session
    *    timezone — pinned UTC everywhere in this repo, so the instant
    *    (and the micros truncation the NANOS→NTZ read already did)
    *    matches the long path bit-for-bit.
    *
    * CAVEAT: TimestampType is session-timezone-sensitive, so
    * hour()/date_trunc/window results depend on
    * `spark.sql.session.timeZone` — every entry point in this repo pins
    * UTC (matching DuckDB's naive timestamps); a new entry point that
    * forgets the pin shifts every time-derived result. */
  private def nanosToTimestamp(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(c, org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr(s"$c div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(c, df(c).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame =
    nanosToTimestamp(table(spark, dir, "events"), "ts")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** The identity of the file or directory tree at `path`: SHA-256 of the
    * sorted (path, length, mtime) listing of every file under it, taken
    * with plain filesystem stats (no Spark job). The one key for every
    * memo over on-disk data: the testdata is regenerated IN PLACE between
    * runs, so a memo keyed by the path alone would serve the old files'
    * results against the new files. Files are listed, not the directory
    * status — a dir's length is filesystem-dependent and its mtime only
    * moves when entries are added or removed, so an in-place rewrite of
    * same-named part files would not rotate the key. */
  def fingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = graft.GraftSession.fileSystem(spark, p)
    def walk(path: org.apache.hadoop.fs.Path): Seq[String] = {
      val st = fs.getFileStatus(path)
      if (st.isDirectory) fs.listStatus(path).toSeq.flatMap(c => walk(c.getPath))
      else Seq(s"${st.getPath}|${st.getLen}|${st.getModificationTime}")
    }
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(walk(p).sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }
}
