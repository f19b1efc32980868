package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Streaming sources (reference S4, `InvoicePipeline.scala:198-204`).
  *
  * The reference consumes a receiver-based Kafka 0.8 DStream of
  * `(key, value)` string pairs. The modern equivalents here:
  *
  *  - [[kafkaShaped]] — the production path: Direct, offset-tracked
  *    `readStream.format("kafka")`, cast to the same `(key, value)` string
  *    pair shape. Requires a broker; not exercisable in this sandbox.
  *  - [[parquetStream]] — a file-based streaming source over the driver
  *    testdata, used by the batch-equivalence queries (each table is one
  *    file, so `Trigger.AvailableNow` processes it as exactly one
  *    micro-batch — the single-batch replay that makes streaming output
  *    comparable to a batch oracle).
  *  - `MemoryStream` (tests) — multi-batch state/timeout semantics are
  *    pinned in StreamSpec, where batch boundaries must be explicit.
  */
object StreamSources {

  /** Kafka source in the reference's `(key, value)` string shape. */
  def kafkaShaped(spark: SparkSession, brokers: String, topic: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .load()
      .selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")

  /** File streaming source over one driver-testdata parquet table. The
    * table is a single file, so the path is wrapped in a `{...}` glob —
    * the file streaming source requires a directory or glob (its basePath
    * must be a directory), and the glob form scopes basePath to `dir`
    * while matching exactly this file. */
  def parquetStream(spark: SparkSession, dir: String, name: String,
                    schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(s"$dir/{$name}.parquet")

  /** Micros-per-unit of the raw INT64 `events.ts` read, detected ONCE per
    * dir from the parquet footer (streaming sources need the schema fixed
    * up front, so the branch happens driver-side):
    *  - TIMESTAMP(NANOS) layout — surfaced as a raw nanos long under
    *    `nanosAsLong` (every entry point sets it) — divide by 1000;
    *  - TIMESTAMP(MICROS) layout (the reader yields TIMESTAMP_NTZ by
    *    default, and an explicit LongType schema yields the micros
    *    directly) — divide by 1.
    * The testdata has shipped BOTH layouts across driver rounds; a reader
    * hard-coded to either one shifts every event into 1970 (micros read
    * as nanos) or year ~56k (nanos read as micros) on the other. */
  private val eventsTsDivisor = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[graft] def tsDivisor(spark: SparkSession, dir: String): Long = {
    // The cache key carries the file's fingerprint, not the dir alone:
    // the testdata is regenerated in place between runs, and a
    // JVM-lifetime cache keyed by dir would keep serving the OLD layout's
    // divisor — silently shifting every streamed event by 1000× (1970 or
    // year ~56k) — instead of re-detecting from the new footer.
    val key = s"$dir|${graft.model.Tables.fingerprint(spark, s"$dir/events.parquet")}"
    eventsTsDivisor.computeIfAbsent(key, _ =>
      spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType match {
        case LongType => 1000L
        case _ => 1L
      })
  }

  /** `events` as a stream: the raw INT64 `ts` (see [[tsDivisor]]) converted
    * to a real microsecond timestamp with exact integer division, mirroring
    * `Tables.events`. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val raw = StructType(graft.model.Schemas.events.map {
      case f if f.name == "ts" => f.copy(dataType = LongType)
      case f => f
    })
    val div = tsDivisor(spark, dir)
    parquetStream(spark, dir, "events", raw)
      .withColumn("ts", timestamp_micros(expr(s"ts div $div")))
  }
}
