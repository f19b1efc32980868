package graft.stream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.etl.Validity

/** The reference's three-way stream split (`InvoicePipeline.scala:61-62,
  * 68-69,133-148`): every Kafka-shaped `(key, value)` record is routed to
  * exactly one of
  *
  *  - `invalid`   — malformed CSV line (F1): wrong arity or empty field,
  *                  published to `facturas_erroneas`;
  *  - `cancelled` — `C`-prefixed invoice key (F2), feeding the
  *                  cancellation window, published to `cancelaciones`;
  *  - `good`      — everything else (F4), feeding the invoice state
  *                  machine and anomaly scoring.
  *
  * The reference builds three independently-filtered DStreams over the
  * same source; here classification is a single `CASE` column computed
  * once, and the fan-out happens in one `foreachBatch` (one source scan
  * per trigger instead of three, and one place to attach sinks —
  * Structured Streaming's Kafka sink would replace the parquet writes
  * 1:1 via `batch.write.format("kafka")`).
  */
object Router {

  val Routes: Seq[String] = Seq("invalid", "cancelled", "good")

  /** Single-pass route classification (F1 ∘ F2 ∘ F4). */
  def routeOf(key: Column, value: Column, arity: Int): Column =
    when(Validity.isInvalidLine(value, arity), "invalid")
      .when(Validity.isCancelled(key), "cancelled")
      .otherwise("good")

  /** Records + their route (usable on batch and streaming frames). */
  def classified(records: DataFrame, arity: Int = 8): DataFrame =
    records.withColumn("route", routeOf(col("key"), col("value"), arity))

  /** The good-record gate ahead of stateful aggregation (F4, reference
    * `InvoicePipeline.scala:133-134`) — records that route to neither the
    * invalid nor the cancelled branch. */
  def goodRecords(records: DataFrame, arity: Int = 8): DataFrame =
    records.filter(Validity.isGood(col("value"), col("key"), arity))

  /** Run a finite kafka-shaped stream through the router, fanning each
    * route out to its own parquet sink directory (`baseDir/<route>`), with
    * the reference's per-batch distinct applied to the cancelled branch
    * (A2 — duplicate lines of one cancelled invoice collapse within each
    * micro-batch before publication, `InvoicePipeline.scala:68-71`).
    * Blocks until all input is processed. */
  def runToSinks(records: DataFrame, baseDir: String, arity: Int = 8): Unit = {
    val writer = classified(records, arity).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cached = batch.cache()
        try {
          // cancelled: one row per invoice per batch (A2) with a
          // DETERMINISTIC surviving value — dropDuplicates("key") keeps a
          // task-order-dependent row when one invoice has several
          // distinct lines, which would make replayed output differ
          val cancelled = cached.filter(col("route") === "cancelled")
            .groupBy(col("key")).agg(min(col("value")).as("value"))
            .withColumn("route", lit("cancelled"))
          val out = cached.filter(col("route") =!= "cancelled")
            .select(col("key"), col("value"), col("route"))
            .unionByName(cancelled)
          // at-least-once foreachBatch: ONE partitionBy(route) staged write
          // per batch (single job, all three sink directories), committed
          // per route through the idempotent atomic-rename protocol —
          // never a bare append
          IdempotentSink.writeRoutedBatch(out, baseDir, "route", batchId)
        } finally cached.unpersist()
      }
      .option("checkpointLocation", s"$baseDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
    StreamRunner.start(records.sparkSession, writer).awaitTermination()
  }
}

