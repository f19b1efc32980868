package graft.apps

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.clustering.{BisectingKMeansModel, KMeansModel}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.etl.InvoiceFeaturizer
import graft.ml.{Persistence, Scoring}
import graft.model.Schemas
import graft.ops.Actions
import graft.sources.PurchaseCsv
import graft.stream.{IdempotentSink, InvoiceStateMachine, PurchaseLine, Router, StreamRunner}

/** The reference's online pipeline (`InvoicePipeline.main`,
  * `InvoicePipeline.scala:31-154`) as a Structured Streaming application
  * over a kafka-shaped `(key, value)` record stream:
  *
  *  - F1 invalid lines → `facturas_erroneas`
  *  - F2 cancelled invoices → dedup → 8 min/1 min sliding count →
  *    `cancelaciones`
  *  - F4 good lines → parse → stateful per-invoice aggregate
  *    (delete-on-idle ≈ one trigger) → anomaly scoring against BOTH
  *    persisted models/thresholds → `anomalias_kmeans` /
  *    `anomalias_bisect_kmeans`, as JSON payloads
  *
  * **Single-pass topology**: the raw source is scanned ONCE per trigger.
  * The reference starts four independently-filtered consumers over the
  * same stream (4× source reads); here one router query classifies each
  * record once and fans the three routes out in one `foreachBatch`
  * ([[graft.stream.Router]]'s shape), staging the stateful routes as tiny
  * parquet streams that two downstream queries consume:
  *
  * {{{
  *   records ─ route (1 scan) ─┬─ invalid  → facturas_erroneas
  *                             ├─ cancelled → _staged/cancelled ─ window → cancelaciones
  *                             └─ good      → _staged/good ─ state machine ─┬─ kmeans sink
  *                                                           (1 fold)       └─ bisecting sink
  * }}}
  *
  * Both anomaly branches share ONE state machine and one scan — scoring
  * is stateless column math per emission, so the two models are applied
  * inside the same `foreachBatch`. The staging hop costs one extra
  * trigger of latency on the stateful routes and buys: one source scan
  * (vs 4), one state store (vs 2), and downstream inputs that are
  * already filtered to a fraction of the source volume — at 100 TB/day
  * the difference between reading the firehose once and four times.
  *
  * Sinks are parquet directories under `outDir` (swap for
  * `format("kafka")` 1:1 against a broker); the source is a file stream
  * over kafka-shaped parquet (swap for `StreamSources.kafkaShaped`).
  *
  * Usage: `runMain graft.apps.Pipeline <recordsDir> <kmModelDir>
  * <kmThresholdFile> <bisModelDir> <bisThresholdFile> <outDir> [--once]`
  * — `--once` processes all available input and exits (demo/CI); the
  * default runs 20-second triggers like the reference.
  */
object Pipeline {

  def main(args: Array[String]): Unit = {
    require(args.length >= 6, "usage: Pipeline <recordsDir> <kmModelDir> " +
      "<kmThresholdFile> <bisModelDir> <bisThresholdFile> <outDir> [--once]")
    val Array(recordsDir, kmDir, kmThr, bisDir, bisThr, outDir) = args.take(6)
    val once = args.contains("--once")
    val spark = graft.GraftSession(Some("graft-invoice-pipeline"))
    spark.sparkContext.setLogLevel("WARN")
    val queries = run(spark, recordsDir, kmDir, kmThr, bisDir, bisThr, outDir, once)
    if (once) queries.foreach(_.awaitTermination())
    else spark.streams.awaitAnyTermination()
    spark.stop()
  }

  /** Build and start the branch queries (router + 2 stateful consumers);
    * factored out so the end-to-end spec drives the same code.
    *
    * Start order: the router starts first, and the two models and
    * thresholds load while it drains, concurrently through
    * [[graft.ops.Actions.awaitAll]] (one task per model and its
    * threshold). The anomaly query starts after the loads, then the
    * cancel query: in `once` mode both start after the router has
    * drained, so they snapshot every staged batch, and the anomaly
    * query, the longer of the two, starts first. In continuous mode all
    * three run concurrently and the staged routes ride one trigger
    * behind. A failed load stops the started router before rethrowing.
    * The queries come back as (router, cancel, anomaly).
    *
    * Each `foreachBatch` publishes its sinks concurrently through
    * [[graft.ops.Actions.awaitAll]] (the router's three, the anomaly
    * query's two), each an [[IdempotentSink.writeBatch]] of its own: the
    * router's sinks differ in schema, so one routed `partitionBy` write
    * ([[IdempotentSink.writeRoutedBatch]]) would add a column to
    * `facturas_erroneas`. The router's per-batch distinct of cancelled
    * keys runs on one partition: a batch holds few of them, and one
    * partition already satisfies the distinct's clustering, so it needs
    * no shuffle. */
  def run(spark: SparkSession, recordsDir: String, kmDir: String, kmThr: String,
          bisDir: String, bisThr: String, outDir: String,
          once: Boolean): Seq[StreamingQuery] = {
    import spark.implicits._

    val staged = s"$outDir/_staged"
    // through the Hadoop FileSystem of outDir, as IdempotentSink writes
    // (java.io.File would make a local `hdfs:/...` tree for a remote one)
    val fs = graft.GraftSession.fileSystem(spark, new Path(staged))
    Seq(s"$staged/cancelled", s"$staged/good").foreach(d => fs.mkdirs(new Path(d)))
    // every query starts on ONE state partition (one store per stateful
    // operator, so one commit per operator per trigger; why 1, and why
    // changing it needs a new checkpoint: StreamRunner.StatePartitions).
    def start(writer: DataStreamWriter[Row],
              conf: Map[String, String] = Map.empty): StreamingQuery =
      StreamRunner.start(spark, writer, partitions = 1, conf)
    val trigger = if (once) Trigger.AvailableNow() else Trigger.ProcessingTime("20 seconds")
    // update-mode branches (stateful operators re-emit on update) cannot
    // use the append-only file sink directly — write each update batch
    // idempotently (foreachBatch is at-least-once; see IdempotentSink)
    def updateSink(df: DataFrame, name: String) = df.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        IdempotentSink.writeBatch(batch, s"$outDir/$name", batchId)
      }
      .option("checkpointLocation", s"$outDir/_checkpoints/$name")
      .trigger(trigger)
    // one batch's sink writes, run concurrently and all awaited before
    // the cached batch is released (or a failed batch is retried)
    def publish(batch: DataFrame)(writes: DataFrame => Unit*): Unit = {
      val cached = batch.cache()
      try Actions.awaitAll(writes.map(write => () => write(cached)))
      finally cached.unpersist()
    }

    // ONE pass over the raw source: classify each record once, fan all
    // three routes out of the same cached batch (F1 ∘ F2 ∘ F4). The
    // invalid route is final output; cancelled/good are staged for the
    // stateful consumers below.
    val qRoute = start(Router.classified(
        spark.readStream.schema(Schemas.kafkaRecord).parquet(recordsDir))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publish(batch)(
          routed => IdempotentSink.writeBatch(routed.filter(col("route") === "invalid")
            .select(col("key"), col("value")), s"$outDir/facturas_erroneas", batchId),
          // per-batch distinct (A2, ref :68-71), on one partition so it
          // needs no shuffle, + arrival timestamp for the processing-time
          // window
          routed => IdempotentSink.writeBatch(graft.stream.CancellationWindow.perBatchDistinct(
              routed.filter(col("route") === "cancelled").select(col("key")).coalesce(1), "key")
            .withColumn("ts", current_timestamp()), s"$staged/cancelled", batchId),
          routed => IdempotentSink.writeBatch(routed.filter(col("route") === "good")
            .select(col("key"), col("value")), s"$staged/good", batchId))
      }
      .option("checkpointLocation", s"$outDir/_checkpoints/route")
      .trigger(trigger))

    // models + thresholds load once on the driver (ref :46-47), both at
    // once, while the router drains; centers enter the plans as literals
    // (broadcast with the plan). A failed load stops the router, so none
    // is left running.
    val Seq((kmCenters, kmThreshold), (bisCenters, bisThreshold)) =
      try Actions.awaitAll(Seq(
        () => (KMeansModel.load(kmDir).clusterCenters.map(_.toArray.toSeq).toSeq,
          Persistence.loadThreshold(kmThr)),
        () => (BisectingKMeansModel.load(bisDir).clusterCenters.map(_.toArray.toSeq).toSeq,
          Persistence.loadThreshold(bisThr))))
      catch { case NonFatal(e) => qRoute.stop(); throw e }
    if (once) qRoute.awaitTermination() // drain before the consumers snapshot

    // F4 + P7 + A4 + F5 + P9: staged good lines → typed purchases → ONE
    // stateful invoice aggregate, scored against BOTH models in the same
    // foreachBatch (scoring is stateless column math over the emitted
    // updates — it needs no second state store or source scan). It starts
    // before the cancel query: it is the longer of the two.
    val purchases = toPurchaseLines(PurchaseCsv.parseLines(
      spark.readStream.schema(Schemas.kafkaRecord).parquet(s"$staged/good/b*").select($"value")))
    val idleMs = if (once) 0L else 20000L // delete-on-idle ≈ one trigger
    val qAnomalies = start(InvoiceStateMachine(purchases, idleTimeoutMs = idleMs).toDF()
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publish(batch)(
          aggs => IdempotentSink.writeBatch(anomalies(aggs, kmCenters, kmThreshold),
            s"$outDir/anomalias_kmeans", batchId),
          aggs => IdempotentSink.writeBatch(anomalies(aggs, bisCenters, bisThreshold),
            s"$outDir/anomalias_bisect_kmeans", batchId))
      }
      .option("checkpointLocation", s"$outDir/_checkpoints/anomalias")
      .trigger(trigger))

    // F2 + A2 + A3: staged cancelled keys (already per-batch deduped) →
    // dedup within the watermark horizon → 8 min/1 min sliding count
    // (ref :68-80). Input volume here is the cancelled fraction only.
    val cancelledSchema = StructType(Seq(StructField("key", StringType),
      StructField("ts", org.apache.spark.sql.types.TimestampType)))
    // `b*` glob: IdempotentSink publishes per-batch DIRECTORIES; the glob
    // is re-resolved each trigger, picking up new batches as they commit
    val cancelled = spark.readStream.schema(cancelledSchema).parquet(s"$staged/cancelled/b*")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("key")
      .groupBy(window($"ts", "8 minutes", "1 minute"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("w_start"), $"n")
    // no no-data micro-batches (captured at start()): in update mode the
    // watermark's eviction emits no rows and late rows are dropped by the
    // same watermark either way, so `cancelaciones` is unchanged; expired
    // windows and dedup keys are evicted at the end of the next data
    // batch instead of in an extra empty trigger after each one
    val qCancel = start(updateSink(cancelled, "cancelaciones"),
      Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))

    Seq(qRoute, qCancel, qAnomalies)
  }

  /** The anomaly sink rows of one model: `aggs` (InvoiceAgg rows) scored
    * against `centers`, the rows past `threshold` as `(key, JSON value)`. */
  private[graft] def anomalies(aggs: DataFrame, centers: Seq[Seq[Double]],
                               threshold: Double): DataFrame =
    Scoring.score(aggs, InvoiceFeaturizer.FeatureCols.map(featureCol), centers, threshold)
      .filter(col("is_anomaly") === 1L)
      .select(col("invoice_no").as("key"),
        to_json(struct(col("invoice_no"), col("avg_unit_price"), col("min_unit_price"),
          col("max_unit_price"), col("time_of_day"), col("number_items"), col("dist"))).as("value"))

  /** InvoiceAgg column name for a training feature-column name (the agg
    * emits `time_of_day`/`number_items`; training used `time`/
    * `number_items` on the featurized frame). */
  private def featureCol(name: String): String =
    if (name == "time") "time_of_day" else name

  /** Parsed purchase columns → typed `PurchaseLine`s (stream leg of P7/P8:
    * the exact projection the batch featurizer derives from the same
    * fields). Unparseable dates fall back to the reference's −1 hour. */
  private[graft] def toPurchaseLines(parsed: DataFrame): Dataset[PurchaseLine] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    val ts = InvoiceFeaturizer.parseInvoiceDate($"InvoiceDate")
    parsed
      .filter($"InvoiceNo".isNotNull && $"Quantity".isNotNull && $"UnitPrice".isNotNull)
      .select(
        $"InvoiceNo".as("invoiceNo"),
        $"Quantity".cast("long").as("quantity"),
        $"UnitPrice".as("unitPrice"),
        graft.queries.QueryUtil.cents($"UnitPrice").as("unitPriceCents"),
        coalesce(hour(ts) * 60 + minute(ts), lit(-60)).as("minuteOfDay"))
      .as[PurchaseLine]
  }
}
