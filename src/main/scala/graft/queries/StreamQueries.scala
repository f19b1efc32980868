package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.{Schemas, Tables}
import graft.ops.Lineage.LineageOps
import graft.stream.{CancellationWindow, InvoiceStateMachine, PurchaseLine, Router, StreamRunner, StreamSources, TimedPurchaseLine}
import QueryUtil._

/** The Structured Streaming surface, proven by **batch equivalence**: each
  * query runs a genuine streaming plan (file streaming source →
  * stream-static join / stateful operator → sink) to completion over
  * finite input, and its output must hash-match a plain batch SQL oracle.
  * The single-batch replay makes the comparison exact; multi-batch
  * semantics (state timeout, re-emission, per-batch dedup) are pinned in
  * StreamSpec where batch boundaries are explicit.
  *
  *  - st01: the reference's stateful per-invoice aggregate (A4) via
  *    `flatMapGroupsWithState` over a stream-static join.
  *  - st02: the reference's 8 min/1 min sliding cancellation window (A3)
  *    as a watermarked streaming window aggregate.
  *  - st03: the reference's three-way invalid/cancelled/good routing
  *    (F1/F2/F4 + S5) through `foreachBatch` parquet sinks, read back.
  *  - st04: streaming `dropDuplicates` (the modern A2 shape) in append
  *    mode.
  */
object StreamQueries {

  /** Kafka-shaped records synthesized deterministically from `orders`:
    * key = invoice id, `C`-prefixed for every 7th order (the cancellation
    * rule); value = 8-field CSV line with an empty CustomerID injected for
    * every 11th customer and a 7-field (wrong-arity) line for every 13th
    * order — so all three routes are populated. The oracle rebuilds the
    * identical strings in SQL. */
  private def kafkaShapedOrders(orders: DataFrame): DataFrame = {
    val key = concat(
      when(col("o_orderkey") % 7 === 0, lit("C")).otherwise(lit("")),
      col("o_orderkey").cast("string"))
    val first7 = concat_ws(",",
      col("o_orderkey").cast("string"),
      col("o_orderpriority"),
      col("o_orderstatus"),
      cents(col("o_totalprice")).cast("string"),
      date_format(col("o_orderdate"), "MM/dd/yyyy HH:mm"),
      when(col("o_custkey") % 11 === 0, lit("")).otherwise(col("o_custkey").cast("string")),
      lit("ES"))
    val value = concat(first7,
      when(col("o_orderkey") % 13 === 0, lit(""))
        .otherwise(concat(lit(","), col("o_orderstatus"))))
    orders.select(key.as("key"), value.as("value"))
  }

  private val kafkaShapedOrdersSql =
    """SELECT (CASE WHEN o_orderkey % 7 = 0 THEN 'C' ELSE '' END) ||
      |         CAST(o_orderkey AS VARCHAR) AS key,
      |       CAST(o_orderkey AS VARCHAR) || ',' || o_orderpriority || ',' ||
      |         o_orderstatus || ',' ||
      |         CAST(CAST(round(o_totalprice*100) AS BIGINT) AS VARCHAR) || ',' ||
      |         strftime(o_orderdate, '%m/%d/%Y %H:%M') || ',' ||
      |         (CASE WHEN o_custkey % 11 = 0 THEN ''
      |               ELSE CAST(o_custkey AS VARCHAR) END) ||
      |         ',ES' ||
      |         (CASE WHEN o_orderkey % 13 = 0 THEN ''
      |               ELSE ',' || o_orderstatus END) AS value
      |FROM orders""".stripMargin

  /** Typed `PurchaseLine` projection over a joined lineitem×orders frame
    * — shared by the streaming feed and the batch Aggregator query. */
  private[graft] def purchaseLines(joined: DataFrame,
                                     s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    joined.select(
      $"l_orderkey".cast("string").as("invoiceNo"),
      $"l_quantity".cast("long").as("quantity"),
      $"l_extendedprice".as("unitPrice"),
      cents($"l_extendedprice").as("unitPriceCents"),
      (hour($"o_orderdate") * 60 + minute($"o_orderdate")).as("minuteOfDay"))
      .as[PurchaseLine]
  }

  /** The streaming purchase-line feed: streaming lineitem scan (pruned to
    * the three needed columns) → stream-static join with orders → typed
    * `PurchaseLine`s. Shared by the state-machine queries.
    *
    * JOIN-SHAPE HONESTY: `orders` here stands in for the bounded
    * per-invoice metadata dimension the reference's pipeline joins
    * against — but it is the order-HEADER side of the fact table, so it
    * scales with the facts and the broadcast hint only holds while the
    * static side fits the broadcast budget (AQE is disabled inside
    * stateful streaming plans, so without the hint the join shape rides
    * on the static side's size estimate). At the scale where the static
    * side outgrows broadcast, the right plan is the per-micro-batch
    * SHUFFLED stream-static join — `broadcastDim = false` — which st27
    * runs against the same oracle as st01, with both regimes' shuffle
    * volumes measured in SCALE.md (the dd18/dd07 treatment).
    * (Broadcast plan pinned in StreamSpec.) */
  private[graft] def purchaseStream(s: org.apache.spark.sql.SparkSession, dir: String,
                                    broadcastDim: Boolean = true) = {
    import s.implicits._
    val needed = Set("l_orderkey", "l_quantity", "l_extendedprice")
    val schema = StructType(Schemas.lineitem.filter(f => needed(f.name)))
    val dim = Tables.orders(s, dir)
    purchaseLines(
      StreamSources.parquetStream(s, dir, "lineitem", schema)
        .join(if (broadcastDim) broadcast(dim) else dim,
          $"l_orderkey" === $"o_orderkey"), s)
  }

  /** One-time fixture build for the chunked replay: rewrite the pruned
    * purchase columns as `nFiles` parquet files (rows of one invoice
    * hash-spread across files). Built through [[Fixtures.memo]] and
    * exposed as `build_stream_chunks` so the bench attributes the write
    * to build time, not to st07's streaming cost. */
  private[graft] def ensureStreamChunks(s: org.apache.spark.sql.SparkSession,
                                        dir: String, nFiles: Int): String =
    Fixtures.memo(Fixtures.dirFor("chunks", dir) + s"_$nFiles",
        Fixtures.source(s, dir, "lineitem")) { out =>
      val needed = Seq("l_orderkey", "l_quantity", "l_extendedprice")
      Tables.lineitem(s, dir).select(needed.map(col): _*)
        .repartition(nFiles).write.mode("overwrite").parquet(out)
    }

  val builds: Map[String, B] = Map(
    "build_doc_chunks" -> ((s, dir) => { ensureDocChunks(s, dir, 3); () }),
    "build_stream_chunks" -> ((s, dir) => { ensureStreamChunks(s, dir, 3); () }),
    "build_event_chunks" -> ((s, dir) => { ensureEventChunks(s, dir, 3); () }),
    "build_late_chunks" -> ((s, dir) => { ensureLateChunks(s, dir); () }),
    "build_ordered_chunks" -> ((s, dir) => { ensureOrderedEventChunks(s, dir); () }))

  /** Content-addressed chunk id (0–3) for the late-data replay: quarters
    * of the md5-prefix space, replayable verbatim in the DuckDB oracle
    * (string comparison — no hex parsing on either engine). Four chunks
    * so TWO watermark levels actually filter (the engine's late filter
    * lags the data by two batches — see [[lateDataAudit]]). */
  private def lateChunkOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val p = substring(md5(id.cast("string")), 1, 2)
    when(p < "40", 0).when(p < "80", 1).when(p < "c0", 2).otherwise(3)
  }

  /** One-FILE-per-chunk fixture for the late-data audit (st19): events
    * split into four content-addressed chunks ([[lateChunkOf]] — the
    * oracle recomputes membership), replayed one file per trigger in
    * chunk order ([[Fixtures.orderedChunks]]). Batch identity is what
    * makes the watermark progression — and therefore the late-drop set —
    * a pure function of the data. */
  private[graft] def ensureLateChunks(s: org.apache.spark.sql.SparkSession,
                                      dir: String): String =
    Fixtures.memo(Fixtures.dirFor("late_chunks", dir),
        Fixtures.source(s, dir, "events")) { out =>
      val ev = Fixtures.eventsNanos(s, dir)
      Fixtures.orderedChunks(
        (0 until 4).map(c => ev.filter(lateChunkOf(col("event_id")) === c)), out)
    }

  /** Chunked multi-batch replay of the invoice state machine: the lineitem
    * scan (pruned to the three purchase columns) is rewritten to `nFiles`
    * scratch parquet files and streamed with `maxFilesPerTrigger=1`, so
    * `Trigger.AvailableNow` crosses ≥ `nFiles` micro-batches. Rows of one
    * invoice are hash-spread across the files (`repartition`), so the
    * per-key fold genuinely merges state across batches — the cross-batch
    * semantics StreamSpec pins with `MemoryStream`, here under the driver's
    * hash oracle. The memory sink accumulates every update-mode emission;
    * an invoice's **final** emission (its largest `lines` — the fold count
    * is strictly increasing per touched batch) is the complete aggregate
    * and must equal the batch oracle. Returns the result plus the
    * terminated query so specs can assert `lastProgress.batchId >= 2`. */
  private[graft] def multibatchInvoiceState(s: org.apache.spark.sql.SparkSession,
                                            dir: String, nFiles: Int)
      : (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) = {
    import s.implicits._
    val scratch = ensureStreamChunks(s, dir, nFiles)
    val needed = Seq("l_orderkey", "l_quantity", "l_extendedprice")
    val schema = StructType(Schemas.lineitem.filter(f => needed.contains(f.name)))
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(scratch)
    val lines = purchaseLines(
      stream.join(broadcast(Tables.orders(s, dir)), $"l_orderkey" === $"o_orderkey"), s)
    val (raw, q) = StreamRunner.toMemoryWithQuery(
      InvoiceStateMachine(lines, idleTimeoutMs = 0L))
    (lastEmissionPerKey(raw, s), q)
  }

  /** An update-mode replay accumulates one emission per key per touched
    * batch; the key's FINAL emission (largest `lines` — the fold count is
    * strictly increasing per touched batch) is the complete aggregate the
    * batch oracle compares against. */
  private def lastEmissionPerKey(raw: DataFrame,
                                 s: org.apache.spark.sql.SparkSession): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"invoice_no").orderBy($"lines".desc)
    raw
      .withColumn("_rn", row_number().over(w)).filter($"_rn" === 1).drop("_rn")
      .select($"invoice_no".cast("long").as("invoice_no"),
        $"avg_unit_price", $"min_unit_price", $"max_unit_price",
        $"time_of_day", $"number_items", $"lines")
      .orderBy($"invoice_no")
  }

  /** The same ≥3-trigger chunked replay as [[multibatchInvoiceState]], but
    * through the EVENT-TIME state machine
    * ([[InvoiceStateMachine.eventTimed]]): watermarked input, state
    * lifecycle driven by the event-time watermark instead of a
    * processing-time timeout — the production shape for out-of-order
    * sources, here under the driver's hash oracle. The watermark delay and
    * idle horizon both exceed the whole `o_orderdate` span of the replay,
    * so no row is late-dropped and no key is purged mid-replay: the final
    * emission per key must equal the batch weighted aggregate exactly
    * (same oracle as st01/st07). Termination under `Trigger.AvailableNow`
    * is sound for event-time timeouts — the engine only reruns while the
    * watermark still advances (unlike processing-time timeouts, see
    * [[InvoiceStateMachine.apply]]). */
  private[graft] def eventTimedMultibatch(s: org.apache.spark.sql.SparkSession,
                                          dir: String, nFiles: Int)
      : (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) = {
    import s.implicits._
    val scratch = ensureStreamChunks(s, dir, nFiles)
    val needed = Seq("l_orderkey", "l_quantity", "l_extendedprice")
    val schema = StructType(Schemas.lineitem.filter(f => needed.contains(f.name)))
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(scratch)
    val timed = stream
      .join(broadcast(Tables.orders(s, dir)), $"l_orderkey" === $"o_orderkey")
      .select(
        struct(
          $"l_orderkey".cast("string").as("invoiceNo"),
          $"l_quantity".cast("long").as("quantity"),
          $"l_extendedprice".as("unitPrice"),
          cents($"l_extendedprice").as("unitPriceCents"),
          (hour($"o_orderdate") * 60 + minute($"o_orderdate")).as("minuteOfDay"))
          .as("line"),
        $"o_orderdate".cast("timestamp").as("eventTime"))
      .as[TimedPurchaseLine]
    // > the ~7-year o_orderdate span: nothing is late, nothing purges
    val horizonMs = 4000L * 24 * 3600 * 1000
    val (raw, q) = StreamRunner.toMemoryWithQuery(
      InvoiceStateMachine.eventTimed(timed, "4000 days", idleMs = horizonMs))
    (lastEmissionPerKey(raw, s), q)
  }

  /** The shared st19/st20 streaming plan: hour-tumbling event counts
    * under a 1 h watermark over the [[ensureLateChunks]] four-batch
    * replay. */
  private def lateWindowStream(s: org.apache.spark.sql.SparkSession,
                               dir: String): DataFrame = {
    import s.implicits._
    val scratch = ensureLateChunks(s, dir)
    val raw = StructType(Schemas.events.map {
      case f if f.name == "ts" => f.copy(dataType = org.apache.spark.sql.types.LongType)
      case f => f
    })
    s.readStream.schema(raw)
      .option("maxFilesPerTrigger", 1).parquet(scratch)
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "1 hour")
      .groupBy(window($"ets", "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("w_start"),
        $"n")
  }

  /** The st19 replay: hour-tumbling event counts under a 1 h watermark
    * over the [[ensureLateChunks]] four-batch replay, plus the audit
    * columns (total late-dropped rows; the boundary-collision premise).
    *
    * ENGINE LATE-FILTER SEMANTICS (measured, and pinned by StreamSpec's
    * two probes — do not "fix" this to the naive model): under a
    * back-to-back `AvailableNow` replay, the stateful operator in batch k
    * filters input with the watermark derived from data through batch
    * **k−2**, one batch LATER than the committed watermark the progress
    * log displays — so chunk 0 and chunk 1 are never filtered, chunk 2
    * is filtered at wm(c0) = max ts(c0) − 1 h, and chunk 3 at
    * wm(c0∪c1). A row is dropped iff its window END ≤ that watermark
    * (`numRowsDroppedByWatermark` counts dropped post-partial-agg rows,
    * not raw rows, so the audit derives raw drops from the sink).
    * Returns the terminated query too so StreamSpec can pin ≥4
    * micro-batches and genuine drops. */
  private[graft] def lateDataAudit(s: org.apache.spark.sql.SparkSession, dir: String)
      : (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) = {
    import s.implicits._
    val (rawOut, q) = StreamRunner.toMemoryWithQuery(lateWindowStream(s, dir))
    // update mode re-emits a window each touched batch; its final count
    // (the max — counts only grow) is the complete kept-row count
    val kept = rawOut.groupBy($"w_start").agg(max($"n").as("n"))
    val HourUs = 3600L * 1000000L
    // the two watermark levels that actually filter (two-batch lag):
    // wm1 = through chunk 0 (filters chunk 2), wm2 = through chunks 0–1
    // (filters chunk 3)
    val audit = Tables.events(s, dir)
      .select(unix_micros($"ts".cast("timestamp")).as("tsm"),
        lateChunkOf($"event_id").as("ck"))
      .agg(count(lit(1)).as("total"),
        (max(when($"ck" === 0, $"tsm")) - HourUs).as("wm1"),
        (max(when($"ck" <= 1, $"tsm")) - HourUs).as("wm2"))
      .select($"total",
        (when(pmod($"wm1", lit(HourUs)) === 0, 1L).otherwise(0L) +
          when(pmod($"wm2", lit(HourUs)) === 0, 1L).otherwise(0L)).as("boundary_hits"))
    val keptTotal = kept.agg(sum($"n").as("kept_total"))
    val result = kept
      .crossJoin(broadcast(audit)).crossJoin(broadcast(keptTotal))
      .select($"w_start", $"n", ($"total" - $"kept_total").as("n_dropped"),
        $"boundary_hits")
      .orderBy($"w_start")
    (result, q)
  }

  /** The st20 replay: the SAME plan as [[lateDataAudit]] in APPEND mode —
    * each window emits at most once, when the committed watermark passes
    * its end. Measured semantics: emission at batch k's end uses the wm
    * through batch k−1 — one batch AHEAD of the input filter's lagged
    * wm — and `AvailableNow` runs a trailing empty flush batch only when
    * the final chunk advanced the committed wm; either way the final cut
    * is wmF = max event time over ALL chunks − 1 h. The window holding
    * the global max is therefore always still open at termination: append
    * output = kept windows with end ≤ wmF, a strict subset of st19's
    * update-mode result. boundary premise extends to wmF. */
  private[graft] def appendWindowFlush(s: org.apache.spark.sql.SparkSession,
                                       dir: String)
      : (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) = {
    import s.implicits._
    val (rawOut, q) = StreamRunner.toMemoryWithQuery(
      lateWindowStream(s, dir), mode = "append")
    val HourUs = 3600L * 1000000L
    val audit = Tables.events(s, dir)
      .select(unix_micros($"ts".cast("timestamp")).as("tsm"),
        lateChunkOf($"event_id").as("ck"))
      .agg((max(when($"ck" === 0, $"tsm")) - HourUs).as("wm1"),
        (max(when($"ck" <= 1, $"tsm")) - HourUs).as("wm2"),
        (max($"tsm") - HourUs).as("wmf"))
      .select(
        (when(pmod($"wm1", lit(HourUs)) === 0, 1L).otherwise(0L) +
          when(pmod($"wm2", lit(HourUs)) === 0, 1L).otherwise(0L) +
          when(pmod($"wmf", lit(HourUs)) === 0, 1L).otherwise(0L))
          .as("boundary_hits"))
    val result = rawOut.crossJoin(broadcast(audit))
      .select($"w_start", $"n", $"boundary_hits")
      .orderBy($"w_start")
    (result, q)
  }

  /** The st21 replay: stream-static join against a dimension that
    * REFRESHES between micro-batches — the slowly-changing-dimension
    * pattern a production `foreachBatch` job uses (re-read the dim per
    * batch; the version each batch saw is visible in its output). The
    * dim is re-derived deterministically per version (tier =
    * (user_id + v) mod 3, version column carried through the join); each
    * version is a SEPARATE snapshot path `dim/v<k>` and the handler reads
    * the snapshot keyed by its OWN batchId — so "batch k sees version k"
    * holds under foreachBatch's at-least-once contract too: a batch that
    * fails after the sink write and re-runs re-reads the SAME snapshot
    * (the earlier mutate-one-path-after-the-batch formulation broke the
    * invariant on exactly that retry, despite the idempotent sink
    * de-duplicating the files). The four-chunk replay
    * ([[ensureLateChunks]], mtime-ordered) pins batch identity, so the
    * DuckDB oracle replays the whole progression from chunk membership
    * alone. Output goes through the idempotent batch sink
    * (at-least-once → exactly-once files). */
  private[graft] def streamDimRefresh(s: org.apache.spark.sql.SparkSession,
                                      dir: String): DataFrame = {
    import s.implicits._
    val scratch = ensureLateChunks(s, dir)
    val raw = StructType(Schemas.events.map {
      case f if f.name == "ts" => f.copy(dataType = org.apache.spark.sql.types.LongType)
      case f => f
    })
    val base = StreamRunner.scratchDir("dimref-")
    val dimPath = s"$base/dim"
    val outPath = s"$base/out"
    val users = Tables.events(s, dir).select($"user_id").distinct()
    // every version the replay can see, written up front as immutable
    // snapshots — a retried batch re-reads its own version. The snapshot
    // count is DERIVED from the actual chunk-file count of the scratch
    // dir (with maxFilesPerTrigger=1, batches == files), so a fixture
    // change can't strand a batch id without its snapshot; the handler
    // additionally guards the id so an engine batching change fails with
    // a descriptive error instead of a bare path-not-found.
    val nVersions = Option(new java.io.File(scratch).listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".parquet")).toLong
    require(nVersions > 0, s"no chunk files under $scratch")
    def writeDim(v: Long): Unit = users
      .select($"user_id", pmod($"user_id" + v, lit(3L)).as("tier"),
        lit(v).as("dim_version"))
      .write.mode("overwrite").parquet(s"$dimPath/v$v")
    (0L until nVersions).foreach(writeDim)
    val ckpt = StreamRunner.scratchDir("ckpt-")
    val writer = s.readStream.schema(raw)
      .option("maxFilesPerTrigger", 1).parquet(scratch)
      .select($"event_id", $"user_id")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // version keyed by the engine-supplied batchId: deterministic
        // under replay, idempotent under retry
        require(id < nVersions,
          s"batch id $id has no dim snapshot (expected < $nVersions — one " +
            "batch per chunk file under maxFilesPerTrigger=1; did the " +
            "engine's file batching change?)")
        val dim = s.read.parquet(s"$dimPath/v$id")
        graft.stream.IdempotentSink.writeBatch(
          batch.join(broadcast(dim), "user_id"), outPath, id)
      }
    StreamRunner.start(s, writer).awaitTermination()
    graft.stream.IdempotentSink.read(s, outPath)
      .groupBy($"dim_version", $"tier")
      .agg(count(lit(1)).as("n_events"), countDistinct($"user_id").as("n_users"))
      .orderBy($"dim_version", $"tier")
  }

  /** Run-level evidence from the crash-recovery replay, so the spec can
    * pin that the crash and the checkpoint recovery actually happened (not
    * just that the final rows are right). Batch ids are taken from each
    * query's progress events (one per COMMITTED micro-batch). */
  private[graft] case class CrashRecoveryStats(
      run1Failed: Boolean,
      run1Batches: Seq[Long],
      run2Batches: Seq[Long],
      checkpointDir: String)

  /** Crash-recovery certificate for the stateful invoice aggregation (the
    * reference's core deployment scenario: a checkpointed streaming job
    * that must survive restarts — `InvoicePipeline.scala:43`).
    *
    * The chunked replay of [[multibatchInvoiceState]] is run against a
    * PERSISTENT checkpoint and an [[graft.stream.IdempotentSink]], with a
    * crash injected at the most adversarial point: inside `foreachBatch`
    * of micro-batch 1, AFTER the sink write but BEFORE the streaming
    * commit log advances. The query dies with the batch's output on disk
    * and its offsets uncommitted — exactly the window where a naive
    * `append` sink duplicates data on restart. A second run from the SAME
    * checkpoint must (a) resume at batch 1 — not reprocess batch 0, which
    * would double-fold state — because offsets/state recover from the
    * checkpoint, and (b) re-attempt batch 1, which the idempotent sink
    * turns into a no-op. The accumulated sink, reduced to each key's final
    * emission, must equal the batch weighted aggregate bit-for-bit: the
    * at-least-once engine + idempotent sink compose to exactly-once. */
  private[graft] def crashRecoveryInvoiceState(
      s: org.apache.spark.sql.SparkSession, dir: String, nFiles: Int)
      : (DataFrame, CrashRecoveryStats) = {
    import s.implicits._
    val scratch = ensureStreamChunks(s, dir, nFiles)
    val needed = Seq("l_orderkey", "l_quantity", "l_extendedprice")
    val schema = StructType(Schemas.lineitem.filter(f => needed.contains(f.name)))
    val base = StreamRunner.scratchDir("crash-")
    val sinkDir = s"$base/sink"
    val ckpt = s"$base/ckpt"
    val crashPending = new java.util.concurrent.atomic.AtomicBoolean(true)
    def run(): org.apache.spark.sql.streaming.StreamingQuery = {
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(scratch)
      val lines = purchaseLines(
        stream.join(broadcast(Tables.orders(s, dir)), $"l_orderkey" === $"o_orderkey"), s)
      StreamRunner.start(s, InvoiceStateMachine(lines, idleTimeoutMs = 0L).toDF()
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.stream.IdempotentSink.writeBatch(batch, sinkDir, batchId)
          // sink write done, commit log NOT yet advanced: dying here forces
          // the restart to re-attempt this batch against already-published
          // output — the exact failure the idempotent protocol exists for
          if (batchId >= 1 && crashPending.getAndSet(false))
            throw new RuntimeException("graft: injected crash between sink write and commit")
        })
    }
    val q1 = run()
    val run1Failed =
      try { q1.awaitTermination(); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
    val run1Batches = q1.recentProgress.map(_.batchId).toSeq
    val q2 = run()
    q2.awaitTermination()
    val run2Batches = q2.recentProgress.map(_.batchId).toSeq
    val result = lastEmissionPerKey(graft.stream.IdempotentSink.read(s, sinkDir), s)
    (result, CrashRecoveryStats(run1Failed, run1Batches, run2Batches, ckpt))
  }

  val queries: Map[String, Q] = Map(
    // A4: stateful per-invoice aggregation. One micro-batch ⇒ one emission
    // per invoice ⇒ must equal the batch weighted aggregate.
    "st01_invoice_state" -> { (s, dir) =>
      import s.implicits._
      // Single-batch replay: the idle timeout is irrelevant (nothing is
      // ever idle across triggers) and must be off for the query to
      // self-terminate — the timeout lifecycle is pinned in StreamSpec.
      StreamRunner.toMemory(InvoiceStateMachine(purchaseStream(s, dir), idleTimeoutMs = 0L))
        .select($"invoice_no".cast("long").as("invoice_no"),
          $"avg_unit_price", $"min_unit_price", $"max_unit_price",
          $"time_of_day", $"number_items", $"lines")
        .orderBy($"invoice_no")
    },

    // st01's SHUFFLED-REGIME twin: the same single-batch stateful replay,
    // but the stream-static join runs WITHOUT the broadcast hint and with
    // broadcast-by-stats disabled for the run — the plan the pipeline
    // needs once the static side outgrows the broadcast budget (orders is
    // the order-header side of the fact table, not a bounded dimension;
    // see [[purchaseStream]]). The static side is hash-exchanged per
    // micro-batch instead of collected to the driver; the join regime
    // must not change a single emitted aggregate, so the oracle is
    // st01's. Both regimes' shuffle volumes are measured in SCALE.md
    // (the dd18/dd07 regime-table treatment).
    "st27_invoice_state_shuffled" -> { (s, dir) =>
      // broadcast-by-stats is disabled on a CHILD session (per-session
      // conf isolation), not by mutating the shared session's conf: a
      // query planned concurrently on the caller's session (a parallel
      // bench or test runner) must not silently lose its stats-based
      // broadcasts for the duration of this streaming run. The child
      // shares the SparkContext, so the memory-sink table it returns is
      // readable like any other DataFrame.
      val s2 = s.newSession()
      import s2.implicits._
      // newSession inherits only builder-time options, not runtime conf —
      // replay EVERY modifiable runtime delta of the caller's session onto
      // the child (diff vs the child's own fresh view), not just a
      // state-store prefix allowlist: a future bench/suite knob (AQE,
      // shuffle partitions, a new provider flag) must reach this entry
      // too. The broadcast kill is applied AFTER the replay so it always
      // wins — it is the one conf this entry exists to override.
      val fresh = s2.conf.getAll
      s.conf.getAll.foreach { case (k, v) =>
        if (!fresh.get(k).contains(v) && s2.conf.isModifiable(k))
          s2.conf.set(k, v)
      }
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // toMemory runs the streaming query EAGERLY, so the conf governs
      // the stream-static join; the lazy projection over the memory sink
      // below no longer needs it
      StreamRunner.toMemory(InvoiceStateMachine(
          purchaseStream(s2, dir, broadcastDim = false), idleTimeoutMs = 0L))
        .select($"invoice_no".cast("long").as("invoice_no"),
          $"avg_unit_price", $"min_unit_price", $"max_unit_price",
          $"time_of_day", $"number_items", $"lines")
        .orderBy($"invoice_no")
    },

    // The reference's COMPLETE online pipeline (`InvoicePipeline.main`):
    // purchase stream → stateful invoice aggregation → distance-to-centroid
    // anomaly predicate (F5) on every emitted update — composed as one
    // streaming plan, scored with the same fixed centers as batch inv06 so
    // the whole thing is oracle-checkable.
    "st05_stream_anomalies" -> { (s, dir) =>
      import s.implicits._
      val f = Seq($"avg_unit_price", $"min_unit_price", $"max_unit_price",
        $"time_of_day", $"number_items".cast("double"))
      val dist = least(
        InvoiceQueries.sqDistTo(InvoiceQueries.CenterA, f),
        InvoiceQueries.sqDistTo(InvoiceQueries.CenterB, f))
      val flagged = InvoiceStateMachine(purchaseStream(s, dir), idleTimeoutMs = 0L)
        .toDF()
        .withColumn("is_anomaly", (dist > InvoiceQueries.AnomalyThreshold).cast("long"))
      StreamRunner.toMemory(flagged)
        .select($"invoice_no".cast("long").as("invoice_no"), $"is_anomaly")
        .orderBy($"invoice_no")
    },

    // A3: the 8-minute/1-minute sliding window as a watermarked streaming
    // aggregate (same expression as batch ev02 — that oracle pins it).
    "st02_cancel_window" -> { (s, dir) =>
      import s.implicits._
      val purchases = StreamSources.eventsStream(s, dir)
        .filter($"event_type" === "purchase")
      StreamRunner.toMemory(CancellationWindow.slidingCounts(purchases, "ts"))
        .orderBy($"w_start")
    },

    // st02's CADENCE-FIDELITY twin — the reference's emit-every-slide
    // behavior (`reduceByKeyAndWindow` prints the 8-minute count each
    // minute, ZERO-count windows included; SURVEY §2.9 #3's documented
    // divergence, closed here on the value surface): one emission per
    // slide tick across the replay's whole span, 0 where no purchase
    // fell in the window. The streamed aggregate is st02's verbatim;
    // the tick grid is synthesized from the data span (an A6-style
    // 2-scalar pull — a finite replay has no processing-time clock, so
    // the reference's wall-clock cadence maps to the event-time tick
    // sequence its run would have printed while data flowed) and
    // left-joins the emitted counts, zero-filling the gaps. Values are
    // st02's oracle-pinned counts; DENSITY is pinned by the oracle's
    // own generate_series grid — a missing or spurious tick fails the
    // row-count/hash compare.
    "st33_cancel_window_heartbeat" -> { (s, dir) =>
      import s.implicits._
      val span = Tables.events(s, dir).filter($"event_type" === "purchase")
        .agg(min($"ts"), max($"ts")).head()
      val (mn, mx) = (span.getTimestamp(0), span.getTimestamp(1))
      val purchases = StreamSources.eventsStream(s, dir)
        .filter($"event_type" === "purchase")
      val counts =
        StreamRunner.toMemory(CancellationWindow.slidingCounts(purchases, "ts"))
      val grid = s.range(1).select(explode(sequence(
          date_trunc("minute", lit(mn)) - expr("INTERVAL 7 MINUTES"),
          date_trunc("minute", lit(mx)),
          expr("INTERVAL 1 MINUTE"))).as("ws"))
        .select(date_format($"ws", "yyyy-MM-dd HH:mm:ss").as("w_start"))
      grid.join(counts, Seq("w_start"), "left")
        .select($"w_start", coalesce($"n", lit(0L)).as("n"))
        .orderBy($"w_start")
    },

    // F1/F2/F4 + S5: three-way routing with real sink fan-out — the
    // streaming query writes each route to its own parquet sink via
    // foreachBatch; the query output is the union read back from disk.
    "st03_routing" -> { (s, dir) =>
      import s.implicits._
      val base = StreamRunner.scratchDir("router-")
      val stream = StreamRunner.asStream(kafkaShapedOrders(Tables.orders(s, dir)))
      Router.runToSinks(stream, base)
      Router.Routes.map { r =>
        val dir = new java.io.File(s"$base/$r")
        if (dir.exists())
          graft.stream.IdempotentSink.read(s, dir.toString).withColumn("route", lit(r))
        else s.emptyDataFrame
          .withColumn("key", lit("")).withColumn("value", lit(""))
          .withColumn("route", lit(r)).limit(0)
      }.reduce(_ unionByName _)
        .select($"key", $"value", $"route")
        .orderBy($"key")
    },

    // Native streaming sessionization: session_window merges events with
    // <30-minute gaps into per-user sessions inside the state store —
    // the stateful twin of batch ev03's lag/cumsum construction.
    "st06_session_window" -> { (s, dir) =>
      import s.implicits._
      // complete mode: session-window aggregation supports append (emits
      // only when the watermark passes a session) and complete — for a
      // finite replay, complete emits every merged session
      val sessions = StreamSources.eventsStream(s, dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(session_window($"ts", "30 minutes").as("sw"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
      StreamRunner.toMemory(sessions, mode = "complete")
        .select(date_format($"sw.start", "yyyy-MM-dd HH:mm:ss").as("s_start"),
          $"user_id", $"n_events")
        .orderBy($"user_id", $"s_start")
    },

    // Late-data accounting under a deliberately tight watermark — the
    // audit a production event pipeline runs to know what the watermark
    // is silently discarding. Events replay in FOUR content-addressed
    // chunks (md5-prefix quarters of event_id — the oracle recomputes
    // membership) as one file per trigger in deterministic mtime order,
    // so the watermark progression is a pure function of the data. The
    // ENGINE's late filter lags the committed watermark by one batch
    // (measured + StreamSpec-pinned): batch k filters with max event
    // time through batch k−2, minus the 1 h delay — chunks 0–1 pass
    // unfiltered, chunk 2 is cut at wm(c0), chunk 3 at wm(c0∪c1); late
    // rows still advance the watermark. A row is dropped iff its
    // hour-window END ≤ the filter watermark (boundary pinned by
    // StreamSpec), so the DuckDB oracle replays the exact kept set,
    // per-window counts, and total dropped rows. boundary_hits (both
    // engines, data-derived) certifies no window end lands exactly ON a
    // watermark — the premise that makes ≤-vs-< unobservable here.
    "st19_late_data_audit" -> { (s, dir) =>
      lateDataAudit(s, dir)._1
    },

    // st19's APPEND-mode twin: the finalized-windows-only contract a
    // file/Kafka sink consumes (update-mode re-emission would duplicate
    // rows there). Emission happens when the committed watermark passes a
    // window's end; the trailing AvailableNow flush batch emits
    // everything up to max-event-time − 1 h, so the window holding the
    // global max is ALWAYS still open — append output is the kept set of
    // st19 minus the open tail, and the oracle replays exactly that
    // (lagged input filter + end ≤ final-wm emission cut).
    "st20_append_window_flush" -> { (s, dir) =>
      appendWindowFlush(s, dir)._1
    },

    // Stream-static join against a BETWEEN-BATCH refreshing dimension
    // (the slowly-changing-dim production pattern): each micro-batch
    // re-reads the dim and provably sees its own version — the oracle
    // replays version-per-batch from chunk membership alone.
    "st21_stream_dim_refresh" -> { (s, dir) =>
      streamDimRefresh(s, dir)
    },

    // A4 across micro-batches: the same state machine as st01, but the
    // input is replayed as 3 chunked files (maxFilesPerTrigger=1 ⇒ ≥3
    // triggers), so cross-batch state merge + per-batch re-emission are
    // what the oracle hash-checks — not just the single-batch fold.
    "st07_invoice_state_multibatch" -> { (s, dir) =>
      multibatchInvoiceState(s, dir, nFiles = 3)._1
    },

    // A4 under failure: the same chunked replay, crashed between a sink
    // write and the checkpoint commit, then restarted from the checkpoint.
    // Recovery must converge to the identical batch aggregate — the
    // strongest form of the at-least-once + idempotent-sink claim.
    "st18_crash_recovery" -> { (s, dir) =>
      crashRecoveryInvoiceState(s, dir, nFiles = 3)._1
    },

    // A4, event-time flavor: the same cross-batch state merge as st07, but
    // under a watermark with event-time-driven state lifecycle — the
    // watermarked operator itself is what the oracle hash-checks.
    "st11_invoice_state_eventtime" -> { (s, dir) =>
      eventTimedMultibatch(s, dir, nFiles = 3)._1
    },

    // A2 (modern shape): streaming dropDuplicates in append mode — each
    // distinct (user, event_type) pair emitted exactly once.
    "st04_stream_distinct" -> { (s, dir) =>
      import s.implicits._
      val dedup = StreamSources.eventsStream(s, dir)
        .select($"user_id", $"event_type")
        .dropDuplicates("user_id", "event_type")
      StreamRunner.toMemory(dedup, mode = "append")
        .orderBy($"user_id", $"event_type")
    },

    // Streaming enrichment-with-history: each event picks up its user's
    // most recent order as of the event time, on a live stream. The batch
    // as-of operator composes into `foreachBatch` soundly because each
    // left row's match depends only on that row and the STATIC right side
    // — batch boundaries cannot change the result (unlike stateful
    // aggregation, which st01/st07 prove separately). Same oracle as the
    // batch twin ev05.
    "st09_stream_asof_enrich" -> { (s, dir) =>
      import s.implicits._
      val latest = Tables.orders(s, dir)
        .groupBy($"o_custkey", $"o_orderdate")
        .agg(max($"o_orderkey").as("o_orderkey"),
          max_by($"o_totalprice", $"o_orderkey").as("o_totalprice"))
      val ev = StreamSources.eventsStream(s, dir)
        .select($"event_id", $"user_id", $"ts")
      val base = StreamRunner.scratchDir("asof-")
      val writer = ev.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.ops.TemporalJoins.asOfJoin(batch, latest,
              "user_id", "o_custkey", "ts", "o_orderdate")
            .write.mode("append").parquet(base)
        }
        .option("checkpointLocation", StreamRunner.scratchDir("ckpt-"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      StreamRunner.start(s, writer).awaitTermination()
      s.read.parquet(base)
        .select($"event_id", $"user_id", $"o_orderkey", $"o_totalprice")
        .orderBy($"event_id")
    },

    // Stream-stream inner join — the last big Structured Streaming
    // surface: clicks matched to the 1-hour window after each purchase of
    // the same user, BOTH sides watermarked (the watermark bounds each
    // side's join state; without it the engine must buffer the streams
    // forever). Inner-join matches emit as rows arrive, so a finite
    // AvailableNow replay emits exactly the batch answer — the oracle is
    // the raw inequality join (ev06's shape, pair-level).
    "st10_stream_stream_join" -> { (s, dir) =>
      import s.implicits._
      val ev = StreamSources.eventsStream(s, dir)
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id".as("click_id"), $"user_id", $"ts")
        .withWatermark("ts", "1 hour")
      val purchases = StreamSources.eventsStream(s, dir)
        .filter($"event_type" === "purchase")
        .select($"event_id".as("purchase_id"), $"user_id".as("p_user"),
          $"ts".as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        expr("user_id = p_user AND ts >= p_ts AND ts < p_ts + INTERVAL 1 HOUR"))
        .select($"purchase_id", $"click_id")
      StreamRunner.toMemory(joined, mode = "append")
        .orderBy($"purchase_id", $"click_id")
    },

    // A2 at 100 TB: `dropDuplicates` (st04) keeps every seen key in state
    // FOREVER — unbounded growth on an unbounded stream. The production
    // posture is `dropDuplicatesWithinWatermark`: state is evicted once
    // the watermark passes a key's event time. The 40-day delay exceeds
    // the replay's 30-day span, so no state is evicted mid-replay and the
    // result equals exact distinct — same oracle as st04 — while the plan
    // is the state-bounded operator.
    "st08_stream_distinct_bounded" -> { (s, dir) =>
      import s.implicits._
      val dedup = StreamSources.eventsStream(s, dir)
        .select($"user_id", $"event_type", $"ts")
        .withWatermark("ts", "40 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select($"user_id", $"event_type")
      StreamRunner.toMemory(dedup, mode = "append")
        .orderBy($"user_id", $"event_type")
    },

    // Stream-stream LEFT OUTER join — st10's missing half: a click with
    // no purchase in the hour after it must still emit, null-extended.
    // Outer rows only flush when the watermark passes the end of their
    // join window, and each side's watermark tracks only the rows IT
    // observed — so a side filtered to "clicks ≤ max−2h" would stall the
    // global watermark 2 h early and strand the last hour of outer rows
    // in state forever. The production fix is a watermark HEARTBEAT: a
    // non-joining row carrying the feed's latest event time on each
    // side (never matches: negative user ids; never flushes itself:
    // its own window never closes). With the heartbeats the terminal
    // no-data micro-batch advances the watermark to max ts — strictly
    // past every real left row's window (they stop 2 h earlier, a 1 h
    // margin beyond the 1 h join window) — flushing ALL outer rows
    // regardless of boundary strictness. Oracle: the plain batch left
    // join under the same cutoff; join state stays watermark-bounded.
    "st14_stream_outer_join" -> { (s, dir) =>
      import s.implicits._
      // A6-style scalar pull: one max(ts) to anchor cutoff + heartbeat.
      val maxTs = Tables.events(s, dir).agg(max($"ts")).first().getTimestamp(0)
      val ev = StreamSources.eventsStream(s, dir)
      val clicks = ev
        .filter($"event_type" === "click" &&
          $"ts" <= lit(maxTs) - expr("INTERVAL 2 HOURS"))
        .select($"event_id".as("click_id"), $"user_id", $"ts")
        .unionByName(ev.filter($"ts" === lit(maxTs))
          .select((-$"event_id" - 1).as("click_id"), lit(-1L).as("user_id"), $"ts"))
        .withWatermark("ts", "0 seconds")
      val purchases = StreamSources.eventsStream(s, dir)
        .filter($"event_type" === "purchase")
        .select($"event_id".as("purchase_id"), $"user_id".as("p_user"),
          $"ts".as("p_ts"))
        .unionByName(StreamSources.eventsStream(s, dir)
          .filter($"ts" === lit(maxTs))
          .select((-$"event_id" - 1).as("purchase_id"), lit(-2L).as("p_user"),
            $"ts".as("p_ts")))
        .withWatermark("p_ts", "0 seconds")
      val joined = clicks.join(purchases,
        expr("user_id = p_user AND p_ts >= ts AND p_ts < ts + INTERVAL 1 HOUR"),
        "left_outer")
        .select($"click_id", $"purchase_id")
      StreamRunner.toMemory(joined, mode = "append")
        .filter($"click_id" >= 0)
        .orderBy($"click_id", $"purchase_id")
    },

    // Stream-stream FULL OUTER join — the last join mode (inner st10,
    // left st14): clicks and purchases of the same user matched in the
    // hour after the click, and BOTH unmatched sides must still emit
    // null-extended — the CDC/reconciliation shape ("which clicks
    // converted, which purchases appeared with no attributable click").
    // st14's scaffold verbatim, symmetrized: both REAL sides stop at
    // max−2h (outer rows on a side only flush when the watermark passes
    // their join window, and the watermark can't pass the last rows'
    // windows without later rows), and each side carries a watermark
    // HEARTBEAT at max ts (never matches: user −1 vs −2; never flushes
    // itself: its own window never closes, and its null-extended row is
    // filtered by id sign). The terminal no-data micro-batch advances
    // the watermark to max ts — a 1 h margin past every real row's
    // window on BOTH sides — flushing all outer rows regardless of
    // boundary strictness. Oracle: the plain batch full join under the
    // same cutoff; join state stays watermark-bounded on both sides.
    "st32_stream_full_outer_join" -> { (s, dir) =>
      import s.implicits._
      val maxTs = Tables.events(s, dir).agg(max($"ts")).first().getTimestamp(0)
      val ev = StreamSources.eventsStream(s, dir)
      val clicks = ev
        .filter($"event_type" === "click" &&
          $"ts" <= lit(maxTs) - expr("INTERVAL 2 HOURS"))
        .select($"event_id".as("click_id"), $"user_id", $"ts")
        .unionByName(ev.filter($"ts" === lit(maxTs))
          .select((-$"event_id" - 1).as("click_id"), lit(-1L).as("user_id"), $"ts"))
        .withWatermark("ts", "0 seconds")
      val purchases = StreamSources.eventsStream(s, dir)
        .filter($"event_type" === "purchase" &&
          $"ts" <= lit(maxTs) - expr("INTERVAL 2 HOURS"))
        .select($"event_id".as("purchase_id"), $"user_id".as("p_user"),
          $"ts".as("p_ts"))
        .unionByName(StreamSources.eventsStream(s, dir)
          .filter($"ts" === lit(maxTs))
          .select((-$"event_id" - 1).as("purchase_id"), lit(-2L).as("p_user"),
            $"ts".as("p_ts")))
        .withWatermark("p_ts", "0 seconds")
      val joined = clicks.join(purchases,
        expr("user_id = p_user AND p_ts >= ts AND p_ts < ts + INTERVAL 1 HOUR"),
        "full_outer")
        .select($"click_id", $"purchase_id")
      StreamRunner.toMemory(joined, mode = "append")
        .filter(coalesce($"click_id", lit(0L)) >= 0 &&
          coalesce($"purchase_id", lit(0L)) >= 0)
        .orderBy($"click_id", $"purchase_id")
    },

    // Incremental materialized-view maintenance: a chunked 3-micro-batch
    // replay maintains a per-(day, type) aggregate VIEW in parquet via
    // foreachBatch — each batch folds its delta into the previous
    // snapshot (union + re-aggregate: the additive partial-aggregate
    // merge) and writes snapshot v<batchId>. Versioned snapshots make
    // the sink exactly-once BY CONSTRUCTION: v(id) is a pure function of
    // v(id-1) and batch id's rows, so a retried batch overwrites v(id)
    // with identical bytes instead of double-counting. The final
    // snapshot must hash-match the one-shot batch aggregate — the IVM
    // equation (view ∘ deltas ≡ recompute) checked by the oracle. At
    // 100 TB the per-batch cost is |delta keys| + |touched view rows|,
    // not the event history.
    "st15_incremental_view" -> { (s, dir) =>
      incrementalView(s, dir, nFiles = 3)._1
    },

    // Streaming INGEST DEDUP against a static fingerprint index — the
    // "don't re-ingest what the lake already holds" gate in front of
    // every incremental corpus build. The already-ingested half of the
    // corpus (even doc_ids) is reduced to a content-digest index; the
    // stream of candidate docs (odd doc_ids) is anti-joined on digest,
    // so a "new" doc whose CONTENT already exists is dropped no matter
    // its id. Stream-static left_anti with an explicitly broadcast
    // index: per-row, stateless, no watermark needed — at 100 TB the
    // index side is digests only (32 B/doc; beyond broadcast size the
    // same anti-join shuffles on digest), the stream side never carries
    // text into the join. Rows pass the gate independently (no
    // cross-row state), so the finite replay equals the batch anti-join
    // row-for-row — the oracle replays exactly that.
    "st17_stream_ingest_dedup" -> { (s, dir) =>
      import s.implicits._
      val index = Tables.documents(s, dir).filter($"doc_id" % 2 === 0)
        .select(md5($"text").as("digest")).distinct()
      val stream = StreamSources.parquetStream(s, dir, "documents",
          Schemas.documents)
        .filter($"doc_id" % 2 === 1)
        .withColumn("digest", md5($"text"))
      val survivors = stream.join(broadcast(index), Seq("digest"), "left_anti")
        .select($"doc_id", $"digest", $"n_chars")
      StreamRunner.toMemory(survivors, mode = "append")
        .orderBy($"doc_id")
    },

    // Multimodal decode INSIDE a structured stream (st23): the mm01
    // codec boundary (real BMP/PPM byte parse in a typed mapPartitions)
    // running on a file stream instead of a batch scan — the shape of a
    // media-ingest pipeline where payload decode happens as data lands.
    // Stateless per-row transform ⇒ append mode, no state store; the
    // oracle is mm01's pixel-generator replay VERBATIM, so the streamed
    // decode must reproduce the batch decode exactly.
    "st23_stream_media_decode" -> { (s, dir) =>
      import s.implicits._
      val stream = StreamSources.parquetStream(s, dir, "documents",
        Schemas.documents)
      val decoded = graft.ops.Multimodal.decodeMeta(
        graft.ops.Multimodal.withPayload(stream))
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("n_bytes"), col("n_pixels"),
          col("sum_r"), col("sum_g"), col("sum_b"), col("mom_r"))
      StreamRunner.toMemory(decoded, mode = "append")
        .orderBy($"doc_id")
    },

    // Streaming malformed-row quarantine (cs15's streaming twin — the
    // "never fail the stream on bad input" ingest posture): the
    // documents table replays as 3 CSV chunk files plus one file of
    // injected malformed lines (a type-invalid long, a surplus column);
    // the file stream parses PERMISSIVE with a corrupt-record column,
    // and each micro-batch routes clean rows to the sink and corrupt
    // rows to quarantine — the stream completes, nothing is dropped
    // silently. foreachBatch is at-least-once, so BOTH sides commit
    // idempotently: clean rows through the per-batch staged-rename sink
    // (a retried batch overwrites its own directory, never appends
    // twice) and the quarantine count keyed by batchId (a retry
    // overwrites its own entry, never double-counts). Clean rows are
    // data-derived at every SF; the quarantine count is pinned (2) by
    // the oracle. At 100 TB the count map becomes a dead-letter TABLE
    // written through the same batchId-keyed protocol.
    "st22_stream_quarantine" -> { (s, dir) =>
      import s.implicits._
      val scratch = ensureDocCsvChunks(s, dir, 3)
      val raw = StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_bad", org.apache.spark.sql.types.StringType)))
      val stream = s.readStream.schema(raw)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .option("maxFilesPerTrigger", 1)
        .csv(scratch)
      val outBase = StreamRunner.scratchDir("squarantine-")
      val corruptByBatch =
        new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val writer = stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val cached = batch.cache()
          try {
            corruptByBatch.put(id, cached.filter(col("_bad").isNotNull).count())
            graft.stream.IdempotentSink.writeBatch(
              cached.filter(col("_bad").isNull).select(col("doc_id"), col("n_chars")),
              s"$outBase/clean", id)
          } finally cached.unpersist()
        }
        .option("checkpointLocation", StreamRunner.scratchDir("ckpt-"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      StreamRunner.start(s, writer).awaitTermination()
      import scala.jdk.CollectionConverters._
      val nCorrupt = corruptByBatch.values.asScala.sum
      graft.stream.IdempotentSink.read(s, s"$outBase/clean")
        .withColumn("n_corrupt", lit(nCorrupt))
        .orderBy($"doc_id")
    },

    // Streaming MERGE (st15's keyed sibling — the foreachBatch upsert
    // every lakehouse streaming-ingest pipeline runs): a chunked
    // 3-micro-batch replay maintains a per-user SNAPSHOT TABLE with
    // last-writer-wins columns and an additive count. Each batch folds
    // its per-key delta into the previous snapshot version — latest
    // row by `max(struct(ts, event_id, …))` (one ordered struct max:
    // associative, so partials merge in any order; the (ts, event_id)
    // prefix is a unique total order), counts by addition. Versioned
    // snapshots give exactly-once by construction, as in st15. Event
    // time stays the RAW nanosecond long end-to-end — no truncation to
    // Spark timestamps — so last-writer ties resolve identically to the
    // oracle's ORDER BY ts, event_id over full-precision data. At
    // 100 TB the per-batch cost is |delta keys| + |touched snapshot
    // rows|; the oracle is the one-shot batch equivalent (total count +
    // arg-max row per user).
    "st16_streaming_upsert" -> { (s, dir) =>
      import s.implicits._
      val scratch = ensureEventChunks(s, dir, 3)
      val raw = StructType(Schemas.events.map {
        case f if f.name == "ts" => f.copy(dataType = org.apache.spark.sql.types.LongType)
        case f => f
      })
      val replay = s.readStream.schema(raw)
        .option("maxFilesPerTrigger", 1).parquet(scratch)
      val snapBase = StreamRunner.scratchDir("supsert-")
      val lastVersion = new java.util.concurrent.atomic.AtomicLong(-1L)
      val writer = replay.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val delta = batch.groupBy(col("user_id"))
            .agg(count(lit(1)).as("n_events"),
              max(struct(col("ts"), col("event_id"), col("event_type"),
                col("value"))).as("last"))
          val prev = lastVersion.get()
          val merged =
            if (prev < 0) delta
            else batch.sparkSession.read.parquet(s"$snapBase/v$prev")
              .unionByName(delta)
              .groupBy(col("user_id"))
              .agg(sum(col("n_events")).as("n_events"), max(col("last")).as("last"))
          graft.stream.VersionedSnapshot.publish(merged, snapBase, id)
          lastVersion.set(id)
        }
        .option("checkpointLocation", StreamRunner.scratchDir("ckpt-"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      StreamRunner.start(s, writer).awaitTermination()
      s.read.parquet(s"$snapBase/v${lastVersion.get()}")
        .select($"user_id", $"n_events",
          $"last.event_type".as("last_type"), $"last.value".as("last_value"))
        .orderBy($"user_id")
    },

    // Sketch aggregation INSIDE streaming state: per-day windowed
    // `approx_count_distinct` (HLL++) over a chunked 3-micro-batch
    // replay, so partial sketch states genuinely merge through the state
    // store across batches — the only way windowed COUNT DISTINCT
    // survives an unbounded stream (exact distinct would hold every key
    // in state; the sketch holds fixed-size registers per window). The
    // batch-exact twin joins in afterwards: day, event count, and exact
    // distinct users are the hash-checked columns; the sketch-quality
    // bit is pinned to 1 (rsd 2%, and at this per-day cardinality HLL++
    // still counts exactly in sparse mode). Watermark 60d > the 30-day
    // replay span: round-robin chunks interleave days, so a tight
    // watermark would misclassify replayed rows as late (st08's trick).
    // Count-Min INSIDE streaming state (st12's heavy-hitter sibling):
    // per-day CMS of user ids built across a chunked 3-micro-batch
    // replay — partial sketches merge through the state store exactly
    // like the HLL++ buffers, holding a fixed-width table per window
    // instead of one counter per (day, user) key. After termination the
    // final per-day sketch is probed (native cms_estimate) for the exact
    // top-3 users of that day; the hash-checked columns are the exact
    // ranks/counts, and the bit certifies both CMS guarantees (never
    // undercounts; overcount ≤ ⌈eps·N⌉ with the day's event count as N).
    "st13_stream_cms_topk" -> { (s, dir) =>
      import s.implicits._
      val scratch = ensureEventChunks(s, dir, 3)
      val raw = StructType(Schemas.events.map {
        case f if f.name == "ts" => f.copy(dataType = org.apache.spark.sql.types.LongType)
        case f => f
      })
      val replay = s.readStream.schema(raw)
        .option("maxFilesPerTrigger", 1).parquet(scratch)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      val agg = replay
        .withWatermark("ts", "60 days")
        .groupBy(window($"ts", "1 day").as("window"))
        .agg(count(lit(1)).as("n_events"),
          expr("count_min_sketch(user_id, CAST(0.001 AS DOUBLE), CAST(0.999 AS DOUBLE), 42)")
            .as("cms"))
      val (out, _) = StreamRunner.toMemoryWithQuery(agg)
      val lastW = org.apache.spark.sql.expressions.Window
        .partitionBy($"window").orderBy($"n_events".desc)
      val finals = out.withColumn("rn", row_number().over(lastW))
        .filter($"rn" === 1).drop("rn")
      val topW = org.apache.spark.sql.expressions.Window
        .partitionBy($"window").orderBy($"n".desc, $"user_id")
      val top3 = Tables.events(s, dir)
        .groupBy(window($"ts", "1 day").as("window"), $"user_id")
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(topW).cast("long"))
        .filter($"rk" <= 3)
      val est = graft.functions.CmsEstimate($"cms", $"user_id")
      top3.join(finals, "window")
        .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("w_start"),
          $"rk", $"user_id", $"n",
          when(est >= $"n" &&
            est <= $"n" + ceil(lit(0.001) * $"n_events").cast("long"), 1L)
            .otherwise(0L).as("cms_ok"))
        .orderBy($"w_start", $"rk")
    },

    // st12's PRODUCTION twin: identical per-day HLL++ window aggregate,
    // but under a realistic 2-day watermark over a time-ordered 4-quarter
    // replay, so closed windows are evicted from the state store
    // MID-STREAM (the posture an unbounded deployment needs — st12's
    // wide watermark would hold every window in state forever). The
    // hash-checked columns are the same exact batch values as st12 (no
    // row is late-dropped: in-order arrival keeps the lagged filter
    // watermark ~5.5 days below each incoming quarter); the purge is
    // certified by a pinned bit — final state rows must be BOTH nonzero
    // and at most half the day count (measured: 3 of 30 windows resident
    // at termination; without purging it is all 30).
    "st24_stream_hll_purge" -> { (s, dir) =>
      import s.implicits._
      val (finals, q) = purgingSketchReplay(s, dir)
      val purgedOk = purgedOkBit(s, dir, q)
      val exact = Tables.events(s, dir)
        .groupBy(window($"ts", "1 day").as("window"))
        .agg(countDistinct($"user_id").as("exact_users"))
      finals.join(exact, "window")
        .select(
          date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("w_start"),
          $"n_events", $"exact_users",
          when(abs($"approx_users".cast("double") - $"exact_users") / $"exact_users" <= 0.05, 1L)
            .otherwise(0L).as("sketch_ok"),
          lit(purgedOk).as("state_purged_ok"))
        .orderBy($"w_start")
    },

    // st13's PRODUCTION twin (the st24 treatment for the CMS family):
    // identical per-day Count-Min aggregate and top-3 probe, but under a
    // realistic 2-day watermark over the time-ordered 4-quarter replay —
    // st13's 60-day watermark holds every day's CMS table (a fixed-width
    // but non-trivial state row) resident for the whole replay, which at
    // 100× event history never purges. Hash-checked columns are st13's
    // exact ranks/counts (no row late-dropped: in-order arrival keeps
    // the watermark below each incoming quarter), cms_ok certifies the
    // never-undercount / eps-overcount guarantees against each day's
    // FINAL merged sketch, and state_purged_ok pins the eviction: final
    // resident state must be nonzero and at most half the day count.
    "st25_stream_cms_purge" -> { (s, dir) =>
      import s.implicits._
      val (finals, q) = purgingCmsReplay(s, dir)
      val purgedOk = purgedOkBit(s, dir, q)
      val topW = org.apache.spark.sql.expressions.Window
        .partitionBy($"window").orderBy($"n".desc, $"user_id")
      val top3 = Tables.events(s, dir)
        .groupBy(window($"ts", "1 day").as("window"), $"user_id")
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(topW).cast("long"))
        .filter($"rk" <= 3)
      val est = graft.functions.CmsEstimate($"cms", $"user_id")
      top3.join(finals, "window")
        .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("w_start"),
          $"rk", $"user_id", $"n",
          when(est >= $"n" &&
            est <= $"n" + ceil(lit(0.001) * $"n_events").cast("long"), 1L)
            .otherwise(0L).as("cms_ok"),
          lit(purgedOk).as("state_purged_ok"))
        .orderBy($"w_start", $"rk")
    },

    // Day-over-day RETURNING USERS from per-day KMV synopses built in
    // streaming state — the analytic the HLL state family (st12/st24)
    // fundamentally cannot deliver: HLL registers union but never
    // intersect, while the KMV synopses emitted per closed window
    // intersect by plain set algebra (sk06's estimators), so retention
    // comes from KB-sized artifacts with NO second pass over the events.
    // Runs under the st24/st25 purging posture (2-day watermark over the
    // time-ordered 4-quarter replay, closed windows evicted mid-stream,
    // state_purged_ok pinned) — the aggregate is the same
    // TypedImperativeAggregate machinery st13 already exercises in
    // state. Certification: exact per-day sizes and returning counts
    // recomputed batch-side (and by DuckDB); the synopsis estimates pin
    // inside the sk06 4σ envelopes — exact below saturation, which is
    // what the lower SFs exercise.
    "st26_stream_returning_users" -> { (s, dir) =>
      import s.implicits._
      val K = KmvStateK
      val (out, q) = kmvWindowReplay(s, dir)
      val days = finalPerWindow(out)
        .select(to_date($"window.start").as("d"), $"sk")
      val purgedOk = purgedOkBit(s, dir, q)
      // exact twin (batch): per-day distinct users + next-day overlap
      val du = Tables.events(s, dir)
        .select(to_date($"ts").as("d"), $"user_id").distinct()
      val sizes = du.groupBy($"d").agg(count(lit(1)).as("n"))
      val ret = du.as("a").join(du.as("b"),
          $"b.user_id" === $"a.user_id" && $"b.d" === date_add($"a.d", 1))
        .groupBy($"a.d".as("d_prev"))
        .agg(count(lit(1)).as("n_returning"))
      import graft.functions.KmvSketchAgg.{kmvEstimate, kmvIntersectEstimate}
      val withSk = ret
        .join(broadcast(days.select($"d".as("d_prev"), $"sk".as("sk_a"))), "d_prev")
        .join(broadcast(days.select(date_sub($"d", 1).as("d_prev"), $"sk".as("sk_b"))), "d_prev")
        .join(sizes.select($"d".as("d_prev"), $"n".as("n_prev")), "d_prev")
        .join(sizes.select(date_sub($"d", 1).as("d_prev"), $"n".as("n_next")), "d_prev")
      withSk.select(
        date_format($"d_prev", "yyyy-MM-dd").as("d_prev"),
        date_format(date_add($"d_prev", 1), "yyyy-MM-dd").as("d_next"),
        $"n_prev", $"n_next", $"n_returning",
        withinPct(kmvEstimate($"sk_a", K), $"n_prev", 0.25).as("est_prev_ok"),
        withinPct(kmvEstimate($"sk_b", K), $"n_next", 0.25).as("est_next_ok"),
        withinPct(kmvIntersectEstimate($"sk_a", $"sk_b", K), $"n_returning", 0.30)
          .as("est_returning_ok"),
        lit(purgedOk).as("state_purged_ok"))
        .orderBy($"d_prev")
    },

    // Quantile sketches INSIDE streaming state — closing the last sketch
    // family's streaming loop (HLL has st12/st24, CMS st13/st25, KMV
    // st26): per-day Greenwald-Khanna summaries (`percentile_approx`
    // partials) merge through the state store across the time-ordered
    // 4-quarter replay under the st24/st25/st26 purging posture (2-day
    // watermark over 1-day windows, closed windows evicted mid-stream).
    // The state row per window is the fixed-size GK summary, not the
    // values — windowed percentiles over an unbounded stream with
    // bounded state. Hash-checked columns are the exact per-day event
    // count and the exact interpolated percentiles recomputed batch-side
    // (DuckDB `quantile_cont`, round(4) — the sk02 contract). The sketch
    // bits certify the HONEST guarantee — GK is a RANK contract, not a
    // value contract (the returned value is a real data point; exact
    // interpolation can sit several % away in VALUE at small n even
    // when the rank is perfect) — so each bit pins the merged summary's
    // returned value to within (2 + 1%·n) RANKS of its target quantile,
    // measured by re-ranking the value against the day's data (the +2
    // absorbs order-statistic discreteness and value ties; 1%·n covers
    // the designed 1/accuracy rank error with merge headroom).
    // state_purged_ok pins the mid-stream eviction.
    "st28_stream_quantile_purge" -> { (s, dir) =>
      import s.implicits._
      val (out, q) = purgingQuantileReplay(s, dir)
      val finals = finalPerWindow(out)
        .select($"window", $"n_events",
          element_at($"pq", 1).as("p50_sk"), element_at($"pq", 2).as("p90_sk"))
      val purgedOk = purgedOkBit(s, dir, q)
      val exact = Tables.events(s, dir)
        .groupBy(window($"ts", "1 day").as("window"))
        .agg(expr("percentile(value, 0.5D)").as("p50_exact"),
          expr("percentile(value, 0.9D)").as("p90_exact"))
      // re-rank the sketch values against the raw day: one broadcast of
      // the ≤(days-in-flight)-row finals frame, one hash aggregate
      val ranks = Tables.events(s, dir)
        .select(window($"ts", "1 day").as("window"), $"value")
        .join(broadcast(finals.select($"window", $"p50_sk", $"p90_sk")), "window")
        .groupBy($"window")
        .agg(sum(when($"value" <= $"p50_sk", 1L).otherwise(0L)).as("r50"),
          sum(when($"value" <= $"p90_sk", 1L).otherwise(0L)).as("r90"),
          count(lit(1)).as("n"))
      def rankOk(r: Column, quantile: Double) =
        when(abs(r - lit(quantile) * $"n") <= lit(2.0) + lit(0.01) * $"n", 1L)
          .otherwise(0L)
      finals.join(exact, "window").join(ranks, "window")
        .select(
          date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("w_start"),
          $"n_events",
          round($"p50_exact", 4).as("p50_exact"),
          round($"p90_exact", 4).as("p90_exact"),
          rankOk($"r50", 0.5).as("p50_rank_ok"),
          rankOk($"r90", 0.9).as("p90_rank_ok"),
          lit(purgedOk).as("state_purged_ok"))
        .orderBy($"w_start")
    },

    // STREAMING NEAR-DUP INGEST GATE with a SELF-MAINTAINING LSH index —
    // dd17's persisted artifact EVOLVING inside one streaming query, the
    // crawl-ingest loop (probe → gate → index-append) end to end: each
    // micro-batch (a content-addressed third of the corpus, replayed in
    // deterministic mtime order) probes the index accumulated from every
    // EARLIER arrival (exact content digests + LSH band table), drops
    // exact and near (J ≥ 0.5) duplicates of any earlier-arriving doc,
    // emits its keepers through the idempotent atomic-rename sink, and
    // APPENDS its own digests/bands/text to the index for the next
    // batch. Arrival order is content-addressed (chunk = doc_id % 3,
    // within-batch by doc_id), so "earlier" is a pure function of the
    // data and the WHOLE sequential process replays exactly in DuckDB:
    // dropped iff SOME earlier arrival shares the digest or reaches the
    // Jaccard threshold. EVERY arrival indexes its bands (keeper or not
    // — the index-everything-emit-once posture), so chains through
    // dropped docs drop identically on both sides. Scale shape: the
    // band index is bucket-partitioned on disk and PRUNED TO THE
    // BATCH'S BANDS before the probe — per batch the work is
    // proportional to the buckets the batch touches, NOT the total
    // accumulated index (which would make B batches quadratic in
    // stream length); history text is re-read ONLY for candidate
    // partners (dd17's left-semi prune — the full history is never
    // re-shingled); all index appends go through the per-batch
    // atomic-commit protocol, so an at-least-once retry can neither
    // duplicate index rows nor emit a keeper twice.
    "st29_stream_lsh_dedup" -> { (s, dir) =>
      import s.implicits._
      val scratch = ensureDocChunks(s, dir, 3)
      val base = StreamRunner.scratchDir("lshstream-")
      runLshDedupStream(s, scratch, base): Unit
      graft.stream.IdempotentSink.read(s, s"$base/keepers")
        .select($"doc_id", $"n_chars")
        .orderBy($"doc_id")
    },

    // st29 UNDER THE AUTO-COMPACTION POLICY — the LSM loop run LIVE:
    // the same 3-batch near-dup ingest, but after each batch every sink
    // artifact (bucket-routed band index; digest, corpus and keeper
    // sinks) folds once its visible hot-directory count exceeds its
    // budget, while the NEXT batch keeps probing through the
    // manifest-aware readers. The keepers must be bit-identical to
    // st29's (the oracle is st29's full sequential replay verbatim) —
    // maintenance moves no verdict. Certs: folds genuinely fired
    // mid-stream, not just at the end (the flat sinks deterministically
    // exceed budget 1 after the second batch), and the post-run layout
    // is within budget — flat sinks ≤ 1 hot dir + ≤ 1 cold run, the
    // routed band index ≤ BandBuckets hot dirs + ≤ 1 cold run — so
    // listing cost stays bounded no matter how long the crawl runs.
    "st37_stream_lsh_compacting" -> { (s, dir) =>
      import s.implicits._
      val scratch = ensureDocChunks(s, dir, 3)
      val base = StreamRunner.scratchDir("lshcomp-")
      val folds = runLshDedupStream(s, scratch, base, maxHot = Some(1))
      def ls(p: String) = Option(new java.io.File(p).listFiles())
        .getOrElse(Array.empty[java.io.File]).filter(_.isDirectory)
      def hotFlat(p: String) = ls(p).count(_.getName.matches("b\\d+"))
      def cold(p: String) = ls(p).count(_.getName.matches("c\\d+"))
      val flat = Seq("digests", "corpus", "keepers").map(d => s"$base/$d")
      val bandsHot = ls(s"$base/bands")
        .filterNot(f => f.getName.startsWith("_") || f.getName.matches("[bc]\\d+"))
        .map(rp => Option(rp.listFiles()).getOrElse(Array.empty[java.io.File])
          .count(f => f.isDirectory && f.getName.matches("b\\d+"))).sum
      val hotOk = bandsHot <= graft.ops.Dedup.BandBuckets &&
        flat.forall(p => hotFlat(p) <= 1)
      val coldOk = flat.forall(p => cold(p) == 1) &&
        cold(s"$base/bands") <= 1
      graft.stream.IdempotentSink.read(s, s"$base/keepers")
        .select($"doc_id", $"n_chars",
          lit(if (folds >= 3) 1L else 0L).as("lsm_folds_ok"),
          lit(if (hotOk) 1L else 0L).as("hot_bounded_ok"),
          lit(if (coldOk) 1L else 0L).as("one_cold_run_ok"))
        .orderBy($"doc_id")
    },

    // LIVE TOMBSTONES in the compacting ingest stream (st39) — dd21's
    // takedown op composed into st37's LSM loop: deletion requests
    // arrive MID-STREAM (after batch 0 commits, targeting
    // already-ingested chunk-0 docs), every later batch's probe sees the
    // tombstoned docs as gone immediately (all three history reads —
    // band index, id-keyed digest index, partner corpus — anti-join the
    // tombstone artifact: logical deletion, no rewrite), and the
    // PHYSICAL purge rides the next auto-compaction fold each artifact
    // was going to pay for anyway (batch 1's policy folds, which all
    // four sinks deterministically trigger). The tombstone set is
    // data-derived so deletion does real work wherever the corpus
    // allows: every 5th chunk-0 doc PLUS any chunk-0 doc sharing an
    // exact digest with a later-chunk doc — exactly the docs whose
    // removal flips a batch-1/2 verdict; n_tombstones is
    // oracle-recomputed so vacuosity would be visible. The final keeper
    // read applies the reader's LOGICAL tombstone anti-join — per
    // IdempotentSink's own contract deletion is the reader's job until
    // a fold runs, so the emitted rows stay correct even when a
    // tombstone lands after the last policy fold (e.g. a larger maxHot)
    // — while the `leaks` audit below stays RAW (hot+cold files, no
    // filter): purged_ok is the PHYSICAL-deletion cert, and under this
    // parameterization (maxHot=1, tombstones after batch 0 of 3) it
    // pins that ≥4 purge-bearing folds fired mid-stream and no artifact
    // — bands, digests, corpus, keepers — still holds a tombstoned row.
    "st39_stream_tombstone_takedown" -> { (s, dir) =>
      import s.implicits._
      val scratch = ensureDocChunks(s, dir, 3)
      val base = StreamRunner.scratchDir("lshtomb-")
      val tombDir = s"$base/tombstones"
      def writeTombstones(s2: org.apache.spark.sql.SparkSession): Unit = {
        val d = Tables.documents(s2, dir)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("h"),
            (col("doc_id") % 3).as("ck"))
        val laterH = d.filter(col("ck") > 0).select(col("h")).distinct()
        d.filter(col("ck") === 0)
          .join(laterH, Seq("h"), "left_semi").select(col("doc_id"))
          .unionByName(d.filter(col("ck") === 0 && col("doc_id") % 5 === 0)
            .select(col("doc_id")))
          .distinct().select(col("doc_id").as("tid"))
          .coalesce(1).write.mode("overwrite").parquet(tombDir)
      }
      val folds = runLshDedupStream(s, scratch, base, maxHot = Some(1),
        tombstoneDir = Some(tombDir),
        afterBatch = (s2, id) => if (id == 0L) writeTombstones(s2))
      val tomb = s.read.parquet(tombDir).cutLineage()
      // bytes provably gone: every artifact's reader view (hot + cold,
      // manifest-resolved — the actual surviving files), no logical
      // filter applied; all four key columns audited in ONE action,
      // which the tombstone count rides too (Actions.longs)
      val leaksFrame = graft.stream.IdempotentSink
        .readRouted(s, s"$base/bands", "band_bucket").get
        .select($"id".as("k"))
        .unionByName(graft.stream.IdempotentSink.read(s, s"$base/digests")
          .select($"id".as("k")))
        .unionByName(graft.stream.IdempotentSink.read(s, s"$base/corpus")
          .select($"doc_id".as("k")))
        .unionByName(graft.stream.IdempotentSink.read(s, s"$base/keepers")
          .select($"doc_id".as("k")))
        .join(tomb, $"k" === tomb("tid"), "left_semi")
      val Seq(nTomb, leaks) = graft.ops.Actions.longs(
        graft.ops.Actions.countOf(tomb),
        graft.ops.Actions.countOf(leaksFrame))
      graft.stream.IdempotentSink.read(s, s"$base/keepers")
        .join(tomb, col("doc_id") === tomb("tid"), "left_anti")
        .select($"doc_id", $"n_chars",
          lit(nTomb).as("n_tombstones"),
          lit(if (folds >= 4) 1L else 0L).as("purge_folds_ok"),
          lit(if (leaks == 0L) 1L else 0L).as("purged_ok"))
        .orderBy($"doc_id")
    },

    // STREAMING VECTOR SEARCH against the PERSISTED IVF index — an12's
    // restart artifact serving a QUERY STREAM (nearline retrieval:
    // embeddings of newly arrived items looked up against the corpus as
    // they land). The index — driver-side centroids + distributed
    // (id, cell) assignment table — is built and WRITTEN ONCE before the
    // stream starts; each micro-batch re-READS the assignment parquet
    // (a scan, never a re-clustering) and runs the identical probe
    // arithmetic as an02/an12, appending its top-k lists through the
    // idempotent sink. Certification is an02's inline-bit pattern (raw
    // neighbor ids are IVF-internals-bound): per-query k_returned /
    // in_corpus_ok / not_self_ok / ordered_ok, the an03-calibrated
    // recall floor vs the exact brute-force answer (same query set as
    // an01/an02, so the floor is the already-certified one), plus the
    // an12 equivalence ACROSS THE STREAMING BOUNDARY — the accumulated
    // sink must equal the one-shot loaded-index search bit for bit
    // (stream_batch_equal). Scale shape: per batch the corpus is probed
    // only in the queries' cells (assignment join), queries broadcast;
    // at 100 TB the assignment table is bucketed by cell so the probe
    // reads only probed buckets.
    "st30_stream_ann_topk" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val key = s"emb-$dir"
      val centers = graft.ops.Similarity.coarseQuantizer(
        emb, "vec_id", "embedding", key, nCells = 16, seed = 42L)
      val base = StreamRunner.scratchDir("annstream-")
      val sinkDir = s"$base/topk"
      // the one-time index write (the an12 artifact posture)
      graft.ops.Similarity.ivfAssignments(emb, "vec_id", "embedding", centers)
        .write.mode("overwrite").parquet(s"$base/assignments")
      val scratch = ensureEmbQueryChunks(s, dir, 3)
      val stream = s.readStream.schema(Schemas.embeddings)
        .option("maxFilesPerTrigger", 1).parquet(scratch)
      val q = stream.writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b0: DataFrame, batchId: Long) =>
          val s2 = b0.sparkSession
          val topk = graft.ops.Similarity.ivfTopKWithIndex(
            Tables.embeddings(s2, dir), b0, "vec_id", "embedding", k = 5,
            centers = centers,
            assignments = s2.read.parquet(s"$base/assignments"), nProbe = 4)
          graft.stream.IdempotentSink.writeBatch(topk, sinkDir, batchId)
        }
        .start()
      q.awaitTermination()
      val streamed = graft.stream.IdempotentSink.read(s, sinkDir)
      val queries = emb.filter($"vec_id" < 10)
      // an12's equivalence cert, across the streaming boundary
      val oneShot = graft.ops.Similarity.ivfTopKWithIndex(
        emb, queries, "vec_id", "embedding", k = 5,
        centers = centers,
        assignments = s.read.parquet(s"$base/assignments"), nProbe = 4)
      val equal = streamed
        .select($"query_id", $"rank", $"neighbor_id".as("n_s"), $"cosine".as("c_s"))
        .join(oneShot.select($"query_id", $"rank",
          $"neighbor_id".as("n_b"), $"cosine".as("c_b")),
          Seq("query_id", "rank"), "full_outer")
        .agg(sum(when($"n_s".isNull || $"n_b".isNull || $"n_s" =!= $"n_b" ||
            abs($"c_s" - $"c_b") > 1e-15, 1L).otherwise(0L)).as("n_diff"))
        .select(when($"n_diff" === 0, 1L).otherwise(0L).as("stream_batch_equal"))
      // an02's recall floor vs the exact answer (same query set → the
      // an03-calibrated >= 0.5 @ nProbe=4 bar applies verbatim)
      val exact = graft.ops.Similarity.bruteForceTopK(
          emb, queries, "vec_id", "embedding", k = 5)
        .select($"query_id".as("qid"), $"neighbor_id".as("nid"))
      val recall = exact.join(
          streamed.select($"query_id".as("q2"), $"neighbor_id".as("n2"), lit(1L).as("hit")),
          $"qid" === $"q2" && $"nid" === $"n2", "left")
        .agg((sum(coalesce($"hit", lit(0L))).cast("double") / count(lit(1))).as("recall"))
        .select(when($"recall" >= 0.5, 1L).otherwise(0L).as("recall_ok"))
      val corpus = emb.select($"vec_id".as("neighbor_id"), lit(1L).as("in_corpus"))
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"rank")
      streamed
        .join(broadcast(corpus), Seq("neighbor_id"), "left")
        .withColumn("prev_cos", lag($"cosine", 1).over(wOrd))
        .groupBy($"query_id")
        .agg(count(lit(1)).as("k_returned"),
          min(coalesce($"in_corpus", lit(0L))).as("in_corpus_ok"),
          min(when($"neighbor_id" =!= $"query_id", 1L).otherwise(0L)).as("not_self_ok"),
          min(when($"prev_cos".isNull || $"cosine" <= $"prev_cos", 1L)
            .otherwise(0L)).as("ordered_ok"))
        .crossJoin(broadcast(recall))
        .crossJoin(broadcast(equal))
        .orderBy($"query_id")
    },

    // STREAMING ANN INDEX INGEST — the st29 treatment for the ANN tier,
    // closing the an12/st30 loop from the WRITE side: st30 serves a
    // query stream against a once-written index; here the index ITSELF
    // evolves inside a streaming query. Each micro-batch of newly
    // arrived embeddings is assigned to the PERSISTED centroids (fixed
    // retrieval geometry — cells never move after the initial fit;
    // re-clustering per batch would silently invalidate every earlier
    // assignment) and appended to the (id, cell) assignment artifact
    // through the per-batch atomic commit, so an at-least-once retry
    // appends nothing. Certification (cell ids are k-means-internals-
    // bound, so the an02/tx07 inline-bit pattern):
    //  - n_vectors + coverage_ok: the accumulated artifact covers every
    //    corpus vector exactly once (count = DuckDB's independent
    //    count; distinct = total);
    //  - n_index_batches: the replay genuinely crossed 3 appends;
    //  - ingest_equal: accumulated artifact ≡ one-shot ivfAssignments
    //    over the full corpus, row for row — assignment is a pure
    //    function of (vector, centroids), so batch boundaries must not
    //    move a single cell;
    //  - search_equal: an an02-shape probe served from the ACCUMULATED
    //    artifact ≡ the same probe from the one-shot artifact, bit for
    //    bit — the evolved index SERVES identically (st30's equivalence
    //    bit, now across the ingest boundary too).
    // Scale shape: per batch the work is one narrow (id, cell)
    // assignment projection over the batch (centroids ride the closure,
    // nearest-cell is codegen arithmetic) + one atomic parquet commit —
    // the accumulated index is never re-read, let alone re-clustered,
    // during ingest.
    "st34_stream_ann_ingest" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val centers = graft.ops.Similarity.coarseQuantizer(
        emb, "vec_id", "embedding", s"emb-$dir", nCells = 16, seed = 42L)
      val base = StreamRunner.scratchDir("annindex-")
      val idxDir = s"$base/assignments"
      val scratch = ensureEmbChunks(s, dir, 3)
      val stream = s.readStream.schema(Schemas.embeddings)
        .option("maxFilesPerTrigger", 1).parquet(scratch)
      val q = stream.writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b0: DataFrame, batchId: Long) =>
          graft.stream.IdempotentSink.writeBatch(
            graft.ops.Similarity.ivfAssignments(
              b0, "vec_id", "embedding", centers),
            idxDir, batchId)
        }
        .start()
      q.awaitTermination()
      val streamedIdx = graft.stream.IdempotentSink.read(s, idxDir)
      val oneShotIdx = graft.ops.Similarity.ivfAssignments(
        emb, "vec_id", "embedding", centers)
      val nBatches = Option(new java.io.File(idxDir).listFiles())
        .getOrElse(Array.empty).count(_.getName.startsWith("b"))
      val coverage = streamedIdx.agg(
        count(lit(1)).as("n_vectors"),
        when(countDistinct($"vec_id") === count(lit(1)), 1L).otherwise(0L)
          .as("coverage_ok"))
      val ingestEqual = streamedIdx.select($"vec_id", $"cell".as("c_s"))
        .join(oneShotIdx.select($"vec_id", $"cell".as("c_b")),
          Seq("vec_id"), "full_outer")
        .agg(sum(when($"c_s".isNull || $"c_b".isNull || $"c_s" =!= $"c_b", 1L)
          .otherwise(0L)).as("n_diff"))
        .select(when($"n_diff" === 0, 1L).otherwise(0L).as("ingest_equal"))
      val queries = emb.filter($"vec_id" < 10)
      def probe(idx: DataFrame) = graft.ops.Similarity.ivfTopKWithIndex(
        emb, queries, "vec_id", "embedding", k = 5,
        centers = centers, assignments = idx, nProbe = 4)
      val searchEqual = probe(streamedIdx)
        .select($"query_id", $"rank", $"neighbor_id".as("n_s"), $"cosine".as("c_s"))
        .join(probe(oneShotIdx).select($"query_id", $"rank",
          $"neighbor_id".as("n_b"), $"cosine".as("c_b")),
          Seq("query_id", "rank"), "full_outer")
        .agg(sum(when($"n_s".isNull || $"n_b".isNull || $"n_s" =!= $"n_b" ||
            abs($"c_s" - $"c_b") > 1e-15, 1L).otherwise(0L)).as("n_diff"))
        .select(when($"n_diff" === 0, 1L).otherwise(0L).as("search_equal"))
      coverage
        .withColumn("n_index_batches", lit(nBatches.toLong))
        .crossJoin(broadcast(ingestEqual))
        .crossJoin(broadcast(searchEqual))
    },

    // STREAMING PQ ENCODE-AT-INGEST (st40) — an13's WRITE side closed
    // the way st34 closed an12's: each micro-batch of newly arrived
    // embeddings is ENCODED under the PERSISTED PQ codebooks (fixed
    // quantizer geometry — refitting per batch would silently
    // invalidate every earlier code) and appended to the (vec_id,
    // codes) table through the per-batch atomic commit, so an
    // at-least-once retry appends nothing. This is exactly the loop
    // an13's contract names — "encode once at ingest, store, search
    // forever" (ops/Similarity.scala pqCodeTable) — which no entry
    // exercised end to end before. Certification (codes are
    // kmeans-internal → st34's inline-bit pattern):
    //  - n_vectors + coverage_ok: the accumulated code table covers
    //    every corpus vector exactly once (count = DuckDB's);
    //  - n_index_batches: the replay genuinely crossed 3 appends;
    //  - ingest_equal: accumulated table ≡ one-shot pqCodeTable over
    //    the full corpus, code array for code array — encoding is a
    //    pure function of (vector, codebooks), so batch boundaries must
    //    not move a single centroid assignment;
    //  - search_equal: an an13-shape probe (pure-ADC candidates +
    //    shortlist-20 exact re-rank via pqTopKWithIndex) served from
    //    the ACCUMULATED table ≡ the same probe from the one-shot
    //    table, bit for bit — the evolved index SERVES identically.
    // Scale shape: per batch the work is one narrow (id, codes)
    // projection over the batch rows (the m·ksub=256-centroid books
    // ride the closure as literals, encoding is codegen arithmetic) +
    // one atomic parquet commit — the accumulated table is never
    // re-read during ingest and the books are never re-fit; at 100 TB
    // the 16 B/vector code table is the only thing the ADC search tier
    // ever scans.
    "st40_stream_pq_ingest" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val (m, ksub) = (16, 16)
      val books = graft.ops.Similarity.pqCodebooks(
        emb, "vec_id", "embedding", s"emb-$dir", m, ksub, 42L)
      val base = StreamRunner.scratchDir("pqingest-")
      val codesDir = s"$base/pq_codes"
      val scratch = ensureEmbChunks(s, dir, 3)
      val stream = s.readStream.schema(Schemas.embeddings)
        .option("maxFilesPerTrigger", 1).parquet(scratch)
      val q = stream.writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b0: DataFrame, batchId: Long) =>
          graft.stream.IdempotentSink.writeBatch(
            graft.ops.Similarity.pqCodeTable(
              b0, "vec_id", "embedding", books),
            codesDir, batchId)
        }
        .start()
      q.awaitTermination()
      val streamedCodes = graft.stream.IdempotentSink.read(s, codesDir)
      val oneShotCodes = graft.ops.Similarity.pqCodeTable(
        emb, "vec_id", "embedding", books)
      val nBatches = Option(new java.io.File(codesDir).listFiles())
        .getOrElse(Array.empty).count(_.getName.startsWith("b"))
      val coverage = streamedCodes.agg(
        count(lit(1)).as("n_vectors"),
        when(countDistinct($"vec_id") === count(lit(1)), 1L).otherwise(0L)
          .as("coverage_ok"))
      val ingestEqual = streamedCodes.select($"vec_id", $"codes".as("c_s"))
        .join(oneShotCodes.select($"vec_id", $"codes".as("c_b")),
          Seq("vec_id"), "full_outer")
        .agg(sum(when(!($"c_s" <=> $"c_b"), 1L).otherwise(0L)).as("n_diff"))
        .select(when($"n_diff" === 0, 1L).otherwise(0L).as("ingest_equal"))
      val queries = emb.filter($"vec_id" < 10)
      def probe(codes: DataFrame) = graft.ops.Similarity.pqTopKWithIndex(
        emb, queries, "vec_id", "embedding", k = 5, books, codes,
        shortlist = 20)
      val searchEqual = probe(streamedCodes)
        .select($"query_id", $"rank", $"neighbor_id".as("n_s"), $"cosine".as("c_s"))
        .join(probe(oneShotCodes).select($"query_id", $"rank",
          $"neighbor_id".as("n_b"), $"cosine".as("c_b")),
          Seq("query_id", "rank"), "full_outer")
        .agg(sum(when($"n_s".isNull || $"n_b".isNull || $"n_s" =!= $"n_b" ||
            abs($"c_s" - $"c_b") > 1e-15, 1L).otherwise(0L)).as("n_diff"))
        .select(when($"n_diff" === 0, 1L).otherwise(0L).as("search_equal"))
      coverage
        .withColumn("n_index_batches", lit(nBatches.toLong))
        .crossJoin(broadcast(ingestEqual))
        .crossJoin(broadcast(searchEqual))
    },

    // STREAMING EMBEDDING NEAR-DUP INGEST GATE — st29's treatment for
    // the SEMANTIC tier, composing what already exists: per-batch
    // multi-probe assignment under PERSISTED centroids (st34's fixed
    // geometry), dd19's cell-blocked exact-cosine-verified pair stage,
    // the keeper gate, and an idempotent PER-CELL routed index append —
    // so each batch's probe reads only its touched cells (directory skip
    // hot, partition filter cold) and dd20's compaction applies to the
    // artifact verbatim. Certification (cell geometry is
    // kmeans-internal, so the dd19 inline-cert posture):
    //  - n_docs / n_exact_drops: DuckDB independently REPLAYS the full
    //    sequential exact-cosine drop rule over content-addressed
    //    arrival order (chunk = vec_id % 3, then vec_id — st29's oracle
    //    pattern with cosine instead of Jaccard);
    //  - coverage_ok: keepers distinct and inside the corpus;
    //  - stream_one_shot_equal: accumulated keepers ≡ a one-shot blocked
    //    replay over the full corpus — batch boundaries moved no verdict
    //    (st34's ingest_equal, lifted to the dedup decision);
    //  - drops_subset_ok: every streamed drop is justified by an exact
    //    pair with an earlier partner (precision = 1 by construction —
    //    candidates are exact-verified — asserted, not assumed);
    //  - recall_ok: streamed drops cover ≥ 0.9 of the exact replay's
    //    (measured 0.974–0.983 across SFs at nProbe=4 / maxCell=1024;
    //    the gap is multi-probe blocking recall — dd19's documented
    //    tradeoff. The inline O(n²) exact replay exists only to measure
    //    it, the dd10/dd11/dd19 whitelisted ground-truth posture — the
    //    production path never runs all-pairs).
    // CERT SAMPLING past the full-cert budget (the r18 scale cells
    // measured the CERT, not the operator — 16× ratio 5.6 was all
    // all-pairs): above Similarity.CertFullMax corpus rows (the regime
    // rule is Similarity.certProbeIds, shared with dd19 so the switch
    // can never diverge) the subset/recall certs
    // run over the 1024 content-hash-smallest vec_ids — exact pair
    // neighborhoods for every probed doc via allPairsCosineProbed
    // (O(n·1024), probe side broadcast), drop-side membership decided
    // exactly, recall estimated over ~1024 deterministic probes. Driver
    // SFs (≤ 2000 rows) keep the full cert, so the DuckDB oracle's
    // n_exact_drops is always the full-corpus number where the oracle
    // actually runs.
    "st35_stream_semantic_dedup" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val key = s"emb-st35-$dir"
      val cells = graft.ops.Similarity.autoCells(emb, SemDedupMaxCell, key)
      val centers = graft.ops.Similarity.coarseQuantizer(
        emb, "vec_id", "embedding", key, cells, seed = 42L)
      val base = StreamRunner.scratchDir("semdedup-")
      runSemanticDedupStream(s, ensureEmbChunks(s, dir, 3), base, centers)
      val streamedKeepers = graft.stream.IdempotentSink
        .read(s, s"$base/keepers").select($"vec_id").cutLineage()
      // one-shot blocked replay: the same machinery, all rows fresh
      val oneShotPairs = graft.ops.Similarity.blockedDupPairs(
        graft.ops.Similarity.dupProbeRows(emb, "vec_id", "embedding",
          centers, SemDedupNProbe).withColumn("fresh", lit(1)),
        SemDedupThreshold, SemDedupMaxCell)
      // content-addressed arrival order: id_a < id_b, so with equal
      // chunks the earlier arrival is id_a and the drop is id_b
      def dropsOf(pairs: DataFrame) = pairs
        .select(when(pmod($"id_a", lit(3)) <= pmod($"id_b", lit(3)), $"id_b")
          .otherwise($"id_a").as("vec_id")).distinct()
      val corpusIds = emb.select($"vec_id")
      val oneShotKeepers = corpusIds
        .join(dropsOf(oneShotPairs), Seq("vec_id"), "left_anti")
      val equal = streamedKeepers.withColumn("s", lit(1))
        .join(oneShotKeepers.withColumn("o", lit(1)), Seq("vec_id"), "full_outer")
        .agg(sum(when($"s".isNull || $"o".isNull, 1L).otherwise(0L)).as("nd"))
        .select(when(coalesce($"nd", lit(0L)) === 0, 1L).otherwise(0L)
          .as("stream_one_shot_equal"))
      val certIds = graft.ops.Similarity.certProbeIds(emb, "vec_id")
      val exactPairs = certIds match {
        case None => graft.ops.Similarity.allPairsCosine(
          emb, "vec_id", "embedding", SemDedupThreshold)
        case Some(ids) => graft.ops.Similarity.allPairsCosineProbed(
          emb, "vec_id", "embedding", SemDedupThreshold, ids)
      }
      def probed(df: DataFrame) =
        certIds.fold(df)(ids => df.join(ids, Seq("vec_id"), "left_semi"))
      val exactDrops = probed(dropsOf(exactPairs)).cutLineage()
      val streamedDrops = probed(corpusIds
        .join(streamedKeepers, Seq("vec_id"), "left_anti"))
      val subsetOk = streamedDrops.join(exactDrops, Seq("vec_id"), "left_anti")
        .agg(when(count(lit(1)) === 0, 1L).otherwise(0L).as("drops_subset_ok"))
      // |streamed|/|exact| is the recall ONLY under the subset bit above;
      // a subset violation flips drops_subset_ok red on its own
      val recall = exactDrops.agg(count(lit(1)).as("n_exact_drops"))
        .crossJoin(broadcast(streamedDrops.agg(count(lit(1)).as("n_sd"))))
        .select($"n_exact_drops",
          when($"n_exact_drops" === 0 ||
            $"n_sd".cast("double") / $"n_exact_drops" >= 0.9, 1L)
            .otherwise(0L).as("recall_ok"))
      val nBatches = Option(new java.io.File(s"$base/cellindex/_committed")
        .listFiles()).getOrElse(Array.empty[java.io.File])
        .count(_.getName.startsWith("b"))
      val coverage = streamedKeepers
        .join(corpusIds.withColumn("inc", lit(1)), Seq("vec_id"), "left")
        .agg(when(countDistinct($"vec_id") === count(lit(1)) &&
          min(coalesce($"inc", lit(0))) === 1, 1L).otherwise(0L)
          .as("coverage_ok"))
      emb.agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(recall))
        .withColumn("n_index_batches", lit(nBatches.toLong))
        .crossJoin(broadcast(coverage))
        .crossJoin(broadcast(equal))
        .crossJoin(broadcast(subsetOk))
        // the cert-regime switch made EXPLICIT (r19 advice): above
        // CertFullMax, n_exact_drops means the probe-restricted count —
        // the oracle always computes the full-corpus number and pins
        // cert_sampled=0, so a testdata/SF change crossing the switch
        // fails HERE, at the cause, not in a far-away count mismatch
        .withColumn("cert_sampled",
          lit(if (certIds.isDefined) 1L else 0L))
    },

    // STREAMING DETERMINISTIC FIXED-k SAMPLE — tx20's streaming twin,
    // closing the sampling family's loop (the st29/st30 treatment): the
    // per-source k content-hash-smallest docs maintained across
    // micro-batches as a BOUNDED versioned artifact. The selection rule
    // is a semilattice — top-k(A ∪ B) = top-k(top-k(A) ∪ top-k(B)) — so
    // each batch folds its own per-source top-k into the previous
    // artifact and re-elects, and the final artifact equals the one-shot
    // batch answer EXACTLY (the deterministic replacement for reservoir
    // sampling: no RNG, duplicates elect identically, stable under
    // replay and partitioning). State is the artifact itself: ≤
    // n_sources × k rows at EVERY version regardless of stream length —
    // pinned by state_bounded_ok over all versions — where a naive
    // sample-at-the-end holds the whole stream. Versioned artifact
    // writes are deterministic functions of (previous version, batch),
    // so an at-least-once retry rewrites byte-identical content.
    "st31_stream_fixed_k_sample" -> { (s, dir) =>
      import s.implicits._
      val K = 5
      val scratch = ensureDocChunks(s, dir, 3)
      val base = StreamRunner.scratchDir("ksample-")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      def topK(df: DataFrame) = df
        .withColumn("_rk", row_number().over(w)).filter(col("_rk") <= K)
        .drop("_rk")
      val stream = s.readStream.schema(Schemas.documents)
        .option("maxFilesPerTrigger", 1).parquet(scratch)
      val q = stream.writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b0: DataFrame, batchId: Long) =>
          val s2 = b0.sparkSession
          val batchTop = topK(b0.select(col("source"), col("doc_id"),
            col("n_chars"), md5(col("text").cast("binary")).as("h")))
          // artifact-resolved predecessor through the repair-on-read
          // path (see incrementalView) — restart- and race-safe
          val prev = graft.stream.VersionedSnapshot.versionIds(s2, base)
            .filter(_ < batchId).lastOption
          val merged = prev.fold(batchTop)(p => topK(
            graft.stream.VersionedSnapshot.read(s2, base, p)
              .unionByName(batchTop)))
          graft.stream.VersionedSnapshot.publish(merged, base, batchId)
        }
        .start()
      q.awaitTermination()
      val versions = graft.stream.VersionedSnapshot.versionIds(s, base)
      val nSources = Tables.documents(s, dir).select($"source").distinct().count()
      // the bounded-state certificate: EVERY version's artifact must fit
      // the n_sources × k budget (the whole point vs a naive reservoir)
      val boundedOk = versions.forall(v =>
        graft.stream.VersionedSnapshot.read(s, base, v).count() <= nSources * K)
      graft.stream.VersionedSnapshot.read(s, base, versions.last)
        .withColumn("rank", row_number().over(w).cast("long"))
        .select($"source", $"rank", $"doc_id", $"n_chars",
          lit(versions.length.toLong).as("n_versions"),
          lit(if (boundedOk) 1L else 0L).as("state_bounded_ok"))
        .orderBy($"source", $"rank")
    },

    // Snapshot RETENTION for the versioned-artifact family (st15/st16/
    // st31's layout — the small-file seam of per-batch FULL snapshots,
    // where IdempotentSink.compact covers per-batch DELTAS): st15's
    // incremental view maintained across a 4-micro-batch replay, with
    // each batch pruning the artifact to the newest 2 versions after its
    // snapshot commits (keep=2 — an at-least-once retry of batch id
    // re-reads v(id-1) as its merge input). Without retention the writer
    // leaks one directory per batch forever; with it the artifact is
    // O(keep) directories regardless of stream length, and the FINAL
    // content is unchanged because every snapshot is self-contained —
    // the oracle recomputes st15's one-shot view. Cert bits: the replay
    // crossed ≥ 4 merges AND ≤ 2 versions survive with the newest being
    // the last batch's (retention_ok); republishing under the committed
    // latest id changes nothing — committed versions are immutable under
    // at-least-once redelivery (republish_noop_ok).
    "st36_versioned_retention" -> { (s, dir) =>
      import s.implicits._
      import graft.stream.VersionedSnapshot
      val (view, lastV, base) = incrementalView(s, dir, nFiles = 4,
        retainKeep = Some(2))
      val ids = VersionedSnapshot.versionIds(s, base)
      val retainedOk = lastV >= 3 && ids.length <= 2 &&
        ids.lastOption.contains(lastV)
      def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
        // sum over decimal(38,0): exact and overflow-free under ANSI
        val r = df.agg(count(lit(1)),
          sum(xxhash64(struct(df.columns.map(col): _*))
            .cast("decimal(38,0)"))).head()
        (r.getLong(0), r.getDecimal(1))
      }
      val before = digest(VersionedSnapshot.read(s, base, lastV))
      VersionedSnapshot.publish(s.range(1).toDF("bogus"), base, lastV)
      val republishNoop = digest(VersionedSnapshot.read(s, base, lastV)) == before
      view.select($"day", $"event_type", $"n", $"sum_value",
        lit(if (retainedOk) 1L else 0L).as("retention_ok"),
        lit(if (republishNoop) 1L else 0L).as("republish_noop_ok"))
        .orderBy($"day", $"event_type")
    },

    // TIME-TRAVEL read over the versioned-snapshot artifact (st38) —
    // st36 gave the family retention; this closes the lakehouse loop
    // with the AS-OF read (VersionedSnapshot.readAt): the st15-shaped
    // incremental view is maintained across the four content-addressed
    // md5-quarter chunks (st19's fixture — membership is a pure function
    // of event_id, so DuckDB REPLAYS the prefix), every batch publishes
    // its version, and the certified result is readAt(version 1) — the
    // 2-batch prefix state, NOT the final view. The oracle recomputes
    // the same aggregate over exactly the rows with md5 prefix < '80'
    // (chunks 0+1). Cert bits:
    //  - versions_ok: the replay committed versions 0..3 and all four
    //    remain readable (no retention ran — time travel's precondition);
    //  - immutable_ok: v1's content digest taken the moment batch 1
    //    published equals its digest after batches 2 and 3 committed —
    //    a reader pinned to an old version is undisturbed by later
    //    publishes (the AS-OF contract st36's retention row left open).
    "st38_time_travel_read" -> { (s, dir) =>
      import s.implicits._
      import graft.stream.VersionedSnapshot
      val scratch = ensureLateChunks(s, dir)
      val raw = StructType(Schemas.events.map {
        case f if f.name == "ts" => f.copy(dataType = org.apache.spark.sql.types.LongType)
        case f => f
      })
      val replay = s.readStream.schema(raw)
        .option("maxFilesPerTrigger", 1).parquet(scratch)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      val base = StreamRunner.scratchDir("ttravel-")
      def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
        val r = df.agg(count(lit(1)),
          sum(xxhash64(struct(df.columns.map(col): _*))
            .cast("decimal(38,0)"))).head()
        (r.getLong(0), r.getDecimal(1))
      }
      val v1AtCommit =
        new java.util.concurrent.atomic.AtomicReference[(Long, java.math.BigDecimal)]()
      val writer = replay.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val s2 = batch.sparkSession
          val delta = batch
            .groupBy(to_date(col("ts")).as("day"), col("event_type"))
            .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))
          // artifact-resolved predecessor through the repair-on-read
          // path (see incrementalView) — restart- and race-safe
          val prev = VersionedSnapshot.versionIds(s2, base)
            .filter(_ < id).lastOption
          val merged = prev.fold(delta)(p =>
            VersionedSnapshot.read(s2, base, p)
              .unionByName(delta)
              .groupBy(col("day"), col("event_type"))
              .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents")))
          VersionedSnapshot.publish(merged, base, id)
          if (id == 1L)
            v1AtCommit.set(digest(VersionedSnapshot.read(s2, base, 1L)))
        }
        .option("checkpointLocation", StreamRunner.scratchDir("ckpt-"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      StreamRunner.start(s, writer).awaitTermination()
      val ids = VersionedSnapshot.versionIds(s, base)
      val versionsOk = ids == Seq(0L, 1L, 2L, 3L)
      val asOf = VersionedSnapshot.readAt(s, base, 1L)
      val immutableOk = Option(v1AtCommit.get()).contains(digest(asOf))
      asOf.select(date_format($"day", "yyyy-MM-dd").as("day"), $"event_type",
          $"n", ($"sum_cents" / 100.0).as("sum_value"),
          lit(if (versionsOk) 1L else 0L).as("versions_ok"),
          lit(if (immutableOk) 1L else 0L).as("immutable_ok"))
        .orderBy($"day", $"event_type")
    },

    // CDC BETWEEN SNAPSHOT VERSIONS (st41) — the last lakehouse verb
    // after retention (st36) and time travel (st38):
    // VersionedSnapshot.readChanges(a, b) emits the row-level
    // insert/delete delta that turns snapshot a into snapshot b (an
    // UPDATE surfaces as its delete+insert pair — snapshots carry no
    // row identity; the Delta-without-change-files posture). The
    // publisher is the st15-shaped merge loop over the per-source
    // document aggregate, replayed across the three content-addressed
    // doc_id%3 chunks, so version k is a pure function of the table —
    // DuckDB independently REPLAYS both endpoint snapshots (v0 = chunk
    // 0, v2 = full corpus) and takes the set difference each way: the
    // oracle-checked rows ARE the change feed. Sources touched by later
    // chunks show the delete+insert pair of their updated aggregate;
    // sources first seen after chunk 0 show a pure insert.
    // genesis_equiv_ok pins the other contract edge inline:
    // readChanges(Genesis, latest) carries zero deletes and equals
    // readAt(latest) row for row (SnapshotSpec pins the append-only and
    // fail-fast-after-retention edges).
    "st41_snapshot_changes" -> { (s, dir) =>
      import s.implicits._
      import graft.stream.VersionedSnapshot
      val base = StreamRunner.scratchDir("snapcdc-")
      val (vbase, lastV) = sourceAggSnapshots(s, dir, base)
      // the genesis edge: changes from the empty artifact are exactly
      // the latest snapshot, all tagged insert (three bounded counts)
      val genesis = VersionedSnapshot
        .readChanges(s, vbase, VersionedSnapshot.Genesis, lastV)
        .cutLineage()
      val latest = VersionedSnapshot.readAt(s, vbase, lastV)
      val gRows = genesis.filter($"_change_type" === "insert")
        .drop("_change_type")
      // one action for all three bounded audit counts (the two exceptAll
      // directions collapse into one signed-count pass — Multiset's
      // rewrite — and the delete count rides the same job)
      val Seq(nDeletes, nDiff) = graft.ops.Actions.longs(
        graft.ops.Actions.countOf(genesis.filter($"_change_type" === "delete")),
        graft.ops.Actions.countOf(
          graft.ops.Multiset.signedCounts(gRows, latest)))
      val genesisOk = nDeletes == 0 && nDiff == 0
      VersionedSnapshot.readChanges(s, vbase, 0L, lastV)
        .select($"source", $"n".cast("long").as("n"),
          $"sum_chars".cast("long").as("sum_chars"),
          $"_change_type".as("change_type"),
          lit(if (genesisOk) 1L else 0L).as("genesis_equiv_ok"))
        .orderBy($"change_type", $"source")
    },

    // CDC CONSUMER: INCREMENTAL VIEW MAINTENANCE from the change feed
    // (st42) — st41 produces the insert/delete delta; this entry is the
    // op that feed EXISTS FOR: a downstream aggregate maintained by
    // applying each version-to-version delta as SIGNED contributions
    // (insert = +1, delete = −1 — count and sum are abelian-group
    // aggregates, so an update's delete+insert pair nets to the value
    // change; the classic IVM treatment), never rescanning the upstream
    // snapshot. The downstream view (per source-group: #sources, total
    // docs, total chars) is itself a VersionedSnapshot artifact whose
    // version ids MIRROR the upstream's, and the consumer resolves its
    // resume point from that artifact — a restarted consumer picks up
    // exactly where its last committed version left off (the merge
    // publisher's restart posture; SnapshotSpec pins the two-session
    // replay). Certs: all_versions_equal_ok replays EVERY downstream
    // version against a from-scratch aggregate over the upstream
    // snapshot it consumed (delta application is exact at every step,
    // not just the last); the emitted rows are the final maintained
    // view, which DuckDB recomputes END-TO-END from the documents table
    // — a consumer that dropped a delete or double-applied an insert
    // hash-mismatches in the values, not in a bit. 100 TB shape: each
    // consumer step touches |delta| rows + the bounded downstream view
    // (one exceptAll-free merge join on the group key), never the
    // upstream corpus; the from-scratch replays are the CERT, priced
    // only at test SFs.
    "st42_cdc_incremental_view" -> { (s, dir) =>
      import s.implicits._
      import graft.stream.VersionedSnapshot
      val base = StreamRunner.scratchDir("cdcivm-")
      val (vbase, lastV) = sourceAggSnapshots(s, dir, base)
      val dbase = s"$base/downstream"
      def groupKey(c: org.apache.spark.sql.Column) =
        substring(c, 4, 10).cast("long") % 4
      val outCols = Seq($"src_group", $"n_sources", $"total_docs",
        $"total_chars")
      VersionedSnapshot.versionIds(s, vbase).foreach { id =>
        // resume point from the DOWNSTREAM artifact, not driver memory
        val prev = VersionedSnapshot.versionIds(s, dbase)
          .filter(_ < id).lastOption
        val delta = VersionedSnapshot.readChanges(s, vbase,
            prev.getOrElse(VersionedSnapshot.Genesis), id)
          .withColumn("sgn",
            when($"_change_type" === "insert", 1L).otherwise(-1L))
          .groupBy(groupKey($"source").as("src_group"))
          .agg(sum($"sgn").as("d_sources"),
            sum($"sgn" * $"n").as("d_docs"),
            sum($"sgn" * $"sum_chars").as("d_chars"))
        val merged = prev match {
          case None => delta
            .select($"src_group", $"d_sources".as("n_sources"),
              $"d_docs".as("total_docs"), $"d_chars".as("total_chars"))
            .filter($"n_sources" > 0)
          case Some(p) => VersionedSnapshot.read(s, dbase, p)
            .join(delta, Seq("src_group"), "full_outer")
            .select($"src_group",
              (coalesce($"n_sources", lit(0L)) +
                coalesce($"d_sources", lit(0L))).as("n_sources"),
              (coalesce($"total_docs", lit(0L)) +
                coalesce($"d_docs", lit(0L))).as("total_docs"),
              (coalesce($"total_chars", lit(0L)) +
                coalesce($"d_chars", lit(0L))).as("total_chars"))
            // a group whose last source vanished leaves the view (the
            // delete half of IVM; pure-growth upstreams never hit it)
            .filter($"n_sources" > 0)
        }
        VersionedSnapshot.publish(merged.select(outCols: _*), dbase, id)
      }
      // cert: EVERY downstream version ≡ a from-scratch aggregate over
      // the upstream snapshot it consumed (bounded: one pair of bounded
      // frames per version; versions = micro-batches = 3 here)
      def scratchOf(id: Long) = VersionedSnapshot.readAt(s, vbase, id)
        .groupBy(groupKey($"source").as("src_group"))
        .agg(count(lit(1)).as("n_sources"), sum($"n").as("total_docs"),
          sum($"sum_chars").as("total_chars"))
        .select(outCols: _*)
      val nVersions = VersionedSnapshot.versionIds(s, dbase).length
      val allEqual = VersionedSnapshot.versionIds(s, dbase).forall { id =>
        val inc = VersionedSnapshot.readAt(s, dbase, id).select(outCols: _*)
        // one signed-count job per version (vs two exceptAll counts).
        // Measured and kept per-version: unioning all versions' compare
        // trees into one action ran SLOWER (st42/st43 +5-10% across a
        // 2x2 counterbalanced A/B) — the fused plan is 3 large
        // readChanges trees whose single slowest stage gates the action
        graft.ops.Multiset.equal(inc, scratchOf(id))
      }
      VersionedSnapshot.readAt(s, dbase, lastV)
        .select($"src_group", $"n_sources".cast("long").as("n_sources"),
          $"total_docs".cast("long").as("total_docs"),
          $"total_chars".cast("long").as("total_chars"),
          lit(nVersions.toLong).as("n_versions"),
          lit(if (allEqual) 1L else 0L).as("all_versions_equal_ok"))
        .orderBy($"src_group")
    },

    // CDC JOIN-VIEW MAINTENANCE (st43) — st42's IVM lifted from one
    // upstream to TWO: a fact feed (the per-source aggregate snapshots)
    // and a CHURNING dimension feed (source → tier, where every version
    // REASSIGNS every tier — the worst-case SCD-2 churn), with the
    // downstream per-tier join view maintained by the exact delta-join
    // algebra: ΔV = ΔA ⋈ B_new + A_old ⋈ ΔB (signed multiplicities
    // multiply; the ΔA⋈ΔB cross term folds into the first term because
    // B_new = B_old + ΔB). Per version the work is each delta joined
    // against ONE side's maintained artifact — never A ⋈ B recomputed,
    // never the upstream corpus rescanned; that |Δ|-proportional shape is
    // the whole point of join IVM at 100 TB. Certs as in st42:
    // all_versions_equal_ok replays EVERY downstream version against a
    // from-scratch join of the two upstream snapshots it consumed, and
    // the final view is recomputed END-TO-END by DuckDB (a dropped
    // delete, a double-applied insert, or a term1/term2 sign slip all
    // mismatch in the values).
    "st43_cdc_join_view" -> { (s, dir) =>
      import s.implicits._
      import graft.stream.VersionedSnapshot
      val base = StreamRunner.scratchDir("cdcjoin-")
      val (abase, lastV) = sourceAggSnapshots(s, dir, base)
      val ids = VersionedSnapshot.versionIds(s, abase)
      // the oracle pins tier = (key + lastV) % 3 and n_versions = 3; a
      // driver change to the chunk replay must fail HERE, at the cause
      require(ids == Seq(0L, 1L, 2L) && lastV == 2L,
        s"st43 expects upstream versions 0,1,2 — got ${ids.mkString(",")}")
      def keyOf(c: org.apache.spark.sql.Column) =
        substring(c, 4, 10).cast("long")
      // dimension upstream: full (source, tier) snapshot per version;
      // tier = (key + id) % 3 reassigns EVERY source each version, so
      // ΔB is a full delete+insert wave — the maximal-churn stress for
      // the A_old ⋈ ΔB term (production churn is sparse; the algebra
      // is the same)
      val bbase = s"$base/dim"
      ids.foreach { id =>
        val dim = VersionedSnapshot.readAt(s, abase, id)
          .select($"source").distinct()
          .withColumn("tier", (keyOf($"source") + id) % 3)
        VersionedSnapshot.publish(dim, bbase, id)
      }
      val dbase = s"$base/joined"
      val outCols = Seq($"tier", $"n_sources", $"total_docs", $"total_chars")
      ids.foreach { id =>
        val prev = VersionedSnapshot.versionIds(s, dbase)
          .filter(_ < id).lastOption
        val from = prev.getOrElse(VersionedSnapshot.Genesis)
        def signed(vb: String) = VersionedSnapshot.readChanges(s, vb, from, id)
          .withColumn("sgn",
            when($"_change_type" === "insert", 1L).otherwise(-1L))
        val term1 = signed(abase)
          .join(VersionedSnapshot.readAt(s, bbase, id), "source")
          .groupBy($"tier").agg(sum($"sgn").as("d_sources"),
            sum($"sgn" * $"n").as("d_docs"),
            sum($"sgn" * $"sum_chars").as("d_chars"))
        val delta = prev match {
          case None => term1
          case Some(p) =>
            val term2 = VersionedSnapshot.readAt(s, abase, p)
              .join(signed(bbase), "source")
              .groupBy($"tier").agg(sum($"sgn").as("d_sources"),
                sum($"sgn" * $"n").as("d_docs"),
                sum($"sgn" * $"sum_chars").as("d_chars"))
            term1.unionByName(term2).groupBy($"tier")
              .agg(sum($"d_sources").as("d_sources"),
                sum($"d_docs").as("d_docs"), sum($"d_chars").as("d_chars"))
        }
        val merged = prev match {
          case None => delta
            .select($"tier", $"d_sources".as("n_sources"),
              $"d_docs".as("total_docs"), $"d_chars".as("total_chars"))
            .filter($"n_sources" > 0)
          case Some(p) => VersionedSnapshot.read(s, dbase, p)
            .join(delta, Seq("tier"), "full_outer")
            .select($"tier",
              (coalesce($"n_sources", lit(0L)) +
                coalesce($"d_sources", lit(0L))).as("n_sources"),
              (coalesce($"total_docs", lit(0L)) +
                coalesce($"d_docs", lit(0L))).as("total_docs"),
              (coalesce($"total_chars", lit(0L)) +
                coalesce($"d_chars", lit(0L))).as("total_chars"))
            .filter($"n_sources" > 0)
        }
        VersionedSnapshot.publish(merged.select(outCols: _*), dbase, id)
      }
      // cert: every downstream version ≡ a from-scratch JOIN of the two
      // upstream snapshots it consumed
      def scratchOf(id: Long) = VersionedSnapshot.readAt(s, abase, id)
        .join(VersionedSnapshot.readAt(s, bbase, id), "source")
        .groupBy($"tier").agg(count(lit(1)).as("n_sources"),
          sum($"n").as("total_docs"), sum($"sum_chars").as("total_chars"))
        .select(outCols: _*)
      val dIds = VersionedSnapshot.versionIds(s, dbase)
      val allEqual = dIds.forall { id =>
        val inc = VersionedSnapshot.readAt(s, dbase, id).select(outCols: _*)
        // one signed-count job per version — kept per-version for the
        // same measured reason as st42 (fused compares ran slower)
        graft.ops.Multiset.equal(inc, scratchOf(id))
      }
      VersionedSnapshot.readAt(s, dbase, lastV)
        .select($"tier".cast("long").as("tier"),
          $"n_sources".cast("long").as("n_sources"),
          $"total_docs".cast("long").as("total_docs"),
          $"total_chars".cast("long").as("total_chars"),
          lit(dIds.length.toLong).as("n_versions"),
          lit(if (allEqual) 1L else 0L).as("all_versions_equal_ok"))
        .orderBy($"tier")
    },

    "st12_stream_hll_window" -> { (s, dir) =>
      import s.implicits._
      val (finals, _) = windowedSketchReplay(s, dir, nFiles = 3)
      val exact = Tables.events(s, dir)
        .groupBy(window($"ts", "1 day").as("window"))
        .agg(countDistinct($"user_id").as("exact_users"))
      finals.join(exact, "window")
        .select(
          date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("w_start"),
          $"n_events", $"exact_users",
          when(abs($"approx_users".cast("double") - $"exact_users") / $"exact_users" <= 0.05, 1L)
            .otherwise(0L).as("sketch_ok"))
        .orderBy($"w_start")
    })

  /** st41/st42's shared upstream publisher: the st15-shaped merge loop
    * over the per-source document aggregate, replayed across the three
    * content-addressed doc_id%3 chunks — each micro-batch publishes a
    * full (source, n, sum_chars) snapshot version through
    * [[graft.stream.VersionedSnapshot]]. The merge input is the newest
    * COMMITTED predecessor, resolved from the artifact itself — a
    * restarted stream (checkpoint skips replayed batches, driver memory
    * gone) resumes from the right state instead of silently
    * re-baselining to the batch's own delta; on a retry of a committed
    * id the merge is computed and then discarded by publish's no-op
    * (StreamSpec pins the two-session replay). Returns (vbase, last
    * committed version id). */
  private def sourceAggSnapshots(s: org.apache.spark.sql.SparkSession,
                                 dir: String, base: String): (String, Long) = {
    import graft.stream.VersionedSnapshot
    val scratch = ensureDocChunks(s, dir, 3)
    val vbase = s"$base/view"
    val q = s.readStream.schema(Schemas.documents)
      .option("maxFilesPerTrigger", 1).parquet(scratch)
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val delta = batch.groupBy(col("source"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        val prev = VersionedSnapshot.versionIds(batch.sparkSession, vbase)
          .filter(_ < id).lastOption
        val merged = prev.fold(delta)(p =>
          VersionedSnapshot.read(batch.sparkSession, vbase, p)
            .unionByName(delta)
            .groupBy(col("source"))
            .agg(sum(col("n")).as("n"), sum(col("sum_chars")).as("sum_chars")))
        VersionedSnapshot.publish(merged, vbase, id)
      }
      .start()
    q.awaitTermination()
    val lastV = VersionedSnapshot.latestId(s, vbase).getOrElse(
      sys.error(s"snapshot replay published no versions under $vbase"))
    (vbase, lastV)
  }

  /** st15's engine, shared with StreamSpec and st36: maintain the
    * per-(day, type) aggregate view across a chunked `nFiles`-micro-batch
    * replay; returns the final snapshot (formatted for the oracle), the
    * last snapshot version id (so specs can assert the replay genuinely
    * crossed ≥ `nFiles` incremental merges), and the artifact base path.
    * Snapshots commit through [[graft.stream.VersionedSnapshot]] (stage +
    * atomic rename; committed versions immutable). `retainKeep`, when
    * set, prunes to the newest N versions INSIDE each batch after its
    * snapshot commits — N ≥ 2, because a retried batch re-reads the
    * previous version as its merge input. */
  private[graft] def incrementalView(s: org.apache.spark.sql.SparkSession,
                                     dir: String, nFiles: Int,
                                     retainKeep: Option[Int] = None)
      : (DataFrame, Long, String) = {
    import s.implicits._
    val scratch = ensureEventChunks(s, dir, nFiles)
    val raw = StructType(Schemas.events.map {
      case f if f.name == "ts" => f.copy(dataType = org.apache.spark.sql.types.LongType)
      case f => f
    })
    val replay = s.readStream.schema(raw)
      .option("maxFilesPerTrigger", 1).parquet(scratch)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val viewBase = StreamRunner.scratchDir("ivm-")
    val writer = replay.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s2 = batch.sparkSession
        val delta = batch
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))
        // merge input resolved from the ARTIFACT (newest committed
        // predecessor, read through the repair-on-read path), not from
        // driver memory — a restarted stream resumes from real state,
        // and a retry's recomputed merge is discarded by publish's
        // committed-version no-op
        val prev = graft.stream.VersionedSnapshot.versionIds(s2, viewBase)
          .filter(_ < id).lastOption
        val merged = prev.fold(delta)(p =>
          graft.stream.VersionedSnapshot.read(s2, viewBase, p)
            .unionByName(delta)
            .groupBy(col("day"), col("event_type"))
            .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents")))
        graft.stream.VersionedSnapshot.publish(merged, viewBase, id)
        retainKeep.foreach(k =>
          graft.stream.VersionedSnapshot.retain(s2, viewBase, k))
      }
      .option("checkpointLocation", StreamRunner.scratchDir("ckpt-"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    StreamRunner.start(s, writer).awaitTermination()
    val lastV = graft.stream.VersionedSnapshot.latestId(s, viewBase).getOrElse(
      sys.error(s"incremental-view replay published no versions under $viewBase"))
    val view = graft.stream.VersionedSnapshot.read(s, viewBase, lastV)
      .select(date_format($"day", "yyyy-MM-dd").as("day"), $"event_type",
        $"n", ($"sum_cents" / 100.0).as("sum_value"))
      .orderBy($"day", $"event_type")
    (view, lastV, viewBase)
  }

  /** st12's streaming leg, shared with StreamSpec: chunked replay of
    * events (`maxFilesPerTrigger=1` over `nFiles` scratch files) through
    * a watermarked per-day window aggregate carrying an HLL++ partial
    * (`approx_count_distinct`). Returns the FINAL update-mode emission
    * per window (its event count is strictly increasing per touched
    * batch) plus the terminated query for batch-count asserts. */
  private[graft] def windowedSketchReplay(s: org.apache.spark.sql.SparkSession,
                                          dir: String, nFiles: Int)
      : (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) = {
    import s.implicits._
    val scratch = ensureEventChunks(s, dir, nFiles)
    val raw = StructType(Schemas.events.map {
      case f if f.name == "ts" => f.copy(dataType = org.apache.spark.sql.types.LongType)
      case f => f
    })
    val replay = s.readStream.schema(raw)
      .option("maxFilesPerTrigger", 1).parquet(scratch)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val agg = replay
      .withWatermark("ts", "60 days")
      .groupBy(window($"ts", "1 day").as("window"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct($"user_id", 0.02).as("approx_users"))
    val (out, q) = StreamRunner.toMemoryWithQuery(agg)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"window").orderBy($"n_events".desc)
    (out.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn"), q)
  }

  /** Chunked replay fixture for the events table (st12's twin of
    * [[ensureStreamChunks]]); round-robin `repartition` spreads every
    * day's rows across all files so each micro-batch touches most
    * windows and the sketch merge is exercised, not vacuous. */
  private[graft] def ensureEventChunks(s: org.apache.spark.sql.SparkSession,
                                       dir: String, nFiles: Int): String =
    Fixtures.memo(Fixtures.dirFor("event_chunks", dir) + s"_$nFiles",
        Fixtures.source(s, dir, "events")) { out =>
      Fixtures.eventsNanos(s, dir).repartition(nFiles).write.mode("overwrite").parquet(out)
    }

  /** st24's TIME-ORDERED chunk fixture: events split into four contiguous
    * event-time quarters (chunk boundaries derived from the data's min/max
    * ts — content-addressed, so the replay is a pure function of the
    * table), replayed oldest-quarter-first ([[Fixtures.orderedChunks]]).
    * In-order arrival is what lets a TIGHT watermark purge state
    * mid-stream without ever late-dropping a row: the engine's lagged
    * filter watermark (through batch k−2, ends ~2 days into quarter k−1)
    * is always below quarter k's minimum event time because a quarter
    * spans ~7.5 days > the 2-day delay. */
  private[graft] def ensureOrderedEventChunks(s: org.apache.spark.sql.SparkSession,
                                              dir: String): String =
    Fixtures.memo(Fixtures.dirFor("ordered_chunks", dir),
        Fixtures.source(s, dir, "events")) { out =>
      val norm = Fixtures.eventsNanos(s, dir)
      // A6-style scalar pull: one min/max to fix the quarter boundaries
      val b = norm.agg(min(col("ts")), max(col("ts"))).first()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val step = (hi - lo) / 4 + 1
      // data-shape precondition, named: st24's oracle semantics assume
      // >=4 micro-batches and a monotone watermark progression, both of
      // which need every event-time quarter non-empty — fail with the
      // actual cause so a skewed SF degrades diagnosably
      Fixtures.orderedChunks(
        (0 until 4).map(c => norm.filter(expr(s"(ts - ${lo}L) div ${step}L") === c)), out,
        c => s"event-time quarter $c of [$lo, $hi] is empty for $dir — the " +
          "ordered-chunk fixture requires events spread across all 4 " +
          "quarters (st24's >=4-micro-batch / watermark-progression " +
          "precondition); regenerate or rescale the events table")
    }

  /** st26's synopsis size (shared with its StreamSpec probe). */
  private[graft] val KmvStateK = 256

  /** THE purging-watermark replay scaffold, shared by the whole
    * sketch-in-state family (st24 HLL++, st25 CMS, st26 KMV): the
    * time-ordered 4-quarter event chunks replayed one file per
    * micro-batch under a 2-day watermark over 1-day windows, with the
    * given sketch aggregate alongside the per-window event count. One
    * definition so a posture change (watermark, chunking, ts unit)
    * cannot silently diverge between the families. Returns the raw
    * update-mode memory sink (every emission) plus the query; use
    * [[finalPerWindow]] for the last emission per window. */
  private def purgingWindowReplay(s: org.apache.spark.sql.SparkSession,
                                  dir: String, sketchAgg: Column)
      : (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) = {
    import s.implicits._
    val scratch = ensureOrderedEventChunks(s, dir)
    val raw = StructType(Schemas.events.map {
      case f if f.name == "ts" => f.copy(dataType = org.apache.spark.sql.types.LongType)
      case f => f
    })
    val replay = s.readStream.schema(raw)
      .option("maxFilesPerTrigger", 1).parquet(scratch)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val agg = replay
      .withWatermark("ts", "2 days")
      .groupBy(window($"ts", "1 day").as("window"))
      .agg(count(lit(1)).as("n_events"), sketchAgg)
    StreamRunner.toMemoryWithQuery(agg)
  }

  /** The purge certificate shared by the sketch-in-state family
    * (st24 HLL++, st25 CMS, st26 KMV, st28 quantiles): the terminated
    * query's resident state rows must be BOTH nonzero and at most half
    * the day count — under the 2-day watermark only the watermark-open
    * tail (~2–3 windows) may remain; without purging it is ALL windows.
    * The bound's PRECONDITION is a data shape: on a fixture spanning
    * only a few distinct days the legitimate open tail can exceed
    * nDays/2 and the bit would flip red even though purging worked — so
    * the span is asserted up front and a short/skewed SF fails NAMING
    * the data-shape cause instead of emitting a confusing red bit. */
  private def purgedOkBit(s: org.apache.spark.sql.SparkSession, dir: String,
                          q: org.apache.spark.sql.streaming.StreamingQuery): Long = {
    val nDays = Tables.events(s, dir)
      .select(to_date(col("ts")).as("d")).distinct().count()
    require(nDays >= 12,
      s"the purge certificate needs >= 12 distinct event days (got $nDays " +
        s"in $dir): with a 2-day watermark over 1-day windows the " +
        "watermark-open tail is ~2-3 windows, so the <= nDays/2 bound is " +
        "only meaningful on a longer span — regenerate or rescale the " +
        "events table")
    val finalState = q.lastProgress.stateOperators.headOption
      .map(_.numRowsTotal).getOrElse(-1L)
    if (finalState >= 1 && finalState <= nDays / 2) 1L else 0L
  }

  /** Last (= cumulative-final) emission per window from an update-mode
    * sink: the row with the highest running event count. */
  private[graft] def finalPerWindow(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window")).orderBy(col("n_events").desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** st26's replay: per-day KMV user synopses built in streaming state
    * under the st24/st25 purging posture. Raw sink — st26 and its
    * StreamSpec probe both dedupe via [[finalPerWindow]]'s logic. */
  private[graft] def kmvWindowReplay(s: org.apache.spark.sql.SparkSession,
                                     dir: String)
      : (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) =
    purgingWindowReplay(s, dir,
      graft.functions.KmvSketchAgg.kmv(col("user_id"), KmvStateK).as("sk"))

  /** st24's streaming leg, shared with StreamSpec: the SAME per-day
    * windowed HLL++ aggregate as [[windowedSketchReplay]], but under a
    * production-realistic 2-DAY watermark over the time-ordered
    * [[ensureOrderedEventChunks]] replay — so closed windows are
    * genuinely EVICTED from the state store mid-stream (st12's 60-day
    * watermark holds every window open for the whole replay: correct for
    * its certificate, but at 100× event history that state never
    * purges). In-order chunk arrival guarantees no row is late-dropped
    * (see the fixture note), so each window's final update-mode emission
    * is still its complete aggregate — same hash oracle as st12 — while
    * the terminated query's `stateOperators.numRowsTotal` proves the
    * purge: only the watermark-open tail of windows may remain. */
  private[graft] def purgingSketchReplay(s: org.apache.spark.sql.SparkSession,
                                         dir: String)
      : (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) = {
    val (out, q) = purgingWindowReplay(s, dir,
      approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
    (finalPerWindow(out), q)
  }

  /** st25's streaming leg, shared with StreamSpec: the st24 treatment for
    * the CMS state family — st13's per-day Count-Min aggregate, but under
    * the production 2-day watermark over the time-ordered
    * [[ensureOrderedEventChunks]] replay, so closed windows (each holding
    * a fixed-width CMS table, heavier per window than st24's HLL
    * registers) are EVICTED from the state store mid-stream. Same no-late-
    * drop guarantee as st24: in-order quarter arrival keeps the lagged
    * filter watermark below every incoming quarter's minimum event time,
    * so each window's final update-mode emission carries the complete
    * merged day sketch. */
  private[graft] def purgingCmsReplay(s: org.apache.spark.sql.SparkSession,
                                      dir: String)
      : (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) = {
    val (out, q) = purgingWindowReplay(s, dir,
      expr("count_min_sketch(user_id, CAST(0.001 AS DOUBLE), CAST(0.999 AS DOUBLE), 42)")
        .as("cms"))
    (finalPerWindow(out), q)
  }

  /** st28's replay, shared with its StreamSpec probe: per-day
    * Greenwald-Khanna quantile summaries (`percentile_approx` partials,
    * accuracy 10000) built in streaming state under the st24/st25/st26
    * purging posture. Raw update-mode sink — callers dedupe via
    * [[finalPerWindow]]. */
  private[graft] def purgingQuantileReplay(s: org.apache.spark.sql.SparkSession,
                                           dir: String)
      : (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) =
    purgingWindowReplay(s, dir,
      expr("percentile_approx(value, array(0.5D, 0.9D), 10000)").as("pq"))

  /** st29's per-batch LSH ingest-gate body, factored out of the entry so
    * the resume spec can drive the SAME logic across a
    * stop -> compact -> resume boundary (StreamSpec pins the keeper set
    * unchanged when the accumulated index artifacts are compacted
    * mid-stream). Directory layout under `base`: bands (routed
    * per-bucket), digests, corpus, keepers (flat idempotent sinks) —
    * every artifact ID-KEYED (the digests sink carries (id, h), not
    * distinct h), because a deletable index must be able to subtract one
    * document (dd21's rule; st39 exercises it live).
    *
    * `tombstones` is the live-takedown hook (st39): a (tid) frame of
    * doc ids whose deletion requests have arrived. Every HISTORY read —
    * band index, digest index, partner corpus — anti-joins it, so a
    * tombstoned document stops influencing verdicts from the next batch
    * on (logical deletion, effective immediately); the physical purge
    * rides the next policy fold in [[runLshDedupStream]]. */
  private[graft] def lshIngestBatch(b0: DataFrame, batchId: Long,
                                    base: String,
                                    tombstones: Option[DataFrame] = None): Unit = {
    val (bandsDir, digestsDir, corpusDir, sinkDir) =
      (s"$base/bands", s"$base/digests", s"$base/corpus", s"$base/keepers")
    val s2 = b0.sparkSession
    import s2.implicits._
    val batch = b0.cache()
    var newBandsRef: Option[DataFrame] = None
    try {
      def have(p: String) = new java.io.File(p).exists()
      def rd(p: String) = graft.stream.IdempotentSink.read(s2, p)
      // live-history view: drop rows of tombstoned docs at read (the
      // logical half of a takedown; `keyCol` is each artifact's id)
      def live(df: DataFrame, keyCol: String): DataFrame =
        tombstones.fold(df)(t =>
          df.join(t, df(keyCol) === t("tid"), "left_anti"))
      val withH = batch.withColumn("h", md5($"text".cast("binary")))
      // exact rule: dup of any earlier arrival — index digests
      // cover earlier batches, the window covers earlier in-batch
      val wD = org.apache.spark.sql.expressions.Window
        .partitionBy($"h").orderBy($"doc_id")
      val dropExactBatch = withH.withColumn("rn", row_number().over(wD))
        .filter($"rn" > 1).select($"doc_id")
      val dropExactHist =
        if (have(digestsDir))
          withH.join(live(rd(digestsDir), "id"), Seq("h"), "left_semi")
            .select($"doc_id")
        else Seq.empty[Long].toDF("doc_id")
      // near rule: band buckets union index rows with fresh rows —
      // identical bucket membership to a full-corpus run. The
      // batch's own band table is built ONCE (persisted — the
      // bandSummary aggregate below materializes the cache in the
      // same job, one cheaper than a dedicated localCheckpoint
      // pass) and reused four ways: bucket selection, the Bloom
      // build, the probe union (via `newBands`), and the index
      // append; unpersisted with the batch in the finally below.
      val newBands = graft.ops.Dedup.lshBandIndex(batch, "doc_id",
          "text", shingleK = 3, numBands = 8, rowsPerBand = 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      newBandsRef = Some(newBands)
      // SCAN-LEVEL SKIP: the index is laid out one directory per
      // band bucket (writeRoutedBatch below), so only buckets the
      // batch touches are even LISTED — per-batch probe input is
      // proportional to matching buckets, not the accumulated
      // index (the bounded driver pull is ≤ Dedup.BandBuckets
      // ints); minHashDupPairsWithIndex then row-prunes what was
      // read to the batch's exact band set before the union.
      val summary @ (freshBuckets, _) = graft.ops.Dedup.bandSummary(newBands)
      // hot per-batch bucket dirs in ONE multi-path scan, unioned with
      // the cold compacted run (once maintenance has folded earlier
      // batches) behind a band_bucket PARTITION filter: the
      // manifest-aware reader keeps the bucket-skip property across
      // compactions
      val bands = live(graft.stream.IdempotentSink.readRouted(s2, bandsDir,
          "band_bucket", Some(freshBuckets.map(_.toString)))
        .getOrElse(Seq.empty[(Long, Long)].toDF("id", "band")), "id")
      // The digest semi join and the partner-text fetch ride
      // stats-based broadcast at this SF; the regimes past the
      // broadcast budget are already built and pinned elsewhere —
      // a dd18-style Bloom for the digest probe, and the
      // bucketed point-lookup loader (Dedup.minHashDupPairsWithIndex
      // `historyFor`, DedupSpec-pinned) for the corpus text.
      val history =
        if (have(corpusDir)) live(rd(corpusDir), "doc_id")
        else Seq.empty[(Long, String)].toDF("doc_id", "text")
      // both orientations in ONE pass (Dedup.undirectedPairs): the probe
      // verify tail is evaluated once per batch with NO dedicated
      // checkpoint job — the swapped union ran it per branch, and the
      // r20 mitigation paid a localCheckpoint materialization job every
      // micro-batch
      val und = graft.ops.Dedup.undirectedPairs(
        graft.ops.Dedup.minHashDupPairsWithIndex(
            batch, bands, history, "doc_id", "text",
            shingleK = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5,
            newBands = Some(newBands), newBandSummary = Some(summary))
          .select($"id_a", $"id_b"))
      val batchIds = batch.select($"doc_id")
      val dropNear = und
        .join(batchIds.select($"doc_id".as("id_b")), "id_b")
        .join(batchIds.select($"doc_id".as("id_a"),
          lit(true).as("partner_new")), Seq("id_a"), "left")
        .filter(!coalesce($"partner_new", lit(false)) || $"id_a" < $"id_b")
        .select($"id_b".as("doc_id")).distinct()
      val dropped = dropExactBatch.unionByName(dropExactHist)
        .unionByName(dropNear).distinct()
      val keepers = batch.join(dropped, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"n_chars")
      // the four per-batch artifact commits are INDEPENDENT appends to
      // four separate sink directories, every input already cached or
      // persisted — publish them CONCURRENTLY instead of serially (the
      // keeper write carries the whole probe/verify pipeline; the other
      // three are small jobs that used to wait behind it). Each commit
      // keeps its own atomic staging+rename protocol; all four are
      // awaited, even when one fails, before the caller's fold policy
      // or unpersist runs, so the
      // single-compactor-per-directory contract is untouched, and a
      // failure in any write still fails the batch (at-least-once retry
      // through the idempotent markers, exactly as the serial shape).
      //  - index-append: EVERY arrival; bands land in the
      //    bucket-partitioned layout — ONE partitionBy job, one atomic
      //    rename per populated bucket — so the next batch's probe can
      //    skip non-matching buckets at the directory listing
      //  - ID-KEYED digests (one row per arrival, not distinct h): the
      //    deletable layout — a takedown can subtract one document's
      //    row without losing a digest another live document carries
      graft.ops.Actions.awaitAll(Seq(
        () => graft.stream.IdempotentSink.writeBatch(
          keepers, sinkDir, batchId),
        () => graft.stream.IdempotentSink.writeRoutedBatch(
          newBands.withColumn("band_bucket",
            graft.ops.Dedup.bandBucket($"band")),
          bandsDir, "band_bucket", batchId),
        () => graft.stream.IdempotentSink.writeBatch(
          withH.select($"doc_id".as("id"), $"h"), digestsDir, batchId),
        () => graft.stream.IdempotentSink.writeBatch(
          batch.select($"doc_id", $"text"), corpusDir, batchId)))
    } finally {
      newBandsRef.foreach(_.unpersist())
      batch.unpersist(): Unit
    }
  }

  // st35's production knobs: the dd19 family's threshold on this corpus,
  // with the probe/cap pair measured to 0.974-0.983 drop-recall vs the
  // exact sequential replay at every SF (the entry's recall_ok floor)
  private[graft] val SemDedupThreshold = 0.4
  private[graft] val SemDedupNProbe = 4
  private[graft] val SemDedupMaxCell = 1024

  /** st35's per-batch semantic ingest gate: probe the accumulated
    * per-cell routed index with the batch's multi-probe rows (only the
    * touched cells are listed — the st29 bucket-skip, cell-flavored),
    * exact-verify candidates, gate keepers by content-addressed arrival
    * order, and append the batch's probe rows to the index through the
    * atomic routed commit (dd20's compaction applies to the artifact). */
  private[graft] def semanticDedupBatch(b0: DataFrame, batchId: Long,
      base: String, centers: Array[Array[Double]]): Unit = {
    val s2 = b0.sparkSession
    import s2.implicits._
    val (idxDir, keepersDir) = (s"$base/cellindex", s"$base/keepers")
    val fresh = graft.ops.Similarity.dupProbeRows(b0, "vec_id", "embedding",
        centers, SemDedupNProbe)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // bounded driver pull: the batch's touched cells (≤ batch × nProbe
      // ints) select which index directories are even LISTED
      val touched = fresh.select($"cell").distinct()
        .collect().map(_.get(0).toString).toSeq
      val hist = graft.stream.IdempotentSink.readRouted(s2, idxDir,
          "cell_route", Some(touched))
        .getOrElse(Seq.empty[(Long, Seq[Double], Double, Int)]
          .toDF("id", "vec", "vnorm", "cell"))
      val banded = hist
        .select($"id", $"vec", $"vnorm", $"cell", lit(0).as("fresh"))
        .unionByName(fresh
          .select($"id", $"vec", $"vnorm", $"cell", lit(1).as("fresh")))
      val pairs = graft.ops.Similarity.blockedDupPairs(banded,
        SemDedupThreshold, SemDedupMaxCell)
      // both orientations in ONE pass (the Dedup.undirectedPairs explode,
      // with the fresh flags riding along): the blocked-pair pipeline —
      // cell aggregate + exact verify — is evaluated once per batch with
      // NO dedicated checkpoint job; the swapped union ran it per branch,
      // and the r20 mitigation paid a localCheckpoint job every
      // micro-batch
      val undBoth = pairs.filter($"fresh_a" + $"fresh_b" >= 1)
        .select(explode(array(
          struct($"id_a".as("a"), $"id_b".as("b"),
            $"fresh_a".as("fa"), $"fresh_b".as("fb")),
          struct($"id_b".as("a"), $"id_a".as("b"),
            $"fresh_b".as("fa"), $"fresh_a".as("fb")))).as("_e"))
        .select($"_e.a".as("a"), $"_e.b".as("b"),
          $"_e.fa".as("fa"), $"_e.fb".as("fb"))
      // a batch doc drops on a history partner (earlier batch) or a
      // smaller-id in-batch partner (earlier within the chunk); history
      // docs never drop — earlier keepers stay keepers (st29 semantics)
      val drops = undBoth
        .filter($"fb" === 1 && ($"fa" === 0 || $"a" < $"b"))
        .select($"b".as("vec_id")).distinct()
      val keepers = b0.select($"vec_id")
        .join(drops, Seq("vec_id"), "left_anti")
      // both per-batch commits are independent appends to separate sink
      // directories over the persisted probe frame — publish them
      // concurrently (the lshIngestBatch treatment); awaited before the
      // batch returns, so fold policies and retries see the serial
      // shape's state. onePerRoute: the cell index has O(corpus/maxCell)
      // routes (125 at the 16× cell) — unhashed, every task writes a
      // footer per route it holds and the append was the dominant cost
      // of the 16× cell
      graft.ops.Actions.awaitAll(Seq(
        () => graft.stream.IdempotentSink.writeBatch(
          keepers, keepersDir, batchId),
        () => graft.stream.IdempotentSink.writeRoutedBatch(
          fresh.withColumn("cell_route", $"cell"), idxDir, "cell_route",
          batchId, onePerRoute = true)))
    } finally fresh.unpersist(): Unit
  }

  /** st35's streaming replay: the chunked embeddings stream driven
    * through [[semanticDedupBatch]] under an AvailableNow trigger, with
    * the SAME stop/resume seam as [[runLshDedupStream]]. */
  private[graft] def runSemanticDedupStream(s: org.apache.spark.sql.SparkSession,
      scratch: String, base: String,
      centers: Array[Array[Double]]): Unit = {
    val stream = s.readStream.schema(Schemas.embeddings)
      .option("maxFilesPerTrigger", 1).parquet(scratch)
    val q = stream.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b0: DataFrame, batchId: Long) =>
        semanticDedupBatch(b0, batchId, base, centers)
      }
      .start()
    q.awaitTermination()
  }

  /** st29's streaming replay: the chunked documents stream driven
    * through [[lshIngestBatch]] under an AvailableNow trigger. Callable
    * again with the same `base` after more chunks land - the checkpoint
    * skips already-processed files - which is exactly the resume seam
    * the compaction spec exercises.
    *
    * `maxHot`, when set, turns on IN-STREAM auto-compaction (st37): after
    * each batch's ingest commits, every sink artifact of the pipeline is
    * folded once its visible hot batch-directory count exceeds the
    * budget — the single appender doubles as the single compactor, so
    * the one-compactor-per-directory contract holds by construction, and
    * the manifest keeps at-least-once retries of folded batches no-ops.
    * Returns the number of folds that fired (0 when `maxHot` is None). */
  private[graft] def runLshDedupStream(s: org.apache.spark.sql.SparkSession,
                                       scratch: String, base: String,
                                       maxHot: Option[Int] = None,
                                       tombstoneDir: Option[String] = None,
                                       afterBatch: (org.apache.spark.sql.SparkSession, Long) => Unit
                                         = (_, _) => ()): Int = {
    val folds = new java.util.concurrent.atomic.AtomicInteger(0)
    val stream = s.readStream.schema(Schemas.documents)
      .option("maxFilesPerTrigger", 1).parquet(scratch)
    // the keeper sink and the per-artifact id column of every purgeable
    // artifact — a takedown must delete the doc EVERYWHERE (bands and
    // digests key their rows as `id`, corpus and keepers as `doc_id`)
    val purgeKey = Map("bands" -> "id", "digests" -> "id",
      "corpus" -> "doc_id", "keepers" -> "doc_id")
    val q = stream.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b0: DataFrame, batchId: Long) =>
        val s2 = b0.sparkSession
        // takedown requests arrive as a tiny persisted artifact; read it
        // at batch start so this batch's verdicts already see the
        // tombstoned docs as gone (logical deletion, no rewrite yet)
        val tomb = tombstoneDir
          .filter(d => new java.io.File(d).exists())
          .map(d => s2.read.parquet(d))
        lshIngestBatch(b0, batchId, base, tomb)
        maxHot.foreach { h =>
          import graft.stream.IdempotentSink._
          // pending tombstones ride whatever policy fold fires anyway —
          // the dd21 posture: physical-at-compaction, never a dedicated
          // rewrite per takedown
          def purgeFor(d: String): Option[DataFrame => DataFrame] =
            tomb.map(t => df => df.join(t, df(purgeKey(d)) === t("tid"),
              "left_anti"))
          if (maybeCompactRouted(s2, s"$base/bands", "band_bucket",
            maxHot = h * graft.ops.Dedup.BandBuckets,
            shufflePartitions = graft.ops.Dedup.BandBuckets,
            purge = purgeFor("bands")))
            folds.incrementAndGet(): Unit
          Seq("digests", "corpus", "keepers").foreach { d =>
            if (maybeCompact(s2, s"$base/$d", maxHot = h,
              purge = purgeFor(d)))
              folds.incrementAndGet(): Unit
          }
        }
        afterBatch(s2, batchId)
      }
      .start()
    q.awaitTermination()
    folds.get()
  }

  /** st29's chunk fixture: the documents table split into `nFiles`
    * CONTENT-ADDRESSED chunks (`doc_id % nFiles` — the oracle recomputes
    * membership), replayed one file per trigger in chunk order
    * ([[Fixtures.orderedChunks]]). Batch identity is load-bearing: st29's
    * "earlier arrival" drop rule is a pure function of (chunk, doc_id), so
    * the whole sequential ingest replays exactly in DuckDB. */
  private[graft] def ensureDocChunks(s: org.apache.spark.sql.SparkSession,
                                     dir: String, nFiles: Int): String =
    Fixtures.memo(Fixtures.dirFor("doc_chunks", dir) + s"_$nFiles",
        Fixtures.source(s, dir, "documents")) { out =>
      val docs = Tables.documents(s, dir)
      Fixtures.orderedChunks(
        (0 until nFiles).map(c => docs.filter(col("doc_id") % nFiles === c)), out)
    }

  /** The FULL embeddings table as `nFiles` content-addressed chunk files
    * (vec_id % nFiles), mtime-ordered — the ingest replay fixture for
    * st34 (where the stream IS the corpus arriving), vs
    * [[ensureEmbQueryChunks]] which streams only the an01 query set. */
  private[graft] def ensureEmbChunks(s: org.apache.spark.sql.SparkSession,
                                     dir: String, nFiles: Int): String =
    Fixtures.memo(Fixtures.dirFor("emb_chunks", dir) + s"_$nFiles",
        Fixtures.source(s, dir, "embeddings")) { out =>
      val all = Tables.embeddings(s, dir)
      Fixtures.orderedChunks(
        (0 until nFiles).map(c => all.filter(col("vec_id") % nFiles === c)), out)
    }

  /** st30's chunk fixture: the an01/an02 query set (`vec_id < 10`) split
    * into `nFiles` content-addressed chunks (`vec_id % nFiles`), each a
    * single parquet file with strictly increasing mtimes — the
    * [[ensureDocChunks]] construction for the embeddings table. */
  private[graft] def ensureEmbQueryChunks(s: org.apache.spark.sql.SparkSession,
                                          dir: String, nFiles: Int): String =
    Fixtures.memo(Fixtures.dirFor("embq_chunks", dir) + s"_$nFiles",
        Fixtures.source(s, dir, "embeddings")) { out =>
      val q0 = Tables.embeddings(s, dir).filter(col("vec_id") < 10)
      Fixtures.orderedChunks(
        (0 until nFiles).map(c => q0.filter(col("vec_id") % nFiles === c)), out)
    }

  /** st22's CSV chunk fixture: the documents table as 3 headerless CSV
    * chunk files plus one injected file of malformed lines (a
    * type-invalid long, a surplus column). The corpus carries no
    * commas/quotes in `lang`, so the clean chunks parse losslessly under
    * the explicit schema. */
  private[graft] def ensureDocCsvChunks(s: org.apache.spark.sql.SparkSession,
                                        dir: String, nFiles: Int): String =
    Fixtures.memo(Fixtures.dirFor("doc_csv_chunks", dir) + s"_$nFiles",
        Fixtures.source(s, dir, "documents")) { out =>
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
        .repartition(nFiles).write.mode("overwrite").csv(out)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, "injected_bad.csv"),
        "notanumber,xx,10\n7,xx,2,surplus,extra\n".getBytes("UTF-8"))
    }

  /** The batch twin of the state machine's weighted per-invoice fold.
    * The zero-net-quantity CASE mirrors `InvoiceStateMachine.toAgg`'s
    * guard (fully-cancelled invoices emit 0.0, not Infinity/NULL) so the
    * streaming fold and its oracle stay identical on EVERY input class,
    * not just ones without cancellation lines. */
  private[queries] val weightedAggSql =
    """SELECT l_orderkey AS invoice_no,
      |  CASE WHEN SUM(CAST(l_quantity AS BIGINT)) = 0 THEN 0.0
      |       ELSE CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
      |                * CAST(l_quantity AS BIGINT)) AS BIGINT)/100.0
      |         / CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
      |  END AS avg_unit_price,
      |  MIN(l_extendedprice) AS min_unit_price,
      |  MAX(l_extendedprice) AS max_unit_price,
      |  CAST(MIN(hour(o_orderdate)*60 + minute(o_orderdate)) AS BIGINT)/60.0 AS time_of_day,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS number_items,
      |  CAST(COUNT(*) AS BIGINT) AS lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY l_orderkey""".stripMargin

  val oracles: Map[String, String] = Map(
    "st01_invoice_state" -> s"$weightedAggSql ORDER BY invoice_no",

    // st01's oracle verbatim: the shuffled stream-static join regime must
    // not change a single emitted aggregate
    "st27_invoice_state_shuffled" -> s"$weightedAggSql ORDER BY invoice_no",

    // tx20's oracle verbatim plus the pinned batch count and
    // bounded-state bit — the fold across versions must land on the
    // exact one-shot answer
    "st31_stream_fixed_k_sample" ->
      """WITH r AS (SELECT source, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |                       ORDER BY md5(text), doc_id) AS rank
        |  FROM documents)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, n_chars,
        |       CAST(3 AS BIGINT) AS n_versions,
        |       CAST(1 AS BIGINT) AS state_bounded_ok
        |FROM r WHERE rank <= 5
        |ORDER BY source, rank""".stripMargin,

    // an02's constant-bit oracle shape plus the cross-boundary
    // equivalence bit: every certificate is computed in the entry and
    // pinned to 1 here (the raw neighbor ids are IVF-internals-bound —
    // the an02/an12 rationale)
    "st30_stream_ann_topk" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS k_returned,
        |       CAST(1 AS BIGINT) AS in_corpus_ok,
        |       CAST(1 AS BIGINT) AS not_self_ok,
        |       CAST(1 AS BIGINT) AS ordered_ok,
        |       CAST(1 AS BIGINT) AS recall_ok,
        |       CAST(1 AS BIGINT) AS stream_batch_equal
        |FROM embeddings WHERE vec_id < 10
        |ORDER BY query_id""".stripMargin,

    // The full sequential-ingest replay: exact 3-shingle Jaccard over
    // the whole corpus (recall at 8×4 bands @ J>=0.5 is 100% at the
    // check SFs — dd15's pinned premise, same machinery), with the
    // arrival order recomputed from (doc_id % 3, doc_id); a doc
    // survives iff NO earlier arrival shares its digest or reaches the
    // threshold. The hash match certifies the evolving-index stream
    // lands on the exact sequential answer.
    // st35: n_docs and n_exact_drops are DuckDB's independent replay of
    // the full sequential exact-cosine drop rule over content-addressed
    // arrival order (the O(n²) truth lives HERE in the oracle, like
    // dd19's); the five certificate bits are constant-pinned — the
    // an03/dd10 contract for quantizer-bound operators.
    "st35_stream_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, embedding, vec_id % 3 AS chunk
        |           FROM embeddings),
        |p AS (SELECT a.vec_id AS ia, a.chunk AS ca,
        |             b.vec_id AS ib, b.chunk AS cb
        |      FROM e a JOIN e b ON a.vec_id < b.vec_id
        |      WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4),
        |d AS (SELECT DISTINCT CASE WHEN ca <= cb THEN ib ELSE ia END AS v
        |      FROM p)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_docs,
        |       (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_exact_drops,
        |       CAST(1 AS BIGINT) AS recall_ok,
        |       CAST(3 AS BIGINT) AS n_index_batches,
        |       CAST(1 AS BIGINT) AS coverage_ok,
        |       CAST(1 AS BIGINT) AS stream_one_shot_equal,
        |       CAST(1 AS BIGINT) AS drops_subset_ok,
        |       CAST(0 AS BIGINT) AS cert_sampled""".stripMargin,

    "st29_stream_lsh_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         list_distinct(CASE WHEN len(t) < 3
        |           THEN [array_to_string(t, ' ')]
        |           ELSE list_transform(generate_series(1, len(t) - 2),
        |                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |         END) AS shingles
        |  FROM toks),
        |post AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |         FROM post l JOIN post r ON l.shingle = r.shingle
        |                                AND l.doc_id < r.doc_id),
        |pairs AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c JOIN sh a ON c.id_a = a.doc_id JOIN sh b ON c.id_b = b.doc_id
        |  WHERE len(list_intersect(a.shingles, b.shingles))
        |        / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.5),
        |und AS (SELECT id_a, id_b FROM pairs
        |        UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM pairs),
        |d AS (SELECT doc_id, n_chars, md5(text) AS h, doc_id % 3 AS ck
        |      FROM documents),
        |drop_exact AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY h ORDER BY ck, doc_id) AS rn
        |    FROM d) WHERE rn > 1),
        |drop_near AS (
        |  SELECT DISTINCT u.id_b AS doc_id
        |  FROM und u
        |  JOIN d b ON u.id_b = b.doc_id
        |  JOIN d p ON u.id_a = p.doc_id
        |  WHERE p.ck < b.ck OR (p.ck = b.ck AND u.id_a < u.id_b)),
        |dropped AS (SELECT doc_id FROM drop_exact
        |            UNION SELECT doc_id FROM drop_near)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM d
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY doc_id""".stripMargin,

    // st29's sequential replay verbatim plus the three maintenance cert
    // bits — in-stream compaction must move no verdict, so the keeper
    // set is pinned identical to the uncompacted pipeline's.
    "st37_stream_lsh_compacting" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         list_distinct(CASE WHEN len(t) < 3
        |           THEN [array_to_string(t, ' ')]
        |           ELSE list_transform(generate_series(1, len(t) - 2),
        |                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |         END) AS shingles
        |  FROM toks),
        |post AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |         FROM post l JOIN post r ON l.shingle = r.shingle
        |                                AND l.doc_id < r.doc_id),
        |pairs AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c JOIN sh a ON c.id_a = a.doc_id JOIN sh b ON c.id_b = b.doc_id
        |  WHERE len(list_intersect(a.shingles, b.shingles))
        |        / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.5),
        |und AS (SELECT id_a, id_b FROM pairs
        |        UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM pairs),
        |d AS (SELECT doc_id, n_chars, md5(text) AS h, doc_id % 3 AS ck
        |      FROM documents),
        |drop_exact AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY h ORDER BY ck, doc_id) AS rn
        |    FROM d) WHERE rn > 1),
        |drop_near AS (
        |  SELECT DISTINCT u.id_b AS doc_id
        |  FROM und u
        |  JOIN d b ON u.id_b = b.doc_id
        |  JOIN d p ON u.id_a = p.doc_id
        |  WHERE p.ck < b.ck OR (p.ck = b.ck AND u.id_a < u.id_b)),
        |dropped AS (SELECT doc_id FROM drop_exact
        |            UNION SELECT doc_id FROM drop_near)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST(1 AS BIGINT) AS lsm_folds_ok,
        |       CAST(1 AS BIGINT) AS hot_bounded_ok,
        |       CAST(1 AS BIGINT) AS one_cold_run_ok
        |FROM d
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY doc_id""".stripMargin,

    // st29's sequential replay with the takedown folded into the drop
    // rules: after batch 0, tombstoned chunk-0 docs (every 5th + exact
    // twins of later-chunk docs) stop being drop PARTNERS for batches
    // 1/2 (the b.ck = 0 branch keeps batch 0's pre-arrival verdicts
    // immutable), and are removed from the final keeper set themselves.
    // n_tombstones is recomputed from the same rule; the two maintenance
    // bits are the constant-oracle part (see the st39 entry).
    "st39_stream_tombstone_takedown" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         list_distinct(CASE WHEN len(t) < 3
        |           THEN [array_to_string(t, ' ')]
        |           ELSE list_transform(generate_series(1, len(t) - 2),
        |                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |         END) AS shingles
        |  FROM toks),
        |post AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |         FROM post l JOIN post r ON l.shingle = r.shingle
        |                                AND l.doc_id < r.doc_id),
        |pairs AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c JOIN sh a ON c.id_a = a.doc_id JOIN sh b ON c.id_b = b.doc_id
        |  WHERE len(list_intersect(a.shingles, b.shingles))
        |        / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.5),
        |und AS (SELECT id_a, id_b FROM pairs
        |        UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM pairs),
        |d AS (SELECT doc_id, n_chars, md5(text) AS h, doc_id % 3 AS ck
        |      FROM documents),
        |t AS (SELECT doc_id FROM d
        |      WHERE ck = 0 AND (doc_id % 5 = 0
        |         OR h IN (SELECT h FROM d WHERE ck > 0))),
        |drop_exact AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM d b JOIN d p ON p.h = b.h
        |   AND (p.ck < b.ck OR (p.ck = b.ck AND p.doc_id < b.doc_id))
        |  WHERE b.ck = 0 OR p.doc_id NOT IN (SELECT doc_id FROM t)),
        |drop_near AS (
        |  SELECT DISTINCT u.id_b AS doc_id
        |  FROM und u
        |  JOIN d b ON u.id_b = b.doc_id
        |  JOIN d p ON u.id_a = p.doc_id
        |  WHERE (p.ck < b.ck OR (p.ck = b.ck AND u.id_a < u.id_b))
        |    AND (b.ck = 0 OR u.id_a NOT IN (SELECT doc_id FROM t))),
        |dropped AS (SELECT doc_id FROM drop_exact
        |            UNION SELECT doc_id FROM drop_near)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST((SELECT COUNT(*) FROM t) AS BIGINT) AS n_tombstones,
        |       CAST(1 AS BIGINT) AS purge_folds_ok,
        |       CAST(1 AS BIGINT) AS purged_ok
        |FROM d
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        |  AND doc_id NOT IN (SELECT doc_id FROM t)
        |ORDER BY doc_id""".stripMargin,

    // exact per-day counts + interpolated percentiles (the sk02
    // round(4) contract); the GK rank-contract bits and the purge bit
    // are pinned to 1 (bounds in the st28 entry)
    "st28_stream_quantile_purge" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(quantile_cont(value, 0.5), 4) AS p50_exact,
        |       round(quantile_cont(value, 0.9), 4) AS p90_exact,
        |       CAST(1 AS BIGINT) AS p50_rank_ok,
        |       CAST(1 AS BIGINT) AS p90_rank_ok,
        |       CAST(1 AS BIGINT) AS state_purged_ok
        |FROM events
        |GROUP BY date_trunc('day', ts)
        |ORDER BY w_start""".stripMargin,

    // The final per-key emission of the chunked replay must equal the same
    // batch aggregate — cross-batch state folding is exact.
    "st07_invoice_state_multibatch" -> s"$weightedAggSql ORDER BY invoice_no",

    // replays the full late-drop mechanics: chunk membership (md5-prefix
    // quarters), the TWO-BATCH-LAGGED filter watermarks (chunk 2 cut at
    // max-ts(c0) − 1 h, chunk 3 at max-ts(c0∪c1) − 1 h; chunks 0–1
    // unfiltered), and the drop rule window_end ≤ wm.
    // SEMANTICS PIN — measured on Spark 4.1.2: the two-batch filter lag
    // (stateful operators filter batch k with the watermark from data
    // through batch k−2 under back-to-back AvailableNow) is an ENGINE
    // behavior this SQL hard-codes, not a property of the query. If a
    // Spark upgrade changes watermark commit timing, THIS ORACLE (and
    // st20's) flips while the query code stays correct — the StreamSpec
    // "two-batch lag" probes fail alongside and point here.
    "st19_late_data_audit" ->
      """WITH e AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS tsm,
        |         CASE WHEN substring(md5(CAST(event_id AS VARCHAR)), 1, 2) < '40' THEN 0
        |              WHEN substring(md5(CAST(event_id AS VARCHAR)), 1, 2) < '80' THEN 1
        |              WHEN substring(md5(CAST(event_id AS VARCHAR)), 1, 2) < 'c0' THEN 2
        |              ELSE 3 END AS ck
        |  FROM events),
        |wm AS (
        |  SELECT COUNT(*) AS total,
        |         MAX(CASE WHEN ck = 0 THEN tsm END) - 3600000000 AS wm1,
        |         MAX(CASE WHEN ck <= 1 THEN tsm END) - 3600000000 AS wm2
        |  FROM e),
        |kept AS (
        |  SELECT (tsm // 3600000000) * 3600000000 AS wsu
        |  FROM e, wm
        |  WHERE ck <= 1
        |     OR (ck = 2 AND ((tsm // 3600000000) + 1) * 3600000000 > wm1)
        |     OR (ck = 3 AND ((tsm // 3600000000) + 1) * 3600000000 > wm2)),
        |win AS (SELECT wsu, CAST(COUNT(*) AS BIGINT) AS n FROM kept GROUP BY wsu)
        |SELECT strftime(make_timestamp(wsu), '%Y-%m-%d %H:%M:%S') AS w_start, n,
        |       CAST(wm.total - (SELECT SUM(n) FROM win) AS BIGINT) AS n_dropped,
        |       CAST((CASE WHEN wm.wm1 % 3600000000 = 0 THEN 1 ELSE 0 END)
        |          + (CASE WHEN wm.wm2 % 3600000000 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS boundary_hits
        |FROM win, wm ORDER BY w_start""".stripMargin,

    // st19's kept set, cut to windows the committed watermark finalized
    // (end <= max event time over ALL chunks - 1 h); the open tail never
    // appears in append output
    "st20_append_window_flush" ->
      """WITH e AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS tsm,
        |         CASE WHEN substring(md5(CAST(event_id AS VARCHAR)), 1, 2) < '40' THEN 0
        |              WHEN substring(md5(CAST(event_id AS VARCHAR)), 1, 2) < '80' THEN 1
        |              WHEN substring(md5(CAST(event_id AS VARCHAR)), 1, 2) < 'c0' THEN 2
        |              ELSE 3 END AS ck
        |  FROM events),
        |wm AS (
        |  SELECT MAX(CASE WHEN ck = 0 THEN tsm END) - 3600000000 AS wm1,
        |         MAX(CASE WHEN ck <= 1 THEN tsm END) - 3600000000 AS wm2,
        |         MAX(tsm) - 3600000000 AS wmf
        |  FROM e),
        |kept AS (
        |  SELECT (tsm // 3600000000) * 3600000000 AS wsu
        |  FROM e, wm
        |  WHERE ck <= 1
        |     OR (ck = 2 AND ((tsm // 3600000000) + 1) * 3600000000 > wm1)
        |     OR (ck = 3 AND ((tsm // 3600000000) + 1) * 3600000000 > wm2)),
        |win AS (SELECT wsu, CAST(COUNT(*) AS BIGINT) AS n FROM kept GROUP BY wsu)
        |SELECT strftime(make_timestamp(wsu), '%Y-%m-%d %H:%M:%S') AS w_start, n,
        |       CAST((CASE WHEN wm.wm1 % 3600000000 = 0 THEN 1 ELSE 0 END)
        |          + (CASE WHEN wm.wm2 % 3600000000 = 0 THEN 1 ELSE 0 END)
        |          + (CASE WHEN wm.wmf % 3600000000 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS boundary_hits
        |FROM win, wm
        |WHERE wsu + 3600000000 <= wm.wmf
        |ORDER BY w_start""".stripMargin,

    // batch k = chunk k (mtime-ordered one-file triggers) saw dim
    // version k, whose tier function is (user_id + k) mod 3
    "st21_stream_dim_refresh" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |         CASE WHEN substring(md5(CAST(event_id AS VARCHAR)), 1, 2) < '40' THEN 0
        |              WHEN substring(md5(CAST(event_id AS VARCHAR)), 1, 2) < '80' THEN 1
        |              WHEN substring(md5(CAST(event_id AS VARCHAR)), 1, 2) < 'c0' THEN 2
        |              ELSE 3 END AS ck
        |  FROM events)
        |SELECT CAST(ck AS BIGINT) AS dim_version,
        |       CAST((user_id + ck) % 3 AS BIGINT) AS tier,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM e
        |GROUP BY 1, 2
        |ORDER BY dim_version, tier""".stripMargin,

    // Crash + checkpoint restart must converge to the same batch aggregate.
    "st18_crash_recovery" -> s"$weightedAggSql ORDER BY invoice_no",

    // Same aggregate through the watermarked event-time state machine: an
    // over-span watermark makes the streaming result exactly the batch one.
    "st11_invoice_state_eventtime" -> s"$weightedAggSql ORDER BY invoice_no",

    "st05_stream_anomalies" -> {
      val f = Seq("avg_unit_price", "min_unit_price", "max_unit_price",
        "time_of_day", "CAST(number_items AS DOUBLE)")
      s"""SELECT invoice_no,
         |  CAST(LEAST(${InvoiceQueries.sqlSqDistTo(InvoiceQueries.CenterA, f)},
         |             ${InvoiceQueries.sqlSqDistTo(InvoiceQueries.CenterB, f)})
         |       > ${InvoiceQueries.AnomalyThreshold} AS BIGINT) AS is_anomaly
         |FROM ($weightedAggSql)
         |ORDER BY invoice_no""".stripMargin
    },

    "st02_cancel_window" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS w_start, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT unnest(generate_series(date_trunc('minute', ts) - INTERVAL 7 MINUTE,
        |                                    date_trunc('minute', ts),
        |                                    INTERVAL 1 MINUTE)) AS ws
        |      FROM events WHERE event_type = 'purchase')
        |GROUP BY ws
        |ORDER BY w_start""".stripMargin,

    "st03_routing" ->
      s"""SELECT key, value,
         |  CASE WHEN len(string_split(value, ',')) != 8
         |            OR list_contains(string_split(value, ','), '') THEN 'invalid'
         |       WHEN key LIKE 'C%' THEN 'cancelled'
         |       ELSE 'good' END AS route
         |FROM ($kafkaShapedOrdersSql)
         |ORDER BY key""".stripMargin,

    "st04_stream_distinct" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "st08_stream_distinct_bounded" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    // Batch-exact per-day twin; the HLL++ sketch-quality bit is pinned
    // to 1 (see the st12 entry).
    // exact per-day top-3 users recomputed from the raw table; the CMS
    // guarantee bit is pinned to 1 (see the st13 entry)
    "st13_stream_cms_topk" ->
      """WITH counts AS (
        |  SELECT date_trunc('day', ts) AS d, user_id, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT d, user_id, n,
        |         row_number() OVER (PARTITION BY d ORDER BY n DESC, user_id) AS rk
        |  FROM counts)
        |SELECT strftime(d, '%Y-%m-%d %H:%M:%S') AS w_start,
        |       CAST(rk AS BIGINT) AS rk, user_id, CAST(n AS BIGINT) AS n,
        |       CAST(1 AS BIGINT) AS cms_ok
        |FROM ranked WHERE rk <= 3
        |ORDER BY w_start, rk""".stripMargin,

    // st13's exact top-3 twin plus the pinned mid-stream-purge bit (the
    // tight watermark must change neither ranks nor counts)
    "st25_stream_cms_purge" ->
      """WITH counts AS (
        |  SELECT date_trunc('day', ts) AS d, user_id, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT d, user_id, n,
        |         row_number() OVER (PARTITION BY d ORDER BY n DESC, user_id) AS rk
        |  FROM counts)
        |SELECT strftime(d, '%Y-%m-%d %H:%M:%S') AS w_start,
        |       CAST(rk AS BIGINT) AS rk, user_id, CAST(n AS BIGINT) AS n,
        |       CAST(1 AS BIGINT) AS cms_ok,
        |       CAST(1 AS BIGINT) AS state_purged_ok
        |FROM ranked WHERE rk <= 3
        |ORDER BY w_start, rk""".stripMargin,

    // exact per-day sizes + next-day overlap recomputed independently;
    // the three KMV-estimate bits and the purge bit are pinned to 1
    // (bounds in the st26 entry — sk06's 4σ envelopes)
    "st26_stream_returning_users" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |sizes AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM du GROUP BY 1),
        |ret AS (SELECT a.d AS dp, CAST(COUNT(*) AS BIGINT) AS n_returning
        |        FROM du a JOIN du b
        |          ON b.user_id = a.user_id AND b.d = a.d + 1
        |        GROUP BY 1)
        |SELECT strftime(r.dp, '%Y-%m-%d') AS d_prev,
        |       strftime(r.dp + 1, '%Y-%m-%d') AS d_next,
        |       sa.n AS n_prev, sb.n AS n_next, r.n_returning,
        |       CAST(1 AS BIGINT) AS est_prev_ok,
        |       CAST(1 AS BIGINT) AS est_next_ok,
        |       CAST(1 AS BIGINT) AS est_returning_ok,
        |       CAST(1 AS BIGINT) AS state_purged_ok
        |FROM ret r JOIN sizes sa ON sa.d = r.dp
        |           JOIN sizes sb ON sb.d = r.dp + 1
        |ORDER BY d_prev""".stripMargin,

    "st12_stream_hll_window" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       CAST(1 AS BIGINT) AS sketch_ok
        |FROM events
        |GROUP BY date_trunc('day', ts)
        |ORDER BY w_start""".stripMargin,

    // same exact batch values as st12 (the purging watermark must not
    // change any count), plus the pinned mid-stream-purge bit
    "st24_stream_hll_purge" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       CAST(1 AS BIGINT) AS sketch_ok,
        |       CAST(1 AS BIGINT) AS state_purged_ok
        |FROM events
        |GROUP BY date_trunc('day', ts)
        |ORDER BY w_start""".stripMargin,

    // the IVM equation: final snapshot ≡ one-shot batch aggregate
    "st15_incremental_view" ->
      s"""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  ${sqlSumMoney("value")} AS sum_value
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY day, event_type""".stripMargin,

    // The 2-batch-PREFIX view: readAt(version 1) must equal the same
    // aggregate over exactly the rows of md5-quarter chunks 0 and 1
    // (prefix < '80' — st19's content-addressed membership rule,
    // replayed verbatim), never the full-stream view. The two cert bits
    // are the constant-oracle part (see the st38 entry).
    "st38_time_travel_read" ->
      s"""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  ${sqlSumMoney("value")} AS sum_value,
         |  CAST(1 AS BIGINT) AS versions_ok,
         |  CAST(1 AS BIGINT) AS immutable_ok
         |FROM events
         |WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 2) < '80'
         |GROUP BY 1, 2
         |ORDER BY day, event_type""".stripMargin,

    // st41: DuckDB independently replays BOTH endpoint snapshots of the
    // content-addressed merge publisher (v0 = chunk doc_id%3=0, v2 =
    // full corpus) and takes the set difference each way — the
    // oracle-checked rows ARE the change feed; the genesis bit is the
    // constant-oracle part (see the entry).
    "st41_snapshot_changes" ->
      """WITH va AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |            FROM documents WHERE doc_id % 3 = 0 GROUP BY source),
        |     vb AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |            FROM documents GROUP BY source),
        |     ins AS (SELECT source, n, sum_chars FROM vb
        |             EXCEPT SELECT source, n, sum_chars FROM va),
        |     del AS (SELECT source, n, sum_chars FROM va
        |             EXCEPT SELECT source, n, sum_chars FROM vb)
        |SELECT source, n, sum_chars, 'insert' AS change_type,
        |       CAST(1 AS BIGINT) AS genesis_equiv_ok FROM ins
        |UNION ALL
        |SELECT source, n, sum_chars, 'delete' AS change_type,
        |       CAST(1 AS BIGINT) AS genesis_equiv_ok FROM del
        |ORDER BY change_type, source""".stripMargin,

    // st42: DuckDB recomputes the final maintained view END-TO-END from
    // the documents table (per-source aggregate → source-group rollup) —
    // a consumer that dropped a delete or double-applied an insert
    // mismatches in the VALUES; n_versions (3 chunks) and the
    // every-version replay bit are the constant-oracle part.
    "st42_cdc_incremental_view" ->
      """WITH per_source AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY source)
        |SELECT CAST(substr(source, 4) AS BIGINT) % 4 AS src_group,
        |  CAST(count(*) AS BIGINT) AS n_sources,
        |  CAST(sum(n) AS BIGINT) AS total_docs,
        |  CAST(sum(sum_chars) AS BIGINT) AS total_chars,
        |  CAST(3 AS BIGINT) AS n_versions,
        |  CAST(1 AS BIGINT) AS all_versions_equal_ok
        |FROM per_source GROUP BY 1 ORDER BY 1""".stripMargin,

    // st43: the final JOIN view recomputed END-TO-END — per-source
    // aggregate joined to the LAST dimension version's tier assignment
    // (tier = (key + 2) % 3; the query asserts version ids 0,1,2 at the
    // cause, so the +2 can never silently drift).
    "st43_cdc_join_view" ->
      """WITH per_source AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY source)
        |SELECT (CAST(substr(source, 4) AS BIGINT) + 2) % 3 AS tier,
        |  CAST(count(*) AS BIGINT) AS n_sources,
        |  CAST(sum(n) AS BIGINT) AS total_docs,
        |  CAST(sum(sum_chars) AS BIGINT) AS total_chars,
        |  CAST(3 AS BIGINT) AS n_versions,
        |  CAST(1 AS BIGINT) AS all_versions_equal_ok
        |FROM per_source GROUP BY 1 ORDER BY 1""".stripMargin,

    // st15's one-shot view plus the retention/immutability cert bits —
    // retention must not change the maintained content, so the oracle is
    // the identical aggregate with the bits pinned to 1.
    "st36_versioned_retention" ->
      s"""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  ${sqlSumMoney("value")} AS sum_value,
         |  CAST(1 AS BIGINT) AS retention_ok,
         |  CAST(1 AS BIGINT) AS republish_noop_ok
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY day, event_type""".stripMargin,

    // the one-shot batch equivalent of the streamed MERGE: total count +
    // arg-max (ts, event_id) row per user over full-precision event time
    // the one-shot batch anti-join the streaming gate must equal on a
    // finite replay
    "st17_stream_ingest_dedup" ->
      """SELECT doc_id, md5(text) AS digest, n_chars
        |FROM documents
        |WHERE doc_id % 2 = 1
        |  AND md5(text) NOT IN
        |      (SELECT md5(text) FROM documents WHERE doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin,

    // The streamed decode must reproduce the batch decode exactly —
    // mm01's pixel-generator replay verbatim.
    "st23_stream_media_decode" -> PipelineQueries.oracles("mm01_media_metadata"),

    // Clean rows are the full documents table (data-derived at every
    // SF); the 2 pins the injected-malformed quarantine count.
    "st22_stream_quarantine" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(2 AS BIGINT) AS n_corrupt
        |FROM documents ORDER BY doc_id""".stripMargin,

    "st16_streaming_upsert" ->
      """WITH l AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1),
        |lst AS (SELECT user_id, event_type, value,
        |          ROW_NUMBER() OVER (PARTITION BY user_id
        |            ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events)
        |SELECT l.user_id, CAST(l.n_events AS BIGINT) AS n_events,
        |       lst.event_type AS last_type, lst.value AS last_value
        |FROM l JOIN lst ON l.user_id = lst.user_id AND lst.rn = 1
        |ORDER BY l.user_id""".stripMargin,

    // the batch left join under the same 2-hour end-of-stream cutoff
    "st14_stream_outer_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events
        |           WHERE event_type = 'click'
        |             AND ts <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.click_id, p.purchase_id
        |FROM c LEFT JOIN p
        |  ON c.user_id = p.p_user AND p.p_ts >= c.ts
        | AND p.p_ts < c.ts + INTERVAL 1 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin,

    "st10_stream_stream_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, c.click_id
        |FROM c JOIN p
        |  ON c.user_id = p.p_user AND c.ts >= p.p_ts
        | AND c.ts < p.p_ts + INTERVAL 1 HOUR
        |ORDER BY purchase_id, click_id""".stripMargin,

    // the batch FULL join under the same symmetric 2-hour cutoff
    "st32_stream_full_outer_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events
        |           WHERE event_type = 'click'
        |             AND ts <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
        |      FROM events WHERE event_type = 'purchase'
        |        AND ts <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR)
        |SELECT c.click_id, p.purchase_id
        |FROM c FULL JOIN p
        |  ON c.user_id = p.p_user AND p.p_ts >= c.ts
        | AND p.p_ts < c.ts + INTERVAL 1 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin,

    // n_vectors is DuckDB's independent corpus count; the equivalence
    // and coverage bits plus the 3-append replay depth are pinned — the
    // an03/dd10 constant-oracle contract for quantizer-bound outputs
    "st34_stream_ann_ingest" ->
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors,
        |       CAST(1 AS BIGINT) AS coverage_ok,
        |       CAST(3 AS BIGINT) AS n_index_batches,
        |       CAST(1 AS BIGINT) AS ingest_equal,
        |       CAST(1 AS BIGINT) AS search_equal""".stripMargin,

    // st40: n_vectors is DuckDB's independent corpus count; the four
    // equivalence/coverage bits are the constant-oracle part (codes are
    // kmeans-internal — the st34/an13 cert posture).
    "st40_stream_pq_ingest" ->
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors,
        |       CAST(1 AS BIGINT) AS coverage_ok,
        |       CAST(3 AS BIGINT) AS n_index_batches,
        |       CAST(1 AS BIGINT) AS ingest_equal,
        |       CAST(1 AS BIGINT) AS search_equal""".stripMargin,

    // st02's values densified onto the full slide-tick grid: one row
    // per minute tick across the purchase span, zero-filled — the grid
    // itself is the cadence assertion
    "st33_cancel_window_heartbeat" ->
      """WITH b AS (SELECT date_trunc('minute', min(ts)) - INTERVAL 7 MINUTE AS lo,
        |                  date_trunc('minute', max(ts)) AS hi
        |           FROM events WHERE event_type = 'purchase'),
        |grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS ws
        |         FROM b),
        |c AS (SELECT ws, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM (SELECT unnest(generate_series(
        |                     date_trunc('minute', ts) - INTERVAL 7 MINUTE,
        |                     date_trunc('minute', ts),
        |                     INTERVAL 1 MINUTE)) AS ws
        |            FROM events WHERE event_type = 'purchase')
        |      GROUP BY ws)
        |SELECT strftime(g.ws, '%Y-%m-%d %H:%M:%S') AS w_start,
        |       COALESCE(c.n, CAST(0 AS BIGINT)) AS n
        |FROM grid g LEFT JOIN c ON g.ws = c.ws
        |ORDER BY w_start""".stripMargin,

    // identical to ev05's oracle — the streaming composition must not
    // change the as-of result
    "st09_stream_asof_enrich" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderdate,
        |         CAST(max(o_orderkey) AS BIGINT) AS o_orderkey,
        |         max_by(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, r.o_orderkey, r.o_totalprice
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    // New session when the gap reaches the 30-minute horizon (Spark's
    // session window is [start, last+gap), so an event at exactly
    // prev+30min starts a new session — hence >=, unlike batch ev03's >).
    "st06_session_window" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |         SUM(CASE WHEN prev_ts IS NULL OR ts >= prev_ts + INTERVAL 30 MINUTE
        |                  THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts) AS sess_id
        |  FROM g)
        |SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS s_start, user_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sess_id
        |ORDER BY user_id, s_start""".stripMargin)
}
