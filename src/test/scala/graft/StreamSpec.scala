package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.stream._

/** Multi-batch streaming semantics that the single-batch oracle queries
  * (st01–st04) cannot see: per-batch emission, cross-batch state folding,
  * and the reference's delete-on-idle state lifecycle
  * (`InvoicePipeline.scala:99` — state purged on the first batch where a
  * key receives no data, without emission).
  */
class StreamSpec extends SparkSuite {

  private def line(inv: String, qty: Long, price: Double, minute: Int = 600): PurchaseLine =
    PurchaseLine(inv, qty, price, math.round(price * 100), minute)

  private def waitUntil(what: String, timeoutMs: Long = 30000L)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline) fail(s"timed out waiting for: $what")
      Thread.sleep(25)
    }
  }

  private def stateRows(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(_.stateOperators.headOption.map(_.numRowsTotal)).getOrElse(-1L)

  test("state machine folds across batches and emits per update") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[PurchaseLine]
    val sink = "sm_fold"
    val q = InvoiceStateMachine(input.toDS(), idleTimeoutMs = 0L)
      .writeStream.outputMode("update").format("memory").queryName(sink).start()
    try {
      input.addData(line("A", 2, 10.0), line("A", 1, 40.0))
      waitUntil("first A emission")(s.table(sink).count() >= 1)
      input.addData(line("A", 1, 70.0))
      waitUntil("second A emission")(s.table(sink).count() >= 2)
      val rows = s.table(sink).filter($"invoice_no" === "A")
        .orderBy($"lines").collect()
      assert(rows.length == 2, "one emission per batch that touches the key")
      // after batch 1: (2×10 + 1×40)/3
      assert(rows(0).getAs[Double]("avg_unit_price") == 60.0 / 3)
      assert(rows(0).getAs[Long]("number_items") == 3L)
      // after batch 2 the fold continues: (2×10 + 1×40 + 1×70)/4
      assert(rows(1).getAs[Double]("avg_unit_price") == 130.0 / 4)
      assert(rows(1).getAs[Double]("min_unit_price") == 10.0)
      assert(rows(1).getAs[Double]("max_unit_price") == 70.0)
      assert(rows(1).getAs[Long]("number_items") == 4L)
      assert(rows(1).getAs[Long]("lines") == 3L)
    } finally q.stop()
  }

  test("streaming state partitions are pinned to StatePartitions — decoupled " +
    "from the session's batch shuffle setting, which is restored after") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val key = "spark.sql.shuffle.partitions"
    val prior = s.conf.get(key)
    // a core-count-like batch setting the stream must NOT inherit (the
    // r13 scale defect: state-store instance count tracked cores, making
    // stream-stream joins 4-6x slower at local[32] than local[4])
    s.conf.set(key, "27")
    try {
      val input = MemoryStream[PurchaseLine]
      input.addData(line("A", 2, 10.0), line("B", 1, 40.0))
      val (out, q) = StreamRunner.toMemoryWithQuery(
        InvoiceStateMachine(input.toDS(), idleTimeoutMs = 0L).toDF())
      assert(out.count() == 2)
      val parts = q.lastProgress.stateOperators.map(_.numShufflePartitions).distinct.toSeq
      assert(parts == Seq(StreamRunner.StatePartitions.toLong),
        s"state-store partitions $parts, expected ${StreamRunner.StatePartitions}")
      assert(s.conf.get(key) == "27",
        "the session's batch shuffle setting must be restored after the stream")
      // an explicit count (apps.Pipeline passes 1) is captured the same
      // way at start(), and the batch setting is restored the same way
      val explicit = MemoryStream[PurchaseLine]
      explicit.addData(line("A", 2, 10.0), line("B", 1, 40.0))
      // any other captured setting is restored the same way, unset included
      val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
      val priorNoData = s.conf.getOption(noData)
      val pinned = StreamRunner.start(s, InvoiceStateMachine(explicit.toDS(), idleTimeoutMs = 0L)
        .toDF().writeStream.outputMode("update").format("memory").queryName("pin_explicit"),
        partitions = 3, conf = Map(noData -> "false"))
      try {
        assert(s.conf.get(key) == "27",
          "the session's batch shuffle setting must be restored right after start()")
        assert(s.conf.getOption(noData) == priorNoData)
        pinned.processAllAvailable()
        val pinnedParts = pinned.lastProgress.stateOperators.map(_.numShufflePartitions).distinct.toSeq
        assert(pinnedParts == Seq(3L), s"state-store partitions $pinnedParts, expected 3")
      } finally pinned.stop()
    } finally s.conf.set(key, prior)
  }

  test("streamed fold equals the batch path on the same lines") {
    val s = spark
    import s.implicits._
    val lines = Seq(line("A", 2, 10.0, 60), line("A", 1, 40.0, 30), line("B", 5, 3.5, 90))
    // batch mode runs the exact same state-machine code path
    val batch = InvoiceStateMachine(lines.toDS(), idleTimeoutMs = 0L)
      .collect().map(a => a.invoice_no -> a).toMap
    assert(batch("A").avg_unit_price == 60.0 / 3)
    assert(batch("A").time_of_day == 0.5)
    assert(batch("B").number_items == 5L)
    implicit val ctx = s.sqlContext
    val input = MemoryStream[PurchaseLine]
    val sink = "sm_equiv"
    val q = InvoiceStateMachine(input.toDS(), idleTimeoutMs = 0L)
      .writeStream.outputMode("update").format("memory").queryName(sink).start()
    try {
      input.addData(lines.head)
      waitUntil("batch 1 out")(s.table(sink).count() >= 1)
      input.addData(lines.tail: _*)
      waitUntil("batch 2 out")(s.table(sink).count() >= 3)
      val finalA = s.table(sink).filter($"invoice_no" === "A")
        .orderBy($"lines".desc).head()
      assert(finalA.getAs[Double]("avg_unit_price") == batch("A").avg_unit_price)
      assert(finalA.getAs[Long]("number_items") == batch("A").number_items)
    } finally q.stop()
  }

  test("delete-on-idle: state is purged without emission, key restarts fresh") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[PurchaseLine]
    val sink = "sm_idle"
    val q = InvoiceStateMachine(input.toDS(), idleTimeoutMs = 1L)
      .writeStream.outputMode("update").format("memory").queryName(sink).start()
    try {
      input.addData(line("A", 1, 10.0), line("B", 1, 20.0))
      waitUntil("A+B emitted")(s.table(sink).count() >= 2)
      input.addData(line("A", 1, 10.0)) // B idle this batch
      waitUntil("A re-emitted")(s.table(sink).count() >= 3)
      // the engine keeps running timeout batches; B (and eventually A)
      // must be purged from the store without any further emission
      waitUntil("state purged")(stateRows(q) == 0L)
      val emitted = s.table(sink).count()
      input.addData(line("B", 3, 99.0))
      waitUntil("B restarted")(s.table(sink).count() >= emitted + 1)
      val bRows = s.table(sink).filter($"invoice_no" === "B").collect()
      // fresh state: the restart emits a one-line aggregate of the new data
      // only; a continuation of the purged state would show lines=2/items=4
      assert(bRows.exists(r => r.getAs[Long]("lines") == 1L &&
        r.getAs[Long]("number_items") == 3L &&
        r.getAs[Double]("min_unit_price") == 99.0))
      assert(!bRows.exists(r => r.getAs[Long]("lines") > 1L))
    } finally q.stop()
  }

  test("checkpoint recovery: state survives a stop/restart, output is not lost") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val base = java.nio.file.Files.createTempDirectory("ckpt-spec-").toString
    val input = MemoryStream[PurchaseLine]
    def start() = InvoiceStateMachine(input.toDS(), idleTimeoutMs = 0L)
      .toDF()
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$base/out")
      }
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    val q1 = start()
    try {
      input.addData(line("A", 2, 10.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the checkpoint: the running aggregate must continue
    // from persisted state, not from empty
    val q2 = start()
    try {
      input.addData(line("A", 1, 40.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val out = s.read.parquet(s"$base/out").filter($"invoice_no" === "A")
      .orderBy($"lines").collect()
    assert(out.length == 2, "one emission per processed batch across restarts")
    assert(out(1).getAs[Long]("lines") == 2L, "state continued across restart")
    assert(out(1).getAs[Long]("number_items") == 3L)
    assert(out(1).getAs[Double]("avg_unit_price") == 60.0 / 3)
  }

  test("sliding window counts: streaming updates converge to batch result") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val t0 = Timestamp.valueOf("2024-01-01 10:00:30")
    def at(min: Int) = new Timestamp(t0.getTime + min * 60000L)
    val all = Seq(at(0), at(0), at(1), at(3), at(9))
    val input = MemoryStream[Timestamp]
    val sink = "cw_win"
    val q = CancellationWindow.slidingCounts(input.toDF().toDF("ts"), "ts")
      .writeStream.outputMode("update").format("memory").queryName(sink).start()
    try {
      input.addData(all.take(3): _*)
      waitUntil("first windows")(s.table(sink).count() >= 1)
      input.addData(all.drop(3): _*)
      waitUntil("second windows")(
        s.table(sink).groupBy($"w_start").agg(max($"n")).count() >= 16)
      // counts only grow → max per window is the final value
      val streamed = s.table(sink).groupBy($"w_start").agg(max($"n").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = CancellationWindow.slidingCounts(all.toDF("ts"), "ts")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("event-time variant: late rows dropped, idle state purged by watermark") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def at(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    def timed(inv: String, qty: Long, price: Double, t: String) =
      TimedPurchaseLine(line(inv, qty, price), at(t))
    val input = MemoryStream[TimedPurchaseLine]
    val sink = "sm_event_time"
    // watermark 10 min; purge once the watermark is 20 min past the last
    // batch that touched the key
    val q = InvoiceStateMachine.eventTimed(input.toDS(),
        watermarkDelay = "10 minutes", idleMs = 20 * 60 * 1000L)
      .writeStream.outputMode("update").format("memory").queryName(sink).start()
    try {
      input.addData(timed("A", 2, 10.0, "10:00"), timed("B", 1, 5.0, "10:00"))
      waitUntil("A+B emitted")(s.table(sink).count() >= 2)
      // advance the watermark to 10:50 (11:00 − 10 min): far past A/B's
      // timeout horizon → both purge WITHOUT emission
      input.addData(timed("C", 1, 1.0, "11:00"))
      waitUntil("C emitted")(s.table(sink).count() >= 3)
      waitUntil("A+B purged by watermark")(stateRows(q) == 1L) // only C lives
      // a straggler behind the watermark (10:05 < 10:50) must be DROPPED:
      // no emission, no resurrected state. C meanwhile stays live — its
      // idle horizon is anchored to its last event (11:00 + 20 min), not
      // the lagging batch-start watermark — so its next row folds on.
      input.addData(timed("A", 99, 999.0, "10:05"), timed("C", 1, 1.0, "11:01"))
      waitUntil("C re-emitted")(
        s.table(sink).filter($"invoice_no" === "C").count() >= 2)
      val aRows = s.table(sink).filter($"invoice_no" === "A").collect()
      assert(aRows.length == 1, s"late A row must not re-emit, got ${aRows.length}")
      assert(aRows.head.getAs[Long]("number_items") == 2L,
        "late row must not reach the fold")
      // C folded across its two batches — state continued for live keys
      val cFinal = s.table(sink).filter($"invoice_no" === "C")
        .orderBy($"lines".desc).head()
      assert(cFinal.getAs[Long]("lines") == 2L)
    } finally q.stop()
  }

  test("state machine is provider-agnostic: identical fold under RocksDB state store") {
    // The 100 TB posture: the default (HDFSBackedStateStoreProvider) holds
    // every live key on-heap per executor; RocksDB spills state to local
    // disk, bounding executor heap by the working set, not the key space.
    // Swapping the provider must not change semantics — same fold, same
    // emissions, state purged on idle timeout.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[PurchaseLine]
      val sink = "sm_rocksdb"
      val q = InvoiceStateMachine(input.toDS(), idleTimeoutMs = 0L)
        .writeStream.outputMode("update").format("memory").queryName(sink).start()
      try {
        input.addData(line("A", 2, 10.0), line("B", 1, 5.0))
        waitUntil("batch 1 out")(s.table(sink).count() >= 2)
        input.addData(line("A", 1, 40.0))
        waitUntil("batch 2 out")(s.table(sink).count() >= 3)
        assert(q.lastProgress.stateOperators.head.customMetrics
          .containsKey("rocksdbGetCount"), "query must actually run on RocksDB")
        val finalA = s.table(sink).filter($"invoice_no" === "A")
          .orderBy($"lines".desc).head()
        assert(finalA.getAs[Double]("avg_unit_price") == 60.0 / 3)
        assert(finalA.getAs[Long]("number_items") == 3L)
        assert(finalA.getAs[Long]("lines") == 2L)
      } finally q.stop()
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  test("chunked replay provably crosses >=3 micro-batches and folds state exactly") {
    val s = spark
    import s.implicits._
    val dir = "/root/testdata/sf0.001"
    val (df, q) = graft.queries.StreamQueries.multibatchInvoiceState(s, dir, nFiles = 3)
    val streamed = df.collect()
    // the replay genuinely ran >=3 triggers (batch ids 0,1,2,...)
    assert(q.lastProgress.batchId >= 2,
      s"expected >=3 micro-batches, lastBatchId=${q.lastProgress.batchId}")
    // final per-key emissions must equal the batch fold over the same lines
    val joined = graft.model.Tables.lineitem(s, dir)
      .join(graft.model.Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
    val batch = InvoiceStateMachine(
      graft.queries.StreamQueries.purchaseLines(joined, s), idleTimeoutMs = 0L)
      .toDF()
      .select($"invoice_no".cast("long").as("invoice_no"),
        $"avg_unit_price", $"min_unit_price", $"max_unit_price",
        $"time_of_day", $"number_items", $"lines")
      .orderBy($"invoice_no")
      .collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    assert(streamed.sameElements(batch), "cross-batch fold diverged from batch path")
  }

  test("event-time state machine crosses >=3 micro-batches and matches the batch fold") {
    val s = spark
    import s.implicits._
    val dir = "/root/testdata/sf0.001"
    val (df, q) = graft.queries.StreamQueries.eventTimedMultibatch(s, dir, nFiles = 3)
    val streamed = df.collect()
    // the watermarked replay genuinely ran >=3 data triggers
    assert(q.lastProgress.batchId >= 2,
      s"expected >=3 micro-batches, lastBatchId=${q.lastProgress.batchId}")
    // over-span watermark: no late drops, no mid-replay purges — the final
    // per-key emissions equal the untimed batch fold exactly
    val joined = graft.model.Tables.lineitem(s, dir)
      .join(graft.model.Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
    val batch = InvoiceStateMachine(
      graft.queries.StreamQueries.purchaseLines(joined, s), idleTimeoutMs = 0L)
      .toDF()
      .select($"invoice_no".cast("long").as("invoice_no"),
        $"avg_unit_price", $"min_unit_price", $"max_unit_price",
        $"time_of_day", $"number_items", $"lines")
      .orderBy($"invoice_no")
      .collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    assert(streamed.sameElements(batch),
      "event-time cross-batch fold diverged from batch path")
  }

  test("routed-batch retry after full commit re-processes but publishes NOTHING") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("routed-retry-").toString
    val df = Seq(("1", "good"), ("2", "bad")).toDF("v", "route")
    graft.stream.IdempotentSink.writeRoutedBatch(df, base, "route", batchId = 3)
    def goodVals() = graft.stream.IdempotentSink.read(s, s"$base/good")
      .collect().map(_.getString(0)).toSeq
    assert(goodVals() == Seq("1"))
    // A retry of a fully-committed batch MUST still process every
    // partition (Spark 4 validates that each batch's state stores commit;
    // an early return would permanently strand a restarted stateful
    // query on this batch) but must publish nothing: committed output is
    // immutable and no staging job re-runs. The accumulator proves the
    // processing pass happened; the file asserts prove nothing landed.
    val acc = s.sparkContext.longAccumulator("routed_retry_probe")
    val probed = df.as[(String, String)]
      .mapPartitions { it => acc.add(1L); it }.toDF("v", "route")
    graft.stream.IdempotentSink.writeRoutedBatch(probed, base, "route", batchId = 3)
    assert(acc.value > 0, "retry must process partitions (state-store commit requirement)")
    assert(goodVals() == Seq("1"))
    assert(!new java.io.File(s"$base/_staging/b3").exists,
      "retry of a committed batch must not re-stage")
    // a PARTIALLY committed batch (route dir landed, marker did not — crash
    // between renames) must still re-stage and converge to one copy
    val df4 = Seq(("5", "good"), ("6", "bad")).toDF("v", "route")
    graft.stream.IdempotentSink.writeRoutedBatch(df4, base, "route", batchId = 4)
    val marker = new java.io.File(s"$base/_committed/b4")
    assert(marker.exists(), "full commit must leave the completion marker")
    marker.delete()
    graft.stream.IdempotentSink.writeRoutedBatch(df4, base, "route", batchId = 4)
    assert(goodVals().sorted == Seq("1", "5"), "partial-commit retry must not duplicate")
    assert(marker.exists(), "retry must restore the completion marker")
  }

  test("router classifies and fans out; cancelled branch deduped per batch") {
    val s = spark
    import s.implicits._
    val recs = Seq(
      ("1", "1,a,b,c,d,e,f,g"),      // good
      ("C2", "2,a,b,c,d,e,f,g"),     // cancelled
      ("C2", "2,a,b,c,d,e,f,g"),     // duplicate cancelled line (same batch)
      ("3", "3,a,b,c,d,e,f"),        // invalid: 7 fields
      ("4", "4,a,,c,d,e,f,g"))       // invalid: empty field
      .toDF("key", "value")
    val routes = Router.classified(recs).collect()
      .map(r => (r.getString(0), r.getString(2))).toSet
    assert(routes == Set(("1", "good"), ("C2", "cancelled"),
      ("3", "invalid"), ("4", "invalid")) + (("C2", "cancelled")))
    // the F4 gate selects exactly the rows classified as good
    assert(Router.goodRecords(recs).collect().map(_.getString(0)).toSet == Set("1"))
    val base = java.nio.file.Files.createTempDirectory("router-spec-").toString
    Router.runToSinks(StreamRunner.asStream(recs), base)
    val good = graft.stream.IdempotentSink.read(s, s"$base/good").collect()
    val cancelled = graft.stream.IdempotentSink.read(s, s"$base/cancelled").collect()
    val invalid = graft.stream.IdempotentSink.read(s, s"$base/invalid").collect()
    assert(good.map(_.getString(0)).toSeq == Seq("1"))
    assert(cancelled.length == 1, "per-batch distinct must collapse the duplicate")
    assert(invalid.map(_.getString(0)).toSet == Set("3", "4"))
  }

  test("st12: windowed HLL++ state merges across micro-batches identically to one pass") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val (finals, q) = graft.queries.StreamQueries.windowedSketchReplay(s, sf, nFiles = 3)
    val streamed = finals
      .select($"window.start".as("w"), $"n_events", $"approx_users").orderBy($"w")
      .collect()
    assert(q.lastProgress.batchId >= 2,
      s"expected >=3 micro-batches, lastBatchId=${q.lastProgress.batchId}")
    // HLL++ register state is order- and partition-insensitive, so the
    // cross-batch merge through the state store must equal the one-pass
    // batch aggregate EXACTLY — same estimate, not just within tolerance
    val batch = graft.model.Tables.events(s, sf)
      .groupBy(window($"ts", "1 day"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct($"user_id", 0.02).as("approx_users"))
      .select($"window.start".as("w"), $"n_events", $"approx_users").orderBy($"w")
      .collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    assert(streamed.sameElements(batch),
      "cross-batch sketch merge diverged from the one-pass batch sketch")
  }

  test("st24: the 2-day watermark purges closed windows MID-STREAM while " +
    "every window's final emission stays the exact batch value") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val (finals, q) = graft.queries.StreamQueries.purgingSketchReplay(s, sf)
    val streamed = finals
      .select($"window.start".as("w"), $"n_events", $"approx_users").orderBy($"w")
      .collect()
    assert(q.lastProgress.batchId >= 3,
      s"expected >=4 micro-batches, lastBatchId=${q.lastProgress.batchId}")
    // the purge certificate: only the watermark-open tail of windows may
    // remain resident — far fewer than the total window count (st12's
    // wide-watermark replay keeps ALL of them)
    val resident = q.lastProgress.stateOperators.head.numRowsTotal
    assert(streamed.length > 6, s"need a multi-window replay, got ${streamed.length}")
    assert(resident >= 1 && resident <= streamed.length / 2,
      s"state rows at termination = $resident of ${streamed.length} windows — " +
        "the watermark did not purge (or purged everything)")
    // and purging must not have cost a single row: exact batch equality
    val batch = graft.model.Tables.events(s, sf)
      .groupBy(window($"ts", "1 day"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct($"user_id", 0.02).as("approx_users"))
      .select($"window.start".as("w"), $"n_events", $"approx_users").orderBy($"w")
      .collect()
    assert(streamed.length == batch.length && streamed.sameElements(batch),
      "purging watermark changed a window's final aggregate")
  }

  test("st26: the streamed per-day KMV synopsis is BIT-IDENTICAL to the " +
    "one-pass batch synopsis, and closed windows purge mid-stream") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val (out, q) = graft.queries.StreamQueries.kmvWindowReplay(s, sf)
    val streamed = graft.queries.StreamQueries.finalPerWindow(out)
      .select($"window.start".as("w"), $"sk").orderBy($"w")
      .collect().map(r => (r.get(0), r.getSeq[Long](1)))
    assert(q.lastProgress.batchId >= 3,
      s"expected >=4 micro-batches, lastBatchId=${q.lastProgress.batchId}")
    // purge certificate (the st24/st25 property, for this family too)
    val resident = q.lastProgress.stateOperators.head.numRowsTotal
    assert(resident >= 1 && resident <= streamed.length / 2,
      s"state rows at termination = $resident of ${streamed.length} windows")
    // the sharp tooth: KMV merge is order/partition-insensitive SET
    // algebra, so the synopsis assembled through the state store across
    // micro-batches must equal the one-pass batch synopsis ELEMENT FOR
    // ELEMENT — not merely estimate-close
    val batch = graft.model.Tables.events(s, sf)
      .groupBy(window($"ts", "1 day"))
      .agg(graft.functions.KmvSketchAgg.kmv($"user_id",
        graft.queries.StreamQueries.KmvStateK).as("sk"))
      .select($"window.start".as("w"), $"sk").orderBy($"w")
      .collect().map(r => (r.get(0), r.getSeq[Long](1)))
    assert(streamed.length == batch.length && streamed.length > 6)
    streamed.zip(batch).foreach { case ((ws, ssk), (wb, bsk)) =>
      assert(ws == wb, s"window mismatch $ws vs $wb")
      assert(ssk == bsk,
        s"synopsis for $ws diverged between streamed state merge and batch")
    }
  }

  test("st25: the CMS state family purges under the 2-day watermark and the " +
    "final per-day sketch still never undercounts its top users") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val (finals, q) = graft.queries.StreamQueries.purgingCmsReplay(s, sf)
    val windows = finals.select($"window.start".as("w"), $"n_events").orderBy($"w").collect()
    assert(q.lastProgress.batchId >= 3,
      s"expected >=4 micro-batches, lastBatchId=${q.lastProgress.batchId}")
    val resident = q.lastProgress.stateOperators.head.numRowsTotal
    assert(windows.length > 6, s"need a multi-window replay, got ${windows.length}")
    assert(resident >= 1 && resident <= windows.length / 2,
      s"state rows at termination = $resident of ${windows.length} windows — " +
        "the watermark did not purge the CMS state (or purged everything)")
    // the merged final sketch must dominate the exact count for every
    // day's top user (CMS never undercounts), exactly like st13's bit
    val est = graft.functions.CmsEstimate($"cms", $"user_id")
    val topW = org.apache.spark.sql.expressions.Window
      .partitionBy($"window").orderBy($"n".desc, $"user_id")
    val violations = graft.model.Tables.events(s, sf)
      .groupBy(window($"ts", "1 day").as("window"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(topW)).filter($"rk" === 1)
      .join(finals, "window")
      .filter(est < $"n")
      .count()
    assert(violations == 0L,
      s"$violations day(s) whose final merged CMS undercounts the top user")
  }

  test("st28: per-day GK quantile summaries merge through streaming state " +
    "under the purging watermark, within the designed rank bound of exact") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val (out, q) = graft.queries.StreamQueries.purgingQuantileReplay(s, sf)
    val finals = graft.queries.StreamQueries.finalPerWindow(out)
    val streamed = finals
      .select($"window.start".as("w"), $"n_events",
        element_at($"pq", 1).as("p50"), element_at($"pq", 2).as("p90"))
      .orderBy($"w").collect()
    assert(q.lastProgress.batchId >= 3,
      s"expected >=4 micro-batches, lastBatchId=${q.lastProgress.batchId}")
    // purge certificate: only the watermark-open tail stays resident
    val resident = q.lastProgress.stateOperators.head.numRowsTotal
    assert(streamed.length > 6, s"need a multi-window replay, got ${streamed.length}")
    assert(resident >= 1 && resident <= streamed.length / 2,
      s"state rows at termination = $resident of ${streamed.length} windows — " +
        "the watermark did not purge the GK state (or purged everything)")
    // the cross-batch state merge must honor GK's RANK contract against
    // the raw day (a VALUE bound would be wrong: the summary returns a
    // real data point, and order-statistic gaps at small n put it
    // several % away in value even at perfect rank) — same (2 + 1%·n)
    // bound the st28 entry certifies under the oracle
    val byDay = graft.model.Tables.events(s, sf)
      .select(window($"ts", "1 day")("start").as("w"), $"value")
      .collect().groupBy(_.get(0)).view.mapValues(_.map(_.getDouble(1))).toMap
    streamed.foreach { sr =>
      val vals = byDay(sr.get(0))
      val n = vals.length
      for ((v, q) <- Seq((sr.getDouble(2), 0.5), (sr.getDouble(3), 0.9))) {
        val rank = vals.count(_ <= v)
        assert(math.abs(rank - q * n) <= 2.0 + 0.01 * n,
          s"merged p$q value $v ranks $rank of $n (target ${q * n}) for " +
            s"window ${sr.get(0)} — outside the GK rank contract")
      }
    }
  }

  test("st29: the evolving LSH index gates arrivals against EARLIER " +
    "batches, not just in-batch dedup") {
    val s = spark
    import s.implicits._
    val out = graft.SparkEntry.queries("st29_stream_lsh_dedup")(s, sf).cache()
    val keepers = out.select($"doc_id").as[Long].collect().toSet
    val total = graft.model.Tables.documents(s, sf).count()
    assert(keepers.nonEmpty && keepers.size < total,
      s"gate vacuous: ${keepers.size} keepers of $total docs — nothing dropped")
    // ≥1 dropped arrival whose ONLY earlier partners live in EARLIER
    // chunks: that drop can only have been served by the index
    // accumulated from prior micro-batches (in-batch dedup cannot see
    // those partners), so the probe fails if the index-append → probe
    // loop silently stops working even while in-batch dedup keeps the
    // keeper count plausible
    val pairs = graft.ops.Dedup.minHashDupPairs(
        graft.model.Tables.documents(s, sf), "doc_id", "text",
        shingleK = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    def ck(id: Long) = id % 3
    val und = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) } // (partner, doc)
    val crossOnlyDropped = und.groupBy(_._2).collect {
      case (doc, ps) if !keepers(doc) &&
        ps.exists { case (p, _) => ck(p) < ck(doc) } &&
        !ps.exists { case (p, _) => ck(p) == ck(doc) && p < doc } => doc
    }
    assert(crossOnlyDropped.nonEmpty,
      "no arrival was dropped solely via the cross-batch index — the " +
        "evolving-index path went untested")
    out.unpersist()
  }

  test("st30: the query stream crosses 3 micro-batches and every ANN " +
    "certificate holds, incl. streamed == one-shot loaded-index search") {
    val s = spark
    import s.implicits._
    // batch premise: the content-addressed fixture must be 3 one-file
    // chunks, or AvailableNow + maxFilesPerTrigger=1 stops crossing
    // batch boundaries and the entry degrades to a one-shot search
    val scratch = graft.queries.StreamQueries.ensureEmbQueryChunks(s, sf, 3)
    val chunks = new java.io.File(scratch).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(chunks == 3, s"expected 3 chunk files, got $chunks")
    val out = graft.SparkEntry.queries("st30_stream_ann_topk")(s, sf).collect()
    assert(out.length == 10, s"expected 10 query rows, got ${out.length}")
    for (r <- out; c <- Seq("k_returned", "in_corpus_ok", "not_self_ok",
      "ordered_ok", "recall_ok", "stream_batch_equal")) {
      val v = r.getLong(r.fieldIndex(c))
      val want = if (c == "k_returned") 5L else 1L
      assert(v == want, s"query ${r.getLong(0)}: $c = $v, want $want")
    }
  }

  test("st31: the fixed-k sample folds across versions — electees span " +
    "batches and the artifact stays bounded") {
    val s = spark
    import s.implicits._
    val out = graft.SparkEntry.queries("st31_stream_fixed_k_sample")(s, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_versions")) == 3L, "expected 3 artifact versions")
      assert(r.getLong(r.fieldIndex("state_bounded_ok")) == 1L,
        "artifact exceeded the n_sources × k budget at some version")
    }
    // the fold genuinely crossed batches: some source's final sample
    // mixes docs from different content-addressed chunks (all-one-chunk
    // would mean later batches never displaced or joined the artifact)
    val spansChunks = out.groupBy(_.getString(0)).exists { case (_, rows) =>
      rows.map(r => r.getLong(r.fieldIndex("doc_id")) % 3).distinct.length >= 2
    }
    assert(spansChunks,
      "no source's final sample spans multiple chunks — the cross-batch " +
        "fold went unexercised")
  }

  test("st27: the SHUFFLED stream-static join regime emits the identical " +
    "state-machine aggregates as st01's broadcast regime") {
    val s = spark
    import s.implicits._
    // the regime twin must agree with the broadcast entry ROW FOR ROW —
    // the join shape is an execution choice, never a semantics choice
    val shuffled = graft.SparkEntry.queries("st27_invoice_state_shuffled")(s, sf)
      .collect()
    val broadcastR = graft.SparkEntry.queries("st01_invoice_state")(s, sf)
      .collect()
    assert(shuffled.length == broadcastR.length && shuffled.length > 0,
      s"row counts diverged: ${shuffled.length} vs ${broadcastR.length}")
    assert(shuffled.sameElements(broadcastR),
      "shuffled-regime state machine diverged from the broadcast regime")
  }

  test("st14's outer join emits genuinely unmatched clicks (not vacuously inner)") {
    val s = spark
    import s.implicits._
    val out = graft.SparkEntry.queries("st14_stream_outer_join")(s, sf).cache()
    val unmatched = out.filter($"purchase_id".isNull).count()
    val matched = out.filter($"purchase_id".isNotNull).count()
    assert(unmatched > 0, "no null-extended rows — the outer-flush path never ran")
    assert(matched > 0, "no matched rows — the join itself is vacuous")
    out.unpersist()
  }

  test("st32's full outer join flushes BOTH unmatched sides (and still matches)") {
    val s = spark
    import s.implicits._
    val out = graft.SparkEntry.queries("st32_stream_full_outer_join")(s, sf).cache()
    val leftOnly = out.filter($"purchase_id".isNull).count()
    val rightOnly = out.filter($"click_id".isNull).count()
    val matched = out.filter($"click_id".isNotNull && $"purchase_id".isNotNull).count()
    assert(leftOnly > 0, "no null-purchase rows — the left outer-flush path never ran")
    assert(rightOnly > 0, "no null-click rows — the right outer-flush path never ran")
    assert(matched > 0, "no matched rows — the join itself is vacuous")
    out.unpersist()
  }

  test("st33 heartbeat grid is dense (every slide tick), zero ticks genuinely " +
    "emitted, nonzero ticks identical to st02") {
    val s = spark
    import s.implicits._
    val out = graft.SparkEntry.queries("st33_cancel_window_heartbeat")(s, sf).cache()
    val n = out.count()
    val distinctTicks = out.select($"w_start").distinct().count()
    assert(n == distinctTicks, "duplicate slide ticks in the heartbeat grid")
    // density: tick count == minutes between first and last tick + 1
    val span = out.agg(min($"w_start"), max($"w_start")).head()
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val lo = java.time.LocalDateTime.parse(span.getString(0), fmt)
    val hi = java.time.LocalDateTime.parse(span.getString(1), fmt)
    val expected = java.time.Duration.between(lo, hi).toMinutes + 1
    assert(n == expected, s"grid has holes: $n ticks, span says $expected")
    assert(out.filter($"n" === 0).count() > 0,
      "no zero-count ticks — the heartbeat adds nothing over st02 on this data")
    val nonzero = out.filter($"n" > 0).orderBy($"w_start").collect()
    val st02 = graft.SparkEntry.queries("st02_cancel_window")(s, sf)
      .orderBy($"w_start").collect()
    assert(nonzero.sameElements(st02),
      "nonzero heartbeat ticks diverged from st02's windowed counts")
    out.unpersist()
  }

  test("st15 incremental view crosses >=3 snapshot merges and equals batch recompute") {
    val s = spark
    import s.implicits._
    val (view, lastVersion, _) = graft.queries.StreamQueries.incrementalView(s, sf, nFiles = 3)
    assert(lastVersion >= 2, s"expected >=3 micro-batches, last snapshot was v$lastVersion")
    val batch = graft.model.Tables.events(s, sf)
      .groupBy(date_format(to_date($"ts"), "yyyy-MM-dd").as("day"), $"event_type")
      .agg(count(lit(1)).as("n"),
        (sum(graft.queries.QueryUtil.cents($"value")) / 100.0).as("sum_value"))
      .orderBy($"day", $"event_type")
    assert(view.collect().sameElements(batch.collect()),
      "final snapshot diverged from the one-shot batch aggregate")
  }

  test("kafka wire format: producer (key, value) bytes are pinned exactly") {
    // The broker swap (`batch.write.format("kafka")` in Router's
    // foreachBatch, readStream.format("kafka") in StreamSources) ships
    // `key`/`value` cast to BINARY. No broker runs in this sandbox, so
    // pin the exact bytes that WOULD hit the producer: a later real-broker
    // swap is byte-compatible iff this test still passes.
    val s = spark
    import s.implicits._
    val records = Seq(
      // good purchase line (reference 8-field CSV shape)
      ("536365", "536365,2010-12-01 08:26:00,2.55,17850,United Kingdom,6,85123A,WHITE HANGING HEART"),
      // cancelled: C-prefixed key, two distinct lines (min-collapse picks one)
      ("C536379", "C536379,2010-12-01 09:41:00,27.50,14527,United Kingdom,-1,D,Discount"),
      ("C536379", "C536379,2010-12-01 09:41:00,4.65,14527,United Kingdom,-2,21730,GLASS STAR"),
      // invalid: 7 fields (wrong arity)
      ("536370", "536370,2010-12-01 08:45:00,2.10,12583,France,24")
    ).toDF("key", "value")
    val classified = graft.stream.Router.classified(records)
    val cancelled = classified.filter($"route" === "cancelled")
      .groupBy($"key").agg(org.apache.spark.sql.functions.min($"value").as("value"))
    val wire = classified.filter($"route" =!= "cancelled")
      .select($"key", $"value")
      .unionByName(cancelled)
      // the exact projection the kafka sink consumes
      .select($"key".cast("binary").as("key"), $"value".cast("binary").as("value"))
    val got = wire.collect()
      .map(r => (new String(r.getAs[Array[Byte]]("key"), "UTF-8"),
                 new String(r.getAs[Array[Byte]]("value"), "UTF-8"))).toSet
    assert(got === Set(
      ("536365", "536365,2010-12-01 08:26:00,2.55,17850,United Kingdom,6,85123A,WHITE HANGING HEART"),
      ("536370", "536370,2010-12-01 08:45:00,2.10,12583,France,24"),
      // min() on the value string: the ASCII-smaller line survives
      ("C536379", "C536379,2010-12-01 09:41:00,27.50,14527,United Kingdom,-1,D,Discount")),
      "kafka producer bytes drifted from the pinned wire format")
    // JSON payload leg (cs03's P9 shape): to_json field order and layout
    // are part of the wire contract — consumers parse by position-free
    // keys, but byte-level golden files (and the DuckDB oracle) depend on
    // this exact serialization
    import org.apache.spark.sql.functions.{to_json, struct, col}
    val payload = Seq(("536365", 6L, "17850", "United Kingdom"))
      .toDF("invoice_no", "quantity", "customer_id", "country")
      .select(to_json(struct(col("invoice_no"), col("quantity"),
        col("customer_id"), col("country"))).as("payload"))
      .head().getString(0)
    assert(payload ===
      """{"invoice_no":"536365","quantity":6,"customer_id":"17850","country":"United Kingdom"}""",
      "to_json wire layout drifted — kafka consumers with golden-file tests would break")
  }

  test("st01's stream-static join broadcasts the static dimension (pinned plan)") {
    // AQE is off inside stateful streaming plans, so the broadcast() hint
    // in purchaseStream is load-bearing — without it the join shape rides
    // on a size estimate that won't hold at a 100 TB static side. Pin the
    // EXECUTED streaming plan the way PlanSpec pins q03's batch join.
    val (df, q) = StreamRunner.toMemoryWithQuery(
      InvoiceStateMachine(
        graft.queries.StreamQueries.purchaseStream(spark, sf), idleTimeoutMs = 0L))
    assert(df.count() > 0)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) { q.explain() }
    val plan = out.toString("UTF-8")
    assert(plan.contains("BroadcastHashJoin"),
      s"stream-static join must broadcast the static orders side; got:\n$plan")
  }

  test("st27's shuffled regime genuinely avoids the broadcast (pinned plan)") {
    // the negative control for the regime pair: with the hint dropped
    // and broadcast-by-stats off, the stream-static join must plan as a
    // per-micro-batch shuffle — otherwise the st27 regime measurement
    // (SCALE.md) silently times the broadcast plan twice
    val s = spark
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "-1")
    try {
      val (df, q) = StreamRunner.toMemoryWithQuery(
        InvoiceStateMachine(
          graft.queries.StreamQueries.purchaseStream(spark, sf, broadcastDim = false),
          idleTimeoutMs = 0L))
      assert(df.count() > 0)
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) { q.explain() }
      val plan = out.toString("UTF-8")
      assert(!plan.contains("BroadcastHashJoin"),
        s"the shuffled-regime twin still broadcasts:\n$plan")
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  test("st18: crash between sink write and commit recovers from the checkpoint to the batch answer") {
    val s = spark
    import s.implicits._
    val (result, stats) =
      graft.queries.StreamQueries.crashRecoveryInvoiceState(s, sf, nFiles = 3)

    // The crash actually happened: run 1 terminated abnormally, having
    // committed micro-batch 0 and nothing later (batch 1 died in-flight,
    // so no progress event for it was ever published).
    assert(stats.run1Failed, "injected crash must terminate run 1 abnormally")
    assert(stats.run1Batches.nonEmpty && stats.run1Batches.min == 0,
      s"run 1 must commit micro-batch 0 before dying; got ${stats.run1Batches}")
    assert(stats.run1Batches.max <= 1,
      s"run 1 must die at micro-batch 1; got ${stats.run1Batches}")

    // The recovery actually happened: run 2 resumed at batch 1 from the
    // SAME checkpoint (re-processing batch 0 would double-fold state), and
    // the whole replay spanned >=3 micro-batches, so post-crash batches
    // folded onto recovered state.
    assert(stats.run2Batches.nonEmpty && stats.run2Batches.min >= 1,
      s"restart must resume from checkpointed offsets, not batch 0; got ${stats.run2Batches}")
    assert(stats.run2Batches.min <= 1,
      s"restart must re-attempt the uncommitted batch 1; got ${stats.run2Batches}")
    assert((stats.run1Batches ++ stats.run2Batches).max >= 2,
      "the replay must span >=3 micro-batches so recovery lands mid-stream")

    // Exactly-once: the accumulated idempotent sink, reduced to final
    // emissions, equals the batch-mode fold of the same purchase lines
    // bit-for-bit (integer-cents state makes this exact, not approximate).
    val joined = graft.model.Tables.lineitem(s, sf)
      .join(broadcast(graft.model.Tables.orders(s, sf)),
        $"l_orderkey" === $"o_orderkey")
    val batch = InvoiceStateMachine(
      graft.queries.StreamQueries.purchaseLines(joined, s), idleTimeoutMs = 0L)
      .select($"invoice_no".cast("long").as("invoice_no"),
        $"avg_unit_price", $"min_unit_price", $"max_unit_price",
        $"time_of_day", $"number_items", $"lines")
      .orderBy($"invoice_no")
    assert(result.collect().sameElements(batch.collect()),
      "recovered streaming result diverged from the batch aggregate")
  }

  test("st19 premise: the late-drop boundary is window_end <= watermark " +
    "(end==wm dropped, raw ts==wm kept), and the watermark is prior-batch max") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes")).agg(count(lit(1)).as("n"))
      .select(date_format($"window.start", "HH:mm").as("ws"), $"n")
    val q = df.writeStream.format("memory").queryName("wm_boundary_pin")
      .outputMode("update").start()
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $hhmm:00")
    try {
      mem.addData((t("10:00"), 1L)) // batch 0: max 10:00 → wm becomes 09:50
      q.processAllAvailable()
      // batch 1: window ends 09:40 (< wm), 09:50 (== wm), 10:00 (> wm,
      // one row AT the raw watermark instant)
      mem.addData((t("09:35"), 2L), (t("09:45"), 3L), (t("09:50"), 4L),
        (t("09:55"), 5L))
      q.processAllAvailable()
      val rows = s.table("wm_boundary_pin").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(!rows.exists(_._1 == "09:30"), "window ending BELOW wm must drop")
      assert(!rows.exists(_._1 == "09:40"),
        "window ending EXACTLY AT wm must drop (the <= boundary st19's oracle encodes)")
      assert(rows.contains(("09:50", 2L)),
        s"the wm-straddling window must keep BOTH rows (raw ts == wm is " +
          s"not the filter — window end is); got $rows")
    } finally q.stop()
  }

  test("st19 premise: under AvailableNow the late filter uses the watermark " +
    "from data through batch k-2 (one batch behind the committed watermark)") {
    // MEASURED ON Spark 4.1.2 (and hard-coded into the st19/st20 DuckDB
    // oracles — see the "SEMANTICS PIN" comment at the st19 oracle SQL).
    // If this probe fails after a Spark upgrade, the ENGINE's watermark
    // commit timing changed: re-measure the lag here, then update the
    // wm1/wm2 derivation in both oracles to match — the query code
    // itself is not the suspect.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wmlag").toString
    def t(h: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2026-01-${1 + h / 24}%02d ${h % 24}%02d:30:00")
    // 1 h windows, 1 h delay. Chunk maxes 100h/110h/120h ⇒ candidate
    // watermarks 99.5h (c0), 109.5h (c0∪c1), 119.5h (c0..c2). Probes:
    //   c1 @50h  — kept ⟺ batch 1 is UNFILTERED (wm through batch −1)
    //   c2 @51h dropped + @105h kept — batch 2 filters at 99.5 (NOT 109.5)
    //   c3 @105h dropped + @115h kept — batch 3 filters at 109.5 (NOT 119.5)
    val chunks = Seq(Seq(10, 100), Seq(50, 110), Seq(51, 105, 110),
      Seq(52, 105, 115, 120))
    chunks.zipWithIndex.foreach { case (hs, c) =>
      val tmp = s"$dir/_tmp_$c"
      hs.map(h => (t(h), h.toLong)).toDF("ts", "h")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$dir/chunk_$c.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(1700000000000L + c * 2000L)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.LongType)))
    val stream = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour")).agg(count(lit(1)).as("n"))
      .select(date_format($"window.start", "dd HH:mm").as("ws"), $"n")
    val (out, _) = graft.stream.StreamRunner.toMemoryWithQuery(stream)
    val wins = out.groupBy($"ws").agg(max($"n").as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(wins.contains("03 02:00"),
      s"c1@50h must pass — batch 1 runs unfiltered (two-batch lag); got $wins")
    assert(!wins.contains("03 03:00"),
      s"c2@51h must drop at wm(c0); got $wins")
    assert(wins.get("05 09:00").contains(1L),
      s"105h window must keep the c2 row (batch 2 filters at wm(c0), not " +
        s"wm(c0∪c1)) and drop the c3 row (batch 3 filters at wm(c0∪c1)); got $wins")
    assert(wins.contains("05 19:00"),
      s"c3@115h must pass — batch 3 filters at wm(c0∪c1), not wm(c0..c2); got $wins")
  }

  test("st19: late-data audit crosses >=4 batches, drops rows, and its " +
    "accounting matches an independent batch replay of the lag rule") {
    val s = spark
    import s.implicits._
    val (df, q) = graft.queries.StreamQueries.lateDataAudit(s, sf)
    val rows = df.collect()
    assert(rows.nonEmpty, "no windows survived — audit is vacuous")
    assert(q.lastProgress.batchId >= 3,
      s"replay must span >=4 micro-batches, got ${q.lastProgress.batchId}")
    val dropped = rows.head.getAs[Long]("n_dropped")
    assert(dropped > 0, "watermark dropped nothing — audit is vacuous")
    assert(rows.head.getAs[Long]("boundary_hits") == 0L,
      "a watermark landed exactly on a window boundary — the <=-vs-< " +
        "premise the oracle relies on does not hold on this data")
    // the engine's own metric counts dropped POST-PARTIAL-AGG rows, so it
    // must be positive and can never exceed the raw-row accounting
    val reported = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsDroppedByWatermark).sum
    assert(reported > 0 && reported <= dropped,
      s"engine reported $reported dropped partials vs $dropped raw rows")
    // independent batch-side replay of the lagged-filter rule
    val HourUs = 3600000000L
    val ev = graft.model.Tables.events(s, sf)
      .select(unix_micros($"ts".cast("timestamp")).as("tsm"),
        substring(md5($"event_id".cast("string")), 1, 2).as("p"))
      .withColumn("ck", when($"p" < "40", 0).when($"p" < "80", 1)
        .when($"p" < "c0", 2).otherwise(3))
    val m = ev.agg(max(when($"ck" === 0, $"tsm")),
      max(when($"ck" <= 1, $"tsm"))).head()
    val (wm1, wm2) = (m.getLong(0) - HourUs, m.getLong(1) - HourUs)
    val wend = (($"tsm" / HourUs).cast("long") + 1) * HourUs
    val modelDropped = ev.filter(($"ck" === 2 && wend <= wm1) ||
      ($"ck" === 3 && wend <= wm2)).count()
    assert(modelDropped == dropped,
      s"audit says $dropped dropped, independent replay says $modelDropped")
    // state is watermark-BOUNDED, not append-only: the watermark evicted
    // window state mid-replay, and what remains at termination is only
    // the open tail (windows ending after max-event-time − 1 h), never
    // the month of history that flowed through
    val progresses = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
    val removedSum = progresses.map(_.numRowsRemoved).sum
    val finalState = progresses.lastOption.map(_.numRowsTotal).getOrElse(-1L)
    assert(removedSum > 0, "watermark never evicted state during the replay")
    assert(finalState >= 0 && finalState <= 8,
      s"terminal state holds $finalState windows — expected only the open " +
        "tail; state is not watermark-bounded")
  }

  test("st20: append output equals st19's kept windows minus the open tail " +
    "(same counts, strictly fewer windows, no duplicate emissions)") {
    val s = spark
    val (appendDf, q) = graft.queries.StreamQueries.appendWindowFlush(s, sf)
    val append = appendDf.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 4 data batches = ids 0..3; a 5th trailing flush batch only runs if
    // the final chunk raised the global max (the committed wm advanced
    // after the last data batch) — either way the cut lands at wmF
    assert(q.lastProgress.batchId >= 3,
      s"append replay must span all four chunks, got ${q.lastProgress.batchId}")
    assert(append.size == appendDf.count(),
      "append mode emitted some window more than once")
    val update = graft.queries.StreamQueries.lateDataAudit(s, sf)._1.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(append.nonEmpty && append.size < update.size,
      s"append (${append.size}) must be a strict subset of update (${update.size}) — " +
        "the window holding the global max is always still open")
    for ((w, n) <- append)
      assert(update.get(w).contains(n),
        s"window $w: append count $n != update-mode final count ${update.get(w)}")
  }

  /** Progressive chunk scratch: chunks land one at a time so a stream can
    * be stopped, maintained, and resumed mid-replay (mtimes preserved —
    * the deterministic batch-order contract of the chunk fixtures). */
  private def progressiveScratch(src: String): (String, Int => Unit) = {
    val scratch = java.nio.file.Files.createTempDirectory("resume-").toString
    val add = (c: Int) => {
      val s0 = new java.io.File(s"$src/chunk_$c.parquet")
      val dst = new java.io.File(s"$scratch/chunk_$c.parquet")
      java.nio.file.Files.copy(s0.toPath, dst.toPath)
      dst.setLastModified(s0.lastModified): Unit
    }
    (scratch, add)
  }

  test("st29 resumed over COMPACTED index artifacts emits identical keepers") {
    val s = spark
    import s.implicits._
    val chunks = graft.queries.StreamQueries.ensureDocChunks(s, sf, 3)
    val (scratch, add) = progressiveScratch(chunks)
    add(0); add(1)
    val base = java.nio.file.Files.createTempDirectory("st29-cmp-").toString
    graft.queries.StreamQueries.runLshDedupStream(s, scratch, base)
    // maintenance window between crawl days: fold EVERY accumulated
    // artifact — the routed band index and the three flat sinks
    graft.stream.IdempotentSink.compactRouted(s, s"$base/bands",
      "band_bucket", shufflePartitions = graft.ops.Dedup.BandBuckets)
    Seq("digests", "corpus", "keepers").foreach(d =>
      graft.stream.IdempotentSink.compact(s, s"$base/$d"))
    add(2)
    graft.queries.StreamQueries.runLshDedupStream(s, scratch, base)
    def keepers(b: String) = graft.stream.IdempotentSink
      .read(s, s"$b/keepers").select($"doc_id", $"n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val resumed = keepers(base)
    // reference: one uninterrupted, never-compacted replay
    val base2 = java.nio.file.Files.createTempDirectory("st29-ref-").toString
    graft.queries.StreamQueries.runLshDedupStream(s, chunks, base2)
    val oneShot = keepers(base2)
    assert(resumed == oneShot && resumed.nonEmpty,
      s"keepers diverged across the compaction boundary: " +
        s"only-resumed=${(resumed -- oneShot).take(3)}, " +
        s"only-ref=${(oneShot -- resumed).take(3)}")
  }

  test("st34 resumed over a COMPACTED assignment artifact equals the one-shot index") {
    val s = spark
    import s.implicits._
    val emb = graft.model.Tables.embeddings(s, sf)
    val centers = graft.ops.Similarity.coarseQuantizer(
      emb, "vec_id", "embedding", s"emb-$sf", nCells = 16, seed = 42L)
    val chunks = graft.queries.StreamQueries.ensureEmbChunks(s, sf, 3)
    val (scratch, add) = progressiveScratch(chunks)
    add(0); add(1)
    val base = java.nio.file.Files.createTempDirectory("st34-cmp-").toString
    val idxDir = s"$base/assignments"
    def run(): Unit = {
      val q = s.readStream.schema(graft.model.Schemas.embeddings)
        .option("maxFilesPerTrigger", 1).parquet(scratch)
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (b0: org.apache.spark.sql.DataFrame, batchId: Long) =>
            graft.stream.IdempotentSink.writeBatch(
              graft.ops.Similarity.ivfAssignments(
                b0, "vec_id", "embedding", centers),
              idxDir, batchId)
        }
        .start()
      q.awaitTermination()
    }
    run()
    graft.stream.IdempotentSink.compact(s, idxDir)
    add(2)
    run()
    val streamed = graft.stream.IdempotentSink.read(s, idxDir)
      .select($"vec_id", $"cell")
      .collect().map(r => (r.getLong(0), r.getAs[Number]("cell").intValue())).toSet
    val oneShot = graft.ops.Similarity.ivfAssignments(
        emb, "vec_id", "embedding", centers)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getAs[Number]("cell").intValue())).toSet
    assert(streamed == oneShot && streamed.nonEmpty,
      "accumulated assignments diverged from the one-shot index across " +
        "the compaction boundary")
  }

  test("st40: PQ encode-at-ingest survives a restart + compaction boundary — " +
    "accumulated code table ≡ one-shot encode under the persisted books") {
    val s = spark
    import s.implicits._
    val emb = graft.model.Tables.embeddings(s, sf)
    val books = graft.ops.Similarity.pqCodebooks(
      emb, "vec_id", "embedding", s"emb-$sf", 16, 16, 42L)
    val chunks = graft.queries.StreamQueries.ensureEmbChunks(s, sf, 3)
    val (scratch, add) = progressiveScratch(chunks)
    add(0); add(1)
    val base = java.nio.file.Files.createTempDirectory("st40-cmp-").toString
    val codesDir = s"$base/pq_codes"
    def run(): Unit = {
      val q = s.readStream.schema(graft.model.Schemas.embeddings)
        .option("maxFilesPerTrigger", 1).parquet(scratch)
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (b0: org.apache.spark.sql.DataFrame, batchId: Long) =>
            graft.stream.IdempotentSink.writeBatch(
              graft.ops.Similarity.pqCodeTable(
                b0, "vec_id", "embedding", books),
              codesDir, batchId)
        }
        .start()
      q.awaitTermination()
    }
    run()
    // 2 batches landed; fold them, then a restart ingests the 3rd —
    // the checkpoint + manifest must keep every code exactly once
    graft.stream.IdempotentSink.compact(s, codesDir)
    add(2)
    run()
    def codeSet(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", $"codes")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSet
    val streamed = codeSet(graft.stream.IdempotentSink.read(s, codesDir))
    val oneShot = codeSet(graft.ops.Similarity.pqCodeTable(
      emb, "vec_id", "embedding", books))
    assert(streamed == oneShot && streamed.nonEmpty,
      "accumulated PQ codes diverged from the one-shot encode across " +
        "the restart/compaction boundary")
  }

  test("st41: snapshot merge publisher survives a RESTART — predecessor " +
    "resolved from the artifact, not driver memory") {
    val s = spark
    import s.implicits._
    import graft.stream.VersionedSnapshot
    val chunks = graft.queries.StreamQueries.ensureDocChunks(s, sf, 3)
    val (scratch, add) = progressiveScratch(chunks)
    add(0); add(1)
    val base = java.nio.file.Files.createTempDirectory("snap-restart-").toString
    val vbase = s"$base/view"
    // the st41 publisher shape: every run is a FRESH closure with no
    // carried driver state — the r20 self-review fix this test pins
    // (an AtomicLong-prev publisher re-baselines batch 2 to its own
    // delta after the restart, losing every chunk-0/1 count)
    def run(): Unit = {
      val q = s.readStream.schema(graft.model.Schemas.documents)
        .option("maxFilesPerTrigger", 1).parquet(scratch)
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val s2 = batch.sparkSession
          val delta = batch.groupBy(col("source"))
            .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
          val prev = VersionedSnapshot.versionIds(s2, vbase)
            .filter(_ < id).lastOption
          val merged = prev.fold(delta)(p =>
            VersionedSnapshot.read(s2, vbase, p)
              .unionByName(delta).groupBy(col("source"))
              .agg(sum(col("n")).as("n"), sum(col("sum_chars")).as("sum_chars")))
          VersionedSnapshot.publish(merged, vbase, id)
        }
        .start()
      q.awaitTermination()
    }
    run() // batches 0,1 commit v0,v1; the driver's memory "dies" here
    add(2)
    run() // restart: the checkpoint skips 0-1, batch 2 must merge v1
    val lastV = VersionedSnapshot.latestId(s, vbase)
      .getOrElse(fail("no versions published"))
    val got = VersionedSnapshot.read(s, vbase, lastV)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.model.Tables.documents(s, sf).groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("sum_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty,
      "restarted merge publisher lost accumulated state (re-baselined " +
        "to its own delta instead of resuming from the artifact)")
  }

  test("st35: cross-batch semantic drop caught; probe shuffle ∝ the batch's " +
    "touched cells, not the accumulated index — including over a compacted run") {
    val s = spark
    import s.implicits._
    // near-orthogonal deterministic corpus (256-dim Rademacher): random
    // cosines concentrate at ~N(0, 1/16), so P(|cos| >= 0.4) < 1e-9 per
    // pair — a planted duplicate is the ONLY pair the gate may find
    val rnd = new scala.util.Random(42)
    def vec(): Seq[Float] = Seq.fill(256)(if (rnd.nextBoolean()) 1f else -1f)
    val histVecs = (0L until 2000L).map(i => (i, vec()))
    val hist = histVecs.toDF("vec_id", "embedding")
    val centers = graft.ops.Similarity.coarseQuantizer(
      hist, "vec_id", "embedding", "st35-spec", nCells = 256, seed = 7L)
    val base = java.nio.file.Files.createTempDirectory("st35-probe-").toString
    graft.queries.StreamQueries.semanticDedupBatch(hist, 0L, base, centers)
    val indexRows = graft.stream.IdempotentSink
      .readRouted(s, s"$base/cellindex", "cell_route").get.count()
    assert(indexRows == 2000L * graft.queries.StreamQueries.SemDedupNProbe)
    // batch 1: one exact copy of history vec 7 (cross-batch dup — its
    // ONLY partner lives in the earlier batch) and one fresh newcomer
    val batch1 = Seq((9001L, histVecs(7)._2), (9002L, vec()))
      .toDF("vec_id", "embedding")
    def keepersOf(b: Long) = s.read
      .parquet(s"$base/keepers/b$b").as[Long].collect().toSet
    val recs = shuffleRecords {
      graft.queries.StreamQueries.semanticDedupBatch(batch1, 1L, base, centers)
    }
    assert(keepersOf(1L) == Set(9002L),
      s"cross-batch drop missed or over-dropped: ${keepersOf(1L)}")
    // the pin: probing a 2-doc batch must not shuffle the accumulated
    // index — only the batch's ≤ 2·nProbe touched cells' rows reach the
    // pair stage's exchange (~3% of the index at 256 cells; budget /10)
    assert(recs < indexRows / 10,
      s"probe shuffled $recs records against a $indexRows-row index — " +
        "the accumulated index is crossing an exchange")
    // fold the index (dd20's maintenance op) and probe again: the cold
    // run's partition filter must keep both the verdicts and the bound
    graft.stream.IdempotentSink.compactRouted(s, s"$base/cellindex",
      "cell_route", shufflePartitions = 8)
    val batch2 = Seq((9003L, histVecs(11)._2), (9004L, vec()))
      .toDF("vec_id", "embedding")
    val recs2 = shuffleRecords {
      graft.queries.StreamQueries.semanticDedupBatch(batch2, 2L, base, centers)
    }
    assert(keepersOf(2L) == Set(9004L),
      s"verdicts changed over the compacted index: ${keepersOf(2L)}")
    assert(recs2 < indexRows / 10,
      s"compacted-run probe shuffled $recs2 records — partition pruning lost")
  }
}
