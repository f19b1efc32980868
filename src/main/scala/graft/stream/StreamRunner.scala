package graft.stream

import java.nio.file.Files
import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.Trigger

/** Harness that runs a finite streaming plan to completion and hands back
  * its output as a batch DataFrame — the bridge that lets streaming
  * operators participate in the driver's batch oracle contract
  * (batch-equivalence: streaming result over finite input ≡ batch query).
  *
  * Update-mode output goes to an in-memory sink table; with the testdata's
  * one-file-per-table sources the whole input is one micro-batch, so each
  * key/window emits exactly once and the memory table *is* the final
  * answer. (Multi-batch semantics — re-emission per update, state timeout —
  * are pinned separately in StreamSpec, where batch boundaries are
  * explicit `MemoryStream.addData` calls.) The memory sink is a test/
  * verification harness by design; production sinks are Kafka/files via
  * [[Router.runToSinks]].
  */
object StreamRunner {

  /** Streaming state partition count, pinned independently of core count.
    *
    * Structured Streaming captures `spark.sql.shuffle.partitions` at query
    * start and instantiates that many state-store partitions per stateful
    * operator, frozen into the checkpoint for the query's lifetime.
    * Inheriting the session's batch setting couples state-store instance
    * count to CPU count: at local[32] a stream-stream join (4 state stores)
    * pays 128 store open/commit cycles per micro-batch even when state
    * volume justifies a handful — measured 4–6× slower than local[4] with
    * identical code (CHECKS.md r14). On a cluster the same coupling
    * multiplies per-micro-batch overhead with every added core. State
    * partitioning should track state VOLUME, not cores, so every streaming
    * query in this library starts under a pinned count: this constant by
    * default, the value to raise when key cardinality actually demands it.
    *
    * `apps.Pipeline` passes 1 instead: its stateful inputs are staged and
    * already filtered (the cancellation window holds one row per open
    * window plus the cancelled keys inside the watermark, the invoice fold
    * only live invoices), and through sf0.1 the fixed cost of each store's
    * per-trigger commit (a delta file written and renamed, whatever it
    * holds) dominated its triggers. The count is frozen into the
    * checkpoint, so raising it for a running pipeline needs a new
    * checkpoint. */
  val StatePartitions = 8

  /** Run `body` — which must START its streaming queries inside (the
    * partition count is captured at `start()`) — with
    * `spark.sql.shuffle.partitions` pinned to `partitions` (default
    * [[StatePartitions]]), then restore the session's batch setting.
    * Queries may keep running after restore (continuous mode): the
    * captured value rides the checkpoint.
    *
    * SIDE EFFECT, by construction: the pin mutates the SESSION-GLOBAL
    * conf for the duration of `body`, so (a) any concurrent batch query
    * on the same session during that window runs with `partitions`
    * shuffle partitions — keep `body` down to the `start()` call (start
    * inside the pin, await outside it; `GraftSessionSpec` fails on a pin
    * that wraps an await), and (b) batch work
    * inside `foreachBatch` bodies inherits the pin for the query's whole
    * lifetime via the streaming session cloned at `start()` — restoring
    * the outer conf cannot reach that clone. (b) is usually right (a
    * micro-batch is small), but a foreachBatch body doing heavy
    * aggregation should set `spark.sql.shuffle.partitions` explicitly on
    * `batch.sparkSession` — that is the cloned session — to reclaim
    * batch-side parallelism. */
  def pinnedStatePartitions[T](spark: org.apache.spark.sql.SparkSession,
                               partitions: Int = StatePartitions)(body: => T): T =
    pinnedConf(spark, "spark.sql.shuffle.partitions" -> partitions.toString)(body)

  /** Run `body` with the session conf `key` set to `value`, then restore
    * the prior setting — the general form of [[pinnedStatePartitions]],
    * with the same session-global side effect, for the other settings a
    * stream captures at `start()` (e.g.
    * `spark.sql.streaming.noDataMicroBatches.enabled`). Keep `body` down
    * to the `start()` call. */
  def pinnedConf[T](spark: org.apache.spark.sql.SparkSession, setting: (String, String))(
      body: => T): T = {
    val (key, value) = setting
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Turn a batch DataFrame into a genuine file-backed stream: materialize
    * it to scratch parquet (a distributed write — no driver collect), then
    * open a file streaming source over it. Used to feed synthesized
    * record sets through streaming plans. */
  def asStream(df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory(
      Files.createDirectories(java.nio.file.Paths.get(
        new java.io.File("target/stream-scratch").getAbsolutePath)),
      "in-").toString
    df.write.mode("overwrite").parquet(dir)
    deleteOnExit(dir)
    df.sparkSession.readStream.schema(df.schema).parquet(dir)
  }

  /** Run `ds` (a streaming Dataset/DataFrame) with `Trigger.AvailableNow`
    * in the given output mode until completion; returns the collected
    * output. The plan must not register processing-time timeouts (see
    * [[InvoiceStateMachine.apply]]) or the query never self-terminates. */
  def toMemory[T](ds: Dataset[T], mode: String = "update"): DataFrame =
    toMemoryWithQuery(ds, mode)._1

  /** [[toMemory]], additionally returning the (terminated) query so
    * callers can inspect its progress — e.g. assert how many micro-batches
    * a chunked replay actually crossed (`lastProgress.batchId`). */
  def toMemoryWithQuery[T](ds: Dataset[T], mode: String = "update")
      : (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) = {
    val spark = ds.sparkSession
    val sink = "graft_sink_" + UUID.randomUUID().toString.replace("-", "")
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    // pin only around start(): the partition count is captured into the
    // cloned streaming session there, and awaiting OUTSIDE the pin keeps
    // the session-global conf mutation to milliseconds instead of the
    // stream's whole runtime (no concurrent batch query ever sees it)
    val q = pinnedStatePartitions(spark) {
      ds.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    // the memory-sink table is complete and the query is terminated: its
    // checkpoint has no further use — delete it rather than leaking one
    // tree per invocation into the temp dir
    deleteRecursively(new java.io.File(ckpt))
    (spark.table(sink), q)
  }

  /** Scratch inputs created by [[asStream]] must outlive the returned
    * stream (readers list the dir per trigger) — and foreachBatch sink
    * dirs must outlive the lazy DataFrame returned over them — so they
    * are deleted at JVM exit instead of eagerly, by one shutdown hook
    * over every registered dir (a hook per call would pile up for as
    * long as the session lives). */
  private[graft] def deleteOnExit(dir: String): Unit = {
    exitHook
    exitDirs.add(dir): Unit
  }

  private val exitDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val exitHook: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() =>
    exitDirs.forEach(dir => deleteRecursively(new java.io.File(dir)))))

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }
}
