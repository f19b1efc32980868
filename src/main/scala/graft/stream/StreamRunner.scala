package graft.stream

import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

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
  * verification harness by design; the production sinks are the
  * idempotent file sinks of [[graft.apps.Pipeline]].
  *
  * Every stream in the library starts through [[start]], which pins the
  * settings a query captures at `start()`, and takes its scratch space
  * from [[scratchDir]].
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

  /** Start `writer` with `spark.sql.shuffle.partitions` pinned to
    * `partitions` (default [[StatePartitions]]) and every `conf` entry set
    * — the settings a stream captures at `start()`, e.g.
    * `spark.sql.streaming.noDataMicroBatches.enabled` — then restore the
    * session's prior values once the query has created its sources, and
    * return the query. The query keeps running after the restore
    * (continuous mode): the captured values ride its cloned session and
    * the checkpoint.
    *
    * SIDE EFFECT, by construction: the pin mutates the SESSION-GLOBAL
    * conf, so (a) any concurrent batch query on the same session runs
    * with the pinned values while `writer.start()` runs — the signature
    * keeps that window down to `start()` and the query's source set-up,
    * as no caller-supplied body (an await, a model load) can run inside
    * it — and (b) batch work
    * inside `foreachBatch` bodies inherits the pin for the query's whole
    * lifetime via the streaming session cloned at `start()` — restoring
    * the outer conf cannot reach that clone. (b) is usually right (a
    * micro-batch is small), but a foreachBatch body doing heavy
    * aggregation should set `spark.sql.shuffle.partitions` explicitly on
    * `batch.sparkSession` — that is the cloned session — to reclaim
    * batch-side parallelism.
    *
    * Every stream also starts under [[LocalFs.conf]]:
    * `fs.file.impl`, `fs.AbstractFileSystem.file.impl` and
    * `fs.file.impl.disable.cache=true`. They ride the cloned session like
    * the pins above, so its checkpoint logs, state-store files and
    * `foreachBatch` writes on `file:` start no `chmod` or `readlink` child
    * process, whoever built the session. `disable.cache` is what makes
    * `fs.file.impl` count: Hadoop caches `file:` file systems per JVM,
    * not per conf, so without it a stream would get the default file
    * system any earlier caller cached. */
  def start[T](spark: SparkSession, writer: DataStreamWriter[T],
               partitions: Int = StatePartitions,
               conf: Map[String, String] = Map.empty): StreamingQuery = {
    val pins = LocalFs.conf ++ conf + ("spark.sql.shuffle.partitions" -> partitions.toString)
    val prior = pins.keys.map(key => key -> spark.conf.getOption(key))
    pins.foreach { case (key, value) => spark.conf.set(key, value) }
    try {
      val query = writer.start()
      // the query creates its sources after start() returns, from the
      // caller's session (a file source's log writes under that conf):
      // the pins stay until they exist. A query that fails first reports
      // it through its own await, as before.
      query match {
        case q: StreamingQueryWrapper => Try(q.streamingQuery.awaitInitialization(Long.MaxValue))
        case _ =>
      }
      query
    } finally prior.foreach { case (key, value) =>
      value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  /** A fresh scratch directory `target/stream-scratch/<prefix>…` — the
    * one place streams get scratch space for inputs, sinks and
    * checkpoints (`GraftSessionSpec` keeps it that way), so none is left
    * in the system temp dir. Scratch inputs must outlive the stream
    * returned by [[asStream]] (readers list the dir per trigger), and
    * foreachBatch sink dirs the lazy DataFrame returned over them, so no
    * dir is deleted eagerly: [[deleteScratchDirs]] deletes every
    * registered dir at JVM exit (one shutdown hook, not one per call) and
    * whenever a caller knows no stream or result still reads them — Bench
    * between timed entries. Nothing memoized lives here: the memoized
    * replay fixtures are built under `target/fixtures` by
    * [[graft.queries.Fixtures]]. */
  def scratchDir(prefix: String): String = {
    val dir = Files.createTempDirectory(
      Files.createDirectories(Paths.get("target/stream-scratch").toAbsolutePath), prefix).toString
    exitHook
    exitDirs.add(dir)
    dir
  }

  /** Turn a batch DataFrame into a genuine file-backed stream: materialize
    * it to scratch parquet (a distributed write — no driver collect), then
    * open a file streaming source over it. Used to feed synthesized
    * record sets through streaming plans. */
  def asStream(df: DataFrame): DataFrame = {
    val dir = scratchDir("in-")
    df.write.mode("overwrite").parquet(dir)
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
      : (DataFrame, StreamingQuery) = {
    val spark = ds.sparkSession
    val sink = "graft_sink_" + UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchDir("ckpt-")
    val q = start(spark, ds.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()))
    q.awaitTermination()
    // the memory-sink table is complete and the query is terminated: its
    // checkpoint has no further use — delete it now rather than letting
    // one tree per invocation pile up until exit
    deleteRecursively(new java.io.File(ckpt))
    exitDirs.remove(ckpt): Unit
    (spark.table(sink), q)
  }

  /** Delete every [[scratchDir]] tree made so far. Only safe when no
    * stream runs and no DataFrame over a scratch dir is still to be read. */
  def deleteScratchDirs(): Unit = {
    val it = exitDirs.iterator()
    while (it.hasNext) { deleteRecursively(new java.io.File(it.next())); it.remove() }
  }

  private val exitDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteScratchDirs()))

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }
}
