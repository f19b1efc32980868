package graft.ops

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Driver-action batching for multi-scalar certificate queries.
  *
  * Certificate entries (dd21, an14, st39, …) need several independent
  * long-valued audit scalars — tombstone counts, leak counts, diff
  * counts — and collecting each with its own action pays one round of
  * job scheduling + planning PER SCALAR while the compute itself is
  * small. Tagging each single-row aggregate and unioning them lets ONE
  * collect evaluate every subplan; under AQE the independent branches
  * materialize their shuffle stages concurrently instead of serially.
  * Nothing about the values changes — the same subplans run, in one
  * action instead of N.
  */
object Actions {

  /** Evaluate several single-row, single-column LONG aggregates in one
    * action; returns each frame's scalar, by position. Every frame must
    * be an aggregate that yields exactly one row (`agg(...)` / a global
    * count) — a 0-row or multi-row frame fails loudly rather than
    * silently dropping or duplicating a certificate value. */
  def longs(frames: DataFrame*): Seq[Long] = {
    require(frames.nonEmpty, "Actions.longs needs at least one frame")
    val tagged = frames.zipWithIndex.map { case (df, i) =>
      require(df.columns.length == 1,
        s"Actions.longs frame $i must have exactly one column, got " +
          df.columns.mkString(","))
      df.select(lit(i).as("_ax_i"),
        col(df.columns.head).cast("long").as("_ax_v"))
    }
    val rows = tagged.reduce(_.unionByName(_)).collect()
    require(rows.length == frames.length,
      s"Actions.longs expected ${frames.length} rows (one per aggregate), " +
        s"got ${rows.length} — a non-aggregate frame was passed")
    val byIdx = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    frames.indices.map(byIdx)
  }

  /** A frame's row count as a 1-row aggregate, composable into
    * [[longs]] (the `df.count()` action, deferred). */
  def countOf(df: DataFrame): DataFrame = df.agg(count(lit(1)).as("n"))

  /** Run independent driver-side jobs (sink commits, model fits)
    * concurrently on a fixed pool of their own — at most `maxThreads`,
    * one per job by default — and return their results by position.
    *
    * Every job is awaited before this returns or throws: on failure the
    * first failing job's exception (by position) is rethrown with the
    * other failures attached as suppressed, and no sibling is still
    * running. A caller's cleanup (`unpersist`) and the engine's retry of
    * a failed micro-batch therefore never overlap an orphan writer in
    * the same batch directory. */
  def awaitAll[T](jobs: Seq[() => T], maxThreads: Int = Int.MaxValue): Seq[T] = {
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(maxThreads, jobs.size)))
    try {
      val outcomes = jobs
        .map(job => pool.submit(new Callable[T] { def call(): T = job() }))
        .map(f => Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) })
      val failures = outcomes.collect { case Failure(e) => e }
      failures.headOption.foreach { first =>
        failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      }
      outcomes.map(_.get)
    } finally pool.shutdown()
  }
}
