package graft.stream

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** Atomic versioned-SNAPSHOT artifact: `base/v<id>` directories, each a
  * self-contained full snapshot of some maintained state (an incremental
  * view, an upsert table, a fold artifact). Newest committed version
  * wins; earlier versions exist only for in-flight readers and batch
  * retries. The maintenance twin of [[IdempotentSink]]: that protocol
  * accumulates immutable DELTAS that compaction folds into one run; this
  * one accumulates full SNAPSHOTS that retention prunes — without
  * retention a per-batch snapshot writer leaks one directory per batch
  * forever (the small-file seam of the st15/st16/st31 family).
  *
  * Commit protocol (same discipline as IdempotentSink, through the
  * Hadoop FileSystem of the target — HDFS/S3A-with-atomic-rename, not
  * just `file:`):
  *
  *  1. if `base/v<id>` exists the version already committed — a retry
  *     publishes nothing (committed versions are immutable, so a reader
  *     that resolved `v<id>` can never see it change under it);
  *  2. otherwise stage at `base/_staging/v<id>` with `overwrite` (a
  *     crashed prior attempt's partial staging is simply rewritten);
  *  3. one atomic rename publishes the complete directory. A reader
  *     resolving "latest" therefore only ever sees COMPLETE snapshots —
  *     the raw `mode("overwrite")` write this replaces could expose a
  *     half-written newest version to a concurrent reader.
  *
  * Retention contract: [[retain]] deletes all but the newest `keep`
  * committed versions. Every surviving version is self-contained, so any
  * delete prefix (including a crash mid-retention) leaves a consistent
  * artifact. Inside a streaming merge loop use `keep >= 2`: an
  * at-least-once retry of batch `id` re-reads `v(id-1)` as its merge
  * input. Readers pinned to an old version must finish within the
  * retention window — the standard snapshot-retention caveat (Delta
  * VACUUM's contract), documented rather than solved, because solving it
  * needs reader leases the artifact deliberately doesn't carry.
  */
object VersionedSnapshot {

  def dir(base: String, id: Long): String = s"$base/v$id"

  /** A committed snapshot directory contains only part files (plus
    * marker files) — any DIRECTORY child is the footprint of a LOST
    * publish race (Hadoop rename-into-existing-directory moved the
    * loser's staging inside the winner's committed `v<id>`). Repaired on
    * every publish AND every read, so a loser that never retries cannot
    * leave a committed version unreadable ("conflicting directory
    * structures" on the nested parquet). The winner's files are
    * untouched — committed versions stay immutable. */
  private def repairNested(fs: FileSystem, target: Path): Unit =
    if (fs.exists(target))
      fs.listStatus(target).filter(_.isDirectory)
        .foreach(d => fs.delete(d.getPath, true))

  /** Publish `df` as version `id` (stage + one atomic rename). A retry
    * of a committed version publishes nothing.
    *
    * Single-writer contract: at most ONE publisher per version id at a
    * time (the streaming-merge posture — one driver owns the artifact;
    * a foreachBatch RETRY of the same id is sequential, never
    * concurrent). The existence checks are check-then-rename, so two
    * truly concurrent publishers of the same id can both pass them.
    * Each attempt stages under its OWN nonce directory
    * (`_staging/a<nonce>/v<id>`), so racers can never corrupt each
    * other's staging; the loser's `fs.rename` lands its staging dir
    * UNDER the winner's committed `v<id>` (rename-into-existing-
    * directory moves the source inside) while returning true. That
    * violation is DETECTED after the rename — any directory child of
    * `v<id>` means we lost — and repaired here and by [[repairNested]]
    * in every later read, so the heal does not depend on the loser
    * retrying; the winner's committed snapshot stands untouched. */
  def publish(df: DataFrame, base: String, id: Long): Unit = {
    val basePath = new Path(base)
    val fs = GraftSession.fileSystem(df.sparkSession, basePath)
    val target = new Path(basePath, s"v$id")
    if (fs.exists(target)) { repairNested(fs, target); return }
    // per-attempt unique staging: a crashed attempt's leftover is
    // invisible (underscore prefix) and never shared with a concurrent
    // attempt of the same id
    val attempt = new Path(basePath,
      s"_staging/a${System.nanoTime()}t${Thread.currentThread().getId}")
    val stage = new Path(attempt, s"v$id")
    df.write.mode("overwrite").parquet(stage.toString)
    if (fs.exists(target)) {
      fs.delete(attempt, true); repairNested(fs, target); return
    }
    fs.mkdirs(target.getParent)
    if (!fs.rename(stage, target)) {
      fs.delete(attempt, true)
      throw new java.io.IOException(
        s"snapshot commit failed: rename $stage -> $target returned false")
    }
    repairNested(fs, target)
    fs.delete(attempt, true): Unit
  }

  /** Ids of every committed version, ascending (staging is invisible —
    * it lives under the underscore-prefixed `_staging`). */
  def versionIds(spark: SparkSession, base: String): Seq[Long] = {
    val basePath = new Path(base)
    val fs = GraftSession.fileSystem(spark, basePath)
    if (!fs.exists(basePath)) return Seq.empty
    fs.listStatus(basePath).iterator
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n.length > 1 && n.head == 'v' && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong)
      .toSeq.sorted
  }

  def latestId(spark: SparkSession, base: String): Option[Long] =
    versionIds(spark, base).lastOption

  def read(spark: SparkSession, base: String, id: Long): DataFrame = {
    val basePath = new Path(base)
    // repair-on-read: a lost publish race whose loser never retried must
    // not leave this version unreadable (nested junk ⇒ conflicting
    // directory structures); one driver-side listStatus when clean
    repairNested(GraftSession.fileSystem(spark, basePath), new Path(basePath, s"v$id"))
    spark.read.parquet(dir(base, id))
  }

  /** TIME-TRAVEL read: the artifact AS OF version `id` — for a per-batch
    * publisher, exactly the state after the batch that committed `id`
    * (the k-batch prefix of the stream). Committed versions are
    * immutable, so the returned frame is byte-stable no matter how many
    * later versions publish while it is read (st38 certifies readAt ≡
    * an independent prefix replay; SnapshotSpec pins the immutability).
    * Fails fast, naming the available ids, when `id` was never committed
    * or [[retain]] pruned it — the Delta/Iceberg AS-OF contract: time
    * travel reaches exactly as far back as retention keeps. */
  def readAt(spark: SparkSession, base: String, id: Long): DataFrame = {
    val ids = versionIds(spark, base)
    require(ids.contains(id),
      s"version $id is not readable (committed: ${ids.mkString(", ")}) — " +
        "never published, or pruned by retention")
    read(spark, base, id)
  }

  /** [[readChanges]]'s `from` baseline for "the empty artifact before
    * any version committed" — never a valid version id under the
    * non-negative batch-id publishing convention. */
  val Genesis: Long = -1L

  /** CHANGE-DATA-FEED between two committed snapshots: the row-level
    * delta that turns version `from` into version `to`, as `to`-schema
    * rows plus a `_change_type` column — 'insert' (in `to`, not in
    * `from`) or 'delete' (in `from`, not in `to`). Snapshots carry no
    * row identity, so an UPDATE surfaces as its delete+insert pair (the
    * CDC-by-version-diff posture of Delta without change files).
    * Multiset semantics (`exceptAll`): duplicate rows diff by count.
    * For an append-only per-batch publisher this is exactly the rows
    * batches `from+1..to` appended. `from = `[[Genesis]] diffs against
    * the empty artifact, so `readChanges(Genesis, latest) ≡
    * readAt(latest)` all tagged 'insert' (SnapshotSpec pins it; st41
    * oracle-checks the merge-publisher shape). Both endpoints fail fast
    * like [[readAt]] when not committed — retention prunes CDC reach
    * together with time travel, never silently re-baselining `from` to
    * empty.
    *
    * Scale shape: one snapshot scan per endpoint + ONE full-row shuffle
    * (the signed-count diff of [[graft.ops.Multiset.diffTagged]] — the
    * exceptAll-each-way formulation this replaces scanned both
    * endpoints twice and shuffled twice for the identical multiset) —
    * the price of CDC without per-version change files; a publisher
    * that needs cheaper CDC at 100 TB should persist its per-batch
    * deltas through [[graft.stream.IdempotentSink]] and keep snapshots
    * for serving. */
  def readChanges(spark: SparkSession, base: String,
                  from: Long, to: Long): DataFrame = {
    require(from == Genesis || from < to,
      s"readChanges needs Genesis <= from < to, got from=$from to=$to")
    val toDf = readAt(spark, base, to)
    val fromDf =
      if (from == Genesis) toDf.limit(0) else readAt(spark, base, from)
    graft.ops.Multiset.diffTagged(toDf, fromDf,
      "_change_type", "insert", "delete")
  }

  /** Delete all but the newest `keep` committed versions (and any stale
    * `_staging` leftovers older than the survivors). Returns the ids
    * deleted. Crash-safe: snapshots are self-contained and retention
    * never touches the newest `keep`, so every intermediate state is a
    * valid artifact; a re-run finishes the remaining deletes. */
  def retain(spark: SparkSession, base: String, keep: Int): Seq[Long] = {
    require(keep >= 1, "retention must keep at least the newest version")
    val ids = versionIds(spark, base)
    val drop = ids.dropRight(keep)
    val basePath = new Path(base)
    val fs = GraftSession.fileSystem(spark, basePath)
    drop.foreach(id => fs.delete(new Path(basePath, s"v$id"), true))
    // stale staging left by a crash: the legacy flat `_staging/v<id>`
    // layout, or a per-attempt nonce dir whose contents are all pruned
    // ids (a live attempt's dir holds an unpruned id and survives)
    val staging = new Path(basePath, "_staging")
    if (drop.nonEmpty && fs.exists(staging)) {
      val dropNames = drop.map(id => s"v$id").toSet
      fs.listStatus(staging).filter(_.isDirectory).map(_.getPath).foreach { p =>
        val prunable = dropNames(p.getName) || {
          val kids = fs.listStatus(p)
          kids.nonEmpty && kids.forall(k => dropNames(k.getPath.getName))
        }
        if (prunable) fs.delete(p, true): Unit
      }
    }
    drop
  }
}
