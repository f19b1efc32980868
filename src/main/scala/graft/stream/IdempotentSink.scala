package graft.stream

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** Idempotent per-batch parquet commit for `foreachBatch` sinks.
  *
  * `foreachBatch` is at-least-once: a crash between the write and the
  * streaming checkpoint commit re-executes the batch, so a bare
  * `mode("append")` duplicates the batch's rows on retry — permanently,
  * since downstream consumers cannot tell a duplicate file from new data.
  *
  * Protocol, all through the Hadoop FileSystem of the target path (works
  * on HDFS/S3A-with-atomic-rename, not just `file:`): the unit of commit
  * is a whole per-batch DIRECTORY, published by ONE atomic rename —
  *
  *  1. if `dir/b<id>` exists, the batch already committed: a retry is a
  *     no-op (the name→content mapping of a committed batch is immutable,
  *     so a downstream file-stream source that listed first-attempt files
  *     can never see them replaced or partially duplicated);
  *  2. otherwise write the batch to `dir/_staging/b<id>` with `overwrite`
  *     (a retry starts from a clean staging dir);
  *  3. rename `_staging/b<id>` → `dir/b<id>`. The rename either publishes
  *     the complete directory or fails — its boolean result is checked and
  *     a `false` raises, failing the batch so the streaming checkpoint is
  *     not advanced past rows that never landed.
  *
  * Replaying any prefix of these steps converges to exactly one copy of
  * the batch. `_staging` is underscore-prefixed, so readers skip it; a
  * committed `b<id>` directory appears atomically and never changes.
  * Readers consume the sink with [[read]] (batch) or a `dir/b*` glob
  * (file-stream source — the glob is re-resolved every trigger, so later
  * batch directories are picked up as they are published).
  */
object IdempotentSink {

  /** Commit `batch` as the atomic directory `dir/b<batchId>`.
    *
    * A retry of an already-committed batch publishes nothing, but it must
    * still PROCESS the batch: in a stateful query the re-attempted batch
    * re-builds its state-store version from the last committed one, and
    * the engine (Spark 4's state-store commit validation) requires every
    * partition of every batch to run so those versions commit — an early
    * return here would fail the restarted query and strand its state. */
  def writeBatch(batch: DataFrame, dir: String, batchId: Long): Unit = {
    val out = new Path(dir)
    val fs = GraftSession.fileSystem(batch.sparkSession, out)
    val target = new Path(out, s"b$batchId")
    // committed — republish nothing. A batch directory that [[compact]]
    // consumed (and deleted) is STILL committed: the manifest remembers
    // it, so an at-least-once retry landing after a compaction cannot
    // re-publish rows the compacted run already carries.
    if (fs.exists(target) || manifest(fs, out)._2.contains(s"b$batchId")) {
      materialize(batch); return
    }
    val stage = new Path(out, s"_staging/b$batchId")
    batch.write.mode("overwrite").parquet(stage.toString)
    commitDir(fs, stage, target)
  }

  /** Fan a route-classified batch out to per-route sinks in ONE Spark job:
    * a single `partitionBy(routeCol)` staged write (instead of one filtered
    * write per route — N source scans, N jobs), then one atomic directory
    * rename per populated route, committing `baseDir/<route>/b<batchId>`.
    * Routes absent from the batch produce no directory — their sinks
    * simply gain nothing this batch.
    *
    * `onePerRoute` repartitions BY ROUTE before the dynamic-partition
    * write: without it every task writes one file per route it happens
    * to hold — tasks × routes small files per batch, measured as the
    * DOMINANT cost of the st35 16× cell (32 tasks × 125 cell-routes ≈
    * 4000 footers staged, renamed, then re-listed by every later probe).
    * Hashed by route the batch lands as ONE file per populated route no
    * matter the task count — the same bound compactRouted restores for
    * the cold run. It is OPT-IN because the added exchange is a per-batch
    * tax: a many-tiny-batch sink with a handful of routes (st03's 3-way
    * fan-out, ~0.2-0.5 s × every batch — measured 3.5 → 8.2 s when it
    * was unconditional) pays far more in shuffles than it saves in
    * footers. Turn it on when routes × tasks is large (the 100+-route
    * index appends); leave it off for low-arity fan-outs. */
  def writeRoutedBatch(classified: DataFrame, baseDir: String, routeCol: String,
                       batchId: Long, onePerRoute: Boolean = false): Unit = {
    val base = new Path(baseDir)
    val fs = GraftSession.fileSystem(classified.sparkSession, base)
    // A single route directory existing is NOT proof the whole batch
    // committed (a crash can land between per-route renames), so full
    // completion gets its own marker: `_committed/b<id>` is created only
    // after every populated route's rename. A retry of a fully-committed
    // batch then skips the staging write entirely instead of re-running
    // the whole partitionBy job and discarding every directory.
    val done = new Path(base, s"_committed/b$batchId")
    if (fs.exists(done)) { materialize(classified); return } // see writeBatch
    val stage = new Path(base, s"_staging/b$batchId")
    import org.apache.spark.sql.functions.col
    val staged0 =
      if (onePerRoute) classified.repartition(col(routeCol)) else classified
    staged0.write.mode("overwrite").partitionBy(routeCol).parquet(stage.toString)
    fs.listStatus(stage)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$routeCol="))
      .foreach { st =>
        val route = st.getPath.getName.stripPrefix(s"$routeCol=")
        commitDir(fs, st.getPath, new Path(new Path(base, route), s"b$batchId"))
      }
    fs.delete(stage, true)
    fs.mkdirs(done): Unit
  }

  /** Read back everything committed to a sink directory: the visible
    * `b<id>` batch directories plus — once [[compact]] has run — the
    * newest compacted run `c<gen>`, with the batch directories it
    * consumed excluded via the manifest (they may still exist briefly if
    * a crash interrupted compaction's cleanup; the manifest, not the
    * listing, is the source of truth). A never-compacted sink takes the
    * original single recursive scan. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readVisible(spark, dir, mergeSchema = false)

  /** [[read]] with parquet schema MERGING — the reader for a sink whose
    * later batches evolved the schema. Supported evolution is ADDITIVE
    * ONLY (a later batch may append nullable columns; never drop or
    * retype one — that is a new sink): older batches surface the new
    * columns as nulls, the standard lakehouse add-column semantics.
    * Merging costs a distributed footer read over every visible file,
    * which is why it is a separate verb instead of [[read]]'s default —
    * a fixed-schema consumer should not pay it per probe. [[compact]]
    * folds with merging unconditionally (it scans those files fully
    * anyway), so compaction PRESERVES an evolved sink: the cold run
    * carries the union schema with nulls materialized (cs17 certifies
    * the round-trip; CompactionSpec pins the null backfill). */
  def readEvolved(spark: SparkSession, dir: String): DataFrame =
    readVisible(spark, dir, mergeSchema = true)

  private def readVisible(spark: SparkSession, dir: String,
                          mergeSchema: Boolean): DataFrame = {
    val base = new Path(dir)
    val fs = GraftSession.fileSystem(spark, base)
    val (g, _, paths) = visibleFlat(fs, base)
    val reader = spark.read.option("recursiveFileLookup", "true")
      .option("mergeSchema", mergeSchema)
    // the single recursive scan is only safe while no c-run exists AT
    // ALL: an orphan run from a compaction that crashed before its
    // manifest committed (even a FIRST compaction, when no manifest
    // exists yet) must stay invisible, which the manifest-driven path
    // list guarantees and a blind recursive scan would not
    val anyCold = fs.exists(base) &&
      fs.listStatus(base).exists(st => isGenDir(st.getPath.getName, 'c'))
    if ((g == 0L && !anyCold) || paths.isEmpty) reader.parquet(dir)
    else reader.parquet(paths.map(_.toString): _*)
  }

  /** Run every partition of a re-attempted batch without writing anything
    * — the cheapest full pass that lets upstream state stores commit. */
  private def materialize(batch: DataFrame): Unit =
    batch.foreach(_ => ())

  // --------------------------------------------------------------------
  // Certified compaction — the 100 TB maintenance op for the per-batch
  // directory protocol. A streaming sink appends one atomic `b<id>`
  // directory per batch forever; after thousands of crawl batches the
  // LISTING cost of every read grows with batch count even when pruning
  // bounds the bytes. Compaction folds the accumulated directories into
  // one `c<gen>` file set, committed by a cumulative MANIFEST — a tiny
  // transaction log, so every step is crash-recoverable:
  //
  //  1. stage the folded data at `_staging/c<gen>` (gen = newest manifest
  //     gen + 1), rename to `dir/c<gen>` — INVISIBLE to readers, which
  //     trust manifests, not listings, for c-dirs;
  //  2. write `_compact/m<gen>` via stage + rename — THE commit point.
  //     The manifest is cumulative (every batch/run name ever consumed),
  //     so readers need only the newest one and [[writeBatch]] retries of
  //     long-gone batches stay no-ops;
  //  3. best-effort delete the consumed directories and older manifests.
  //
  // A crash before 2 leaves an orphan `c<gen>` no reader sees (the next
  // compact deletes it); a crash after 2 leaves consumed directories the
  // manifest already excludes (the next compact finishes the deletes).
  // Readers converge at every intermediate state. Routed sinks
  // ([[writeRoutedBatch]]) get the same treatment per BASE directory with
  // the compacted run Hive-partitioned by the route column
  // ([[compactRouted]]), so a probe over the cold run keeps the
  // partition-prune the hot per-route layout gave it — an LSM shape:
  // hot per-batch appends over a cold compacted run.
  //
  // Concurrency contract: one compactor at a time per directory (the
  // maintenance-job posture); the APPENDER may keep running — batches
  // committed after the listing snapshot are simply not consumed and
  // stay visible next to the new run.
  // --------------------------------------------------------------------

  private val CompactMeta = "_compact"

  private def genOf(name: String): Long = name.drop(1).toLong

  private def isGenDir(name: String, prefix: Char): Boolean =
    name.length > 1 && name.head == prefix && name.drop(1).forall(_.isDigit)

  /** Newest committed manifest of `base`: (generation, consumed names) —
    * (0, empty) when the directory was never compacted. Consumed names
    * are top-level (`b<id>`, `c<gen>`) for flat sinks and
    * route-qualified (`<route>/b<id>`) for routed bases. */
  private def manifest(fs: FileSystem, base: Path): (Long, Set[String]) = {
    val meta = new Path(base, CompactMeta)
    if (!fs.exists(meta)) return (0L, Set.empty)
    val ms = fs.listStatus(meta).map(_.getPath.getName).filter(isGenDir(_, 'm'))
    if (ms.isEmpty) return (0L, Set.empty)
    val newest = ms.maxBy(genOf)
    val in = fs.open(new Path(meta, newest))
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    (genOf(newest), txt.split('\n').map(_.trim).filter(_.nonEmpty).toSet)
  }

  /** Commit a cumulative manifest for generation `gen` (stage + rename —
    * the compaction's single atomic commit point). */
  private def commitManifest(fs: FileSystem, base: Path, gen: Long,
                             consumed: Set[String]): Unit = {
    val staged = new Path(base, s"_staging/m$gen")
    fs.mkdirs(staged.getParent)
    val out = fs.create(staged, true)
    try out.write((consumed.toSeq.sorted.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    fs.mkdirs(new Path(base, CompactMeta))
    val target = new Path(new Path(base, CompactMeta), s"m$gen")
    if (!fs.rename(staged, target))
      throw new java.io.IOException(
        s"compaction commit failed: rename $staged -> $target returned false")
  }

  /** Visible data directories of a flat sink under the manifest: `b*`
    * dirs not consumed, plus committed `c<gen>` runs (gen ≤ newest
    * manifest — an orphan run from a crashed compaction has a HIGHER gen
    * than any manifest and stays invisible until recovery removes it). */
  private def visibleFlat(fs: FileSystem, base: Path): (Long, Set[String], Seq[Path]) = {
    val (g, consumed) = manifest(fs, base)
    val tops =
      if (fs.exists(base)) fs.listStatus(base).filter(_.isDirectory).toSeq
      else Seq.empty
    val paths = tops.map(_.getPath).filter { p =>
      val n = p.getName
      (isGenDir(n, 'b') && !consumed(n)) ||
        (isGenDir(n, 'c') && genOf(n) <= g && !consumed(n))
    }
    (g, consumed, paths)
  }

  /** Finish any interrupted compaction of `base`: delete directories the
    * newest manifest consumed but a crash left behind, orphan `c` runs
    * newer than the newest manifest, stale `_staging` leftovers, and
    * superseded manifests. Readers were already correct at every one of
    * these states — recovery only reclaims space and release names. */
  private def recoverCompaction(fs: FileSystem, base: Path): Unit = {
    val (g, consumed) = manifest(fs, base)
    consumed.foreach { n =>
      val p = new Path(base, n)
      if (fs.exists(p)) fs.delete(p, true)
    }
    if (fs.exists(base))
      fs.listStatus(base).filter(_.isDirectory).map(_.getPath.getName)
        .filter(n => isGenDir(n, 'c') && genOf(n) > g)
        .foreach(n => fs.delete(new Path(base, n), true))
    val meta = new Path(base, CompactMeta)
    if (fs.exists(meta))
      fs.listStatus(meta).map(_.getPath.getName)
        .filter(n => isGenDir(n, 'm') && genOf(n) < g)
        .foreach(n => fs.delete(new Path(meta, n), true))
    val staging = new Path(base, "_staging")
    if (fs.exists(staging))
      fs.listStatus(staging).map(_.getPath.getName)
        .filter(n => isGenDir(n, 'c') || isGenDir(n, 'm'))
        .foreach(n => fs.delete(new Path(staging, n), true))
  }

  /** Compact a FLAT sink directory ([[writeBatch]] accumulation): fold
    * every visible batch directory and the previous compacted run into
    * one `c<gen>` file set of `targetFiles` files. Content-preserving by
    * construction (one read → one write of the same rows); crash-safe
    * per the protocol above; a retried already-consumed batch stays a
    * no-op via the manifest. No-op when nothing would shrink.
    *
    * `purge` is the TOMBSTONE hook: a row filter applied to the folded
    * frame before it is written, so physical deletion rides the rewrite
    * the artifact already pays for (the Delta/Iceberg rewrite posture —
    * a takedown never triggers its own corpus rewrite). The crash story
    * is unchanged: the fold is atomic, so either the purged run commits
    * or readers keep the old view; until a fold runs, deletion is the
    * READER's job (anti-join the tombstone set), because hot batch
    * directories are immutable — logical-now, physical-at-compaction.
    *
    * Returns true iff a fold COMMITTED — the caller's signal that a
    * requested purge physically landed. A single visible run no-ops when
    * no purge was requested, or when the requested purge is VACUOUS —
    * the tombstone set matches zero artifact rows, decided by two counts
    * over the single run, which is CACHED so the counts and any rewrite
    * share one scan of the underlying files — in both cases false
    * truthfully means the artifact already physically satisfies the
    * request. A purge that matches rows still folds even a single run
    * (the bytes must be provably gone, not merely tombstoned forever). */
  def compact(spark: SparkSession, dir: String, targetFiles: Int = 1,
              purge: Option[DataFrame => DataFrame] = None): Boolean = {
    val base = new Path(dir)
    val fs = GraftSession.fileSystem(spark, base)
    if (!fs.exists(base)) return false
    recoverCompaction(fs, base)
    val (g, consumed, paths) = visibleFlat(fs, base)
    // nothing to fold: empty sink, or one run and no purge requested
    if (paths.isEmpty || (paths.size <= 1 && purge.isEmpty)) return false
    // mergeSchema: an ADDITIVELY-evolved sink (see readEvolved) must fold
    // to the union schema with nulls backfilled — without it the fold's
    // schema is whichever file's footer wins, silently DROPPING evolved
    // columns from the cold run. Uniform sinks are unaffected (merging
    // identical schemas is the identity) and the fold scans these files
    // fully anyway, so the footer pass is noise here.
    val folded = spark.read.option("recursiveFileLookup", "true")
      .option("mergeSchema", "true")
      .parquet(paths.map(_.toString): _*)
    // vacuous-takedown skip: the fold would run ONLY to serve the purge,
    // so decide before rewriting — zero matched rows = bytes already
    // physically absent, no rewrite owed (CompactionSpec pins it). The
    // single run is cached so the two counts and a non-vacuous rewrite
    // share one scan of the files.
    if (paths.size <= 1 && purge.isDefined) {
      folded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (purge.get(folded).count() == folded.count()) {
        folded.unpersist()
        return false
      }
    }
    val gen = g + 1
    val staged = new Path(base, s"_staging/c$gen")
    purge.fold(folded)(_(folded))
      .coalesce(targetFiles)
      .write.mode("overwrite").parquet(staged.toString)
    folded.unpersist() // no-op unless the vacuity check cached it
    commitDir(fs, staged, new Path(base, s"c$gen"))
    commitManifest(fs, base, gen, consumed ++ paths.map(_.getName))
    // past the commit point: cleanup only (re-runnable by recovery)
    paths.foreach(p => fs.delete(p, true))
    val meta = new Path(base, CompactMeta)
    fs.listStatus(meta).map(_.getPath.getName)
      .filter(n => isGenDir(n, 'm') && genOf(n) < gen)
      .foreach(n => fs.delete(new Path(meta, n), true))
    true
  }

  /** Auto-compaction policy for a FLAT sink: fold only when more than
    * `maxHot` hot batch directories are visible. The streaming posture:
    * call it after [[writeBatch]] inside the same `foreachBatch` — the
    * single appender doubles as the single compactor, so the one-
    * compactor-per-directory contract holds by construction. Listing
    * cost of every read stays ≤ `maxHot` batch dirs + 1 cold run; each
    * fold rewrites the cold run (full-compaction write amplification:
    * the artifact is rewritten once per `maxHot` batches — size `maxHot`
    * to the artifact's scale, small for view-sized sinks, large for
    * corpus-sized ones). `purge` composes a tombstone filter into the
    * NEXT policy fold (the dd21 posture: a pending takedown stays
    * logical — reader-side anti-join — until a fold the artifact was
    * going to pay for anyway makes it physical; it never forces its own
    * rewrite). Returns true when a fold ran. */
  def maybeCompact(spark: SparkSession, dir: String, maxHot: Int,
                   targetFiles: Int = 1,
                   purge: Option[DataFrame => DataFrame] = None): Boolean = {
    val base = new Path(dir)
    val fs = GraftSession.fileSystem(spark, base)
    if (!fs.exists(base)) return false
    val (_, _, paths) = visibleFlat(fs, base)
    if (paths.count(p => isGenDir(p.getName, 'b')) <= maxHot) false
    else compact(spark, dir, targetFiles, purge)
  }

  /** [[maybeCompact]]'s routed twin: fold when the visible hot `b<id>`
    * directories summed over all routes exceed `maxHot`. */
  def maybeCompactRouted(spark: SparkSession, baseDir: String, routeCol: String,
                         maxHot: Int, shufflePartitions: Int = 16,
                         purge: Option[DataFrame => DataFrame] = None): Boolean = {
    val base = new Path(baseDir)
    val fs = GraftSession.fileSystem(spark, base)
    if (!fs.exists(base)) return false
    val (_, consumed) = manifest(fs, base)
    if (hotRouted(fs, base, consumed).size <= maxHot) false
    else compactRouted(spark, baseDir, routeCol, shufflePartitions, purge)
  }

  /** Visible (unconsumed) hot batch directories of a routed base, as
    * (route-qualified name, path) pairs. */
  private def hotRouted(fs: FileSystem, base: Path,
                        consumed: Set[String]): Seq[(String, Path)] =
    fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .filter { p =>
        val n = p.getName
        !n.startsWith("_") && !isGenDir(n, 'c') && !isGenDir(n, 'b')
      }
      .toSeq.flatMap { rp =>
        fs.listStatus(rp).filter(_.isDirectory).map(_.getPath)
          .filter(p => isGenDir(p.getName, 'b') &&
            !consumed(s"${rp.getName}/${p.getName}"))
          .map(p => (s"${rp.getName}/${p.getName}", p))
      }

  /** Compact a ROUTED base directory ([[writeRoutedBatch]] accumulation:
    * `base/<route>/b<id>`): fold every route's visible batch directories
    * and the previous cold run into ONE Hive-partitioned run
    * `base/c<gen>/<routeCol>=<route>/` — `repartition(routeCol)` bounds
    * it to one file per route — so a probe over the cold run prunes at
    * the partition level exactly like the hot layout pruned at the
    * directory level. Retries of consumed batches remain no-ops through
    * the `_committed/b<id>` markers, which compaction never touches.
    * Route names must not collide with the `b<id>`/`c<gen>` pattern.
    * `purge` is [[compact]]'s tombstone hook: applied to the folded
    * frame (route column attached) before the partitioned write, so
    * physical deletion rides this rewrite — logical-now (readers
    * anti-join the tombstones), physical-at-compaction.
    *
    * Returns true iff a fold COMMITTED (see [[compact]]): one visible
    * run no-ops without a purge, or under a VACUOUS purge (zero matched
    * rows, counted before any rewrite — [[compact]]'s skip) — a takedown
    * that matches rows against an already-compacted base still rewrites
    * it. A purge that filters the
    * fold to ZERO rows commits a manifest with NO `c<gen>` run instead
    * of an empty `partitionBy` directory (a dynamic-partition write of
    * zero rows emits no part files, and a committed run without parquet
    * footers would brick every later read on schema inference); readers
    * already treat a manifest gen without its run directory as "cold
    * side empty". */
  def compactRouted(spark: SparkSession, baseDir: String, routeCol: String,
                    shufflePartitions: Int = 16,
                    purge: Option[DataFrame => DataFrame] = None): Boolean = {
    val base = new Path(baseDir)
    val fs = GraftSession.fileSystem(spark, base)
    if (!fs.exists(base)) return false
    recoverCompaction(fs, base)
    val (g, consumed) = manifest(fs, base)
    val routeDirs = fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .filter { p =>
        val n = p.getName
        !n.startsWith("_") && !isGenDir(n, 'c') && !isGenDir(n, 'b')
      }
    val hot: Seq[(String, Path)] = hotRouted(fs, base, consumed)
    val cold = Some(new Path(base, s"c$g")).filter(p => g > 0 && fs.exists(p))
    // nothing to fold: empty base, or one run and no purge requested
    if (hot.size + cold.size == 0 ||
        (hot.size + cold.size <= 1 && purge.isEmpty)) return false
    import org.apache.spark.sql.functions.{col, lit}
    // hot files carry the data columns only (writeRoutedBatch strips the
    // route column into the directory name) — restore it from the path;
    // the cold run carries it as its Hive partition column. Both sides
    // as STRING: that is what the partitioned write re-derives the
    // directory names from, so values round-trip exactly.
    val hotDf = hot.groupBy(_._1.split('/').head).toSeq.map { case (route, ps) =>
      spark.read.option("recursiveFileLookup", "true")
        .parquet(ps.map(_._2.toString): _*)
        .withColumn(routeCol, lit(route))
    }.reduceOption(_.unionByName(_))
    val coldDf = cold.map(p => spark.read.parquet(p.toString)
      .withColumn(routeCol, col(routeCol).cast("string")))
    val all = (hotDf, coldDf) match {
      case (Some(h), Some(c)) => h.unionByName(c)
      case (Some(h), None) => h
      case (None, Some(c)) => c
      case (None, None) => return false
    }
    // vacuous-takedown skip, [[compact]]'s: a single visible run folds
    // for the purge alone — skip the rewrite when it matches zero rows
    // (the run cached so counts + rewrite share one scan)
    if (hot.size + cold.size <= 1 && purge.isDefined) {
      all.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (purge.get(all).count() == all.count()) {
        all.unpersist()
        return false
      }
    }
    val gen = g + 1
    val staged = new Path(base, s"_staging/c$gen")
    val folded = purge.fold(all)(_(all))
    // a purge can filter the fold to nothing — commit the manifest with
    // no run directory rather than an unreadable empty partitionBy dir
    // (the extra isEmpty action is paid only on the purge path)
    val skipRun = purge.isDefined && folded.isEmpty
    if (!skipRun) {
      folded
        .repartition(shufflePartitions, col(routeCol))
        .write.mode("overwrite").partitionBy(routeCol).parquet(staged.toString)
      commitDir(fs, staged, new Path(base, s"c$gen"))
    }
    all.unpersist() // no-op unless the vacuity check cached it
    commitManifest(fs, base, gen,
      consumed ++ hot.map(_._1) ++ cold.map(_.getName))
    hot.foreach { case (_, p) => fs.delete(p, true) }
    cold.foreach(p => fs.delete(p, true))
    routeDirs.foreach { rp => // drop route dirs compaction emptied
      if (fs.exists(rp) && fs.listStatus(rp).isEmpty) fs.delete(rp, false)
    }
    val meta = new Path(base, CompactMeta)
    fs.listStatus(meta).map(_.getPath.getName)
      .filter(n => isGenDir(n, 'm') && genOf(n) < gen)
      .foreach(n => fs.delete(new Path(meta, n), true))
    true
  }

  /** Read a routed sink's data for the given routes (all routes when
    * None): the visible hot `b<id>` directories of each requested route
    * in ONE multi-path scan, unioned with the cold compacted run
    * restricted to those routes via a PARTITION filter on the route
    * column (scan-level skip — the cold-run twin of the hot layout's
    * directory skip). Returns the data columns only (the route is the
    * caller's key, not payload); None when the sink holds nothing for
    * the requested routes. */
  def readRouted(spark: SparkSession, baseDir: String, routeCol: String,
                 routes: Option[Seq[String]] = None): Option[DataFrame] = {
    val base = new Path(baseDir)
    val fs = GraftSession.fileSystem(spark, base)
    if (!fs.exists(base)) return None
    val (g, consumed) = manifest(fs, base)
    val routeDirs: Seq[Path] = routes match {
      case Some(rs) => rs.map(r => new Path(base, r)).filter(fs.exists)
      case None => fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
        .filter { p =>
          val n = p.getName
          !n.startsWith("_") && !isGenDir(n, 'c') && !isGenDir(n, 'b')
        }.toSeq
    }
    val hotPaths = routeDirs.flatMap { rp =>
      fs.listStatus(rp).filter(_.isDirectory).map(_.getPath)
        .filter(p => isGenDir(p.getName, 'b') &&
          !consumed(s"${rp.getName}/${p.getName}"))
    }
    import org.apache.spark.sql.functions.col
    val hotDf =
      if (hotPaths.isEmpty) None
      else Some(spark.read.option("recursiveFileLookup", "true")
        .parquet(hotPaths.map(_.toString): _*))
    val coldDf = Some(new Path(base, s"c$g"))
      .filter(p => g > 0 && fs.exists(p))
      .map { p =>
        val run = spark.read.parquet(p.toString)
        val sel = routes match {
          case Some(rs) =>
            // match the literals to the DISCOVERED partition type (int
            // route names infer IntegerType): a cast on the column side
            // would defeat partition pruning — the whole point of the
            // Hive layout
            val typed: Seq[Any] = run.schema(routeCol).dataType match {
              case org.apache.spark.sql.types.IntegerType => rs.map(_.toInt)
              case org.apache.spark.sql.types.LongType => rs.map(_.toLong)
              case _ => rs
            }
            run.filter(col(routeCol).isin(typed: _*))
          case None => run
        }
        sel.drop(routeCol)
      }
    (hotDf, coldDf) match {
      case (Some(h), Some(c)) => Some(h.unionByName(c))
      case (h, c) => h.orElse(c)
    }
  }

  /** Publish a staged directory at `target` via one atomic rename. If a
    * prior attempt already committed `target`, the staged copy is
    * discarded — committed names and contents are immutable. */
  private def commitDir(fs: FileSystem, staged: Path, target: Path): Unit = {
    if (fs.exists(target)) { fs.delete(staged, true); return }
    fs.mkdirs(target.getParent)
    if (!fs.rename(staged, target))
      throw new java.io.IOException(
        s"idempotent commit failed: rename $staged -> $target returned false")
  }
}
