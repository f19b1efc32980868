package graft

import org.apache.spark.sql.functions._

import graft.stream.IdempotentSink

/** The certified-compaction protocol (IdempotentSink.compact /
  * compactRouted / readRouted): content preservation, crash recovery at
  * every interruption point, retry idempotence across the maintenance
  * boundary, and the layout bounds that make it the 100 TB answer to
  * per-batch directory growth. */
class CompactionSpec extends SparkSuite {

  private def ls(p: String): Seq[java.io.File] =
    Option(new java.io.File(p).listFiles()).map(_.toSeq).getOrElse(Seq.empty)

  private def dirNames(p: String): Set[String] =
    ls(p).filter(_.isDirectory).map(_.getName).toSet

  private def flatSink(base: String): Unit = {
    val s = spark
    import s.implicits._
    for (b <- 0 until 3)
      IdempotentSink.writeBatch(
        (0 until 4).map(i => (b * 10L + i, s"v$b$i")).toDF("k", "v"), base, b)
  }

  private def rows(base: String): Set[(Long, String)] =
    IdempotentSink.read(spark, base).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("flat compact: content preserved, one c-run + one file, batch dirs gone") {
    val base = testDir("cmp-flat-")
    flatSink(base)
    val before = rows(base)
    assert(before.size == 12)
    IdempotentSink.compact(spark, base)
    assert(rows(base) == before, "compaction changed sink content")
    val names = dirNames(base)
    assert(!names.exists(_.matches("b\\d+")), s"hot batch dirs left: $names")
    assert(names.count(_.matches("c\\d+")) == 1, s"expected one cold run: $names")
    assert(ls(s"$base/c1").count(_.getName.endsWith(".parquet")) == 1,
      "cold run must be one file set")
    // second compact over a single-run sink: generation no-op
    IdempotentSink.compact(spark, base)
    assert(dirNames(base).contains("c1") && !dirNames(base).contains("c2"),
      "re-compaction of an already-folded sink must not open a new generation")
    assert(rows(base) == before)
  }

  test("flat compact: appends after a fold stay visible and fold on the next pass") {
    val s = spark
    import s.implicits._
    val base = testDir("cmp-flat2-")
    flatSink(base)
    val before = rows(base)
    IdempotentSink.compact(spark, base)
    IdempotentSink.writeBatch(Seq((99L, "late")).toDF("k", "v"), base, 7)
    assert(rows(base) == before + ((99L, "late")),
      "post-compaction append must union with the cold run")
    IdempotentSink.compact(spark, base)
    assert(rows(base) == before + ((99L, "late")))
    assert(dirNames(base).count(_.matches("c\\d+")) == 1 &&
      dirNames(base).contains("c2"),
      "second fold must supersede the first run and absorb the append")
  }

  test("retry of a batch the fold consumed publishes nothing (manifest memory)") {
    val s = spark
    import s.implicits._
    val base = testDir("cmp-retry-")
    flatSink(base)
    val before = rows(base)
    IdempotentSink.compact(spark, base)
    // b1's directory is deleted; an at-least-once redelivery must see it
    // as committed via the manifest, process, and publish nothing
    IdempotentSink.writeBatch(
      (0 until 4).map(i => (10L + i, s"v1$i")).toDF("k", "v"), base, 1)
    assert(!new java.io.File(s"$base/b1").exists(),
      "consumed batch retry re-published its directory — duplicate rows at scale")
    assert(rows(base) == before)
  }

  test("crash before the manifest commits: orphan c-run is invisible and recovered") {
    val s = spark
    import s.implicits._
    val base = testDir("cmp-crashA-")
    flatSink(base)
    val before = rows(base)
    // simulate the first compaction dying between the data rename and
    // the manifest commit: a full c1 exists, no manifest at all
    Seq((777L, "ghost")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$base/c1")
    assert(rows(base) == before,
      "an unmanifested cold run leaked into the read — readers must trust " +
        "manifests, not listings")
    // recovery (front of the next compact) deletes the orphan, then the
    // fold proceeds normally under the SAME generation number
    IdempotentSink.compact(spark, base)
    assert(rows(base) == before)
    assert(dirNames(base).count(_.matches("c\\d+")) == 1)
  }

  test("crash after the manifest commits: leftover consumed dirs are excluded, then reclaimed") {
    val base = testDir("cmp-crashB-")
    flatSink(base)
    val before = rows(base)
    // stash a batch dir, compact, then restore it — the state a crash
    // between the manifest commit and the cleanup deletes leaves behind
    val stash = testDir("cmp-stash-")
    def cp(from: java.io.File, to: java.io.File): Unit = {
      if (from.isDirectory) {
        to.mkdirs()
        from.listFiles().foreach(f => cp(f, new java.io.File(to, f.getName)))
      } else
        java.nio.file.Files.copy(from.toPath, to.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
    cp(new java.io.File(s"$base/b1"), new java.io.File(s"$stash/b1"))
    IdempotentSink.compact(spark, base)
    cp(new java.io.File(s"$stash/b1"), new java.io.File(s"$base/b1"))
    assert(rows(base) == before,
      "a consumed-but-undeleted batch dir was double-counted")
    IdempotentSink.compact(spark, base) // recovery reclaims it, fold no-ops
    assert(!new java.io.File(s"$base/b1").exists(),
      "recovery must finish the interrupted cleanup")
    assert(rows(base) == before)
  }

  test("routed compact: content preserved, Hive cold run, route pruning intact") {
    val s = spark
    import s.implicits._
    val base = testDir("cmp-routed-")
    for (b <- 0 until 3)
      IdempotentSink.writeRoutedBatch(
        (0 until 6).map(i => (b * 10L + i, (i % 3).toString))
          .toDF("k", "route"), base, "route", b)
    def all() = IdempotentSink.readRouted(spark, base, "route").get
      .collect().map(_.getLong(0)).toSet
    def route0() = IdempotentSink.readRouted(spark, base, "route", Some(Seq("0")))
      .get.collect().map(_.getLong(0)).toSet
    val before = all()
    val before0 = route0()
    // route of key k = (k mod 10) mod 3 by construction
    assert(before.size == 18 && before0 == before.filter(k => (k % 10) % 3 == 0))
    IdempotentSink.compactRouted(spark, base, "route", shufflePartitions = 4)
    assert(all() == before && route0() == before0,
      "routed fold changed content or route selection")
    val names = dirNames(base)
    assert(names.count(_.matches("c\\d+")) == 1)
    assert(dirNames(s"$base/c1").forall(_.startsWith("route=")),
      "cold run must be Hive-partitioned by the route column")
    assert(ls(s"$base/c1").filter(_.isDirectory)
      .forall(_.listFiles().count(_.getName.endsWith(".parquet")) == 1),
      "cold run must hold one file per route")
    // hot dirs emptied and removed
    assert(!names.exists(n => !n.startsWith("_") && !n.matches("c\\d+")),
      s"hot route dirs left behind: $names")
    // a post-fold append lands hot and unions with the cold run
    IdempotentSink.writeRoutedBatch(
      Seq((99L, "0")).toDF("k", "route"), base, "route", 9)
    assert(all() == before + 99L && route0() == before0 + 99L)
    // consumed-batch redelivery: the _committed marker still owns this
    IdempotentSink.writeRoutedBatch(
      (0 until 6).map(i => (10L + i, (i % 3).toString))
        .toDF("k", "route"), base, "route", 1)
    assert(all() == before + 99L, "routed retry after fold re-published")
    // second fold absorbs the append
    IdempotentSink.compactRouted(spark, base, "route", shufflePartitions = 4)
    assert(all() == before + 99L)
    assert(dirNames(base).count(_.matches("c\\d+")) == 1 &&
      dirNames(base).contains("c2"))
  }

  test("auto-compaction policy: flat sink stays under the hot-dir budget across a long append run") {
    val s = spark
    import s.implicits._
    val base = testDir("cmp-policy-")
    val maxHot = 2
    var folds = 0
    for (b <- 0 until 9) {
      IdempotentSink.writeBatch(Seq((b.toLong, s"v$b")).toDF("k", "v"), base, b)
      if (IdempotentSink.maybeCompact(spark, base, maxHot)) folds += 1
      // the invariant a 10,000-batch crawl needs: listing cost is bounded
      // by the policy at EVERY step, not just after a terminal fold
      val hot = dirNames(base).count(_.matches("b\\d+"))
      assert(hot <= maxHot, s"batch $b left $hot hot dirs (budget $maxHot)")
      assert(dirNames(base).count(_.matches("c\\d+")) <= 1)
    }
    assert(folds >= 2, s"policy never folded ($folds) — the budget did no work")
    assert(rows(base) == (0 until 9).map(b => (b.toLong, s"v$b")).toSet,
      "policy folds changed sink content")
    // below-budget appends do NOT fold (no per-batch write amplification)
    assert(!IdempotentSink.maybeCompact(spark, base, maxHot = 10))
  }

  test("purge folds even a single-run artifact — bytes provably gone after a takedown") {
    val s = spark
    import s.implicits._
    val base = testDir("cmp-purge1-")
    flatSink(base)
    assert(IdempotentSink.compact(spark, base), "initial fold must commit")
    // the artifact is now ONE cold run; a takedown arriving here must
    // still physically rewrite it (the r18 gap: early-return left
    // tombstoned bytes on disk forever with no signal)
    val folded = IdempotentSink.compact(spark, base,
      purge = Some(df => df.filter(col("k") =!= 11L)))
    assert(folded, "purge against an already-compacted artifact must fold")
    assert(rows(base) == flatRows - ((11L, "v11")))
    // provably gone: scan the raw files of the artifact directory, not
    // the reader view — no parquet file anywhere still holds k=11
    val raw = spark.read.option("recursiveFileLookup", "true").parquet(base)
    assert(raw.filter(col("k") === 11L).isEmpty,
      "tombstoned row still physically present after the purge fold")
    // and with no purge, a single-run artifact still no-ops
    assert(!IdempotentSink.compact(spark, base),
      "purge-less re-compaction of a folded sink must stay a no-op")
  }

  test("vacuous takedown skips the single-run rewrite; a matching one still folds") {
    val s = spark
    import s.implicits._
    val base = testDir("cmp-purgevac-")
    flatSink(base)
    assert(IdempotentSink.compact(spark, base), "initial fold must commit")
    val coldBefore = dirNames(base).filter(_.matches("c\\d+"))
    // a takedown whose tombstones match NOTHING in the artifact: the
    // bytes are already absent, so no rewrite is owed — false stays
    // truthful and the cold run is untouched (same generation)
    assert(!IdempotentSink.compact(spark, base,
      purge = Some(df => df.filter(col("k") =!= -999L))),
      "vacuous purge must not fold a single-run artifact")
    assert(dirNames(base).filter(_.matches("c\\d+")) == coldBefore,
      "vacuous purge rewrote the cold run anyway")
    assert(rows(base) == flatRows)
    // the same artifact still folds for a purge that matches rows
    assert(IdempotentSink.compact(spark, base,
      purge = Some(df => df.filter(col("k") =!= 11L))),
      "matching purge against a single run must still fold")
    assert(rows(base) == flatRows - ((11L, "v11")))
  }

  test("routed vacuous takedown skips the single-run rewrite too") {
    val s = spark
    import s.implicits._
    val base = testDir("cmp-purgevacr-")
    for (b <- 0 until 2)
      IdempotentSink.writeRoutedBatch(
        Seq((b * 2L, "a"), (b * 2L + 1, "b")).toDF("k", "route"),
        base, "route", b)
    assert(IdempotentSink.compactRouted(spark, base, "route",
      shufflePartitions = 2), "initial routed fold must commit")
    val coldBefore = dirNames(base).filter(_.matches("c\\d+"))
    assert(!IdempotentSink.compactRouted(spark, base, "route",
      shufflePartitions = 2,
      purge = Some(df => df.filter(col("k") =!= -999L))),
      "vacuous routed purge must not fold a single-run base")
    assert(dirNames(base).filter(_.matches("c\\d+")) == coldBefore)
    // matching purge still folds and lands physically
    assert(IdempotentSink.compactRouted(spark, base, "route",
      shufflePartitions = 2,
      purge = Some(df => df.filter(col("k") =!= 1L))))
    assert(IdempotentSink.readRouted(spark, base, "route").get
      .collect().map(_.getLong(0)).toSet == Set(0L, 2L, 3L))
  }

  test("flat purge to zero rows leaves a readable (empty, schema-bearing) artifact") {
    val s = spark
    import s.implicits._
    val base = testDir("cmp-purge0-")
    flatSink(base)
    assert(IdempotentSink.compact(spark, base, purge = Some(_.limit(0))))
    val after = IdempotentSink.read(spark, base)
    assert(after.columns.toSeq == Seq("k", "v"),
      "full-corpus takedown must preserve the artifact schema")
    assert(after.isEmpty)
    // the artifact keeps working: append + read + fold
    IdempotentSink.writeBatch(Seq((5L, "post")).toDF("k", "v"), base, 50)
    assert(rows(base) == Set((5L, "post")))
    IdempotentSink.compact(spark, base, purge = Some(identity[org.apache.spark.sql.DataFrame] _))
    assert(rows(base) == Set((5L, "post")))
  }

  test("routed purge to zero rows commits a manifest with NO run — artifact not bricked") {
    val s = spark
    import s.implicits._
    val base = testDir("cmp-purge0r-")
    for (b <- 0 until 2)
      IdempotentSink.writeRoutedBatch(
        Seq((b * 2L, "a"), (b * 2L + 1, "b")).toDF("k", "route"),
        base, "route", b)
    assert(IdempotentSink.compactRouted(spark, base, "route",
      shufflePartitions = 2, purge = Some(_.limit(0))),
      "a full-corpus routed takedown must still count as a fold")
    // no empty c-run was committed (a zero-row partitionBy dir has no
    // parquet footers and would fail schema inference on every later read)
    assert(!dirNames(base).exists(_.matches("c\\d+")),
      s"empty cold run committed: ${dirNames(base)}")
    assert(IdempotentSink.readRouted(spark, base, "route").isEmpty,
      "fully-purged routed artifact must read as empty, not throw")
    // the artifact keeps working: append, read, re-fold
    IdempotentSink.writeRoutedBatch(Seq((9L, "a")).toDF("k", "route"),
      base, "route", 9)
    def all() = IdempotentSink.readRouted(spark, base, "route").get
      .collect().map(_.getLong(0)).toSet
    assert(all() == Set(9L))
    // an identity purge matches zero rows — the vacuous skip no-ops it
    // on a single-run base (the artifact still physically satisfies it)
    assert(!IdempotentSink.compactRouted(spark, base, "route", shufflePartitions = 2,
      purge = Some(df => df)))
    assert(all() == Set(9L), "vacuous post-takedown purge changed content")
  }

  private val flatRows: Set[(Long, String)] =
    (for (b <- 0 until 3; i <- 0 until 4) yield (b * 10L + i, s"v$b$i")).toSet

  test("auto-compaction policy: routed sink counts hot dirs across routes") {
    val s = spark
    import s.implicits._
    val base = testDir("cmp-policyr-")
    // each batch touches 2 routes -> 2 hot dirs per batch
    for (b <- 0 until 4) {
      IdempotentSink.writeRoutedBatch(
        Seq((b * 2L, "a"), (b * 2L + 1, "b")).toDF("k", "route"),
        base, "route", b)
      IdempotentSink.maybeCompactRouted(spark, base, "route", maxHot = 3,
        shufflePartitions = 2): Unit
      val hot = Seq("a", "b").map(r => dirNames(s"$base/$r")
        .count(_.matches("b\\d+"))).sum
      assert(hot <= 3, s"batch $b left $hot hot dirs across routes")
    }
    val got = IdempotentSink.readRouted(spark, base, "route").get
      .collect().map(_.getLong(0)).toSet
    assert(got == (0L until 8L).toSet, "routed policy folds changed content")
    assert(dirNames(base).count(_.matches("c\\d+")) == 1)
  }

  test("schema evolution: readEvolved serves the union schema with null " +
    "backfill; committed bytes untouched (cs17's contract)") {
    val s = spark
    import s.implicits._
    val base = testDir("cmp-evo-")
    IdempotentSink.writeBatch(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), base, 0)
    val b0Files = ls(s"$base/b0").filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).sorted
    IdempotentSink.writeBatch(
      Seq((3L, "c", 30L)).toDF("k", "v", "extra"), base, 1)
    val evolved = IdempotentSink.readEvolved(spark, base)
      .select(col("k"), col("v"), col("extra"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(evolved == Set((1L, "a", -1L), (2L, "b", -1L), (3L, "c", 30L)),
      "evolved read must null-backfill the added column for older batches")
    // evolution is metadata-only: batch 0's committed files are untouched
    val b0After = ls(s"$base/b0").filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).sorted
    assert(b0After == b0Files, "adding a column must rewrite nothing")
  }

  test("schema evolution: compact folds to the union schema — evolved " +
    "columns survive the rewrite with nulls materialized") {
    val s = spark
    import s.implicits._
    val base = testDir("cmp-evo2-")
    IdempotentSink.writeBatch(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), base, 0)
    IdempotentSink.writeBatch(
      Seq((3L, "c", 30L)).toDF("k", "v", "extra"), base, 1)
    assert(IdempotentSink.compact(spark, base))
    val folded = IdempotentSink.read(spark, base) // one run: merge not needed
    assert(folded.columns.toSet == Set("k", "v", "extra"),
      s"fold dropped evolved columns: ${folded.columns.mkString(",")}")
    val got = folded.select(col("k"), col("v"), col("extra"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((1L, "a", -1L), (2L, "b", -1L), (3L, "c", 30L)),
      "fold must preserve evolved content incl. backfilled nulls")
  }
}
