package graft

import org.apache.spark.sql.functions._

import graft.stream.VersionedSnapshot

/** The versioned-snapshot artifact (stream/VersionedSnapshot): atomic
  * publish, committed-version immutability, retention bounds and crash
  * safety — the maintenance contract behind st15/st16/st31's per-batch
  * full snapshots and st36's in-stream retention. */
class SnapshotSpec extends SparkSuite {

  private def names(p: String): Set[String] =
    Option(new java.io.File(p).listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.isDirectory).map(_.getName).toSet

  test("publish commits atomically, latest resolves, staging is invisible") {
    val s = spark
    import s.implicits._
    val base = testDir("snap-")
    assert(VersionedSnapshot.latestId(s, base).isEmpty)
    for (i <- 0L until 3L)
      VersionedSnapshot.publish(Seq((i, s"s$i")).toDF("k", "v"), base, i)
    assert(VersionedSnapshot.versionIds(s, base) == Seq(0L, 1L, 2L))
    assert(VersionedSnapshot.latestId(s, base).contains(2L))
    assert(VersionedSnapshot.read(s, base, 2L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "s2")))
    // a crashed attempt's staging leftover must not surface as a version
    new java.io.File(s"$base/_staging/v9").mkdirs()
    assert(VersionedSnapshot.versionIds(s, base) == Seq(0L, 1L, 2L))
  }

  test("committed versions are immutable under at-least-once republish") {
    val s = spark
    import s.implicits._
    val base = testDir("snap-imm-")
    VersionedSnapshot.publish(Seq((1L, "real")).toDF("k", "v"), base, 0L)
    VersionedSnapshot.publish(Seq((666L, "retry-with-different-rows"))
      .toDF("k", "v"), base, 0L)
    assert(VersionedSnapshot.read(s, base, 0L).collect()
      .map(_.getString(1)).toSeq == Seq("real"),
      "a redelivered publish replaced a committed snapshot")
  }

  test("lost publish race: nested v<id>/v<id> junk is repaired on retry, winner intact") {
    val s = spark
    import s.implicits._
    val base = testDir("snap-race-")
    VersionedSnapshot.publish(Seq((1L, "winner")).toDF("k", "v"), base, 0L)
    // simulate the loser's footprint: a concurrent publisher that passed
    // the existence checks renames its staging UNDER the winner's
    // committed dir (Hadoop rename-into-existing-directory semantics) —
    // emulate that end state directly
    Seq((666L, "loser")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$base/v0/v0")
    assert(new java.io.File(s"$base/v0/v0").exists())
    // the loser's own at-least-once retry heals the artifact
    VersionedSnapshot.publish(Seq((666L, "loser")).toDF("k", "v"), base, 0L)
    assert(!new java.io.File(s"$base/v0/v0").exists(),
      "nested race junk survived the retry")
    assert(VersionedSnapshot.read(s, base, 0L).collect()
      .map(_.getString(1)).toSeq == Seq("winner"),
      "race repair must keep the winner's committed snapshot untouched")
  }

  test("readAt: immutable under later publishes, and pruned versions fail fast") {
    val s = spark
    import s.implicits._
    val base = testDir("snap-asof-")
    for (i <- 0L until 3L)
      VersionedSnapshot.publish(Seq((i, s"s$i")).toDF("k", "v"), base, i)
    // pin v1, then publish two more versions while it is held
    val pinned = VersionedSnapshot.readAt(s, base, 1L)
    val before = pinned.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    for (i <- 3L until 5L)
      VersionedSnapshot.publish(Seq((i, s"s$i")).toDF("k", "v"), base, i)
    assert(VersionedSnapshot.readAt(s, base, 1L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == before,
      "an AS-OF read changed while later versions published")
    assert(pinned.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == before,
      "the held frame re-read different bytes — committed versions must be immutable")
    // retention prunes v0/v1; time travel past the horizon must fail
    // fast naming the committed ids, not silently read junk
    VersionedSnapshot.retain(s, base, keep = 3)
    val e = intercept[IllegalArgumentException](VersionedSnapshot.readAt(s, base, 1L))
    assert(e.getMessage.contains("2, 3, 4"),
      s"readAt error must name the readable ids, got: ${e.getMessage}")
    assert(VersionedSnapshot.readAt(s, base, 4L).collect().map(_.getLong(0)).toSeq
      == Seq(4L))
  }

  test("retain keeps the newest k, deletes the rest, and converges after a crash") {
    val s = spark
    import s.implicits._
    val base = testDir("snap-ret-")
    for (i <- 0L until 5L)
      VersionedSnapshot.publish(Seq((i, s"s$i")).toDF("k", "v"), base, i)
    val dropped = VersionedSnapshot.retain(s, base, keep = 2)
    assert(dropped == Seq(0L, 1L, 2L))
    assert(VersionedSnapshot.versionIds(s, base) == Seq(3L, 4L))
    assert(names(base).count(_.matches("v\\d+")) == 2,
      "retention left extra version directories on disk")
    // the survivors are self-contained full snapshots — still readable
    assert(VersionedSnapshot.read(s, base, 3L).count() == 1)
    // crash mid-retention = some prefix of the deletes ran; a re-run
    // finishes the rest (simulate by re-publishing an "old" version the
    // first pass missed, then retaining again)
    VersionedSnapshot.publish(Seq((9L, "late")).toDF("k", "v"), base, 5L)
    assert(VersionedSnapshot.retain(s, base, keep = 2) == Seq(3L))
    assert(VersionedSnapshot.versionIds(s, base) == Seq(4L, 5L))
    // keep must never drop the newest version
    intercept[IllegalArgumentException] {
      VersionedSnapshot.retain(s, base, keep = 0)
    }: Unit
  }

  test("st36 engine: retained replay's final view is bit-identical to the unretained one") {
    val s = spark
    val (kept, lastK, baseK) =
      graft.queries.StreamQueries.incrementalView(s, sf, nFiles = 4,
        retainKeep = Some(2))
    val (full, lastF, baseF) =
      graft.queries.StreamQueries.incrementalView(s, sf, nFiles = 4)
    assert(lastK == lastF, "replays crossed different batch counts")
    assert(kept.collect().sameElements(full.collect()),
      "in-stream retention changed the maintained view content")
    // retention did its job: the retained artifact holds <= 2 versions,
    // the unretained one holds every version of the replay
    assert(VersionedSnapshot.versionIds(s, baseK).length <= 2)
    assert(VersionedSnapshot.versionIds(s, baseF).length == lastF.toInt + 1)
  }

  test("lost-race junk is repaired on READ — no retry needed, winner intact") {
    val s = spark
    import s.implicits._
    val base = testDir("snap-readheal-")
    VersionedSnapshot.publish(Seq((1L, "winner")).toDF("k", "v"), base, 0L)
    // the loser's footprint under the committed dir, loser never retries
    Seq((666L, "loser")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$base/v0/v0")
    assert(new java.io.File(s"$base/v0/v0").exists())
    assert(VersionedSnapshot.readAt(s, base, 0L).collect()
      .map(_.getString(1)).toSeq == Seq("winner"),
      "read must heal nested race junk and serve the winner's snapshot")
    assert(!new java.io.File(s"$base/v0/v0").exists(),
      "nested race junk survived the read-side repair")
  }

  test("publish leaves no staging residue (per-attempt dirs are cleaned)") {
    val s = spark
    import s.implicits._
    val base = testDir("snap-stage-")
    for (i <- 0L until 2L)
      VersionedSnapshot.publish(Seq((i, s"s$i")).toDF("k", "v"), base, i)
    // a committed-version retry (staged then discarded) also cleans up
    VersionedSnapshot.publish(Seq((9L, "retry")).toDF("k", "v"), base, 1L)
    val staging = new java.io.File(s"$base/_staging")
    val leftovers = Option(staging.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    assert(leftovers.isEmpty, s"staging residue: ${leftovers.map(_.getName)}")
  }

  test("readChanges: genesis ≡ readAt(latest), append-only delta is exactly the appended batches") {
    val s = spark
    import s.implicits._
    val base = testDir("snap-cdc-")
    // append-only per-batch publisher: version k = batches 0..k unioned
    def rowsOf(b: Long) = Seq((b * 10L, s"b$b"), (b * 10L + 1, s"b$b"))
    var acc = Seq.empty[(Long, String)]
    for (b <- 0L until 3L) {
      acc = acc ++ rowsOf(b)
      VersionedSnapshot.publish(acc.toDF("k", "v"), base, b)
    }
    def collected(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // genesis diff: every row of the latest snapshot, all inserts
    val genesis = collected(VersionedSnapshot.readChanges(
      s, base, VersionedSnapshot.Genesis, 2L))
    assert(genesis == acc.map { case (k, v) => (k, v, "insert") }.toSet)
    // version-to-version diff on the append-only publisher: exactly
    // batches from+1..to, no deletes
    val delta = collected(VersionedSnapshot.readChanges(s, base, 0L, 2L))
    assert(delta == (rowsOf(1L) ++ rowsOf(2L))
      .map { case (k, v) => (k, v, "insert") }.toSet)
  }

  test("readChanges: an update surfaces as its delete+insert pair; pruned endpoints fail fast") {
    val s = spark
    import s.implicits._
    val base = testDir("snap-cdc2-")
    VersionedSnapshot.publish(Seq((1L, "old"), (2L, "same")).toDF("k", "v"), base, 0L)
    VersionedSnapshot.publish(Seq((1L, "new"), (2L, "same")).toDF("k", "v"), base, 1L)
    val ch = VersionedSnapshot.readChanges(s, base, 0L, 1L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(ch == Set((1L, "old", "delete"), (1L, "new", "insert")),
      s"update must be a delete+insert pair, got $ch")
    // degenerate/invalid ranges rejected up front
    intercept[IllegalArgumentException] {
      VersionedSnapshot.readChanges(s, base, 1L, 1L)
    }: Unit
    // retention prunes CDC reach together with time travel
    VersionedSnapshot.publish(Seq((3L, "x")).toDF("k", "v"), base, 2L)
    VersionedSnapshot.retain(s, base, keep = 2)
    val e = intercept[IllegalArgumentException] {
      VersionedSnapshot.readChanges(s, base, 0L, 2L)
    }
    assert(e.getMessage.contains("1, 2"),
      s"pruned from-endpoint must fail fast naming committed ids: ${e.getMessage}")
  }

  test("CDC consumer (st42's loop) resumes from its own artifact: a " +
    "two-session consume equals the one-shot maintenance") {
    val s = spark
    import s.implicits._
    val up = testDir("snap-ivm-up-")
    // upstream merge publisher with an UPDATE (k=1 changes value) so the
    // consumer must net a delete+insert pair, not just apply inserts
    VersionedSnapshot.publish(Seq((1L, 10L), (2L, 5L)).toDF("k", "x"), up, 0L)
    VersionedSnapshot.publish(Seq((1L, 12L), (2L, 5L), (3L, 7L)).toDF("k", "x"), up, 1L)
    VersionedSnapshot.publish(Seq((1L, 12L), (3L, 9L)).toDF("k", "x"), up, 2L)
    // one step of the st42 loop: fold the signed delta into downstream
    // (group = k % 2), resolving the resume point from the artifact
    def step(down: String, id: Long): Unit = {
      val prev = VersionedSnapshot.versionIds(s, down).filter(_ < id).lastOption
      val delta = VersionedSnapshot.readChanges(s, up,
          prev.getOrElse(VersionedSnapshot.Genesis), id)
        .withColumn("sgn", when(col("_change_type") === "insert", 1L)
          .otherwise(-1L))
        .groupBy((col("k") % 2).as("g"))
        .agg(sum(col("sgn")).as("d_n"), sum(col("sgn") * col("x")).as("d_x"))
      val merged = prev match {
        case None => delta.select(col("g"), col("d_n").as("n"),
          col("d_x").as("sx")).filter(col("n") > 0)
        case Some(p) => VersionedSnapshot.read(s, down, p)
          .join(delta, Seq("g"), "full_outer")
          .select(col("g"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n"),
            (coalesce(col("sx"), lit(0L)) + coalesce(col("d_x"), lit(0L))).as("sx"))
          .filter(col("n") > 0)
      }
      VersionedSnapshot.publish(merged, down, id)
    }
    def viewOf(down: String) = VersionedSnapshot
      .readAt(s, down, VersionedSnapshot.latestId(s, down).get)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val oneShot = testDir("snap-ivm-a-")
    Seq(0L, 1L, 2L).foreach(step(oneShot, _))
    val twoSession = testDir("snap-ivm-b-")
    step(twoSession, 0L) // session one ends after version 0
    // session two: fresh loop over every upstream version; the resume
    // point comes from the downstream artifact, and re-stepping the
    // already-consumed version is discarded by publish's no-op
    Seq(0L, 1L, 2L).foreach(step(twoSession, _))
    val expected = Set((1L, 2L, 21L), (0L, 0L, 0L)) // g=1: k=1,3 → n=2, 12+9
      .filter(_._2 > 0)
    assert(viewOf(oneShot) == expected, s"one-shot view wrong: ${viewOf(oneShot)}")
    assert(viewOf(twoSession) == viewOf(oneShot),
      "two-session consume diverged from one-shot")
    // and both equal a from-scratch aggregate over the latest upstream
    val scratch = VersionedSnapshot.readAt(s, up, 2L)
      .groupBy((col("k") % 2).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viewOf(oneShot) == scratch, "incremental view != scratch recompute")
  }
}
