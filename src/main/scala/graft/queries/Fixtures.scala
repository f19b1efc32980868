package graft.queries

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.LongType

import graft.model.Tables

/** The on-disk catalog fixtures — replay chunks, format twins, layout
  * copies, persisted indexes — are built through [[memo]]: one build per
  * output path and source, shared by every query, spec and timed build
  * that asks for it.
  *
  * A fixture's key is [[source]]: its source dir plus the
  * [[Tables.fingerprint]] of every table the build reads. The testdata is
  * regenerated IN PLACE between runs, so a key of the dir alone would
  * replay stale files against a fresh oracle — and for the mtime-ordered
  * replays (st19/st24) batch identity is baked into the oracle, so a
  * stale replay is not just old data but a silently wrong watermark
  * progression. */
private[graft] object Fixtures {

  /** Output path → the key its files were last built for. */
  private final class Built { var key: String = null }
  private val built = new java.util.concurrent.ConcurrentHashMap[String, Built]()

  /** Run `build(path)` unless `path` already holds the build for `key`,
    * then return `path`. A second caller for the same path waits for the
    * first build; a failed build leaves the path unbuilt, so the next
    * caller retries. Paths are fixed per fixture (the oracle SQL of some
    * reads them by name), so one path asked for dir A, then B, then A
    * is built three times and always holds the data of the last ask. */
  def memo(path: String, key: String)(build: String => Unit): String = {
    val b = built.computeIfAbsent(path, _ => new Built)
    b.synchronized {
      if (b.key != key) {
        b.key = null
        build(path)
        b.key = key
      }
    }
    path
  }

  /** The memo key of a build over `tables` of `dir`. */
  def source(s: SparkSession, dir: String, tables: String*): String =
    (dir +: tables.map(t => Tables.fingerprint(s, s"$dir/$t.parquet"))).mkString("|")

  /** `target/fixtures/<name>_<dir as a file name>`, absolute. */
  def dirFor(name: String, dir: String): String =
    new File(s"target/fixtures/${name}_${dir.replaceAll("[^A-Za-z0-9]", "_")}").getAbsolutePath

  /** `events` with `ts` as the raw nanos long, whichever layout the file
    * has. The raw read's ts type depends on which THREAD resolved the
    * parquet schema (`nanosAsLong` resolves through the thread-local
    * SQLConf — see `Tables.events`): a nanos long, or TIMESTAMP_NTZ
    * micros. The replay readers' explicit schema expects the nanos long,
    * so fixtures normalize BEFORE writing. The NTZ leg re-derives nanos
    * as micros·1000 — lossless for this data (no event carries
    * sub-microsecond digits; the long leg keeps full nanos regardless),
    * so st16's raw-nanos tie-breaking is unchanged. */
  def eventsNanos(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.table(s, dir, "events")
    ev.schema("ts").dataType match {
      case LongType => ev
      case _ => ev.withColumn("ts", expr("unix_micros(CAST(ts AS TIMESTAMP)) * 1000"))
    }
  }

  /** Write `frames(c)` as the single parquet file `out/chunk_<c>.parquet`,
    * with strictly increasing mtimes, so a `maxFilesPerTrigger=1` file
    * stream replays chunk 0 → 1 → … in a deterministic batch order (the
    * file source processes oldest-mtime first). An empty frame writes no
    * part file; the build then fails with `empty(c)`. */
  def orderedChunks(frames: Seq[DataFrame], out: String,
                    empty: Int => String = c => s"no part file written for chunk $c"): Unit = {
    val base = System.currentTimeMillis()
    frames.zipWithIndex.foreach { case (df, c) =>
      val tmp = new File(s"$out/_tmp_$c")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(empty(c)))
      val dest = new File(s"$out/chunk_$c.parquet")
      Files.move(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
      dest.setLastModified(base + c * 2000L)
      graft.stream.StreamRunner.deleteRecursively(tmp)
    }
  }
}
