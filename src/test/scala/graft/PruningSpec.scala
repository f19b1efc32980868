package graft

import org.apache.spark.sql.functions._

import graft.queries.EventQueries

/** The date-partitioned layout must prune at PLANNING time: the scan node
  * carries the day predicate as a PartitionFilter and enumerates only the
  * matching directory — at 100 TB this is the difference between reading
  * one day and reading the table. */
class PruningSpec extends SparkSuite {

  test("day filter on the partitioned layout becomes a PartitionFilter") {
    val s = spark
    import s.implicits._
    val path = EventQueries.ensurePartitionedEvents(s, sf)
    val q = s.read.parquet(path)
      .filter($"event_date" === lit("2024-01-05").cast("date"))
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
    // unwrap AQE: collect() on AdaptiveSparkPlanExec doesn't descend into
    // the current physical plan
    val root = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = root.toString
    assert(scan.contains("PartitionFilters") && scan.contains("event_date"),
      s"expected a partition filter on event_date:\n$scan")
    // and the filter actually selects exactly one partition directory
    val parts = root.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(parts.headOption.contains(1),
      s"expected exactly 1 selected partition, got $parts")
    // correctness of the pruned result vs the unpartitioned scan
    val pruned = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = graft.model.Tables.events(s, sf)
      .filter(to_date($"ts") === lit("2024-01-05").cast("date"))
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pruned == full && pruned.nonEmpty)
  }

  test("a source rewritten in place rebuilds the partitioned layout") {
    val s = spark
    val src = java.nio.file.Paths.get(testDir("pruning-src-"))
    val events = src.resolve("events.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf, "events.parquet"), events)
    val path = EventQueries.ensurePartitionedEvents(s, src.toString)
    val full = graft.model.Tables.events(s, sf).count()
    assert(s.read.parquet(path).count() == full)
    // rewrite events.parquet in place with half the rows
    val half = src.resolve("half")
    graft.model.Tables.table(s, src.toString, "events")
      .filter(col("event_id") % 2 === 0).coalesce(1).write.parquet(half.toString)
    val part = half.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, events,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val kept = graft.model.Tables.events(s, src.toString).count()
    assert(kept < full)
    assert(EventQueries.ensurePartitionedEvents(s, src.toString) == path)
    assert(s.read.parquet(path).count() == kept,
      "the layout must be rebuilt from the rewritten events")
    graft.stream.StreamRunner.deleteRecursively(new java.io.File(path))
  }
}
