package graft

import graft.queries.IngestQueries

/** Layout-side pins for the ingest fixtures: compaction must actually
  * change the file layout (the content half is cs09's DuckDB oracle),
  * and the ORC path must push filters into the scan like parquet does. */
class IngestSpec extends SparkSuite {

  private def parquetFiles(d: String) =
    new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))

  test("compaction merges 32 fragments into fewer files with identical content") {
    val s = spark
    IngestQueries.ensureCompacted(s, sf)
    val frag = parquetFiles(IngestQueries.fragDir)
    val comp = parquetFiles(IngestQueries.compactDir)
    assert(frag.length == 32, s"fixture should fragment to 32 files, got ${frag.length}")
    assert(comp.length < frag.length,
      s"compaction must reduce file count: ${comp.length} vs ${frag.length}")
    // tiny corpus ⇒ well under one 128 MiB target file
    assert(comp.length == 1, s"expected a single size-targeted file, got ${comp.length}")
    val a = s.read.parquet(IngestQueries.fragDir)
      .orderBy("doc_id").collect().toSeq
    val b = s.read.parquet(IngestQueries.compactDir)
      .orderBy("doc_id").collect().toSeq
    assert(a == b, "compaction must not change table content")
  }

  test("cs12 premise: document text is XML-roundtrip-safe at ANY driver SF") {
    // cs12's digest parity vs the original parquet holds only while the
    // corpus contains nothing XML itself cannot represent losslessly:
    // control characters illegal in XML 1.0 (anything < 0x20 except
    // tab/LF/CR) would not survive the write, and surrounding whitespace
    // depends on the reader honoring ignoreSurroundingSpaces=false (set
    // on the read — this pin is the early alarm if a regenerated corpus
    // starts exercising either edge). The driver runs Verify at sf0.01
    // and Bench at sf0.1, so pin every SF it touches.
    import org.apache.spark.sql.functions._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                    "/root/testdata/sf0.1")
         if new java.io.File(dir).isDirectory) {
      val bad = graft.model.Tables.documents(spark, dir)
        .filter(col("text").rlike("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]") ||
          col("text") =!= trim(col("text")))
        .count()
      assert(bad == 0,
        s"$dir: $bad documents carry XML-illegal control chars or " +
          "surrounding whitespace — cs12's roundtrip digest premise broke")
    }
  }

  test("the ORC scan pushes filters down like parquet") {
    val s = spark
    import org.apache.spark.sql.functions._
    IngestQueries.ensureOrc(s, sf)
    val q = s.read.orc(IngestQueries.orcDir)
      .filter(col("l_quantity") > 30.0)
      .select(col("l_orderkey"), col("l_quantity"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_quantity"),
      s"expected a pushed l_quantity filter in the ORC scan:\n$plan")
  }

  test("cs10 checksum detects any single-cell mutation and ignores row order") {
    val s = spark
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    def checksums(rows: DataFrame) = rows
      .select(col("g"), expr(
        "CAST(conv(substring(md5(row_str), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .groupBy(col("g")).agg(expr("bit_xor(h)").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    import s.implicits._
    val base = Seq(("a", "1|10"), ("a", "2|20"), ("b", "3|30"))
      .toDF("g", "row_str")
    val shuffled = Seq(("a", "2|20"), ("b", "3|30"), ("a", "1|10"))
      .toDF("g", "row_str").repartition(3)
    assert(checksums(base) == checksums(shuffled),
      "checksum must be row-order and partitioning independent")
    val mutated = Seq(("a", "1|10"), ("a", "2|21"), ("b", "3|30"))
      .toDF("g", "row_str")
    assert(checksums(base)("a") != checksums(mutated)("a"),
      "a single-cell mutation must flip its group's checksum")
    assert(checksums(base)("b") == checksums(mutated)("b"),
      "untouched groups must keep their checksum")
  }

  test("cs18: the pruned scan opens ONLY manifest-matching files and loses no rows") {
    val s = spark
    import org.apache.spark.sql.functions._
    import s.implicits._
    IngestQueries.ensureZonemap(s, sf)
    val zd = IngestQueries.zonemapDir
    val man = s.read.parquet(s"$zd/manifest")
    val nFiles = man.count()
    val m = graft.model.Tables.events(s, sf).agg(max($"user_id")).head.getLong(0) + 1L
    val lo = m * 25L / 100L
    val hi = m * 35L / 100L - 1L
    val matching = man.filter($"min_uid" <= hi && $"max_uid" >= lo)
      .select($"fid").as[Long].collect().toSet
    assert(matching.nonEmpty && matching.size < nFiles,
      s"the [25%,35%) range must prune: ${matching.size} of $nFiles files match")
    // the pruned reader's actual input files all live under matching fid dirs
    val pruned = s.read.parquet(
      matching.toSeq.sorted.map(f => s"$zd/data/fid=$f"): _*)
    val dirsTouched = pruned.inputFiles
      .map(p => p.split("/fid=")(1).split("/")(0).toLong).toSet
    assert(dirsTouched == matching,
      s"pruned scan must touch exactly the matching dirs: $dirsTouched vs $matching")
    // no false negatives: pruned answer == full-table answer
    val a = pruned.filter($"user_id".between(lo, hi))
      .agg(count(lit(1)), coalesce(sum($"v_cents"), lit(0L))).head
    val b = s.read.parquet(s"$zd/data").filter($"user_id".between(lo, hi))
      .agg(count(lit(1)), coalesce(sum($"v_cents"), lit(0L))).head
    assert(a == b, s"pruned scan lost rows: $a vs $b")
    assert(a.getLong(0) > 0L, "the range query must be non-empty")
    // a range inside ONE file's span reads exactly that file's dir
    val one = man.orderBy($"fid").limit(1)
      .select($"fid", $"min_uid", $"max_uid").head
    val oneMatch = man
      .filter($"min_uid" <= one.getLong(1) && $"max_uid" >= one.getLong(1))
      .count()
    assert(oneMatch == 1L,
      s"a point at file ${one.getLong(0)}'s min should match only that file (got $oneMatch)")
  }

  test("a fixed-path fixture asked for dir A, then B, then A holds A's data") {
    val s = spark
    import org.apache.spark.sql.functions._
    val b = java.nio.file.Paths.get(testDir("ingest-b-"))
    graft.model.Tables.lineitem(s, sf).filter(col("l_orderkey") % 2 === 0)
      .write.parquet(b.resolve("lineitem.parquet").toString)
    def orcRows(dir: String) = {
      assert(IngestQueries.ensureOrc(s, dir) == IngestQueries.orcDir)
      s.read.orc(IngestQueries.orcDir).count()
    }
    val a = graft.model.Tables.lineitem(s, sf).count()
    val bRows = graft.model.Tables.lineitem(s, b.toString).count()
    assert(bRows < a)
    assert(orcRows(sf) == a)
    assert(orcRows(b.toString) == bRows)
    assert(orcRows(sf) == a, "the fixture must be rebuilt for A, not left at B")
  }
}
