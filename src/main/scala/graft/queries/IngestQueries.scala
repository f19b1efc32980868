package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.model.Tables
import graft.ops.Lineage.LineageOps
import graft.sources.PurchaseCsv
import QueryUtil._

/** CSV ingestion + sink-payload surface (reference S1 batch scan, P7
  * line destructure, P9 stringify-for-Kafka): a real on-disk CSV fixture
  * is scanned with the explicit purchase schema, destructured with
  * `from_csv`, and serialized back to JSON sink payloads — each leg
  * oracle-checked against DuckDB reading the *same file*.
  *
  * Plus the columnar/text interchange formats a lake engine must speak
  * beyond parquet: ORC (cs06) and JSON-lines (cs07), each certified by a
  * write→read roundtrip whose content digest must hash-match DuckDB
  * reading the ORIGINAL parquet — any byte lost or mangled in either leg
  * of the format conversion breaks the digest.
  */
object IngestQueries {

  /** The fixtures sit at fixed paths under `target/fixtures` — the
    * oracle SQL strings are static and read the identical files, so both
    * engines always see the same bytes. Each is (re)written through
    * [[Fixtures.memo]] by whichever query first asks for it with a new
    * source dir or rewritten source table. CAVEAT: the paths are shared
    * across scale factors, so two CONCURRENT Verify JVMs at different SFs
    * race on them and the loser's cs* compare reads the other SF's bytes
    * — run multi-SF verifies sequentially (the memo only serializes
    * within one JVM). */
  private val fixtureDir = new java.io.File("target/fixtures/purchases_csv").getAbsolutePath
  private def ensureFixture(s: org.apache.spark.sql.SparkSession, dir: String): String =
    Fixtures.memo(fixtureDir, Fixtures.source(s, dir, "orders"))(
      PurchaseCsv.writeFixture(s, dir, _))

  /** ORC twin of the lineitem table (pruned to the roundtrip columns). */
  private[graft] val orcDir = new java.io.File("target/fixtures/lineitem_orc").getAbsolutePath
  private[graft] def ensureOrc(s: org.apache.spark.sql.SparkSession, dir: String): String =
    Fixtures.memo(orcDir, Fixtures.source(s, dir, "lineitem")) { out =>
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
        .write.mode("overwrite").orc(out)
    }

  /** JSON-lines twin of the documents table. */
  private val jsonlDir = new java.io.File("target/fixtures/documents_jsonl").getAbsolutePath
  private def ensureJsonl(s: org.apache.spark.sql.SparkSession, dir: String): String =
    Fixtures.memo(jsonlDir, Fixtures.source(s, dir, "documents")) { out =>
      Tables.documents(s, dir).select("doc_id", "lang", "text")
        .write.mode("overwrite").json(out)
    }

  /** XML twin of the documents table (Spark 4's built-in XML source). */
  private val xmlDir = new java.io.File("target/fixtures/documents_xml").getAbsolutePath
  private def ensureXml(s: org.apache.spark.sql.SparkSession, dir: String): String =
    Fixtures.memo(xmlDir, Fixtures.source(s, dir, "documents")) { out =>
      Tables.documents(s, dir).select("doc_id", "lang", "text")
        .write.mode("overwrite")
        .option("rootTag", "docs").option("rowTag", "doc")
        .format("xml").save(out)
    }

  /** Messy-CSV quarantine fixture (cs15): quoted commas, RFC-4180
    * doubled quotes, a type-invalid field, and a surplus column — static
    * content, SF-independent, written once per JVM. */
  private[graft] val messyDir = new java.io.File("target/fixtures/messy_csv").getAbsolutePath
  private def ensureMessy(): String =
    Fixtures.memo(messyDir, "") { out =>
      new java.io.File(out).mkdirs()
      val content = Seq(
        "id,name,qty,price",
        "1,\"widget, large\",2,3.50",
        "2,\"say \"\"hi\"\"\",1,0.99",
        "3,plain,5,12.00",
        "4,broken,notanumber,1.00",
        "5,extra,1,2.00,surplus").mkString("\n") + "\n"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, "messy.csv"), content.getBytes("UTF-8"))
    }

  /** Day-partitioned events copy with ONE day dynamically overwritten:
    * full write, then a delta holding only the min day's even event_ids
    * written under `partitionOverwriteMode=dynamic` — which must replace
    * ONLY that day's partition. (Static overwrite mode would wipe every
    * other day; cs13's oracle would catch exactly that.) */
  private val dynDir = new java.io.File("target/fixtures/events_dynpart").getAbsolutePath
  private def ensureDynOverwrite(s: org.apache.spark.sql.SparkSession, dir: String): String =
    Fixtures.memo(dynDir, Fixtures.source(s, dir, "events")) { out =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
      ev.write.mode("overwrite").partitionBy("day").parquet(out)
      val target = ev.agg(min(col("day"))).head().getString(0)
      ev.filter(col("day") === target && col("event_id") % 2 === 0)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day").parquet(out)
    }

  /** Schema-drift twin of the orders table: slice v1 (even order keys)
    * written WITHOUT `o_orderpriority`, slice v2 (odd keys) with it — the
    * shape a 100 TB lake always has after a producer adds a column
    * mid-feed. */
  private val evoDir = new java.io.File("target/fixtures/orders_evo").getAbsolutePath
  private def ensureEvo(s: org.apache.spark.sql.SparkSession, dir: String): String =
    Fixtures.memo(evoDir, Fixtures.source(s, dir, "orders")) { out =>
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$out/v1")
      o.filter(col("o_orderkey") % 2 =!= 0)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$out/v2")
    }

  /** Small-files compaction fixture: the documents table deliberately
    * fragmented into 32 shards, then compacted back to
    * size-targeted files with `coalesce` (NO shuffle — partition merge
    * only, the point of compaction as maintenance: cheap enough to run
    * continuously). Small files are the classic lakehouse decay mode —
    * every scan pays per-file open/footer cost, and at 100 TB a
    * streaming sink writing per-trigger files rots a table in days. */
  private[graft] val fragDir = new java.io.File("target/fixtures/documents_fragmented").getAbsolutePath
  private[graft] val compactDir = new java.io.File("target/fixtures/documents_compacted").getAbsolutePath
  private[graft] def ensureCompacted(s: org.apache.spark.sql.SparkSession, dir: String): String =
    Fixtures.memo(compactDir, Fixtures.source(s, dir, "documents")) { out =>
      Tables.documents(s, dir).repartition(32)
        .write.mode("overwrite").parquet(fragDir)
      val targetBytes = 128L * 1024 * 1024
      val fragBytes = new java.io.File(fragDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      val nOut = ((fragBytes + targetBytes - 1) / targetBytes).max(1L).toInt
      s.read.parquet(fragDir).coalesce(nOut)
        .write.mode("overwrite").parquet(out)
    }

  /** Zone-map fixture: the events table clustered on `user_id` into
    * ≤32 range files (fid = user_id·32 / (max+1) — one hash shuffle so
    * each file holds exactly one fid) plus a per-file min/max/count
    * MANIFEST computed from the data. This is the lakehouse data-
    * skipping read path: stats live in a KB-sized side table, and a
    * range query plans its scan from the manifest alone — the payoff
    * side of clustering (ev10 certifies the layout tool; cs18 certifies
    * that the layout actually saves the scan). */
  private[graft] val zonemapDir = new java.io.File("target/fixtures/events_zonemap").getAbsolutePath
  private[graft] def ensureZonemap(s: org.apache.spark.sql.SparkSession, dir: String): String =
    Fixtures.memo(zonemapDir, Fixtures.source(s, dir, "events")) { out =>
      val m = Tables.events(s, dir).agg(max(col("user_id"))).head.getLong(0) + 1L
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), cents(col("value")).as("v_cents"),
          (col("user_id") * 32L / m).cast("long").as("fid"))
      e.repartition(col("fid")).write.mode("overwrite")
        .partitionBy("fid").parquet(s"$out/data")
      // exact per-file stats — what a lakehouse footer/manifest carries
      e.groupBy(col("fid"))
        .agg(min(col("user_id")).as("min_uid"), max(col("user_id")).as("max_uid"),
          count(lit(1)).as("n_rows"))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/manifest")
    }

  /** The fixture writes, exposed as timed builds (otherwise they land
    * on whichever cs* query the bench runs first). */
  val builds: Map[String, QueryUtil.B] = Map(
    "build_zonemap_fixture" -> ((s, dir) => ensureZonemap(s, dir)),
    "build_csv_fixture" -> ((s, dir) => ensureFixture(s, dir)),
    "build_orc_fixture" -> ((s, dir) => ensureOrc(s, dir)),
    "build_jsonl_fixture" -> ((s, dir) => ensureJsonl(s, dir)),
    "build_xml_fixture" -> ((s, dir) => ensureXml(s, dir)),
    "build_dynpart_fixture" -> ((s, dir) => ensureDynOverwrite(s, dir)),
    "build_evo_fixture" -> ((s, dir) => ensureEvo(s, dir)),
    "build_compaction_fixture" -> ((s, dir) => ensureCompacted(s, dir)))

  private val duckReadCsv =
    s"""read_csv('$fixtureDir/*.csv', header=false, columns={
       |  'InvoiceNo':'VARCHAR','StockCode':'VARCHAR','Description':'VARCHAR',
       |  'Quantity':'INTEGER','InvoiceDate':'VARCHAR','UnitPrice':'DOUBLE',
       |  'CustomerID':'VARCHAR','Country':'VARCHAR'})""".stripMargin

  val queries: Map[String, Q] = Map(
    // S1: CSV scan with explicit schema — typed columns straight off disk.
    "cs01_csv_scan" -> { (s, dir) =>
      ensureFixture(s, dir)
      PurchaseCsv.read(s, fixtureDir)
        .select(col("InvoiceNo").as("invoice_no"), col("StockCode").as("stock_code"),
          col("Quantity").cast("long").as("quantity"), col("InvoiceDate").as("invoice_date"),
          col("UnitPrice").as("unit_price"), col("CustomerID").as("customer_id"),
          col("Country").as("country"))
        .orderBy(col("invoice_no"))
    },

    // P7: raw text lines → from_csv destructure (the stream-parse path —
    // same expression the Kafka value leg applies).
    "cs02_line_parse" -> { (s, dir) =>
      ensureFixture(s, dir)
      PurchaseCsv.parseLines(s.read.text(fixtureDir))
        .select(col("InvoiceNo").as("invoice_no"), col("Quantity").cast("long").as("quantity"),
          col("UnitPrice").as("unit_price"), col("CustomerID").as("customer_id"))
        .orderBy(col("invoice_no"))
    },

    // P1/P2/P3: the reference's date handling — parse the
    // "MM/dd/yyyy HH:mm" InvoiceDate string ONCE to a timestamp
    // (`to_timestamp`, ref Clustering.scala:49-52), then derive
    // hour-of-day (the `gethour` UDF as a built-in, with its -1.0 empty
    // fallback) and the decimal-hour projection from that single column.
    "cs04_invoice_date_parse" -> { (s, dir) =>
      ensureFixture(s, dir)
      val parsed = graft.etl.InvoiceFeaturizer.parseInvoiceDate(col("InvoiceDate"))
      PurchaseCsv.read(s, fixtureDir)
        .select(col("InvoiceNo").as("invoice_no"),
          col("InvoiceDate").as("raw_date"),
          date_format(parsed, "yyyy-MM-dd HH:mm:ss").as("parsed_ts"),
          coalesce(hour(parsed).cast("double"), lit(-1.0)).as("hour_of_day"),
          (hour(parsed) * 60 + minute(parsed)).cast("long").as("minute_of_day"))
        .orderBy(col("invoice_no"))
    },

    // P9: structured JSON sink payload (replaces the reference's
    // case-class toString at `InvoicePipeline.scala:141,147`) — string and
    // integer fields only, so the byte-exact payload is oracle-checkable.
    "cs03_json_payload" -> { (s, dir) =>
      ensureFixture(s, dir)
      PurchaseCsv.read(s, fixtureDir)
        .select(col("InvoiceNo").as("key"),
          to_json(struct(
            col("InvoiceNo").as("invoice_no"),
            col("Quantity").cast("long").as("quantity"),
            col("CustomerID").as("customer_id"),
            col("Country").as("country"))).as("payload"))
        .orderBy(col("key"))
    },

    // P7/P9 closed loop: the JSON sink payload parsed back with
    // `from_json` (the consumer-side leg of the Kafka contract). The
    // oracle is the identity on the source fields — exactly what a
    // serialize→parse roundtrip must reproduce.
    "cs05_json_roundtrip" -> { (s, dir) =>
      ensureFixture(s, dir)
      val payloadSchema =
        "invoice_no STRING, quantity BIGINT, customer_id STRING, country STRING"
      PurchaseCsv.read(s, fixtureDir)
        .select(to_json(struct(
          col("InvoiceNo").as("invoice_no"),
          col("Quantity").cast("long").as("quantity"),
          col("CustomerID").as("customer_id"),
          col("Country").as("country"))).as("payload"))
        .select(from_json(col("payload"),
          org.apache.spark.sql.types.StructType.fromDDL(payloadSchema)).as("p"))
        .select(col("p.invoice_no").as("invoice_no"), col("p.quantity").as("quantity"),
          col("p.customer_id").as("customer_id"), col("p.country").as("country"))
        .orderBy(col("invoice_no"))
    },

    // ORC write→read roundtrip, certified by content digest: row count,
    // exact money sum, and the count of DISTINCT per-row md5 digests
    // (over integer/string renderings only — double→string formatting is
    // never compared across engines) must match DuckDB on the original
    // parquet. ORC is Spark's other first-class columnar source — same
    // vectorized reader, pushdown, and pruning machinery as parquet
    // (pushdown pinned in IngestSpec).
    "cs06_orc_roundtrip" -> { (s, dir) =>
      ensureOrc(s, dir)
      val back = s.read.orc(orcDir)
      back.agg(
        count(lit(1)).as("n_rows"),
        sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
        countDistinct(md5(concat_ws("|",
          col("l_orderkey"), col("l_linenumber"), col("l_quantity").cast("long"),
          cents(col("l_extendedprice")), col("l_returnflag")))).as("n_distinct_rows"))
    },

    // Small-files compaction roundtrip: fragment → coalesce-compact →
    // read back; per-source counts, char sums, and the count of DISTINCT
    // per-row digests must match DuckDB on the ORIGINAL table — content
    // is provably untouched by the rewrite (compaction is pure layout
    // maintenance). IngestSpec pins the layout half: compacted file
    // count ≤ target, strictly fewer than the 32 fragments.
    // cs09's STREAMING-SINK twin — compaction of an IdempotentSink
    // accumulation (the per-batch atomic-directory protocol every st*
    // foreachBatch sink uses): three batch appends folded into ONE
    // manifest-committed run, then the two hazards a naive rewrite gets
    // wrong are exercised in-line — (1) an at-least-once REDELIVERY of a
    // batch whose directory compaction consumed and deleted (the
    // cumulative manifest must remember it committed, or the retry
    // re-publishes its rows), and (2) a second compact() over an
    // already-folded sink (must be a no-op, not a new generation). The
    // row surface is the full roundtripped table — DuckDB reads the
    // ORIGINAL, so the hash match certifies compaction moved bytes, not
    // data; the layout bits pin one run / one file / zero batch dirs.
    "cs16_sink_compaction_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select($"doc_id", $"source", $"n_chars".cast("long").as("n_chars"))
      val base = graft.stream.StreamRunner.scratchDir("sinkcompact-")
      val sink = s"$base/docs"
      def part(i: Int) = docs.filter($"doc_id" % 3 === i)
      (0 until 3).foreach(i =>
        graft.stream.IdempotentSink.writeBatch(part(i), sink, i))
      graft.stream.IdempotentSink.compact(s, sink)
      // hazard 1: redelivery of consumed batch 1 — manifest-remembered
      graft.stream.IdempotentSink.writeBatch(part(1), sink, 1)
      // hazard 2: re-compaction of a single-run sink — generation no-op
      graft.stream.IdempotentSink.compact(s, sink)
      def ls(p: String) = Option(new java.io.File(p).listFiles())
        .getOrElse(Array.empty[java.io.File])
      val runs = ls(sink).filter(_.isDirectory).map(_.getName)
      val singleRun = runs.count(_.matches("b\\d+")) == 0 &&
        runs.count(_.matches("c\\d+")) == 1 && runs.contains("c1")
      val oneFile = singleRun && ls(s"$sink/c1")
        .count(_.getName.endsWith(".parquet")) == 1
      graft.stream.IdempotentSink.read(s, sink)
        .withColumn("single_run_ok", lit(if (singleRun) 1L else 0L))
        .withColumn("one_file_ok", lit(if (oneFile) 1L else 0L))
        .orderBy($"doc_id")
    },

    // SCHEMA EVOLUTION over an appended sink — the lakehouse verb left
    // after compaction (cs16/dd20), tombstones (dd21), retention (st36),
    // time travel (st38) and CDC (st41): a long-lived ingest sink whose
    // LATER batches append columns (the only evolution the protocol
    // supports — additive, nullable; a drop/retype is a new sink). Three
    // orderkey-sliced batches land with widening schemas — (key, cust),
    // +status, +price — and IdempotentSink.readEvolved serves the UNION
    // schema with nulls backfilled for pre-evolution batches, the
    // standard add-column semantics (Delta/Iceberg/BigQuery all define
    // it this way) without rewriting a single committed byte. The
    // rows are then the strong half of the certificate: DuckDB replays
    // the slice→schema mapping straight from `orders`, so every
    // backfilled null and every surviving value is hash-compared
    // row-for-row, not bit-pinned. compact_preserves_ok pins the
    // maintenance interaction inline: folding the mixed-schema batches
    // (compact reads with mergeSchema) yields one cold run whose
    // content — including the materialized nulls — is exactly the
    // pre-compaction view, so evolution and compaction compose.
    // 100 TB shape: evolution itself is METADATA-ONLY (nothing
    // rewritten; old files simply lack the new column chunks);
    // readEvolved pays one distributed footer pass over visible files,
    // which the LSM posture bounds at maxHot batch dirs + 1 cold run.
    "cs17_schema_evolution" -> { (s, dir) =>
      import s.implicits._
      val orders = Tables.orders(s, dir)
      val base = graft.stream.StreamRunner.scratchDir("schemaevo-")
      val sink = s"$base/orders"
      def slice(i: Int) = orders.filter($"o_orderkey" % 3 === i)
      graft.stream.IdempotentSink.writeBatch(
        slice(0).select($"o_orderkey".cast("long").as("o_orderkey"),
          $"o_custkey".cast("long").as("o_custkey")), sink, 0)
      graft.stream.IdempotentSink.writeBatch(
        slice(1).select($"o_orderkey".cast("long").as("o_orderkey"),
          $"o_custkey".cast("long").as("o_custkey"),
          $"o_orderstatus"), sink, 1)
      graft.stream.IdempotentSink.writeBatch(
        slice(2).select($"o_orderkey".cast("long").as("o_orderkey"),
          $"o_custkey".cast("long").as("o_custkey"),
          $"o_orderstatus", cents($"o_totalprice").as("price_cents")), sink, 2)
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "price_cents")
      val evolved = graft.stream.IdempotentSink.readEvolved(s, sink)
        .select(cols.map(col): _*).cutLineage()
      // the fold must carry the union schema + null backfill forward
      graft.stream.IdempotentSink.compact(s, sink)
      val afterFold = graft.stream.IdempotentSink.readEvolved(s, sink)
        .select(cols.map(col): _*)
      // one signed-count job (vs two exceptAll counts — four scans)
      val foldSame = graft.ops.Multiset.equal(evolved, afterFold)
      evolved
        .withColumn("compact_preserves_ok", lit(if (foldSame) 1L else 0L))
        .orderBy($"o_orderkey")
    },

    // ZONE-MAP DATA SKIPPING — the READ-side payoff of clustering, and
    // the capability every lakehouse table format (Delta/Iceberg/Hudi)
    // builds its scan planning on: per-file min/max stats consulted
    // BEFORE any data file is opened, so a selective range predicate
    // reads only the files whose [min,max] overlaps it. ev10 certifies
    // the layout tool (Z-order); this entry certifies the skip itself,
    // with the guarantee computed — never assumed:
    //  - the manifest rows (fid, min_uid, max_uid, n_rows) are exact
    //    per-file stats, hash-compared against DuckDB recomputing them
    //    from the clustering rule;
    //  - `scanned` marks the files the [25%,35%) user-id range query
    //    must touch (overlap test — both engines compute it);
    //  - `q_rows`/`q_sum_cents` are the range query's answer AS SERVED
    //    FROM THE PRUNED FILE SET ONLY (Spark reads just those
    //    directories), hash-compared against DuckDB answering from the
    //    full table — a false skip loses rows and breaks the compare;
    //  - `prune_equal_ok` re-runs the aggregate over ALL files inside
    //    this plan and compares — the no-false-negative bit.
    // 100 TB shape: the manifest is #files rows (KB — the quantizer/
    // synopsis artifact class, cf. sk07/an12); pruning collects only
    // the MATCHING file ids (bounded by query selectivity, exactly what
    // Spark's own FileIndex hands the driver); the residual filter
    // handles zone coarseness, so correctness never depends on stats
    // tightness — only the I/O saved does.
    "cs18_zonemap_skipping" -> { (s, dir) =>
      import s.implicits._
      ensureZonemap(s, dir)
      val man = s.read.parquet(s"$zonemapDir/manifest")
      val m = Tables.events(s, dir).agg(max($"user_id")).head.getLong(0) + 1L
      val lo = m * 25L / 100L
      val hi = m * 35L / 100L - 1L
      val marked = man.withColumn("scanned",
        (($"min_uid" <= hi) && ($"max_uid" >= lo)).cast("long")).cache()
      val fids = marked.filter($"scanned" === 1L).select($"fid")
        .as[Long].collect().sorted
      val pruned = s.read.parquet(fids.map(f => s"$zonemapDir/data/fid=$f"): _*)
        .filter($"user_id".between(lo, hi))
        .agg(count(lit(1)).cast("long").as("q_rows"),
          coalesce(sum($"v_cents"), lit(0L)).as("q_sum_cents"))
      val full = s.read.parquet(s"$zonemapDir/data")
        .filter($"user_id".between(lo, hi))
        .agg(count(lit(1)).cast("long").as("f_rows"),
          coalesce(sum($"v_cents"), lit(0L)).as("f_sum_cents"))
      val summary = pruned.crossJoin(full)
        .withColumn("prune_equal_ok",
          (($"q_rows" === $"f_rows") && ($"q_sum_cents" === $"f_sum_cents")).cast("long"))
        .drop("f_rows", "f_sum_cents")
      marked
        .select($"fid".cast("long").as("fid"), $"min_uid", $"max_uid",
          $"n_rows".cast("long").as("n_rows"), $"scanned")
        .crossJoin(broadcast(summary))
        .crossJoin(broadcast(marked.agg(
          count(lit(1)).cast("long").as("n_files"),
          sum($"scanned").as("n_files_read"))))
        .select($"fid", $"min_uid", $"max_uid", $"n_rows", $"scanned",
          $"n_files", $"n_files_read", $"q_rows", $"q_sum_cents", $"prune_equal_ok")
        .orderBy($"fid")
    },

    "cs09_compaction_roundtrip" -> { (s, dir) =>
      ensureCompacted(s, dir)
      s.read.parquet(compactDir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(md5(concat_ws("|", col("doc_id"), col("text"))))
            .as("n_distinct_payloads"))
        .orderBy(col("source"))
    },

    // Cross-engine table checksum (the anti-entropy primitive): every
    // row reduced to a canonical string → md5 → 60-bit integer, xor'd
    // per group. bit_xor is commutative, associative, and overflow-free,
    // so the checksum is independent of partitioning and row order —
    // the property that lets two sides of a 100 TB replication compare
    // content with ONE aggregate over bounded state and zero data
    // movement beyond the final exchange on the (tiny) group key. Money
    // enters as exact cents and the date as its ISO string so both
    // engines hash identical bytes; the oracle recomputes the same
    // digest in DuckDB (`('0x'||hex)::BIGINT` = Spark's `conv(hex,16,10)`).
    // IngestSpec pins the detection property: any single-cell mutation
    // flips the group checksum. KNOWN xor-fold blind spot: a mutation
    // that adds/removes an EVEN multiset of identical rows cancels in
    // bit_xor (n_rows catches pure count changes, but +2/−2 of one row
    // paired with −2/+2 of another is invisible to xor alone) — hence
    // the second, sum-folded digest: the same 60-bit hashes summed in
    // decimal (no overflow below ~10¹⁹ rows/group) mod 2⁶⁰, which any
    // multiset change moves. Two independent folds over one aggregate
    // pass — still bounded state, zero extra data movement.
    "cs10_table_checksum" -> { (s, dir) =>
      val h = expr("CAST(conv(substring(md5(row_str), 1, 15), 16, 10) AS BIGINT)")
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          concat_ws("|", col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), cents(col("l_extendedprice")),
            col("l_shipdate").cast("date")).as("row_str"))
        .select(col("l_returnflag"), h.as("h"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("checksum"),
          expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 1152921504606846976 AS BIGINT)")
            .as("sum_checksum"))
        .orderBy(col("l_returnflag"))
    },

    // Constraint-validation audit (the ingest quality gate): referential
    // integrity (FK orphans via one key join per fact table — broadcast
    // when the dimension is small, else a plain key exchange) and domain
    // predicates, ALL checks for a table folded into ONE aggregate pass
    // (the q25 Expand trick: violations are conditional sums, so adding
    // a check costs an expression, not a scan), unpivoted to one row per
    // check. 100 TB shape: four table scans, one join each for the FK
    // legs, output cardinality = number of checks.
    "cs11_constraint_audit" -> { (s, dir) =>
      // (internal alias, reported check name) pairs per table pass
      def unpivot(agg: org.apache.spark.sql.DataFrame,
                  checks: Seq[(String, String)]): org.apache.spark.sql.DataFrame =
        agg.select(expr(s"stack(${checks.size}, " +
          checks.map { case (a, n) => s"'$n', $a" }.mkString(", ") +
          ") as (check_name, n_violations)"), col("n_rows"))
      val li = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
            .as("li_fk_orphan"),
          sum(when(col("l_quantity") <= 0, 1L).otherwise(0L))
            .as("li_qty_nonpos"),
          sum(when(col("l_extendedprice") < 0, 1L).otherwise(0L))
            .as("li_price_neg"),
          sum(when(col("l_orderkey").isNull || col("l_partkey").isNull, 1L)
            .otherwise(0L)).as("li_key_null"))
      val ord = Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L))
            .as("ord_fk_orphan"),
          sum(when(col("o_totalprice") < 0, 1L).otherwise(0L))
            .as("ord_total_neg"))
      val doc = Tables.documents(s, dir)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
            .as("doc_nchars_bad"),
          sum(when(col("text").isNull || length(col("text")) === 0, 1L)
            .otherwise(0L)).as("doc_text_empty"))
      val ev = Tables.events(s, dir)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("user_id").isNull, 1L).otherwise(0L))
            .as("ev_user_null"),
          sum(when(col("value").isNull || isnan(col("value")), 1L)
            .otherwise(0L)).as("ev_value_bad"))
      unpivot(li, Seq("li_fk_orphan" -> "lineitem.fk_order_orphan",
          "li_qty_nonpos" -> "lineitem.qty_nonpositive",
          "li_price_neg" -> "lineitem.price_negative",
          "li_key_null" -> "lineitem.key_null"))
        .union(unpivot(ord, Seq("ord_fk_orphan" -> "orders.fk_cust_orphan",
          "ord_total_neg" -> "orders.total_negative")))
        .union(unpivot(doc, Seq("doc_nchars_bad" -> "documents.n_chars_mismatch",
          "doc_text_empty" -> "documents.text_empty")))
        .union(unpivot(ev, Seq("ev_user_null" -> "events.user_null",
          "ev_value_bad" -> "events.value_null_or_nan")))
        .orderBy(col("check_name"))
    },

    // JSON-lines write→read roundtrip over the documents corpus (the
    // interchange format raw training-data usually arrives in): read back
    // with an explicit schema, digest doc_id|lang|text per row. Text
    // survives JSON escaping byte-for-byte or the digest breaks.
    "cs07_jsonl_roundtrip" -> { (s, dir) =>
      ensureJsonl(s, dir)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("text", StringType)))
      s.read.schema(schema).json(jsonlDir)
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(concat_ws("|", col("doc_id"), col("lang"), col("text"))))
            .as("n_distinct_payloads"),
          sum(length(col("text"))).as("total_chars"))
    },

    // XML roundtrip (Spark 4's built-in XML source — the third
    // interchange format after ORC/JSON-lines, and the one where
    // escaping is hardest: `&`, `<`, `>` in document text must survive
    // entity encoding byte-for-byte or the per-row digest breaks). Same
    // contract as cs06/cs07: our side digests the XML-roundtripped copy,
    // the oracle digests the ORIGINAL parquet.
    "cs12_xml_roundtrip" -> { (s, dir) =>
      ensureXml(s, dir)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("text", StringType)))
      // ignoreSurroundingSpaces defaults to TRUE in Spark 4's XML reader:
      // leading/trailing whitespace in document text would be trimmed on
      // read and break the digest vs the original-parquet oracle. Pin it
      // off; IngestSpec pins the data premise (no XML-illegal control
      // chars, which could not survive the write at all).
      s.read.schema(schema).option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false")
        .format("xml").load(xmlDir)
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(concat_ws("|", col("doc_id"), col("lang"), col("text"))))
            .as("n_distinct_payloads"),
          sum(length(col("text"))).as("total_chars"))
    },

    // Dynamic partition overwrite — the in-place backfill semantic every
    // partitioned lake depends on: rewriting ONE day must replace only
    // that day's partition and leave every other partition's files
    // untouched (static overwrite mode would wipe them all — this
    // query's per-day counts would catch exactly that). The fixture
    // full-writes the day-partitioned events copy, then dynamically
    // overwrites the min day with only its even event_ids; the oracle
    // recomputes the expected post-backfill state from the ORIGINAL
    // table with the same day/even rule.
    "cs13_partition_overwrite" -> { (s, dir) =>
      ensureDynOverwrite(s, dir)
      // partition-column type inference reads the day dir back as DATE;
      // re-render as the yyyy-MM-dd string the oracle emits
      s.read.parquet(dynDir)
        .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(cents(col("value"))).as("sum_value_cents"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("day"))
    },

    // Schema evolution: a `mergeSchema` read over two parquet slices
    // written under drifted schemas — rows from the pre-drift slice
    // null-extend the added column, and the reconciled schema comes from
    // the footers alone (no full-file scan). The oracle recomputes the
    // expected null-extension from the ORIGINAL table, so the hash match
    // certifies the merged read loses and invents nothing.
    "cs08_schema_evolution" -> { (s, dir) =>
      ensureEvo(s, dir)
      s.read.option("mergeSchema", "true").parquet(s"$evoDir/v1", s"$evoDir/v2")
        .groupBy(coalesce(col("o_orderpriority"), lit("(absent)")).as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("sum_price_cents"),
          countDistinct(col("o_custkey")).as("n_custs"))
        .orderBy(col("priority"))
    },

    // In-flight data-quality counters via the Observation API
    // (`CollectMetrics`): row count, bad-row count, key range — computed
    // AS THE DATA FLOWS through an action, the way a production ingest
    // rides its audit on the main write instead of paying a second
    // 100 TB scan. Here the observed pass is the explicit driver action
    // (the entry must hold the metrics before returning its frame); the
    // metrics then ride every output row as literals, and the DuckDB
    // oracle recomputes them as ordinary aggregates — certifying the
    // observe-path numbers equal the query-path numbers exactly.
    "cs14_observed_ingest" -> { (s, dir) =>
      import s.implicits._
      val obs = org.apache.spark.sql.Observation("cs14")
      val li = Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_quantity")
      li.observe(obs,
          count(lit(1)).as("n_rows"),
          sum(when($"l_quantity" <= 0, 1L).otherwise(0L)).as("bad_qty_rows"),
          min($"l_orderkey").as("min_key"),
          max($"l_orderkey").as("max_key"))
        .count(): Unit
      val m = obs.get
      li.groupBy(($"l_orderkey" % 10).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity").as("sum_qty"))
        .withColumn("obs_rows", lit(m("n_rows").asInstanceOf[Long]))
        .withColumn("obs_bad_qty", lit(m("bad_qty_rows").asInstanceOf[Long]))
        .withColumn("obs_min_key", lit(m("min_key").asInstanceOf[Long]))
        .withColumn("obs_max_key", lit(m("max_key").asInstanceOf[Long]))
        .orderBy($"bucket")
    },

    // Malformed-row quarantine — the PERMISSIVE ingest posture a lake
    // pipeline runs on untrusted CSV: explicit schema + a corrupt-record
    // column; rows with a type-invalid field or a surplus column land in
    // quarantine instead of failing the job, clean rows parse exactly
    // (quoted commas, RFC-4180 doubled quotes — note Spark's escape
    // option must be '"' for that dialect, not its backslash default).
    // Cross-engine teeth: DuckDB reads the IDENTICAL file with
    // ignore_errors=true and must recover the same 3 clean rows; the
    // quarantine count is data-derived on the Spark side and pinned
    // constant (2) by the oracle.
    "cs15_csv_quarantine" -> { (s, dir) =>
      ensureMessy()
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType),
        StructField("qty", LongType), StructField("price", StringType),
        StructField("_bad", StringType)))
      val df = s.read.schema(schema)
        .option("header", "true").option("mode", "PERMISSIVE")
        .option("escape", "\"")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(messyDir)
        .cache() // required to filter on the corrupt-record column
      val bad = df.filter(col("_bad").isNotNull)
        .agg(count(lit(1)).as("n_corrupt"))
      df.filter(col("_bad").isNull)
        .select(col("id"), col("name"), col("qty"),
          cents(col("price").cast("double")).as("price_cents"))
        .crossJoin(broadcast(bad))
        .orderBy(col("id"))
    })

  val oracles: Map[String, String] = Map(
    "cs01_csv_scan" ->
      s"""SELECT InvoiceNo AS invoice_no, StockCode AS stock_code,
         |  CAST(Quantity AS BIGINT) AS quantity, InvoiceDate AS invoice_date,
         |  UnitPrice AS unit_price, CustomerID AS customer_id, Country AS country
         |FROM $duckReadCsv
         |ORDER BY invoice_no""".stripMargin,

    "cs02_line_parse" ->
      s"""SELECT InvoiceNo AS invoice_no, CAST(Quantity AS BIGINT) AS quantity,
         |  UnitPrice AS unit_price, CustomerID AS customer_id
         |FROM $duckReadCsv
         |ORDER BY invoice_no""".stripMargin,

    "cs04_invoice_date_parse" ->
      s"""SELECT InvoiceNo AS invoice_no, InvoiceDate AS raw_date,
         |  strftime(strptime(InvoiceDate, '%m/%d/%Y %H:%M'), '%Y-%m-%d %H:%M:%S') AS parsed_ts,
         |  COALESCE(CAST(hour(strptime(InvoiceDate, '%m/%d/%Y %H:%M')) AS DOUBLE), -1.0) AS hour_of_day,
         |  CAST(hour(strptime(InvoiceDate, '%m/%d/%Y %H:%M'))*60
         |       + minute(strptime(InvoiceDate, '%m/%d/%Y %H:%M')) AS BIGINT) AS minute_of_day
         |FROM $duckReadCsv
         |ORDER BY invoice_no""".stripMargin,

    // the roundtrip must reproduce the source fields exactly
    "cs05_json_roundtrip" ->
      s"""SELECT InvoiceNo AS invoice_no, CAST(Quantity AS BIGINT) AS quantity,
         |  CustomerID AS customer_id, Country AS country
         |FROM $duckReadCsv
         |ORDER BY invoice_no""".stripMargin,

    "cs03_json_payload" ->
      s"""SELECT InvoiceNo AS key,
         |  '{"invoice_no":"' || InvoiceNo || '","quantity":' || CAST(Quantity AS BIGINT) ||
         |  ',"customer_id":"' || CustomerID || '","country":"' || Country || '"}' AS payload
         |FROM $duckReadCsv
         |ORDER BY key""".stripMargin,

    // DuckDB digests the ORIGINAL parquet; our side digests the
    // ORC-roundtripped copy — a hash match certifies write+read fidelity.
    "cs06_orc_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_cents,
        |  CAST(count(DISTINCT md5(concat_ws('|',
        |    CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
        |    CAST(CAST(l_quantity AS BIGINT) AS VARCHAR),
        |    CAST(CAST(round(l_extendedprice*100) AS BIGINT) AS VARCHAR),
        |    l_returnflag))) AS BIGINT) AS n_distinct_rows
        |FROM lineitem""".stripMargin,

    // cs16: DuckDB reads the ORIGINAL table; our side reads the
    // batch-accumulated → compacted sink — the full-table hash match is
    // the content-preservation certificate (and would catch a
    // double-published retry as extra rows); layout bits constant-pinned.
    "cs16_sink_compaction_roundtrip" ->
      """SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST(1 AS BIGINT) AS single_run_ok,
        |       CAST(1 AS BIGINT) AS one_file_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // cs17: DuckDB replays the slice→schema mapping from the ORIGINAL
    // orders table — a column exists for a row exactly when the row's
    // batch carried it — so every backfilled null and surviving value is
    // hash-compared row-for-row; the compaction bit is constant-pinned
    // (the rows themselves re-verify the fold: they are read back AFTER
    // compact() ran... the evolved pre-fold view is localCheckpointed,
    // so the emitted rows are the PRE-fold view and the bit carries the
    // fold equivalence).
    "cs17_schema_evolution" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |  CAST(o_custkey AS BIGINT) AS o_custkey,
        |  CASE WHEN o_orderkey % 3 >= 1 THEN o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 3 = 2
        |       THEN CAST(round(o_totalprice*100) AS BIGINT) END AS price_cents,
        |  CAST(1 AS BIGINT) AS compact_preserves_ok
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // cs18: DuckDB replays the clustering rule (fid = user_id·32 //
    // (max+1)), recomputes the per-file stats, the overlap test, and the
    // range aggregate from the RAW events table — so a wrong manifest,
    // a wrong skip decision, or a row lost to pruning all break the
    // hash. The prune-equality bit is the one constant pin (Spark
    // computes it by re-aggregating over all files; DuckDB has no file
    // boundary to see).
    "cs18_zonemap_skipping" ->
      """WITH mx AS (SELECT max(user_id) + 1 AS m FROM events),
        |e AS (SELECT user_id, CAST(round(value*100) AS BIGINT) AS vc,
        |             (user_id * 32) // m AS fid FROM events, mx),
        |b AS (SELECT (m*25)//100 AS lo, (m*35)//100 - 1 AS hi FROM mx),
        |man AS (SELECT fid, min(user_id) AS mn, max(user_id) AS mxx,
        |               count(*) AS n FROM e GROUP BY fid),
        |q AS (SELECT CAST(count(*) AS BIGINT) AS q_rows,
        |             CAST(COALESCE(sum(vc), 0) AS BIGINT) AS q_sum
        |      FROM e, b WHERE user_id BETWEEN lo AND hi),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS nf,
        |              CAST(sum(CASE WHEN mn <= hi AND mxx >= lo
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS nr
        |       FROM man, b)
        |SELECT CAST(man.fid AS BIGINT) AS fid, man.mn AS min_uid,
        |       man.mxx AS max_uid, CAST(man.n AS BIGINT) AS n_rows,
        |       CAST(CASE WHEN man.mn <= b.hi AND man.mxx >= b.lo
        |            THEN 1 ELSE 0 END AS BIGINT) AS scanned,
        |       st.nf AS n_files, st.nr AS n_files_read,
        |       q.q_rows, q.q_sum AS q_sum_cents,
        |       CAST(1 AS BIGINT) AS prune_equal_ok
        |FROM man, b, q, st ORDER BY fid""".stripMargin,

    // DuckDB digests the ORIGINAL table; our side digests the
    // fragment→compact roundtripped copy — a hash match certifies the
    // layout rewrite moved bytes, not data.
    "cs09_compaction_roundtrip" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(COUNT(DISTINCT md5(concat_ws('|',
        |    CAST(doc_id AS VARCHAR), text))) AS BIGINT) AS n_distinct_payloads
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // identical canonical row string and digest: 15 hex chars of md5
    // parsed as a 60-bit integer (('0x'||h)::BIGINT ≡ conv(h,16,10)),
    // xor-folded per group — order- and partitioning-independent
    "cs10_table_checksum" ->
      """WITH r AS (SELECT l_returnflag,
        |    ('0x' || substring(md5(concat_ws('|',
        |       CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
        |       CAST(l_partkey AS VARCHAR),
        |       CAST(CAST(round(l_extendedprice*100) AS BIGINT) AS VARCHAR),
        |       CAST(CAST(l_shipdate AS DATE) AS VARCHAR))), 1, 15))::BIGINT AS h
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(bit_xor(h) AS BIGINT) AS checksum,
        |  CAST(sum(h) % 1152921504606846976 AS BIGINT) AS sum_checksum
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // each check recomputed independently (plain scalar subqueries —
    // the oracle does not need the one-pass Expand shape, only the
    // identical counts)
    "cs11_constraint_audit" ->
      """WITH li AS (SELECT l.*, o.o_orderkey AS fk FROM lineitem l
        |            LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |ord AS (SELECT o.*, c.c_custkey AS fk FROM orders o
        |        LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT * FROM (
        |  SELECT 'lineitem.fk_order_orphan' AS check_name,
        |    CAST(SUM(CASE WHEN fk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows FROM li
        |  UNION ALL
        |  SELECT 'lineitem.qty_nonpositive',
        |    CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM li
        |  UNION ALL
        |  SELECT 'lineitem.price_negative',
        |    CAST(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM li
        |  UNION ALL
        |  SELECT 'lineitem.key_null',
        |    CAST(SUM(CASE WHEN l_orderkey IS NULL OR l_partkey IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM li
        |  UNION ALL
        |  SELECT 'orders.fk_cust_orphan',
        |    CAST(SUM(CASE WHEN fk IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM ord
        |  UNION ALL
        |  SELECT 'orders.total_negative',
        |    CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM ord
        |  UNION ALL
        |  SELECT 'documents.n_chars_mismatch',
        |    CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM documents
        |  UNION ALL
        |  SELECT 'documents.text_empty',
        |    CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0
        |      THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM documents
        |  UNION ALL
        |  SELECT 'events.user_null',
        |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'events.value_null_or_nan',
        |    CAST(SUM(CASE WHEN value IS NULL OR isnan(value)
        |      THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM events
        |) ORDER BY check_name""".stripMargin,

    "cs07_jsonl_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT md5(concat_ws('|',
        |    CAST(doc_id AS VARCHAR), lang, text))) AS BIGINT)
        |    AS n_distinct_payloads,
        |  CAST(SUM(length(text)) AS BIGINT) AS total_chars
        |FROM documents""".stripMargin,

    // same contract as cs07: the oracle digests the ORIGINAL table — the
    // hash match certifies XML write+read (entity escaping included) is
    // lossless
    "cs12_xml_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT md5(concat_ws('|',
        |    CAST(doc_id AS VARCHAR), lang, text))) AS BIGINT)
        |    AS n_distinct_payloads,
        |  CAST(SUM(length(text)) AS BIGINT) AS total_chars
        |FROM documents""".stripMargin,

    // expected post-backfill state recomputed from the original table:
    // the min day keeps only even event_ids, every other day is intact
    "cs13_partition_overwrite" ->
      """WITH d AS (SELECT event_id, user_id, value,
        |    strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day FROM events),
        |t AS (SELECT MIN(day) AS target FROM d)
        |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM d CROSS JOIN t
        |WHERE day <> target OR event_id % 2 = 0
        |GROUP BY day ORDER BY day""".stripMargin,

    // expected result of the merged read, recomputed from the original
    // table: even keys were written without the column → NULL → '(absent)'
    "cs08_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '(absent)'
        |            ELSE o_orderpriority END AS priority,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_cents,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
        |FROM orders
        |GROUP BY 1
        |ORDER BY priority""".stripMargin,

    // the observe-path counters recomputed as plain aggregates
    "cs14_observed_ingest" ->
      """WITH m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |         CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS bad_qty_rows,
        |         CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
        |         CAST(MAX(l_orderkey) AS BIGINT) AS max_key
        |  FROM lineitem)
        |SELECT CAST(l_orderkey % 10 AS BIGINT) AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       SUM(l_quantity) AS sum_qty,
        |       m.n_rows AS obs_rows, m.bad_qty_rows AS obs_bad_qty,
        |       m.min_key AS obs_min_key, m.max_key AS obs_max_key
        |FROM lineitem CROSS JOIN m
        |GROUP BY 1, m.n_rows, m.bad_qty_rows, m.min_key, m.max_key
        |ORDER BY bucket""".stripMargin,

    // DuckDB reads the identical messy file; its ignore_errors path must
    // recover exactly the rows Spark's PERMISSIVE path keeps, and the
    // constant 2 pins Spark's data-derived quarantine count.
    "cs15_csv_quarantine" ->
      s"""SELECT id, name, qty,
         |  CAST(round(CAST(price AS DOUBLE)*100) AS BIGINT) AS price_cents,
         |  CAST(2 AS BIGINT) AS n_corrupt
         |FROM read_csv('$messyDir/messy.csv', header=true,
         |  columns={'id':'BIGINT','name':'VARCHAR','qty':'BIGINT','price':'VARCHAR'},
         |  ignore_errors=true, quote='"', escape='"')
         |ORDER BY id""".stripMargin)
}
