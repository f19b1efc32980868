package graft

import org.apache.spark.sql.functions._

import graft.apps.{Pipeline, Train}

/** End-to-end of the reference's operational surface: the offline
  * training job writes model + threshold artifacts; the online pipeline
  * loads them and routes a kafka-shaped record stream into its four
  * sinks. One run over sf0.001 with both algorithms.
  */
class AppsSpec extends SparkSuite {

  test("writeBatch: at-least-once replay converges to exactly one copy") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wb-").toString + "/out"
    def committed() = graft.stream.IdempotentSink.read(s, dir)
    // first attempt commits batch 7 as one atomic directory, "crashes"
    // before the streaming checkpoint advances
    graft.stream.IdempotentSink.writeBatch(s.range(100).toDF("v").repartition(4), dir, batchId = 7)
    assert(committed().count() == 100)
    val files7 = new java.io.File(s"$dir/b7").list().sorted.toSeq
    // the replayed batch produces FEWER files (partition count changed
    // across restart) — the committed directory must be untouched: same
    // names, same contents, no duplicates (a downstream file-stream source
    // has already listed the first-attempt names)
    graft.stream.IdempotentSink.writeBatch(s.range(100).toDF("v").repartition(2), dir, batchId = 7)
    assert(committed().count() == 100,
      "replay must not duplicate rows or replace committed files")
    assert(new java.io.File(s"$dir/b7").list().sorted.toSeq == files7,
      "replay must leave the committed name->content mapping untouched")
    // a later batch lands alongside, earlier commit untouched
    graft.stream.IdempotentSink.writeBatch(s.range(5).toDF("v"), dir, batchId = 8)
    assert(committed().count() == 105)
    // staging is cleaned up per batch
    val staging = new java.io.File(s"$dir/_staging")
    assert(!staging.exists() || staging.listFiles().isEmpty,
      s"staging leftovers: ${Option(staging.listFiles()).getOrElse(Array.empty).mkString(",")}")
  }

  test("curate job end-to-end: deterministic curated corpus with all gates applied") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("curate-spec-").toString
    val report = graft.apps.Curate.run(s, sf, s"$base/run1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the funnel only narrows, and nothing vanishes entirely
    assert(report("0_input") >= report("1_exact_dedup"))
    assert(report("1_exact_dedup") >= report("2_near_dedup"))
    assert(report("2_near_dedup") >= report("3_quality_lang"))
    assert(report("3_quality_lang") >= report("3b_domain_cap"))
    assert(report("3b_domain_cap") >= report("4_decontaminated"))
    assert(report("4_decontaminated") > 0, "curation emptied the corpus")
    assert(report("4a_train") + report("4b_val") == report("4_decontaminated"))
    val out = s.read.parquet(s"$base/run1/corpus")
    // gate 3b: the per-domain cap actually bounds every domain, and the
    // domain column matches its deterministic derivation
    assert(out.groupBy($"domain").count().filter($"count" > 64).isEmpty,
      "a domain exceeds the configured cap")
    assert(out.filter($"domain" =!= concat(lit("d"), substring(md5(
      concat($"source", lit(":"), expr("doc_id div 32").cast("string"))
        .cast("binary")), 1, 2))).isEmpty, "domain column drifted from its derivation")
    // gate 1+2: no two surviving docs share a content digest
    assert(out.groupBy(md5($"text".cast("binary"))).count()
      .filter($"count" > 1).isEmpty, "duplicate content survived dedup")
    // gate 3: quality floor and language filter actually applied
    assert(out.filter($"quality_score" < 0.1 || $"predicted_lang" =!= "en").isEmpty)
    // gate 5: no surviving train doc shares an 8-gram with the val split
    val sh = out.select($"doc_id", $"split",
        explode(array_distinct(graft.ops.TextOps.wordShingles($"text", 8))).as("g"))
    val leaked = sh.filter($"split" === "train").select($"doc_id", $"g")
      .join(sh.filter($"split" === "val").select($"g").distinct(), Seq("g"), "left_semi")
    assert(leaked.isEmpty, "decontamination let an 8-gram straddle the split")
    // stage 7, the audit artifact: verdict counts ≡ funnel stage deltas
    // BY CONSTRUCTION (both derive from the same stage frames), full
    // single-verdict coverage, and pointers that resolve
    val audit = s.read.parquet(s"$base/run1/audit")
    val vc = audit.groupBy($"drop_reason").count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap.withDefaultValue(0L)
    assert(audit.count() == report("0_input") &&
      audit.select($"doc_id").distinct().count() == report("0_input"),
      "audit must cover every input doc exactly once")
    assert(vc("exact_dup") == report("0_input") - report("1_exact_dedup"))
    assert(vc("near_dup") == report("1_exact_dedup") - report("2_near_dedup"))
    assert(vc("low_quality") + vc("non_english") ==
      report("2_near_dedup") - report("3_quality_lang"))
    assert(vc("domain_capped") ==
      report("3_quality_lang") - report("3b_domain_cap"))
    assert(vc("contaminated") ==
      report("3b_domain_cap") - report("4_decontaminated"))
    assert(vc("kept") == report("4_decontaminated"))
    // the audit's kept set IS the written corpus, and kept docs point at
    // themselves
    val keptIds = audit.filter($"drop_reason" === "kept")
    assert(keptIds.filter($"keeper_id" =!= $"doc_id").isEmpty)
    assert(keptIds.select($"doc_id").except(out.select($"doc_id")).isEmpty &&
      out.select($"doc_id").except(keptIds.select($"doc_id")).isEmpty,
      "audit 'kept' set must equal the written corpus")
    // dup pointers resolve among the survivors OF THEIR GATE: a digest
    // keeper is never itself an exact_dup; a component label survived
    // both dedup gates (it elects itself). A keeper may still fall to a
    // LATER gate — the funnel's semantics, same as tx35.
    val kOf = audit.select($"doc_id".as("keeper_id"), $"drop_reason".as("kr"))
    assert(audit.filter($"drop_reason" === "exact_dup")
      .join(kOf, Seq("keeper_id")).filter($"kr" === "exact_dup").isEmpty,
      "an exact_dup points at another exact_dup")
    assert(audit.filter($"drop_reason" === "near_dup")
      .join(kOf, Seq("keeper_id"))
      .filter($"kr".isin("exact_dup", "near_dup")).isEmpty,
      "a near_dup's keeper did not survive the dedup gates")

    // determinism: a second run produces the byte-identical doc set
    graft.apps.Curate.run(s, sf, s"$base/run2")
    val a = out.select($"doc_id", $"split").orderBy($"doc_id").collect().toSeq
    val b = s.read.parquet(s"$base/run2/corpus")
      .select($"doc_id", $"split").orderBy($"doc_id").collect().toSeq
    assert(a == b, "curation is not replay-deterministic")
  }

  test("train job + online pipeline end-to-end over the artifact contract") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("apps-spec-").toString

    // offline: train both models from the same data the pipeline will see
    val (kKm, thrKm) = Train.run(s, sf, s"$base/model_km", s"$base/thr_km.txt", "kmeans")
    val (kBis, thrBis) = Train.run(s, sf, s"$base/model_bis", s"$base/thr_bis.txt", "bisecting")
    assert(kKm >= 2 && kBis >= 2)
    assert(thrKm > 0 && thrBis > 0)

    // kafka-shaped records synthesized from lineitem×orders: key =
    // invoice id (C-prefixed for every 7th), value = 8-field CSV line in
    // the UCI purchase shape; every 13th line is truncated (invalid)
    val joined = graft.model.Tables.lineitem(s, sf)
      .join(graft.model.Tables.orders(s, sf), $"l_orderkey" === $"o_orderkey")
    val first7 = concat_ws(",",
      $"l_orderkey".cast("string"),
      concat(lit("SKU"), ($"l_partkey" % 97).cast("string")),
      $"o_orderstatus",
      $"l_quantity".cast("int").cast("string"),
      date_format($"o_orderdate", graft.model.Schemas.invoiceDateFormat),
      $"l_extendedprice".cast("string"),
      $"o_custkey".cast("string"))
    val value = concat(first7,
      when($"l_orderkey" % 13 === 0, lit("")).otherwise(lit(",ES")))
    val records = joined.select(
      concat(when($"l_orderkey" % 7 === 0, lit("C")).otherwise(lit("")),
        $"l_orderkey".cast("string")).as("key"),
      value.as("value"))
    records.write.mode("overwrite").parquet(s"$base/records")

    // online: one AvailableNow pass through all four branches
    val queries = Pipeline.run(s, s"$base/records", s"$base/model_km",
      s"$base/thr_km.txt", s"$base/model_bis", s"$base/thr_bis.txt",
      s"$base/out", once = true)
    queries.foreach(_.awaitTermination())

    val invalid = graft.stream.IdempotentSink.read(s, s"$base/out/facturas_erroneas")
    val cancels = graft.stream.IdempotentSink.read(s, s"$base/out/cancelaciones")
    val kmAnoms = graft.stream.IdempotentSink.read(s, s"$base/out/anomalias_kmeans")
    assert(invalid.count() > 0, "invalid route must fire")
    // every invalid line is a truncated (%13) one and vice versa
    assert(invalid.filter(!$"value".endsWith(",ES")).count() == invalid.count())
    assert(cancels.agg(sum($"n")).head().getLong(0) > 0, "cancellation windows must count")
    assert(kmAnoms.count() > 0, "anomaly branch must fire")
    // anomaly payloads are structured JSON with the invoice id
    val payload = kmAnoms.select(get_json_object($"value", "$.invoice_no").as("inv"))
    assert(payload.filter($"inv".isNotNull).count() == kmAnoms.count())
    // bisecting branch wrote (possibly zero rows but the sink must exist)
    assert(new java.io.File(s"$base/out/anomalias_bisect_kmeans").exists())
  }

  test("train job: k, threshold and centers do not depend on the shuffle partition count") {
    val s = spark
    val conf = s.conf
    val saved = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
      .map(key => key -> conf.getOption(key))
    val base = java.nio.file.Files.createTempDirectory("train-inv-").toString
    val results = try {
      conf.set("spark.sql.adaptive.enabled", "false")
      Seq(1, 4, 7).map { n =>
        conf.set("spark.sql.shuffle.partitions", n.toString)
        val model = s"$base/model_$n"
        val (k, thr) = Train.run(s, sf, model, s"$base/thr_$n.txt", "kmeans")
        val centers = org.apache.spark.ml.clustering.KMeansModel.load(model)
          .clusterCenters.map(_.toArray.toSeq).toSeq
        n -> (k, thr, centers)
      }
    } finally saved.foreach {
      case (key, Some(v)) => conf.set(key, v)
      case (key, None) => conf.unset(key)
    }
    val distinct = results.map(_._2).distinct
    assert(distinct.size == 1,
      results.map { case (n, (k, thr, _)) => s"partitions=$n: k=$k threshold=$thr" }
        .mkString("Train.run differs across partitionings: ", "; ", ""))
  }

  test("insights job end-to-end: consistent sessions/funnel/retention/value " +
    "reports, deterministic across runs") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("insights-").toString
    val summary = graft.apps.Insights.run(s, sf, s"$base/run1").head()
    val nEvents = summary.getAs[Long]("n_events")
    // conservation: every event lands in exactly one session
    assert(summary.getAs[Long]("n_session_events") == nEvents,
      "sessionization lost or duplicated events")
    // the funnel only narrows, stage by stage
    val (users, viewers, clickers, buyers) = (summary.getAs[Long]("n_users"),
      summary.getAs[Long]("n_viewers"), summary.getAs[Long]("n_clickers"),
      summary.getAs[Long]("n_purchasers"))
    assert(users >= viewers && viewers >= clickers && clickers >= buyers,
      s"funnel not monotone: $users/$viewers/$clickers/$buyers")
    assert(buyers > 0, "no purchaser completed the funnel at this sf — vacuous")
    // sessions are well-formed: positive length windows, ordered bounds
    val sess = s.read.parquet(s"$base/run1/sessions")
    assert(sess.filter($"sess_end" < $"sess_start" || $"sess_events" <= 0).isEmpty)
    // retention: week 0 of each cohort equals the cohort's size, and no
    // offset row ever exceeds it
    val ret = s.read.parquet(s"$base/run1/retention")
    val week0 = ret.filter($"week_offset" === 0)
      .select($"cohort_week", $"n_users".as("w0"))
    assert(ret.join(week0, "cohort_week").filter($"n_users" > $"w0").isEmpty,
      "a retention offset exceeds its cohort size")
    val cohortSizes = s.read.parquet(s"$base/run1/funnel").count()
    assert(week0.agg(sum($"w0")).head().getLong(0) == cohortSizes,
      "cohort week-0 totals must partition the user base")
    // value conservation: per-user cents sum to the global exact total
    val uv = s.read.parquet(s"$base/run1/user_value")
    val globalCents = graft.model.Tables.events(s, sf)
      .agg(sum(round($"value" * 100).cast("long"))).head().getLong(0)
    assert(uv.agg(sum($"value_cents")).head().getLong(0) == globalCents)
    // determinism: a second run reproduces the session report exactly
    graft.apps.Insights.run(s, sf, s"$base/run2")
    val a = sess.orderBy($"user_id", $"sess_id").collect().toSeq
    val b = s.read.parquet(s"$base/run2/sessions")
      .orderBy($"user_id", $"sess_id").collect().toSeq
    assert(a == b, "re-run produced a different session report")
  }
}
