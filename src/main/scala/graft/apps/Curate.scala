package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.{Dedup, TextOps}

/** Batch corpus-curation application — the LLM-pipeline counterpart of
  * the reference's entry-point mains ([[Train]]/[[Pipeline]] mirror
  * `train.scala`/`InvoicePipeline.scala`; this one has no reference
  * counterpart because the curation tier is this library's extension
  * surface, composed end-to-end here so a user can run it as ONE job):
  *
  *  1. exact dedup — digest keeper (min doc_id per md5) semi-join;
  *  2. near-dup dedup — MinHash+LSH pairs → connected components →
  *     keep each cluster's min-id representative;
  *  3. quality + language floor (stopword-density score, n-gram langID);
  *  3b. per-domain document caps (synthetic registered-domain column,
  *     content-hash-smallest election — the tx27 operator);
  *  4. content-hash train/val split (duplicates can never straddle it);
  *  5. decontamination — drop TRAIN docs sharing any 8-gram with the
  *     val split (digest-level join, 32 B per shingle on the wire);
  *  6. write the curated corpus as parquet partitioned by split;
  *  7. write the per-document curation AUDIT (`outDir/audit` — tx35's
  *     explain surface: first-failing gate + shadowing-doc pointer),
  *     derived from the same stage frames the funnel ran.
  *
  * Every stage is one of the catalog's oracle-certified operators
  * (tx03/dd01/dd05/tx02/tx06/tx08/dd07/tx27) — this app adds orchestration,
  * not new semantics. All decisions are content-hash deterministic: a
  * re-run (or a 1000-executor run with different partitioning) produces
  * the byte-identical corpus.
  *
  * Scale shape: per-row expressions fuse into the scans; the shuffles
  * are the dedup digest aggregate, the LSH band exchange, the
  * component label-propagation rounds (lineage-truncated, see
  * [[graft.ops.Lineage]]), and the shingle-digest join — each the
  * catalog-audited shape, none carrying document text beyond the scan.
  *
  * Usage: `runMain graft.apps.Curate <sfDir> <outDir> [qualityFloor]`
  */
object Curate {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Curate <sfDir> <outDir> [qualityFloor]")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    val floor = args.lift(2).map(_.toDouble).getOrElse(0.1)
    val report = run(spark, args(0), args(1), floor)
    report.show(20, truncate = false)
    spark.stop()
  }

  /** Runs the curation DAG; writes `outDir/corpus` (parquet, partitioned
    * by split) and returns the per-stage survivor report. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          qualityFloor: Double = 0.1, domainCap: Int = 64): DataFrame = {
    import spark.implicits._
    val stopwords = Seq("the", "a")
    val docs = Tables.documents(spark, sfDir)

    // 1. exact dedup: one keeper per content digest
    val withDigest = docs.withColumn("h", md5($"text".cast("binary")))
    val exactKeepers = withDigest.groupBy($"h").agg(min($"doc_id").as("doc_id"))
    // Stage frames that BOTH feed the next stage AND are re-counted for
    // the survivor report are persisted: without the cache each count()
    // re-executes everything upstream of it (the digest aggregate and the
    // LSH pair generation would run ~4× per job — connectedComponents'
    // internal lineage cut pins only the label frame).
    val exact = withDigest.join(exactKeepers, Seq("h", "doc_id"), "left_semi").persist()

    // 2. near-dup dedup over the exact survivors: LSH pairs → components →
    //    cluster-min representative survives
    val pairs = Dedup.minHashDupPairs(exact, "doc_id", "text",
        shingleK = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5)
      .select($"id_a", $"id_b")
    val comps = Dedup.connectedComponents(pairs)
    val dropNearDups = comps.filter($"id" =!= $"comp")
      .select($"id".as("doc_id"))
    val deduped = exact.join(dropNearDups, Seq("doc_id"), "left_anti").persist()

    // 3. quality + language floor
    val scored = deduped
      .withColumn("quality_score", TextOps.qualityScore($"text", stopwords))
      .withColumn("predicted_lang", TextOps.languageId($"text"))
    val clean = scored.filter($"quality_score" >= qualityFloor &&
      $"predicted_lang" === "en").persist()

    // 3b. domain-aware caps (the tx27 operator — RefinedWeb/CCNet-style):
    //    a synthetic registered-domain column (hash of source + a 32-doc
    //    neighborhood, standing in for the URL host a web corpus
    //    carries), then at most `domainCap` survivors per domain, elected
    //    content-hash-smallest (the tx20 rule — no RNG, replay-stable).
    //    Domain-level exact dedup is subsumed by stage 1's global exact
    //    dedup. Only (domain, digest, id) cross the window exchange.
    val wCap = org.apache.spark.sql.expressions.Window
      .partitionBy($"domain").orderBy(md5($"text".cast("binary")), $"doc_id")
    val capped = clean
      .withColumn("domain", concat(lit("d"), substring(md5(
        concat($"source", lit(":"), expr("doc_id div 32").cast("string"))
          .cast("binary")), 1, 2)))
      .withColumn("domain_rank", row_number().over(wCap))
      .filter($"domain_rank" <= domainCap)
      .drop("domain_rank").persist()

    // 4. content-hash split (duplicates are already gone; the hash rule
    //    would keep any residual pair on one side regardless)
    val split = capped.withColumn("split", TextOps.contentSplit($"text", 0.9))

    // 5. decontamination: drop train docs sharing any 8-gram with val
    val sh = split.select($"doc_id", $"split",
        explode(array_distinct(TextOps.wordShingles($"text", 8))).as("s"))
      .select($"doc_id", $"split", md5($"s").as("sh"))
    val valSh = sh.filter($"split" === "val").select($"sh").distinct()
    val contaminated = sh.filter($"split" === "train")
      .join(valSh, Seq("sh"), "left_semi")
      .select($"doc_id").distinct()
    val curated = split.join(contaminated, Seq("doc_id"), "left_anti")

    // 6. write, partitioned by split (the layout a training run reads)
    curated
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars",
        $"quality_score", $"predicted_lang", $"domain", $"split")
      .write.mode("overwrite").partitionBy("split")
      .parquet(s"$outDir/corpus")

    // 7. the per-document curation AUDIT (tx35's explain surface, wired
    //    into the app): every input doc gets its FIRST-FAILING gate in
    //    the funnel's stage order plus the shadowing-doc pointer for the
    //    dup gates (the digest keeper / the component label; itself
    //    otherwise — a quality or cap drop has no single shadow). Built
    //    from the SAME stage frames the funnel ran, never recomputed, so
    //    the verdict counts are the stage deltas BY CONSTRUCTION —
    //    AppsSpec pins the equality. Note the pointer resolves among the
    //    survivors OF ITS GATE: a digest keeper may itself fall to a
    //    later gate, which is the funnel's semantics (same as tx35).
    val audit = withDigest.select($"doc_id", $"h")
      .join(exactKeepers.select($"h", $"doc_id".as("dk")), Seq("h"))
      .join(comps.select($"id".as("doc_id"), $"comp"), Seq("doc_id"), "left")
      .join(scored.select($"doc_id", $"quality_score", $"predicted_lang"),
        Seq("doc_id"), "left")
      .join(clean.select($"doc_id", lit(true).as("reached_cap")),
        Seq("doc_id"), "left")
      .join(capped.select($"doc_id", lit(true).as("survived_cap")),
        Seq("doc_id"), "left")
      .join(contaminated.select($"doc_id", lit(true).as("contam")),
        Seq("doc_id"), "left")
      .select($"doc_id",
        when($"doc_id" =!= $"dk", "exact_dup")
          .when($"comp".isNotNull && $"comp" =!= $"doc_id", "near_dup")
          .when($"quality_score" < qualityFloor, "low_quality")
          .when($"predicted_lang" =!= "en", "non_english")
          .when($"reached_cap".isNotNull && $"survived_cap".isNull,
            "domain_capped")
          .when($"contam".isNotNull, "contaminated")
          .otherwise("kept").as("drop_reason"),
        when($"doc_id" =!= $"dk", $"dk")
          .when($"comp".isNotNull, $"comp")
          .otherwise($"doc_id").as("keeper_id"))
    audit.write.mode("overwrite").parquet(s"$outDir/audit")

    val out = spark.read.parquet(s"$outDir/corpus")
    val report = Seq(
      ("0_input", docs.count()),
      ("1_exact_dedup", exact.count()),
      ("2_near_dedup", deduped.count()),
      ("3_quality_lang", clean.count()),
      ("3b_domain_cap", capped.count()),
      ("4_decontaminated", out.count()),
      ("4a_train", out.filter($"split" === "train").count()),
      ("4b_val", out.filter($"split" === "val").count()))
      .toDF("stage", "n_docs")
    Seq(exact, deduped, clean, capped).foreach(_.unpersist())
    report
  }
}
