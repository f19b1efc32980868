package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.Lineage.LineageOps
import graft.ops.TextOps
import QueryUtil._

/** Oracle-checked text-analysis surface over `documents`: stats, quality
  * scoring, exact dedup, bigram profiles, multimodal (binary) metadata.
  * All per-row except the dedup aggregate — linear scale-out. The
  * non-SQL-expressible text ops (MinHash/SimHash/fingerprint/language-ID)
  * are rows-only entries in [[PipelineQueries]].
  */
object TextQueries {

  /** Merge rounds for tx26/tx29 — fixed so the unrolled oracle and the
    * Spark loop agree by construction. */
  private[graft] val BpeRounds = 8

  /** Symbol delimiter for the BPE state encoding (unit separator — never
    * appears in corpus tokens). */
  private val BpeSep = ""

  /** The shared iterative-BPE training loop (tx26/tx29): N
    * driver-coordinated merge rounds over the word-frequency dictionary
    * (the pageRank loop pattern: per-round Spark job, 1-row driver pull,
    * lineage truncated each round via localCheckpoint). State is
    * vocab-bounded regardless of corpus size; each word's symbol
    * sequence is a delimiter-WRAPPED string (exclusive per-symbol
    * delimiters), so one `replace` applies a merge with exact greedy
    * left-to-right non-overlap semantics, identical in Spark and DuckDB
    * (TextOpsSpec pins the semantics; shared separators would eat the
    * next match's left context). Per round: adjacent-pair counts from
    * ONE hash aggregate over the vocabulary (weighted by word
    * frequency), the global best pair from a TakeOrderedAndProject
    * (count desc, pair asc — no full sort), then one per-row `replace`.
    *
    * @return (merge table rows, final vocabulary (w, wc, ws)) */
  private def bpeTrainLoop(s: org.apache.spark.sql.SparkSession, dir: String)
      : (Seq[(Long, String, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    val sep = BpeSep
    val sep2 = sep + sep
    var vocab = Tables.documents(s, dir)
      .select(explode(TextOps.tokens($"text")).as("w"))
      .filter(length($"w") >= 1)
      .groupBy($"w").agg(count(lit(1)).as("wc"))
      .select($"w", $"wc", expr(
        "substring(concat('', regexp_replace(w, '(?s)(.)', '$1')), " +
          "1, length(w) * 3)").as("ws"))
      .cutLineage()
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var r = 1
    var done = false
    while (r <= BpeRounds && !done) {
      val best = vocab
        .select($"wc",
          split(expr("substring(ws, 2, length(ws) - 2)"), sep2).as("sy"))
        .filter(size($"sy") >= 2)
        .select($"wc", explode(transform(
          sequence(lit(1), size($"sy") - 1),
          i => concat(element_at($"sy", i), lit(sep), element_at($"sy", i + 1))))
          .as("pair"))
        .groupBy($"pair").agg(sum($"wc").as("n"))
        .orderBy($"n".desc, $"pair")
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val pair = best(0).getString(0); val n = best(0).getLong(1)
        val Array(l, rr) = pair.split(sep)
        merges += ((r.toLong, l, rr, l + rr, n))
        vocab = vocab.select($"w", $"wc",
          replace($"ws", lit(sep + l + sep2 + rr + sep), lit(sep + l + rr + sep))
            .as("ws"))
          .cutLineage()
        r += 1
      }
    }
    (merges.result(), vocab)
  }

  /** One training pass per (session, dir, documents fingerprint):
    * tx26/tx29/tx32 all consume the same trained state, so the 8-round
    * driver-coordinated loop runs ONCE per session in a full bench
    * instead of three times (the [[Fixtures]] memo posture, including the
    * stale-data guard — the driver regenerates testdata in place between
    * rounds, so the key folds in the documents file fingerprint). The
    * session identity is part of the key because the cached vocabulary
    * is a localCheckpoint'd DataFrame: its blocks live on THIS session's
    * executors and must not leak across sessions. The identity used is
    * `sessionUUID` — STABLE and never reused, unlike an identity hash,
    * which the JVM can hand a later session after GC (serving a cached
    * DataFrame bound to a dead session) — and entries owned by a
    * stopped session are evicted on every access, so a long-lived JVM
    * that cycles sessions doesn't pin dead checkpoint blocks forever. */
  private val bpeMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.sql.SparkSession,
             (Seq[(Long, String, String, String, Long)], org.apache.spark.sql.DataFrame))]()

  private def sessionId(s: org.apache.spark.sql.SparkSession): String =
    org.apache.spark.sql.graftbridge.SessionBridge.sessionUUID(s)

  private def bpeTrained(s: org.apache.spark.sql.SparkSession, dir: String)
      : (Seq[(Long, String, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    val prefix = s"${sessionId(s)}|$dir|"
    val key = prefix + Tables.fingerprint(s, s"$dir/documents.parquet")
    // evictions, before every lookup: (a) same-prefix SUPERSEDED
    // fingerprints — the driver regenerates testdata in place between
    // rounds, and a stale entry pins its localCheckpoint'd blocks
    // forever while never being served again; (b) entries owned by a
    // STOPPED session — their blocks are already gone with the session,
    // and the map must not hold the session object for the JVM lifetime
    val it = bpeMemo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val k = e.getKey
      if (e.getValue._1.sparkContext.isStopped ||
        (k.startsWith(prefix) && k != key)) it.remove()
    }
    bpeMemo.computeIfAbsent(key, _ => (s, bpeTrainLoop(s, dir)))._2
  }

  private val Stopwords = Seq("the", "a")

  /** The tx33/tx34 WordPiece vocabulary fit, shared so the encode entry
    * and its round-trip twin certify the SAME artifact: every
    * per-position substring of length 2–4 of the distinct-word
    * dictionary, weighted by word count, top-48 by (weight desc, piece
    * asc) via TakeOrderedAndProject — a bounded driver artifact (the BPE
    * merge-table posture). Single characters are the implicit fallback
    * tier, so segmentation is total and lossless by construction. */
  private def wordpieceVocab(words: org.apache.spark.sql.DataFrame): Seq[String] = {
    import words.sparkSession.implicits._
    words
      .select($"wc", explode(expr(
        """flatten(transform(sequence(2, 4), L ->
          |  filter(transform(sequence(1, length(w)),
          |                   i -> substring(w, i, L)),
          |         p -> length(p) = L)))""".stripMargin)).as("piece"))
      .groupBy($"piece").agg(sum($"wc").as("wt"))
      .orderBy($"wt".desc, $"piece").limit(48)
      .select($"piece").collect().map(_.getString(0)).toSeq
  }

  val queries: Map[String, Q] = Map(
    // Token/char statistics — pure projection, stays in codegen.
    "tx01_text_stats" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(
        $"doc_id",
        length($"text").cast("long").as("n_chars"),
        TextOps.tokenCount($"text").as("n_tokens"),
        TextOps.distinctTokenCount($"text").as("n_distinct_tokens"),
        TextOps.estimatedBpeTokens($"text").as("est_bpe_tokens"))
        .orderBy($"doc_id")
    },

    // Stopword-density quality score (identical int arithmetic + one
    // float division on both engines — exact).
    "tx02_quality_scores" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(
        $"doc_id",
        size(filter(TextOps.tokens($"text"), t => t.isInCollection(Stopwords)))
          .cast("long").as("n_stopwords"),
        TextOps.qualityScore($"text", Stopwords).as("quality_score"))
        .orderBy($"doc_id")
    },

    // Exact dedup: hash-groupBy on content digest, keep lowest doc_id.
    // At 100 TB this is the standard first dedup pass: shuffle only the
    // 16-byte digest + id, never the documents themselves.
    "tx03_exact_dedup" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .groupBy(md5($"text".cast("binary")).as("text_hash"))
        .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
        .orderBy($"text_hash")
    },

    // Distinct adjacent-bigram counts (shingling primitive for Jaccard).
    "tx04_bigram_counts" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(
        $"doc_id",
        size(array_distinct(TextOps.wordBigrams($"text"))).cast("long")
          .as("n_distinct_bigrams"))
        .orderBy($"doc_id")
    },

    // Multimodal plumbing: opaque binary payload column + typed metadata
    // derived WITHOUT decoding — the cheap planning columns a catalog
    // keeps alongside the payload (real decode is mm01's codec boundary
    // in ops.Multimodal; this entry exercises the no-decode schema path).
    "tx05_binary_metadata" -> { (s, dir) =>
      import s.implicits._
      val nBytes = length($"text".cast("binary")).cast("long")
      Tables.documents(s, dir).select(
        $"doc_id",
        nBytes.as("n_bytes"),
        (nBytes % 640 + 1).as("fake_width"),
        ((nBytes * 7) % 480 + 1).as("fake_height"),
        (nBytes % 16).as("fake_frames"))
        .orderBy($"doc_id")
    },

    // Language-ID heuristic: argmax over per-profile stopword-overlap
    // scores, ties broken by greatest language code — the same argmax
    // cascade is expressed in the oracle, so the heuristic itself is
    // hash-checked.
    "tx06_language_id" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", TextOps.languageId($"text").as("predicted_lang"),
          $"lang".as("labeled_lang"))
        .orderBy($"doc_id")
    },

    // Deterministic content-hash train/val split (TextOps.contentSplit):
    // md5-of-text decides, so exact duplicates never straddle the split.
    "tx08_train_val_split" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", TextOps.contentSplit($"text", 0.9).as("split"))
        .orderBy($"doc_id")
    },

    // Group-aware train/val split (tx08's leakage-hardened sibling): the
    // cut hashes the SOURCE, not the content, so every document from a
    // source lands in one split — near-duplicates and templated text
    // inside a source can never straddle the train/val boundary (the
    // leakage mode a content-hash split cannot prevent). By construction
    // the (source, split) aggregate has exactly one row per source; the
    // oracle re-derives the same cut from md5(source).
    "tx17_grouped_split" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .withColumn("split",
          when(substring(md5($"source"), 1, 2) < "33", "val").otherwise("train"))
        .groupBy($"source", $"split")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"source", $"split")
    },

    // Sequence packing (the pretraining batch-construction step):
    // BPE MERGE CANDIDATES — the first iteration of byte-pair-encoding
    // tokenizer training, run the way real BPE trainers run it: over
    // the word-frequency DICTIONARY, not the raw corpus. One hash
    // aggregate collapses the corpus to (distinct word, count) — vocab-
    // bounded regardless of corpus size — then adjacent character pairs
    // explode over the VOCABULARY only, weighted by word frequency, and
    // the global top-20 merge candidates come out of a
    // TakeOrderedAndProject (no full sort). All exact integer counts;
    // ties broken by the pair string.
    "tx21_bpe_merge_candidates" -> { (s, dir) =>
      import s.implicits._
      val vocab = Tables.documents(s, dir)
        .select(explode(TextOps.tokens($"text")).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("wc"))
      vocab.filter(length($"w") >= 2)
        .select($"wc", explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy($"pair").agg(sum($"wc").as("n_occurrences"))
        .orderBy($"n_occurrences".desc, $"pair")
        .limit(20)
    },

    // Fixed-SIZE deterministic sampling — tx10's fixed-RATE complement
    // (eval sets, human-review batches, and probe corpora are specified
    // as "k docs per source", not a fraction): the k content-hash-
    // smallest docs of each source, ties broken by doc_id. No RNG —
    // replay-stable, duplicates sampled identically, and adding
    // UNRELATED docs to a source only evicts from the hash boundary.
    // Scale shape: one key-partitioned window (rank within source over
    // the md5 ordering) — a single shuffle on source; k is a constant,
    // so output is n_sources·k rows regardless of corpus size.
    "tx20_fixed_k_sample" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source")
        .orderBy($"h", $"doc_id")
      Tables.documents(s, dir)
        .select($"doc_id", $"source", $"n_chars",
          md5($"text".cast("binary")).as("h"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 5)
        .select($"source", $"rank", $"doc_id", $"n_chars")
        .orderBy($"source", $"rank")
    },

    // Source-mixture REBALANCING — the static form of the data-mixture
    // step every pretraining corpus goes through: derive per-source keep
    // rates that pull the token mix toward equal shares (rate =
    // min(1, target/src_tokens), target = total/n_sources), then apply
    // them with the tx08/tx10 content-hash rule (no RNG — duplicates
    // sampled identically, stable under repartition/replay). All rate
    // math is EXACT integer arithmetic: cut = min(256,
    // (256·total) div (n_sources·src)) quantizes the rate to 1/256ths
    // with floor division both engines compute identically — no float
    // ratio anywhere. Scale shape: two hash aggregates over the data
    // (token totals, post-sample report); the rate frame is
    // #sources rows, broadcast both ways; the keep test is one per-row
    // string compare fused into the scan.
    "tx19_mixture_rebalance" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select($"doc_id", $"text", $"source",
          TextOps.estimatedBpeTokens($"text").as("toks"))
      val per = docs.groupBy($"source").agg(sum($"toks").as("src_toks"))
      val tot = per.agg(sum($"src_toks").as("total_toks"),
        count(lit(1)).as("n_sources"))
      val rates = per.crossJoin(broadcast(tot))
        .select($"source", $"src_toks",
          least(lit(256L),
            expr("(256 * total_toks) div (n_sources * src_toks)")).as("cut"))
      val kept = docs.join(broadcast(rates), "source")
        .filter(concat(lit("0"), substring(md5($"text".cast("binary")), 1, 2))
          < format_string("%03x", $"cut"))
      val keptAgg = kept.groupBy($"source")
        .agg(count(lit(1)).as("n_docs_after"), sum($"toks").as("toks_after"))
      rates.select($"source", $"src_toks".as("toks_before"), $"cut")
        .join(broadcast(keptAgg), Seq("source"), "left")
        .select($"source", $"toks_before", $"cut",
          coalesce($"n_docs_after", lit(0L)).as("n_docs_after"),
          coalesce($"toks_after", lit(0L)).as("toks_after"))
        .orderBy($"source")
    },

    // documents concatenated in doc_id order and cut into fixed
    // 512-token context windows, reported as per-window composition
    // (docs touching the window / docs starting in it). The global
    // token offset is a distributed THREE-level prefix sum with every
    // level bounded: (1) per-bucket token totals from ONE hash
    // aggregate (bucket = doc_id div 64); (2) buckets striped into
    // ≤256 ORDERED stripes (stripe = bucket div width, width from a
    // broadcast 1-row max — monotone in bucket, so stripe order ≡
    // bucket order), stripe offsets from the tx24/q33 broadcast
    // theta-join over the ≤256-row stripe frame, bucket bases from a
    // window partitioned BY STRIPE (≤ n_buckets/256 rows per
    // partition, never one global partition); (3) a per-bucket
    // key-partitioned cumsum whose shuffle is REUSED by the
    // bucket-keyed join. No single-partition pass and no
    // corpus-growing broadcast anywhere — the naive
    // `sum() over (order by doc_id)` would serialize 100 TB through
    // one task. Window spans fan out via bounded `sequence()` (span ≤
    // ⌈n_tok/512⌉+1). TextOpsSpec pins the striped offsets ≡ the
    // naive global cumsum.
    "tx18_sequence_packing" -> { (s, dir) =>
      import s.implicits._
      val perDoc = Tables.documents(s, dir)
        .select($"doc_id", TextOps.estimatedBpeTokens($"text").as("n_tok"))
        .filter($"n_tok" > 0)
        .withColumn("bucket", expr("doc_id div 64"))
      val bucketTok = perDoc.groupBy($"bucket").agg(sum($"n_tok").as("btok"))
      // ≤256 ordered stripes; exact integer arithmetic, no overflow
      val width = bucketTok.agg(expr("max(bucket) div 256 + 1").as("w"))
      val striped = bucketTok.crossJoin(broadcast(width))
        .withColumn("stripe", expr("bucket div w"))
      val stripeTot = striped.groupBy($"stripe").agg(sum($"btok").as("stok"))
      val stripeOff = stripeTot
        .join(broadcast(stripeTot.select($"stripe".as("p_stripe"), $"stok".as("p_stok"))),
          $"p_stripe" < $"stripe", "left")
        .groupBy($"stripe").agg(coalesce(sum($"p_stok"), lit(0L)).as("soff"))
      val bucketBase = striped.join(broadcast(stripeOff), "stripe")
        .withColumn("base", $"soff" + coalesce(sum($"btok").over(
          Window.partitionBy($"stripe").orderBy($"bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select($"bucket", $"base")
      val offsets = perDoc.join(bucketBase, "bucket")
        .withColumn("start_tok", $"base" +
          coalesce(sum($"n_tok").over(
            Window.partitionBy($"bucket").orderBy($"doc_id")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("first_win", expr("start_tok div 512"))
        .withColumn("last_win", expr("(start_tok + n_tok - 1) div 512"))
      offsets
        .select($"first_win",
          explode(sequence($"first_win", $"last_win")).as("window_id"))
        .groupBy($"window_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"window_id" === $"first_win", 1L).otherwise(0L)).as("n_starts"))
        .orderBy($"window_id")
    },

    // Stratified downsampling by language (the training-data-mix
    // primitive): keep 25% of English, 50% of Spanish, everything else —
    // decided by content hash, so it is deterministic under replay and
    // duplicates are sampled identically.
    "tx10_stratified_sample" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .filter(TextOps.stratifiedKeep($"text", $"lang",
          Map("en" -> 0.25, "es" -> 0.5), defaultFrac = 1.0))
        .select($"doc_id", $"lang")
        .orderBy($"doc_id")
    },

    // Flagship composition — the corpus-curation pipeline the library
    // exists for, as ONE declarative plan Catalyst optimizes end-to-end:
    // exact-dedup keeper selection (digest aggregate + semi-join on the
    // 16-byte hash) → quality floor → language filter → content-hash
    // train/val split. Per-row ops fuse into the scan stage; the only
    // shuffle is the dedup aggregate.
    "tx09_corpus_curation" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .withColumn("h", md5($"text".cast("binary")))
      val keepers = docs.groupBy($"h").agg(min($"doc_id").as("doc_id"))
      docs.join(keepers, Seq("h", "doc_id"), "left_semi")
        .filter(TextOps.qualityScore($"text", Stopwords) >= 0.1 &&
          TextOps.languageId($"text") === "en")
        .select($"doc_id",
          TextOps.qualityScore($"text", Stopwords).as("quality_score"),
          TextOps.tokenCount($"text").as("n_tokens"),
          TextOps.contentSplit($"text", 0.9).as("split"))
        .orderBy($"doc_id")
    },

    // tx09's EXPLAIN twin — the per-document curation AUDIT every
    // production corpus build owes its users: not just which docs
    // survived, but WHY each one dropped (the first failing gate in the
    // pipeline's fixed rule order) and WHICH doc shadows it. Verdicts,
    // in order: exact_dup (not its digest group's min-id keeper),
    // near_dup (an exact keeper whose J≥0.5 component elects a smaller
    // member — dd01's LSH params; dd01/dd15's green rows certify the
    // capped-LSH pair set equals exact Jaccard on this corpus, and the
    // oracle replays exact Jaccard + a recursive-CTE closure), then
    // low_quality, then non_english, else kept. keeper_id = the digest
    // keeper / the component label / itself — the actionable "replace
    // me with" pointer. Scale shape: the gates are tx09's single fused
    // scan + one dedup aggregate; near-dup adds dd01's banded-capped
    // pair generation + node-sized component propagation, never the
    // text on a shuffle.
    "tx35_curation_audit" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .withColumn("h", md5($"text".cast("binary")))
      val keepers = docs.groupBy($"h").agg(min($"doc_id").as("keeper_id"))
      val tagged = docs.join(keepers, Seq("h"))
      val exactKeepers = tagged.filter($"doc_id" === $"keeper_id")
        .select($"doc_id", $"text")
      // the audit is an EXPLAINABILITY surface, not a scale benchmark:
      // the bucket cap is lifted (vs dd01's production 64) so a future
      // corpus with one degenerate band bucket cannot silently diverge
      // the verdict column from the oracle's exact-Jaccard replay — the
      // capped-LSH ≡ exact equivalence dd01/dd15 certify stays a property
      // of the PRODUCTION path, not a precondition of the audit
      val pairs = graft.ops.Dedup.minHashDupPairs(exactKeepers, "doc_id",
          "text", shingleK = 3, numBands = 8, rowsPerBand = 4,
          threshold = 0.5, maxBucket = Int.MaxValue)
        .select($"id_a", $"id_b")
      val comps = graft.ops.Dedup.connectedComponents(pairs)
        .select($"id".as("doc_id"), $"comp")
      tagged
        .join(comps, Seq("doc_id"), "left")
        .select($"doc_id",
          when($"doc_id" =!= $"keeper_id", "exact_dup")
            .when($"comp".isNotNull && $"comp" =!= $"doc_id", "near_dup")
            .when(TextOps.qualityScore($"text", Stopwords) < 0.1, "low_quality")
            .when(TextOps.languageId($"text") =!= "en", "non_english")
            .otherwise("kept").as("drop_reason"),
          when($"doc_id" =!= $"keeper_id", $"keeper_id")
            .when($"comp".isNotNull, $"comp")
            .otherwise($"doc_id").as("keeper_id"))
        .orderBy($"doc_id")
    },

    // TF-IDF top-5 terms per document. Corpus size reaches the scorer as
    // a broadcast 1-row aggregate (never a global window — that would
    // collapse to one partition); term document-frequency is a second
    // aggregate over the tf frame, joined back on the term key. Ranking
    // sorts on the ROUNDED score (round 6) so a last-ulp difference in
    // the two engines' ln() can never flip a rank, with the term string
    // as the deterministic tie-break.
    "tx12_tfidf_top_terms" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val tf = docs
        .select($"doc_id", explode(TextOps.tokens($"text")).as("term"))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term")
      tf.join(df, "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("score", round($"tf" * log($"n_docs" / $"df"), 6))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter($"rn" <= 5)
        .select($"doc_id", $"rn", $"term", $"tf", $"df", $"score")
        .orderBy($"doc_id", $"rn")
    },

    // Decontamination — the eval-overlap gate every training-data
    // pipeline needs: count, per train-split document, the distinct
    // 8-grams it shares with ANY val-split document (tx08's content-hash
    // split, so exact duplicates never straddle the split). Both sides
    // shuffle only (id, md5-of-shingle) pairs — 32 B per shingle, never
    // the text; the verbatim-shingle twin for production is
    // Dedup.shingleHashes (8 B). Output = contaminated train docs only.
    "dd07_decontamination" -> { (s, dir) =>
      import s.implicits._
      // 8-grams as 64-bit xxhash values from the native one-pass codegen
      // kernel (was: three interpreted HOFs building 8-word STRINGS,
      // then md5 → 16 B keys). Join counts are digest-agnostic absent a
      // collision, and a collision would change a per-doc count and
      // flip the oracle compare red (the oracle recomputes the counts
      // from md5-of-string shingles independently) — the self-checking
      // digest posture. Docs under 8 tokens are excluded up front to
      // match the string kernel's empty-array convention.
      val sh = Tables.documents(s, dir)
        .withColumn("split", TextOps.contentSplit($"text", 0.9))
        .withColumn("_toks", TextOps.tokens($"text"))
        .filter(size($"_toks") >= 8)
        .select($"doc_id", $"split",
          explode(graft.ops.Dedup.shingleHashes($"_toks", 8)).as("h"))
      val trainSh = sh.filter($"split" === "train").select($"doc_id", $"h")
      val valSh = sh.filter($"split" === "val").select($"h").distinct()
      trainSh.join(valSh, "h")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_shared_8grams"))
        .orderBy($"doc_id")
    },

    // dd07 with a BLOOM PREFILTER — the runtime-filter posture for the
    // regime where the eval-side hash set outgrows the broadcast limit.
    // At broadcastable eval sizes AQE already protects dd07 (the val
    // hash set broadcasts; train shingles never cross an exchange — the
    // measured sf0.1 shuffle profile in SCALE.md). But an eval suite of
    // billions of 8-grams stops broadcasting, dd07's join degrades to a
    // full train-side exchange, and THAT is when a Bloom distillation of
    // the val set (numBits/8 bytes regardless of row count; duplicates
    // are free, so it builds over the RAW val hash stream with no
    // distinct shuffle — one partial-agg pass) keeps the exchange
    // ∝ candidates: the codegen might_contain probe drops ~(1-fpp) of
    // non-matching train shingles BELOW the join's exchange. Measured
    // with broadcast forced off (SCALE.md): the train-side exchange
    // shrinks from the full shingle stream to the contaminated sliver.
    // The ANSWER IS EXACTLY dd07's — Bloom filters have no false
    // negatives, and the exact verify join removes the false positives —
    // so the oracle is dd07's SQL. bloom_pruned_ok (1-row broadcast
    // scalar attach) certifies the prefilter genuinely pruned rather
    // than passing everything.
    "dd18_bloom_decontaminate" -> { (s, dir) =>
      import s.implicits._
      // The shingle frame is PERSISTED: the sizing count, the Bloom
      // build, the prune certificate, and the candidate join are four
      // separate actions, and without the cache each re-executes the
      // documents scan + tokenize + shingle lineage — at 100 TB the
      // tokenize IS the dominant cost, so the corpus must be read once.
      // MEMORY_AND_DISK: a shingle frame at scale outgrows executor
      // memory and must spill, not recompute. The blocks are reclaimed
      // by the ContextCleaner once the result frame is dropped.
      val sh = Tables.documents(s, dir)
        .withColumn("split", TextOps.contentSplit($"text", 0.9))
        .withColumn("_toks", TextOps.tokens($"text"))
        .filter(size($"_toks") >= 8)
        .select($"doc_id", $"split",
          explode(graft.ops.Dedup.shingleHashes($"_toks", 8)).as("h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val valShRaw = sh.filter($"split" === "val").select($"h")
      // sizing count: partial-agg action (1 row per partition crosses the
      // wire); raw instance count ≥ distinct count, so the bloom is sized
      // safely — a Bloom over-sized by the duplication factor only gains
      // accuracy, never loses it
      val bloom = graft.ops.Sketches.bloomBytes(
        valShRaw, "h", expectedItems = valShRaw.count(), fpp = 0.01)
      val trainSh = sh.filter($"split" === "train").select($"doc_id", $"h")
      val cand = trainSh.filter(graft.ops.Sketches.mightContain(bloom, $"h"))
      // both cert counts from ONE tokenize+shingle pass (a separate
      // cand.agg would re-run the whole corpus pipeline a second time)
      val cert = trainSh.agg(count(lit(1)).as("n_train"),
          sum(when(graft.ops.Sketches.mightContain(bloom, $"h"), 1L)
            .otherwise(0L)).as("n_cand"))
        .select(when($"n_cand" < $"n_train", 1L).otherwise(0L)
          .as("bloom_pruned_ok"))
      cand.join(valShRaw.distinct(), "h")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_shared_8grams"))
        .crossJoin(broadcast(cert))
        .orderBy($"doc_id")
    },

    // Repetition quality metrics (the Gopher-rule family): duplicate-
    // bigram fraction and top-token mass per document, plus the boolean
    // gate a curation pipeline would filter on. The token-mode side runs
    // as two hash aggregates (doc×term, then doc); the bigram side is
    // pure per-row array math fused into the same scan. All fractions
    // divide exact integer counts — identical doubles in both engines.
    "tx13_repetition_metrics" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val top = docs.select($"doc_id", explode(TextOps.tokens($"text")).as("term"))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id").agg(max($"c").as("top_tf"), sum($"c").as("n_tokens"))
      val bg = docs.select($"doc_id",
        size(TextOps.wordBigrams($"text")).cast("long").as("n_bigrams"),
        size(array_distinct(TextOps.wordBigrams($"text"))).cast("long")
          .as("n_distinct_bigrams"))
      top.join(bg, "doc_id")
        .select($"doc_id",
          ($"top_tf" / $"n_tokens").as("top_token_frac"),
          when($"n_bigrams" > 0, lit(1.0) - $"n_distinct_bigrams" / $"n_bigrams")
            .otherwise(0.0).as("dup_bigram_frac"),
          when($"top_tf" / $"n_tokens" > 0.2 ||
            ($"n_bigrams" > 0 && lit(1.0) - $"n_distinct_bigrams" / $"n_bigrams" > 0.2),
            1L).otherwise(0L).as("repetitive"))
        .orderBy($"doc_id")
    },

    // Corpus vocabulary statistics per language — the reporting a
    // training-data mix decision reads: vocabulary size, hapax count
    // (terms seen exactly once — the Zipf tail), token volume, and
    // type-token ratio. Two stacked hash aggregates ((lang, term) then
    // lang); the ratio divides exact integer counts.
    "tx14_vocab_stats" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .select($"lang", explode(TextOps.tokens($"text")).as("term"))
        .groupBy($"lang", $"term").agg(count(lit(1)).as("tf"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("vocab_size"),
          sum(when($"tf" === 1, 1L).otherwise(0L)).as("hapax_count"),
          sum($"tf").as("n_tokens"))
        .select($"lang", $"vocab_size", $"hapax_count", $"n_tokens",
          ($"vocab_size".cast("double") / $"n_tokens").as("type_token_ratio"))
        .orderBy($"lang")
    },

    // Long-document selection through the TextMetaRewrite optimizer rule
    // (graft.plans): the filter is WRITTEN as `length(text) > 400`, but
    // under `spark.graft.textMetaRewrite=true` (set by GraftSession)
    // the injected rule substitutes the materialized `n_chars`
    // twin — the predicate reaches the parquet scan as a pushed long
    // comparison and the aggregate never reads the text column at all
    // (both pinned in ExtensionsSpec). The oracle measures the REAL
    // length, so the hash match also re-proves the n_chars contract.
    "tx16_meta_pruned_filter" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .filter(length($"text") > 400)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("sum_chars"))
        .orderBy($"lang")
    },

    // LLM-prep chunking plan: each document cut into fixed token-budget
    // chunks (64 tokens, stride 48 → 16-token overlap), emitted as
    // (doc_id, chunk_idx, tok_start, tok_end) offsets. Pure per-row
    // integer math + sequence/explode — no shuffle, output bounded by
    // total-tokens/stride. At 100 TB this is the map-side pass that
    // feeds tokenization; offsets (not substrings) keep the shuffle
    // payload at 24 bytes/chunk instead of the text itself.
    "tx15_doc_chunks" -> { (s, dir) =>
      import s.implicits._
      val size = 64; val stride = 48
      Tables.documents(s, dir)
        .select($"doc_id", TextOps.tokenCount($"text").as("n_tokens"))
        .withColumn("n_chunks",
          when($"n_tokens" <= size, 1L).otherwise(
            lit(1L) + expr(s"(n_tokens - ${size - stride + 1}) div $stride")))
        .select($"doc_id", $"n_tokens",
          explode(sequence(lit(0L), $"n_chunks" - 1)).as("chunk_idx"))
        .select($"doc_id", $"chunk_idx",
          ($"chunk_idx" * stride).as("tok_start"),
          least($"chunk_idx" * stride + size, $"n_tokens").as("tok_end"))
        .orderBy($"doc_id", $"chunk_idx")
    },

    // Multimodal: deterministic frame-sampling plan for (fake) video
    // payloads — every 10th frame, capped at 16, as pure column math (no
    // decode); one row per sampled frame.
    "mm02_frame_sampling" -> { (s, dir) =>
      import s.implicits._
      val nFrames = ($"n_chars" % 1000).cast("int")
      Tables.documents(s, dir).select(
        $"doc_id",
        explode(graft.ops.Multimodal.frameSamplePlan(nFrames, stride = 10, maxFrames = 16)
          .cast("array<long>")).as("frame_idx"))
        .orderBy($"doc_id", $"frame_idx")
    },

    // Multimodal: ViT-style preprocessing plan from REAL decoded image
    // metadata (mm01's per-partition codec boundary): aspect-preserving
    // resize of the longest side to 224 (integer floor division — the
    // deterministic resize plan, no resampling), then a 16×16 patch
    // grid (ceil division) with the vision-token estimate capped at a
    // 196-token budget. Everything after the decode is exact integer
    // column math — the planning pass a vision-training pipeline runs
    // to budget sequence lengths before touching pixels.
    "mm03_patch_grid" -> { (s, dir) =>
      import s.implicits._
      graft.ops.Multimodal.decodeMeta(
          graft.ops.Multimodal.withPayload(Tables.documents(s, dir)))
        .select($"doc_id", $"width".cast("long").as("width"),
          $"height".cast("long").as("height"))
        .withColumn("rs_w", expr("(width * 224) div greatest(width, height)"))
        .withColumn("rs_h", expr("(height * 224) div greatest(width, height)"))
        .withColumn("patches_x", expr("(rs_w + 15) div 16"))
        .withColumn("patches_y", expr("(rs_h + 15) div 16"))
        .withColumn("n_patches", $"patches_x" * $"patches_y")
        .withColumn("n_tokens", least($"n_patches", lit(196L)))
        .orderBy($"doc_id")
    },

    // PII detection + redaction — the scrub stage every curation pipeline
    // runs before training (emails, phone numbers, IPv4s). Pure per-row
    // regexp projection: embarrassingly parallel, no shuffle besides the
    // 1-row premise attach, stays in codegen. The driver corpus contains
    // no digits/'@' at any SF (premise column base_pii_docs, expected 0,
    // is DATA-DERIVED on both engines), so detection+redaction are
    // certified on a deterministic injected fixture — the dd12 pattern.
    // Identical Java-regex/RE2 subset on both engines (char classes,
    // bounded counts, \b) so the DuckDB oracle replays it exactly.
    "tx22_pii_redaction" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir).select($"doc_id", $"text")
      val inj = PiiFixture.toDF("doc_id", "text")
      val all = docs.unionByName(inj)
      val hits = all.select(
        $"doc_id", $"text",
        size(regexp_extract_all($"text", lit(PiiEmailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all($"text", lit(PiiPhoneRe), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all($"text", lit(PiiIpRe), lit(0)))
          .cast("long").as("n_ips"))
      val basePii = hits.filter($"doc_id" < PiiInjBase)
        .agg(sum(when($"n_emails" + $"n_phones" + $"n_ips" > 0, 1L)
          .otherwise(0L)).as("base_pii_docs"))
      hits.filter($"n_emails" + $"n_phones" + $"n_ips" > 0)
        .withColumn("redacted_md5", md5(
          regexp_replace(
            regexp_replace(
              regexp_replace($"text", PiiEmailRe, "<EMAIL>"),
              PiiIpRe, "<IP>"),
            PiiPhoneRe, "<PHONE>")))
        .drop("text")
        .crossJoin(broadcast(basePii))
        .orderBy($"doc_id")
    },

    // Substring-level duplication coverage — exact-substring dedup at
    // word granularity (the "train on each substring once" posture of
    // suffix-array dedup, reference-free): a token position is
    // "duplicated" when ANY 8-gram covering its document occurs in at
    // least one OTHER document. Positional 8-grams are md5-hashed before
    // the shuffle (16 B + position, never text); cross-doc hashes come
    // from one hash aggregate; the per-doc token coverage is an interval
    // union computed as a running-max sweep WITHIN each doc's window —
    // all-integer arithmetic, partitioned by doc, no global state. At
    // 100 TB this is two hash shuffles over fixed-width rows; the window
    // holds only one doc's duplicated-gram starts.
    "dd14_duplicate_spans" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir).select($"doc_id", $"text")
      val grams = docs
        .select($"doc_id", TextOps.tokens($"text").as("t"))
        .filter(size($"t") >= 8)
        .select($"doc_id", explode(transform(
          sequence(lit(1), size($"t") - 7),
          i => struct(i.cast("long").as("s"),
            md5(array_join(slice($"t", i, lit(8)), " ")).as("h")))).as("g"))
        .select($"doc_id", $"g.s".as("s"), $"g.h".as("h"))
      val dup = grams.groupBy($"h")
        .agg(countDistinct($"doc_id").as("nd"))
        .filter($"nd" >= 2).select($"h")
      val cov = TextOps.intervalUnionLength(
          grams.join(dup, "h").select($"doc_id", $"s", ($"s" + 7L).as("e")),
          "doc_id", "s", "e")
        .select($"key".as("doc_id"), $"covered".as("dup_tokens"))
      docs.select($"doc_id", TextOps.tokenCount($"text").as("n_tokens"))
        .join(cov, Seq("doc_id"), "left")
        .select($"doc_id", $"n_tokens",
          coalesce($"dup_tokens", lit(0L)).as("dup_tokens"))
        .withColumn("dup_frac", $"dup_tokens".cast("double") / $"n_tokens")
        .orderBy($"doc_id")
    },

    // Unigram-LM quality proxy — score every document against the
    // CORPUS-WIDE unigram distribution (the statistical-quality filter a
    // curation pipeline runs where a trained LM perplexity model would
    // sit): tokens whose corpus frequency is ≤ 2 are "rare", and a
    // document that is mostly rare tokens is flagged. Two hash
    // aggregates + one term-keyed hash join; every fraction divides
    // exact integer counts, so both engines produce identical doubles.
    "tx23_rare_word_score" -> { (s, dir) =>
      import s.implicits._
      val tok = Tables.documents(s, dir)
        .select($"doc_id", explode(TextOps.tokens($"text")).as("term"))
      val freq = tok.groupBy($"term").agg(count(lit(1)).as("cf"))
      tok.join(freq, "term")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when($"cf" <= 2, 1L).otherwise(0L)).as("n_rare"))
        .withColumn("rare_frac", $"n_rare".cast("double") / $"n_tokens")
        .withColumn("low_quality",
          when($"rare_frac" > 0.5, 1L).otherwise(0L))
        .orderBy($"doc_id")
    },

    // Deterministic global shuffle — the pretraining data-ordering op: a
    // seeded, content-keyed permutation of the corpus with a global
    // position and round-robin shard assignment, reproducible across
    // engines and runs (md5 of seed+id, not an RNG). The global index is
    // the q33 two-level stripe pattern: ranks are windowed WITHIN the
    // 256 md5 stripes, stripe offsets come from a broadcast self-join
    // over the 256-row stripe-count frame — no unpartitioned window, no
    // zipWithIndex, no driver loop at any corpus size.
    "tx24_deterministic_shuffle" -> { (s, dir) =>
      import s.implicits._
      val keyed = Tables.documents(s, dir)
        .select($"doc_id",
          md5(concat(lit("graft-shuffle-42:"), $"doc_id".cast("string"))).as("h"))
        .withColumn("stripe", substring($"h", 1, 2))
      val totals = keyed.groupBy($"stripe").agg(count(lit(1)).as("sc"))
      val offsets = totals
        .join(broadcast(totals.select($"stripe".as("p_stripe"), $"sc".as("p_sc"))),
          $"p_stripe" < $"stripe", "left")
        .groupBy($"stripe")
        .agg(coalesce(sum($"p_sc"), lit(0L)).as("off"))
      val wr = Window.partitionBy($"stripe").orderBy($"h", $"doc_id")
      keyed.join(broadcast(offsets), "stripe")
        .withColumn("pos", $"off" + row_number().over(wr))
        .select($"pos", (($"pos" - 1L) % 8L).as("shard"), $"doc_id")
        .orderBy($"pos")
    },

    // Perplexity-style LM quality filter (the CCNet/RedPajama curation
    // shape): an add-one-smoothed trigram model trained on the corpus
    // ITSELF scores every document, and documents whose mean inverse
    // trigram probability exceeds 1.1× the corpus mean are flagged.
    // Formulated entirely in exact integer arithmetic so the oracle is
    // bit-exact: the smoothed inverse probability
    // (c_bigram + V) div (c_trigram + 1) stands in for −log p (same
    // ordering signal, no transcendental), because a per-doc float
    // log-sum would be accumulation-order-dependent across engines; the
    // flag compares FLOOR averages by cross-multiplication, and the bar
    // is data-derived (corpus mean), so it transfers across scale
    // factors where a fixed constant would not (V grows with the
    // corpus). Scale shape: one trigram explode (rows = corpus tokens),
    // trigram/bigram counts as two hash aggregates keyed by md5 digests
    // (raw text never crosses an exchange), vocab and corpus totals as
    // broadcast 1-row aggregates; docs with <3 tokens have no trigrams
    // and are excluded on both engines.
    "tx25_lm_quality_filter" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val tri = docs
        .select($"doc_id", TextOps.tokens($"text").as("w"))
        .filter(size($"w") >= 3)
        .select($"doc_id", explode(transform(
          sequence(lit(1), size($"w") - 2),
          i => struct(
            md5(concat_ws(" ", slice($"w", i, lit(3))).cast("binary")).as("tg"),
            md5(concat_ws(" ", slice($"w", i, lit(2))).cast("binary")).as("bg")))).as("g"))
        .select($"doc_id", $"g.tg".as("tg"), $"g.bg".as("bg"))
        // checkpointed: three consumers (c3, c2, per) shuffle on three
        // different keys — no exchange reuse, so uncut the tokenize+
        // explode+digest pipeline would run once per consumer
        .cutLineage()
      val c3 = tri.groupBy($"tg").agg(count(lit(1)).as("c3"))
      val c2 = tri.groupBy($"bg").agg(count(lit(1)).as("c2"))
      val vocab = docs.select(explode(TextOps.tokens($"text")).as("tok"))
        .agg(countDistinct($"tok").as("v"))
      val per = tri.join(c3, "tg").join(c2, "bg")
        .crossJoin(broadcast(vocab))
        .select($"doc_id", expr("(c2 + v) div (c3 + 1)").as("inv_p"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_trigrams"), sum($"inv_p").as("sum_inv_p"))
      val tot = per.agg(
        expr("sum(sum_inv_p) div sum(n_trigrams)").as("corpus_floor_avg"))
      per.crossJoin(broadcast(tot))
        .select($"doc_id", $"n_trigrams", $"sum_inv_p",
          when(expr("(sum_inv_p div n_trigrams) * 10") > $"corpus_floor_avg" * 11,
            1L).otherwise(0L).as("low_quality"))
        .orderBy($"doc_id")
    },

    // ITERATIVE BPE TOKENIZER TRAINING — tx21's single merge iteration
    // extended to the full driver-coordinated training loop real BPE
    // trainers run (the pageRank loop pattern: per-round Spark job,
    // 1-row driver pull, lineage truncated each round). State is the
    // word-frequency DICTIONARY (vocab-bounded regardless of corpus
    // size) with each word's current symbol sequence encoded as a
    // delimiter-wrapped string (""-wrapped symbols, so one
    // `replace` call applies a merge with exact greedy left-to-right
    // non-overlap semantics — identical in Spark and DuckDB). Per
    // round: adjacent-pair counts from ONE hash aggregate over the
    // vocabulary (weighted by word frequency), global best pair from a
    // TakeOrderedAndProject (count desc, pair asc — no full sort), then
    // one per-row `replace` applies the merge everywhere. The oracle is
    // a full UNROLLED replay: 8 chained CTE rounds recomputing the
    // identical pair counts, argmax, and merge — bit-exact or red.
    "tx26_bpe_train" -> { (s, dir) =>
      import s.implicits._
      bpeTrained(s, dir)._1
        .toDF("round", "lhs", "rhs", "merged", "n_occurrences")
        .orderBy($"round")
    },

    // BPE ENCODING with the trained merges — tx26's train→APPLY pair,
    // run the scale-correct way: the learned merge sequence is applied
    // to the VOCABULARY (bounded — one replace per merge round over
    // distinct words), and the corpus is encoded by a broadcast join of
    // its token stream against the (word → symbol count) dictionary: no
    // per-document merge scans, corpus cost is one explode + one
    // broadcast hash join + one hash aggregate regardless of rounds.
    // Output: per-doc BPE token counts under the learned vocab, with
    // the whitespace-token count alongside (compression visible). The
    // oracle replays the full train loop UNROLLED and the same
    // dictionary join.
    "tx29_bpe_encode" -> { (s, dir) =>
      import s.implicits._
      val vocab = bpeTrained(s, dir)._2
      val perWord = vocab.select($"w",
        size(split(expr("substring(ws, 2, length(ws) - 2)"), BpeSep + BpeSep))
          .cast("long").as("n_sym"))
      Tables.documents(s, dir)
        .select($"doc_id", explode(TextOps.tokens($"text")).as("w"))
        .filter(length($"w") >= 1)
        .join(broadcast(perWord), "w")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"), sum($"n_sym").as("n_bpe_tokens"))
        .orderBy($"doc_id")
    },

    // BPE DECODE round-trip — the losslessness certificate that closes
    // the tokenizer loop (train tx26 → encode tx29 → DECODE): a
    // tokenizer you cannot invert corrupts every downstream corpus.
    // Decode is the inverse dictionary op: strip the symbol delimiters
    // from each vocab word's merged state and the result must equal the
    // original word BYTE-FOR-BYTE (vocab_lossless bit, an equality over
    // the bounded vocabulary). The per-doc tooth is n_decoded_chars:
    // Spark sums the lengths of the DECODED words through the encode →
    // decode dictionary, while the oracle sums raw token lengths with NO
    // BPE machinery at all — the two agree iff decode∘encode = id on
    // every corpus token. Same bounded-vocab + broadcast-join scale
    // shape as tx29 (corpus cost: one explode + one broadcast hash join
    // + one hash aggregate, independent of merge rounds).
    "tx32_bpe_decode_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val vocab = bpeTrained(s, dir)._2
      val decoded = vocab.select($"w",
        size(split(expr("substring(ws, 2, length(ws) - 2)"), BpeSep + BpeSep))
          .cast("long").as("n_sym"),
        replace($"ws", lit(BpeSep), lit("")).as("dec"))
      val cert = decoded.agg(
        min(($"dec" === $"w").cast("long")).as("vocab_lossless"))
      val perWord = decoded.select($"w", $"n_sym",
        length($"dec").cast("long").as("n_dec"))
      Tables.documents(s, dir)
        .select($"doc_id", explode(TextOps.tokens($"text")).as("w"))
        .filter(length($"w") >= 1)
        .join(broadcast(perWord), "w")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"), sum($"n_sym").as("n_bpe_tokens"),
          sum($"n_dec").as("n_decoded_chars"))
        .crossJoin(broadcast(cert))
        .orderBy($"doc_id")
    },

    // WordPiece-style tokenizer: greedy longest-match INFERENCE — the
    // other production tokenizer family next to BPE (tx26/tx29/tx32).
    // Vocabulary fit is one corpus-derived frequency selection: every
    // per-position substring of length 2–4 of the distinct-WORD
    // dictionary, weighted by word count, top-48 by (weight desc, piece
    // asc) via TakeOrderedAndProject — a bounded driver artifact (the
    // BPE merge-table posture); single characters are the implicit
    // fallback tier, so segmentation is total and lossless by
    // construction. Encoding runs the native codegen
    // `greedy_piece_count` over the DICTIONARY (vocab-bounded), then the
    // corpus pays one broadcast word→count join — identical scale shape
    // to tx29. The oracle replays both stages exactly: same candidate
    // weighting, same tie-break, and the greedy walk as a per-position
    // advance table + linear recursive descent (integer-only — no float
    // anywhere, so the compare is bit-exact).
    "tx33_wordpiece_encode" -> { (s, dir) =>
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select($"doc_id", explode(TextOps.tokens($"text")).as("w"))
        .filter(length($"w") >= 1)
      val words = toks.groupBy($"w").agg(count(lit(1)).as("wc"))
      val vocab = wordpieceVocab(words)
      val dict = words.select($"w",
        graft.functions.GreedySegment.pieceCountCol($"w", vocab)
          .as("n_pieces"),
        length($"w").cast("long").as("n_chars_w"))
      toks.join(broadcast(dict), "w")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum($"n_pieces").as("n_wp_tokens"),
          sum($"n_chars_w").as("n_chars"))
        .orderBy($"doc_id")
    },

    // tx33's ROUND-TRIP twin — the tx32 treatment, closing the WordPiece
    // family's loop the way BPE closed its: greedy segmentation is
    // lossless BY CONSTRUCTION (every piece is a slice of the word and
    // the walk always advances), so decode∘encode = id; this entry
    // certifies it under the oracle instead of trusting the argument.
    // The dictionary runs the native walk's decode side
    // (`greedy_decoded_len` — Σ code-point piece lengths through the
    // REAL segmentation), per doc Spark sums those decoded lengths,
    // while the oracle sums raw token lengths with NO segmentation
    // machinery at all — the hashes agree iff the walk consumed every
    // character of every corpus word exactly once. vocab_lossless
    // additionally pins the dictionary-level equality as a 1-row
    // broadcast scalar (the tx32 cert shape). Same scale posture as
    // tx33: the expression runs over the vocab-bounded dictionary, the
    // corpus pays one broadcast join + one hash aggregate.
    "tx34_wordpiece_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select($"doc_id", explode(TextOps.tokens($"text")).as("w"))
        .filter(length($"w") >= 1)
      val words = toks.groupBy($"w").agg(count(lit(1)).as("wc"))
      val vocab = wordpieceVocab(words)
      val dict = words.select($"w",
        graft.functions.GreedySegment.decodedLenCol($"w", vocab).as("n_dec"),
        length($"w").cast("long").as("n_chars_w"))
      val cert = dict.agg(
        min(($"n_dec" === $"n_chars_w").cast("long")).as("vocab_lossless"))
      toks.join(broadcast(dict.select($"w", $"n_dec")), "w")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum($"n_dec").as("n_decoded_chars"))
        .crossJoin(broadcast(cert))
        .orderBy($"doc_id")
    },

    // DOMAIN-AWARE CURATION — RefinedWeb/CCNet-style per-source-domain
    // caps: a synthetic registered-domain column (hash-derived from doc
    // metadata — source + a 32-doc neighborhood, standing in for the
    // URL host a web corpus carries), domain-level exact dedup (min
    // doc_id per (domain, content digest)), then a per-domain document
    // cap electing the k content-hash-smallest survivors (the tx20
    // rule: no RNG, replay-stable, duplicates elect identically).
    // Scale shape: text is dropped at the scan — only (domain, 16 B
    // digest, ids) cross the two key-partitioned window exchanges; the
    // cap is a constant, so output is ≤ n_domains·k rows.
    "tx27_domain_caps" -> { (s, dir) =>
      import s.implicits._
      val wDedup = org.apache.spark.sql.expressions.Window
        .partitionBy($"domain", $"h").orderBy($"doc_id")
      val wCap = org.apache.spark.sql.expressions.Window
        .partitionBy($"domain").orderBy($"h", $"doc_id")
      Tables.documents(s, dir)
        .select($"doc_id", $"n_chars",
          concat(lit("d"), substring(md5(
            concat($"source", lit(":"), expr("doc_id div 32").cast("string"))
              .cast("binary")), 1, 2)).as("domain"),
          md5($"text".cast("binary")).as("h"))
        .withColumn("rn", row_number().over(wDedup))
        .filter($"rn" === 1)
        .withColumn("rank", row_number().over(wCap).cast("long"))
        .filter($"rank" <= 8)
        .select($"domain", $"rank", $"doc_id", $"n_chars")
        .orderBy($"domain", $"rank")
    },

    // URL canonicalization + canonical-URL dedup — the crawl-curation
    // step that runs BEFORE content hashing: scheme/case/www/trailing-
    // slash/fragment/tracking-param variants of the same page collapse
    // onto one canonical key; path case and real query parameters are
    // preserved (mis-lowercasing the path or dropping `id=` would merge
    // distinct groups and break the hash — that is the tooth). The raw
    // URLs are a deterministic messy fixture over the tx27 domains
    // (scheme, WWW., trailing slash, utm_ params, fragments all vary by
    // doc_id residue; both engines construct them identically). One
    // hash-partitioned aggregate on the canonical key; the canonicalizer
    // itself is a pure codegen'd column chain (`TextOps.canonicalizeUrl`).
    "dd16_url_canonical" -> { (s, dir) =>
      import s.implicits._
      val domain = concat(lit("d"), substring(md5(
        concat($"source", lit(":"), expr("doc_id div 32").cast("string"))
          .cast("binary")), 1, 2))
      val raw = concat(
        when($"doc_id" % 3 === 0, "HTTP://").otherwise("https://"),
        when($"doc_id" % 2 === 0, "WWW.").otherwise(""),
        domain, lit(".example.com"),
        when($"doc_id" % 11 === 0, "/P").otherwise("/p"),
        ($"doc_id" % 16).cast("string"),
        when($"doc_id" % 5 === 0, "/").otherwise(""),
        when($"doc_id" % 4 === 0,
            concat(lit("?utm_source=feed&id="), (expr("doc_id div 4") % 2).cast("string")))
          .when($"doc_id" % 4 === 1,
            concat(lit("?id="), (expr("doc_id div 4") % 2).cast("string")))
          .otherwise(""),
        when($"doc_id" % 6 === 0, "#s").otherwise(""))
      Tables.documents(s, dir)
        .select($"doc_id", raw.as("raw_url"))
        .withColumn("canonical_url", TextOps.canonicalizeUrl($"raw_url"))
        .groupBy($"canonical_url")
        .agg(min($"doc_id").as("keeper_id"),
          count(lit(1)).as("n_copies"),
          countDistinct($"raw_url").as("n_raw_forms"))
        .orderBy($"canonical_url")
    },

    // Normalization-aware exact dedup — the cleaning pass between raw
    // crawl text and tx03's byte-exact hash: lowercase, punctuation →
    // space, whitespace collapse, trim; documents equal AFTER
    // normalization merge onto one keeper. The driver corpus is already
    // in normal form (500/500 texts distinct and normalization-stable at
    // every SF), so the merging behavior is certified on an injected
    // formatting-variant fixture (the tx22 pattern): four case/
    // punctuation/whitespace variants collapse to one group, a fifth
    // near-variant must NOT merge. Pure codegen projection + one hash
    // aggregate on the normalized key; n_changed counts rows the
    // normalizer actually rewrote (0 for every corpus row — data-derived
    // on both engines, not assumed).
    "tx30_normalized_dedup" -> { (s, dir) =>
      import s.implicits._
      val all = Tables.documents(s, dir).select($"doc_id", $"text")
        .unionByName(NormFixture.toDF("doc_id", "text"))
      all.withColumn("norm", trim(
          regexp_replace(
            regexp_replace(lower($"text"), "[^a-z0-9 ]", " "), " +", " ")))
        .groupBy(md5($"norm".cast("binary")).as("norm_hash"))
        .agg(min($"doc_id").as("keeper_id"),
          count(lit(1)).as("n_copies"),
          sum(when($"norm" =!= $"text", 1L).otherwise(0L)).as("n_changed"))
        .orderBy($"norm_hash")
    },

    // Compression-ratio quality signal — the Gopher/C4-family filter
    // that flags machine-generated or boilerplate text by how well it
    // DEFLATE-compresses. Per-doc deflate runs in a mapPartitions batch
    // (one Deflater per partition, reused — the codec-boundary shape of
    // mm01); the ratio is compressedBytes/rawBytes. Raw byte counts are
    // zlib-version-specific, so the oracle pins CERT BITS (the an03
    // contract) + an independent doc count, and TextOpsSpec pins the raw
    // measured ratios:
    //  - n_docs: corpus count + 2 injected fixture docs (DuckDB
    //    recomputes COUNT(*)+2);
    //  - ratio_bounds_ok: every ratio in (0, 1.2] — text never expands
    //    past the small header overhead at these lengths;
    //  - fixture_order_ok: an injected 60×-repeated-token doc compresses
    //    STRICTLY better than an injected all-distinct-token doc
    //    (deterministic by construction, corpus-independent);
    //  - corpus_signal_ok: corr(distinct-token fraction, ratio) > 0
    //    over the corpus — redundancy is what deflate removes, so the
    //    signal the filter ranks on actually exists in the data.
    "tx31_compression_ratio" -> { (s, dir) =>
      import s.implicits._
      val all = Tables.documents(s, dir).select($"doc_id", $"text")
        .unionByName(CompFixture.toDF("doc_id", "text"))
      val ratios = all.as[(Long, String)].mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](1 << 16)
        // the task-completion listener releases the native zlib stream on
        // EVERY exit path — full drain, limit/take partial consumption,
        // task failure mid-partition — where a drain-only hook would leak
        // the stream until finalization; the hasNext hook stays as an
        // eager release for the common full-drain case (end() is
        // idempotent)
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => deflater.end()))
        new Iterator[(Long, Long, Long)] {
          def hasNext: Boolean = {
            val more = it.hasNext
            if (!more) deflater.end()
            more
          }
          def next(): (Long, Long, Long) = {
            val (id, text) = it.next()
            val raw = text.getBytes("UTF-8")
            deflater.reset(); deflater.setInput(raw); deflater.finish()
            var n = 0
            while (!deflater.finished()) n += deflater.deflate(buf, 0, buf.length)
            (id, raw.length.toLong, n.toLong)
          }
        }
      }.toDF("doc_id", "raw_bytes", "comp_bytes")
        .withColumn("ratio", $"comp_bytes".cast("double") / $"raw_bytes")
      val toks = all.select($"doc_id",
        (size(array_distinct(TextOps.tokens($"text"))).cast("double") /
          size(TextOps.tokens($"text"))).as("distinct_frac"))
      ratios.join(toks, "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          min($"ratio").as("rmin"), max($"ratio").as("rmax"),
          corr(when($"doc_id" < CompInjBase, $"distinct_frac"),
            when($"doc_id" < CompInjBase, $"ratio")).as("c"),
          max(when($"doc_id" === CompInjBase, $"ratio")).as("rep_ratio"),
          max(when($"doc_id" === CompInjBase + 1, $"ratio")).as("ent_ratio"))
        .select($"n_docs".cast("long").as("n_docs"),
          when($"rmin" > 0.0 && $"rmax" <= 1.2, 1L).otherwise(0L)
            .as("ratio_bounds_ok"),
          when($"rep_ratio" < $"ent_ratio", 1L).otherwise(0L)
            .as("fixture_order_ok"),
          when($"c" > 0.0, 1L).otherwise(0L).as("corpus_signal_ok"))
    })

  // ---- tx22 PII fixture + regexes (shared with the DuckDB oracle) ----

  /** Injected PII-bearing rows — doc_ids far above any corpus id. One row
    * is PII-free on purpose (must NOT appear in the output). */
  private val PiiInjBase = 30000000L
  private val PiiFixture: Seq[(Long, String)] = Seq(
    PiiInjBase -> "reach us at john.doe@example.com or sales+eu@corp.example.org today",
    (PiiInjBase + 1) -> "call 415-555-0173 or 020.555.0144 to confirm",
    (PiiInjBase + 2) -> "hosts 192.168.10.42 and 10.0.0.7 replied",
    (PiiInjBase + 3) -> "mix a.b@c.io at 10.1.2.3 phone 555-123-4567 done",
    (PiiInjBase + 4) -> "clean row with no sensitive tokens at all")
  /** tx30's injected formatting variants — ids far above any corpus id.
    * Rows 0–3 normalize to the same text (case, punctuation, whitespace
    * noise); row 4 is a near-variant that must stay its own group. */
  private val NormInjBase = 40000000L
  private val NormFixture: Seq[(Long, String)] = Seq(
    NormInjBase -> "Spark Deduplication;  Pipeline   TEST",
    (NormInjBase + 1) -> "spark deduplication pipeline test",
    (NormInjBase + 2) -> "spark deduplication, pipeline test!!!",
    (NormInjBase + 3) -> "  spark   DEDUPLICATION pipeline test  ",
    (NormInjBase + 4) -> "spark deduplication pipeline testing")
  private def normValuesSql: String = NormFixture
    .map { case (id, t) => s"($id, '$t')" }.mkString(", ")

  /** tx31's injected compressibility extremes: a 60×-repeated token vs
    * an all-distinct token sequence of similar byte length. */
  private val CompInjBase = 50000000L
  private val CompFixture: Seq[(Long, String)] = Seq(
    CompInjBase -> Seq.fill(60)("spark").mkString(" "),
    (CompInjBase + 1) -> (0 until 60).map(i => f"w$i%02dq${(i * 37) % 100}%02d").mkString(" "))

  private val PiiEmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val PiiPhoneRe = """\b\d{3}[-.]\d{3}[-.]\d{4}\b"""
  private val PiiIpRe = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  /** The fixture as a DuckDB VALUES list. */
  private def piiValuesSql: String = PiiFixture
    .map { case (id, t) => s"($id, '$t')" }.mkString(", ")

  /** The tx02/tx09 quality expression in DuckDB SQL (identical int
    * arithmetic + the same two float divisions as `TextOps.qualityScore`
    * with [[Stopwords]]). */
  private val qualitySqlExpr: String =
    """(1.0 - len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a'))
      |         / len(string_split(text, ' ')))
      |  * (LEAST(len(string_split(text, ' ')), 200) / 200.0)""".stripMargin

  /** The tx06/tx09 language-ID argmax in DuckDB SQL: per-language overlap
    * score + the cascade in descending language order (branch i fires only
    * when no later language beats it — exactly `array_max` over
    * (score, lang) structs). */
  private val langIdSqlExpr: String = {
    val score: Map[String, String] = graft.ops.TextOps.LangProfiles.map {
      case (lang, stops) =>
        val list = stops.map(s => s"'$s'").mkString("[", ", ", "]")
        lang -> s"len(list_filter(string_split(text, ' '), t -> list_contains($list, t)))"
    }
    val langsDesc = graft.ops.TextOps.LangProfiles.keys.toSeq.sorted.reverse
    val cascade = langsDesc.init.zipWithIndex.map { case (l, i) =>
      val conds = langsDesc.drop(i + 1).map(o => s"${score(l)} >= ${score(o)}")
      s"WHEN ${conds.mkString(" AND ")} THEN '$l'"
    }.mkString("\n       ")
    s"CASE $cascade\n       ELSE '${langsDesc.last}' END"
  }

  val oracles: Map[String, String] = Map(
    "tx01_text_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
        |  CAST(len(string_split(text, ' '))
        |       + list_sum(list_transform(string_split(text, ' '),
        |           x -> CASE WHEN length(x) > 6 THEN length(x) - 6 ELSE 0 END)) // 6
        |    AS BIGINT) AS est_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "tx02_quality_scores" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a')) AS BIGINT)
        |    AS n_stopwords,
        |  (1.0 - len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a'))
        |         / len(string_split(text, ' ')))
        |  * (LEAST(len(string_split(text, ' ')), 200) / 200.0) AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,

    "tx03_exact_dedup" ->
      """SELECT md5(text) AS text_hash,
        |  CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY text_hash""".stripMargin,

    "tx04_bigram_counts" ->
      """SELECT doc_id,
        |  CAST(len(list_distinct(
        |    list_transform(generate_series(1, len(string_split(text,' ')) - 1),
        |                   i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])
        |  )) AS BIGINT) AS n_distinct_bigrams
        |FROM documents ORDER BY doc_id""".stripMargin,

    "tx05_binary_metadata" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS fake_width,
        |  CAST((octet_length(encode(text)) * 7) % 480 + 1 AS BIGINT) AS fake_height,
        |  CAST(octet_length(encode(text)) % 16 AS BIGINT) AS fake_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "tx06_language_id" ->
      s"""SELECT doc_id,
         |  $langIdSqlExpr AS predicted_lang,
         |  lang AS labeled_lang
         |FROM documents ORDER BY doc_id""".stripMargin,

    // the full sequential replay of tx35's rule order: exact keepers by
    // digest-group min, exact-Jaccard pairs among keepers (the dd15 CTE),
    // recursive-CTE components (the dd05 closure), then the tx09 gates
    "tx35_curation_audit" ->
      s"""WITH RECURSIVE
         |k AS (SELECT md5(text) AS h, min(doc_id) AS kid
         |      FROM documents GROUP BY 1),
         |d AS (SELECT doc_id, text, md5(text) AS h FROM documents),
         |ek AS (SELECT d.doc_id, d.text FROM d
         |       JOIN k ON d.h = k.h AND d.doc_id = k.kid),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM ek),
         |sh AS (
         |  SELECT doc_id,
         |         list_distinct(CASE WHEN len(t) < 3
         |           THEN [array_to_string(t, ' ')]
         |           ELSE list_transform(generate_series(1, len(t) - 2),
         |                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         |         END) AS shingles
         |  FROM toks),
         |post AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
         |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
         |         FROM post l JOIN post r ON l.shingle = r.shingle
         |                                AND l.doc_id < r.doc_id),
         |pairs AS (
         |  SELECT c.id_a, c.id_b
         |  FROM cand c JOIN sh a ON c.id_a = a.doc_id JOIN sh b ON c.id_b = b.doc_id
         |  WHERE len(list_intersect(a.shingles, b.shingles))
         |        / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.5),
         |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS comp
         |         FROM reach GROUP BY u)
         |SELECT doc_id,
         |  CASE WHEN doc_id <> kid THEN 'exact_dup'
         |       WHEN comp IS NOT NULL AND comp <> doc_id THEN 'near_dup'
         |       WHEN $qualitySqlExpr < 0.1 THEN 'low_quality'
         |       WHEN $langIdSqlExpr <> 'en' THEN 'non_english'
         |       ELSE 'kept' END AS drop_reason,
         |  CAST(CASE WHEN doc_id <> kid THEN kid
         |            WHEN comp IS NOT NULL THEN comp
         |            ELSE doc_id END AS BIGINT) AS keeper_id
         |FROM (SELECT d.doc_id, d.text, k.kid, comp.comp
         |      FROM d JOIN k ON d.h = k.h
         |      LEFT JOIN comp ON comp.doc_id = d.doc_id)
         |ORDER BY doc_id""".stripMargin,

    "tx09_corpus_curation" ->
      s"""WITH k AS (
         |  SELECT md5(text) AS h, min(doc_id) AS doc_id
         |  FROM documents GROUP BY 1)
         |SELECT d.doc_id,
         |  $qualitySqlExpr AS quality_score,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CASE WHEN substring(md5(text), 1, 2) < 'e6' THEN 'train' ELSE 'val' END AS split
         |FROM documents d JOIN k ON d.doc_id = k.doc_id AND md5(d.text) = k.h
         |WHERE $qualitySqlExpr >= 0.1 AND $langIdSqlExpr = 'en'
         |ORDER BY d.doc_id""".stripMargin,

    // cuts: 0.25→'040', 0.5→'080', 1.0→'100'; the hash prefix is padded
    // to 3 hex digits so the string compare stays numeric at rate 1.0
    "tx10_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE '0' || substring(md5(text), 1, 2) <
        |      (CASE WHEN lang = 'en' THEN '040'
        |            WHEN lang = 'es' THEN '080'
        |            ELSE '100' END)
        |ORDER BY doc_id""".stripMargin,

    // round(0.9 * 256) = 230 = 0xe6 — the same hex-prefix cut the Spark
    // side computes.
    "tx08_train_val_split" ->
      """SELECT doc_id,
        |  CASE WHEN substring(md5(text), 1, 2) < 'e6' THEN 'train' ELSE 'val' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same source-hash cut; one row per source is structural
    "tx17_grouped_split" ->
      """SELECT source,
        |  CASE WHEN substring(md5(source), 1, 2) < '33' THEN 'val'
        |       ELSE 'train' END AS split,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY source, split""".stripMargin,

    // identical word-frequency dictionary and adjacent-pair expansion,
    // top-20 by the same (count desc, pair) order
    "tx21_bpe_merge_candidates" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |vocab AS (SELECT w, COUNT(*) AS wc FROM w GROUP BY w),
        |pairs AS (SELECT unnest(list_transform(
        |    generate_series(1, length(w) - 1),
        |    i -> substring(w, i, 2))) AS pair, wc
        |  FROM vocab WHERE length(w) >= 2)
        |SELECT pair, CAST(SUM(wc) AS BIGINT) AS n_occurrences
        |FROM pairs GROUP BY pair
        |ORDER BY n_occurrences DESC, pair
        |LIMIT 20""".stripMargin,

    // identical md5-over-text ordering with the same doc_id tie-break
    "tx20_fixed_k_sample" ->
      """WITH r AS (SELECT source, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |                       ORDER BY md5(text), doc_id) AS rank
        |  FROM documents)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, n_chars
        |FROM r WHERE rank <= 5
        |ORDER BY source, rank""".stripMargin,

    // identical integer rate quantization (floor division) and identical
    // md5-prefix keep rule — printf('%03x') ≡ Spark's format_string
    "tx19_mixture_rebalance" ->
      """WITH d AS (SELECT doc_id, text, source,
        |    CAST(len(string_split(text, ' '))
        |      + list_sum(list_transform(string_split(text, ' '),
        |          x -> CASE WHEN length(x) > 6 THEN length(x) - 6 ELSE 0 END)) // 6
        |      AS BIGINT) AS toks
        |  FROM documents),
        |per AS (SELECT source, SUM(toks) AS src_toks FROM d GROUP BY source),
        |tot AS (SELECT SUM(src_toks) AS total_toks, COUNT(*) AS n_sources FROM per),
        |rates AS (SELECT source, src_toks,
        |    CAST(LEAST(256, (256 * total_toks) // (n_sources * src_toks))
        |      AS BIGINT) AS cut
        |  FROM per CROSS JOIN tot),
        |kept AS (SELECT d.source, d.toks
        |  FROM d JOIN rates r ON d.source = r.source
        |  WHERE '0' || substring(md5(d.text), 1, 2) < printf('%03x', r.cut)),
        |ka AS (SELECT source, COUNT(*) AS n_docs_after, SUM(toks) AS toks_after
        |       FROM kept GROUP BY source)
        |SELECT r.source, CAST(r.src_toks AS BIGINT) AS toks_before,
        |  CAST(r.cut AS BIGINT) AS cut,
        |  CAST(COALESCE(ka.n_docs_after, 0) AS BIGINT) AS n_docs_after,
        |  CAST(COALESCE(ka.toks_after, 0) AS BIGINT) AS toks_after
        |FROM rates r LEFT JOIN ka ON r.source = ka.source
        |ORDER BY r.source""".stripMargin,

    // the same packing replayed with the naive single-pass cumsum (the
    // two-level offsets must land identically — also spec-pinned)
    "tx18_sequence_packing" ->
      """WITH t AS (SELECT doc_id,
        |    len(string_split(text, ' '))
        |      + list_sum(list_transform(string_split(text, ' '),
        |          x -> CASE WHEN length(x) > 6 THEN length(x) - 6 ELSE 0 END)) // 6
        |      AS n_tok
        |  FROM documents),
        |o AS (SELECT doc_id, n_tok,
        |    COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
        |  FROM t WHERE n_tok > 0),
        |w AS (SELECT doc_id, CAST(start_tok // 512 AS BIGINT) AS first_win,
        |    CAST((start_tok + n_tok - 1) // 512 AS BIGINT) AS last_win
        |  FROM o),
        |x AS (SELECT first_win,
        |    unnest(generate_series(first_win, last_win)) AS window_id
        |  FROM w)
        |SELECT CAST(window_id AS BIGINT) AS window_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN window_id = first_win THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_starts
        |FROM x GROUP BY 1 ORDER BY window_id""".stripMargin,

    "tx12_tfidf_top_terms" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |ranked AS (
        |  SELECT doc_id, term, tf, df,
        |         round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) DESC, term) AS rn
        |  FROM tf JOIN df USING (term), n)
        |SELECT doc_id, CAST(rn AS BIGINT) AS rn, term, CAST(tf AS BIGINT) AS tf,
        |       CAST(df AS BIGINT) AS df, score
        |FROM ranked WHERE rn <= 5
        |ORDER BY doc_id, rn""".stripMargin,

    // same split cut as tx08 (md5 prefix < 'e6'); shingle membership is
    // recomputed independently via list slicing over the word array
    "dd07_decontamination" ->
      """WITH d AS (SELECT doc_id, md5(text) AS mh, string_split(text, ' ') AS w
        |           FROM documents),
        |sh AS (
        |  SELECT doc_id, mh,
        |         unnest(list_distinct(list_transform(
        |           generate_series(1, len(w) - 7),
        |           i -> md5(array_to_string(w[i:i+7], ' '))))) AS h
        |  FROM d WHERE len(w) >= 8),
        |tr AS (SELECT doc_id, h FROM sh WHERE substring(mh, 1, 2) < 'e6'),
        |va AS (SELECT DISTINCT h FROM sh WHERE substring(mh, 1, 2) >= 'e6')
        |SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_8grams
        |FROM tr JOIN va USING (h)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // EXACTLY dd07's answer (the Bloom prefilter has no false negatives
    // and the exact verify removes false positives) plus the pinned
    // prune bit — the hash compare is the no-lost-contamination proof
    "dd18_bloom_decontaminate" ->
      """WITH d AS (SELECT doc_id, md5(text) AS mh, string_split(text, ' ') AS w
        |           FROM documents),
        |sh AS (
        |  SELECT doc_id, mh,
        |         unnest(list_distinct(list_transform(
        |           generate_series(1, len(w) - 7),
        |           i -> md5(array_to_string(w[i:i+7], ' '))))) AS h
        |  FROM d WHERE len(w) >= 8),
        |tr AS (SELECT doc_id, h FROM sh WHERE substring(mh, 1, 2) < 'e6'),
        |va AS (SELECT DISTINCT h FROM sh WHERE substring(mh, 1, 2) >= 'e6')
        |SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_8grams,
        |       CAST(1 AS BIGINT) AS bloom_pruned_ok
        |FROM tr JOIN va USING (h)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "tx13_repetition_metrics" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |top AS (SELECT doc_id, MAX(c) AS top_tf, SUM(c) AS n_tokens FROM tf GROUP BY 1),
        |bg AS (
        |  SELECT doc_id,
        |    len(bgs) AS n_bigrams, len(list_distinct(bgs)) AS n_distinct_bigrams
        |  FROM (SELECT doc_id,
        |          CASE WHEN len(string_split(text, ' ')) < 2 THEN []
        |               ELSE list_transform(
        |                 generate_series(1, len(string_split(text, ' ')) - 1),
        |                 i -> string_split(text, ' ')[i] || ' ' ||
        |                      string_split(text, ' ')[i+1]) END AS bgs
        |        FROM documents))
        |SELECT top.doc_id,
        |  CAST(top_tf AS DOUBLE) / n_tokens AS top_token_frac,
        |  CASE WHEN n_bigrams > 0
        |       THEN 1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams
        |       ELSE 0.0 END AS dup_bigram_frac,
        |  CAST(CASE WHEN CAST(top_tf AS DOUBLE) / n_tokens > 0.2
        |            OR (n_bigrams > 0 AND
        |                1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams > 0.2)
        |       THEN 1 ELSE 0 END AS BIGINT) AS repetitive
        |FROM top JOIN bg ON top.doc_id = bg.doc_id
        |ORDER BY top.doc_id""".stripMargin,

    "tx14_vocab_stats" ->
      """WITH tf AS (
        |  SELECT lang, term, COUNT(*) AS tf
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY 1, 2)
        |SELECT lang,
        |  CAST(COUNT(*) AS BIGINT) AS vocab_size,
        |  CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
        |  CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS DOUBLE) / SUM(tf) AS type_token_ratio
        |FROM tf
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "tx16_meta_pruned_filter" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE length(text) > 400
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "tx15_doc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CASE WHEN n_tokens <= 64 THEN 1
        |         ELSE 1 + (n_tokens - 17) // 48 END AS n_chunks
        |  FROM d),
        |u AS (
        |  SELECT doc_id, n_tokens,
        |    unnest(generate_series(0, n_chunks - 1)) AS ci
        |  FROM c)
        |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
        |  CAST(ci * 48 AS BIGINT) AS tok_start,
        |  CAST(LEAST(ci * 48 + 64, n_tokens) AS BIGINT) AS tok_end
        |FROM u ORDER BY doc_id, chunk_idx""".stripMargin,

    // zero-frame docs sample nothing (mirrors frameSamplePlan's guard)
    "mm02_frame_sampling" ->
      """SELECT doc_id,
        |  CAST(unnest(list_slice(
        |    generate_series(0, greatest(CAST(n_chars % 1000 AS BIGINT) - 1, 0), 10),
        |    1, 16)) AS BIGINT) AS frame_idx
        |FROM documents
        |WHERE n_chars % 1000 > 0
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // the same real image dims as mm01 (the generator formulas — the
    // Spark side gets them by decoding actual bytes), then the integer
    // resize-to-224 plan and exact ceil-division tiling
    "mm03_patch_grid" ->
      """WITH m AS (SELECT doc_id,
        |    (doc_id % 21) + 4 AS w,
        |    (doc_id % 13) + 3 AS h
        |  FROM documents),
        |r AS (SELECT doc_id, w, h,
        |    (w * 224) // greatest(w, h) AS rw,
        |    (h * 224) // greatest(w, h) AS rh
        |  FROM m)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(rw AS BIGINT) AS rs_w, CAST(rh AS BIGINT) AS rs_h,
        |  CAST((rw + 15) // 16 AS BIGINT) AS patches_x,
        |  CAST((rh + 15) // 16 AS BIGINT) AS patches_y,
        |  CAST(((rw + 15) // 16) * ((rh + 15) // 16) AS BIGINT) AS n_patches,
        |  CAST(LEAST(((rw + 15) // 16) * ((rh + 15) // 16), 196) AS BIGINT)
        |    AS n_tokens
        |FROM r ORDER BY doc_id""".stripMargin,

    // same injected fixture, regexes, and replacement order as the Spark
    // entry; DuckDB regexp_replace needs the explicit 'g' flag to match
    // Java's replace-all
    "tx22_pii_redaction" ->
      s"""WITH inj(doc_id, text) AS (VALUES $piiValuesSql),
        |alltext AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM inj),
        |hits AS (
        |  SELECT doc_id, text,
        |    CAST(len(regexp_extract_all(text, '$PiiEmailRe', 0)) AS BIGINT) AS n_emails,
        |    CAST(len(regexp_extract_all(text, '$PiiPhoneRe', 0)) AS BIGINT) AS n_phones,
        |    CAST(len(regexp_extract_all(text, '$PiiIpRe', 0)) AS BIGINT) AS n_ips
        |  FROM alltext),
        |base AS (
        |  SELECT CAST(COALESCE(SUM(CASE WHEN n_emails + n_phones + n_ips > 0
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS base_pii_docs
        |  FROM hits WHERE doc_id < $PiiInjBase)
        |SELECT CAST(h.doc_id AS BIGINT) AS doc_id, n_emails, n_phones, n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(h.text,
        |    '$PiiEmailRe', '<EMAIL>', 'g'),
        |    '$PiiIpRe', '<IP>', 'g'),
        |    '$PiiPhoneRe', '<PHONE>', 'g')) AS redacted_md5,
        |  b.base_pii_docs
        |FROM hits h CROSS JOIN base b
        |WHERE n_emails + n_phones + n_ips > 0
        |ORDER BY doc_id""".stripMargin,

    // positional 8-grams via zipped unnests; identical interval-union
    // sweep (running max over the preceding frame, all integer math)
    "dd14_duplicate_spans" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         unnest(generate_series(1, len(w) - 7)) AS s,
        |         unnest(list_transform(generate_series(1, len(w) - 7),
        |                i -> md5(array_to_string(w[i:i+7], ' ')))) AS h
        |  FROM d WHERE len(w) >= 8),
        |dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        |hit AS (SELECT doc_id, s, s + 7 AS e FROM g JOIN dup USING (h)),
        |cov AS (
        |  SELECT doc_id,
        |         SUM(GREATEST(0, e - GREATEST(COALESCE(pmax, 0), s - 1))) AS dup_tokens
        |  FROM (SELECT doc_id, s, e,
        |               MAX(e) OVER (PARTITION BY doc_id ORDER BY s
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |        FROM hit)
        |  GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |       CAST(COALESCE(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |       CAST(COALESCE(cov.dup_tokens, 0) AS DOUBLE) / len(w) AS dup_frac
        |FROM d LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "tx23_rare_word_score" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |freq AS (SELECT term, COUNT(*) AS cf FROM tok GROUP BY 1),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |         CAST(SUM(CASE WHEN cf <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
        |  FROM tok JOIN freq USING (term)
        |  GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_rare,
        |       CAST(n_rare AS DOUBLE) / n_tokens AS rare_frac,
        |       CAST(CASE WHEN CAST(n_rare AS DOUBLE) / n_tokens > 0.5
        |            THEN 1 ELSE 0 END AS BIGINT) AS low_quality
        |FROM agg ORDER BY doc_id""".stripMargin,

    "tx24_deterministic_shuffle" ->
      """WITH r AS (
        |  SELECT doc_id,
        |         ROW_NUMBER() OVER (
        |           ORDER BY md5('graft-shuffle-42:' || CAST(doc_id AS VARCHAR)),
        |                    doc_id) AS pos
        |  FROM documents)
        |SELECT CAST(pos AS BIGINT) AS pos,
        |       CAST((pos - 1) % 8 AS BIGINT) AS shard, doc_id
        |FROM r ORDER BY pos""".stripMargin,

    // Full independent replay of the trigram LM: same tokenization
    // (space split), same md5 trigram/bigram keys, same add-one
    // smoothing, same integer divisions — every column is exact integer
    // arithmetic, so the hash compare is bit-exact with no float
    // anywhere.
    "tx25_lm_quality_filter" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tri AS (
        |  SELECT doc_id, md5(array_to_string(w[i:i+2], ' ')) AS tg,
        |         md5(array_to_string(w[i:i+1], ' ')) AS bg
        |  FROM t, UNNEST(generate_series(1, len(w) - 2)) AS u(i)
        |  WHERE len(w) >= 3),
        |c3 AS (SELECT tg, COUNT(*) AS c3 FROM tri GROUP BY tg),
        |c2 AS (SELECT bg, COUNT(*) AS c2 FROM tri GROUP BY bg),
        |v AS (SELECT COUNT(DISTINCT tok) AS v FROM t, UNNEST(w) AS s(tok)),
        |per AS (
        |  SELECT tri.doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
        |         CAST(SUM((c2.c2 + v.v) // (c3.c3 + 1)) AS BIGINT) AS sum_inv_p
        |  FROM tri JOIN c3 USING (tg) JOIN c2 USING (bg), v
        |  GROUP BY tri.doc_id),
        |tot AS (SELECT SUM(sum_inv_p) // SUM(n_trigrams) AS cfa FROM per)
        |SELECT doc_id, n_trigrams, sum_inv_p,
        |       CAST(CASE WHEN (sum_inv_p // n_trigrams) * 10 > tot.cfa * 11
        |            THEN 1 ELSE 0 END AS BIGINT) AS low_quality
        |FROM per, tot ORDER BY doc_id""".stripMargin,

    "tx26_bpe_train" -> bpeOracleSql(BpeRounds),

    "tx29_bpe_encode" -> bpeEncodeOracleSql(BpeRounds),

    "tx32_bpe_decode_roundtrip" -> bpeDecodeOracleSql(BpeRounds),

    // full replay: same candidate weighting (per-position substrings of
    // length 2–4 over the word dictionary, weighted by word count), same
    // (weight desc, piece asc) top-48, then greedy longest-match as a
    // per-(word, position) advance table + linear recursive walk
    "tx33_wordpiece_encode" ->
      """WITH RECURSIVE
        |words AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 1 GROUP BY w),
        |vocab AS (
        |  SELECT substr(w, i, L) AS piece, SUM(wc) AS wt
        |  FROM words,
        |       UNNEST(generate_series(1, length(w))) AS t(i),
        |       UNNEST([2, 3, 4]) AS u(L)
        |  WHERE i + L - 1 <= length(w)
        |  GROUP BY piece
        |  ORDER BY wt DESC, piece LIMIT 48),
        |adv AS (
        |  SELECT p.w, p.i,
        |    CASE WHEN v4.piece IS NOT NULL THEN 4
        |         WHEN v3.piece IS NOT NULL THEN 3
        |         WHEN v2.piece IS NOT NULL THEN 2
        |         ELSE 1 END AS adv
        |  FROM (SELECT w, unnest(generate_series(1, length(w))) AS i
        |        FROM words) p
        |  LEFT JOIN vocab v4
        |    ON length(v4.piece) = 4 AND substr(p.w, p.i, 4) = v4.piece
        |  LEFT JOIN vocab v3
        |    ON length(v3.piece) = 3 AND substr(p.w, p.i, 3) = v3.piece
        |  LEFT JOIN vocab v2
        |    ON length(v2.piece) = 2 AND substr(p.w, p.i, 2) = v2.piece),
        |seg AS (
        |  SELECT w, 1 AS i, 0 AS n FROM words
        |  UNION ALL
        |  SELECT s.w, s.i + a.adv, s.n + 1
        |  FROM seg s JOIN adv a ON a.w = s.w AND a.i = s.i
        |  WHERE s.i <= length(s.w)),
        |dict AS (
        |  SELECT w, n AS n_pieces FROM seg WHERE i = length(w) + 1)
        |SELECT d.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(dict.n_pieces) AS BIGINT) AS n_wp_tokens,
        |  CAST(SUM(length(d.w)) AS BIGINT) AS n_chars
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |      FROM documents) d
        |JOIN dict USING (w)
        |WHERE length(d.w) >= 1
        |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin,

    // the round-trip tooth: NO segmentation machinery on the oracle side
    // at all — raw per-doc token lengths; Spark's side must reproduce
    // them THROUGH encode→decode (greedy walk + summed piece lengths),
    // so the hash matches iff decode∘encode = id on every corpus word
    "tx34_wordpiece_roundtrip" ->
      """SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(length(w)) AS BIGINT) AS n_decoded_chars,
        |  CAST(1 AS BIGINT) AS vocab_lossless
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |      FROM documents)
        |WHERE length(w) >= 1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same domain derivation, dedup election, and cap rule — two window
    // passes over the narrow (domain, digest, id) projection
    "tx27_domain_caps" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    'd' || substr(md5(source || ':' || CAST(doc_id // 32 AS VARCHAR)), 1, 2)
        |      AS domain,
        |    md5(text) AS h
        |  FROM documents),
        |k AS (SELECT *, row_number() OVER (PARTITION BY domain, h ORDER BY doc_id)
        |        AS rn FROM d),
        |c AS (SELECT domain, doc_id, n_chars, h,
        |        row_number() OVER (PARTITION BY domain ORDER BY h, doc_id) AS rank
        |      FROM k WHERE rn = 1)
        |SELECT domain, CAST(rank AS BIGINT) AS rank, doc_id, n_chars
        |FROM c WHERE rank <= 8 ORDER BY domain, rank""".stripMargin,

    // Replays BOTH the messy-URL fixture construction and the
    // canonicalizer rule-for-rule (same anchored regexes — the Java/RE2
    // common subset, see tx22's note): fragment drop, scheme drop, host
    // lowercase + www strip, single trailing-slash strip, utm_/fbclid/
    // gclid removal with real params kept in order.
    "dd16_url_canonical" ->
      """WITH d AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP://' ELSE 'https://' END)
        |    || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
        |    || 'd' || substr(md5(source || ':' || CAST(doc_id // 32 AS VARCHAR)), 1, 2)
        |    || '.example.com'
        |    || (CASE WHEN doc_id % 11 = 0 THEN '/P' ELSE '/p' END)
        |    || CAST(doc_id % 16 AS VARCHAR)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 4 = 0
        |              THEN '?utm_source=feed&id=' || CAST((doc_id // 4) % 2 AS VARCHAR)
        |             WHEN doc_id % 4 = 1
        |              THEN '?id=' || CAST((doc_id // 4) % 2 AS VARCHAR)
        |             ELSE '' END)
        |    || (CASE WHEN doc_id % 6 = 0 THEN '#s' ELSE '' END) AS raw_url
        |  FROM documents),
        |c AS (SELECT doc_id, raw_url,
        |    regexp_replace(regexp_replace(raw_url, '#.*$', ''),
        |                   '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS noscheme
        |  FROM d),
        |p AS (SELECT doc_id, raw_url,
        |    regexp_replace(lower(regexp_extract(noscheme, '^([^/?]+)', 1)),
        |                   '^www\.', '') AS host,
        |    regexp_replace(noscheme, '^[^/?]+', '') AS pathq
        |  FROM c),
        |q AS (SELECT doc_id, raw_url, host,
        |    regexp_replace(regexp_replace(pathq, '\?.*$', ''), '/$', '') AS path,
        |    array_to_string(list_filter(
        |      string_split(regexp_extract(pathq, '\?(.*)$', 1), '&'),
        |      pp -> NOT (substr(regexp_extract(pp, '^([^=]*)', 1), 1, 4) = 'utm_'
        |                 OR regexp_extract(pp, '^([^=]*)', 1) = 'fbclid'
        |                 OR regexp_extract(pp, '^([^=]*)', 1) = 'gclid')), '&') AS kept
        |  FROM p),
        |u AS (SELECT doc_id, raw_url,
        |    host || path ||
        |      (CASE WHEN length(kept) > 0 THEN '?' || kept ELSE '' END)
        |      AS canonical_url
        |  FROM q)
        |SELECT canonical_url, CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies,
        |  CAST(COUNT(DISTINCT raw_url) AS BIGINT) AS n_raw_forms
        |FROM u GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,

    // Replays the normalizer rule-for-rule (DuckDB needs the explicit
    // 'g' flag where Spark's regexp_replace is always global) plus the
    // injected variant fixture verbatim.
    "tx30_normalized_dedup" ->
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES $normValuesSql) AS v(doc_id, text)),
         |n AS (SELECT doc_id, text,
         |    trim(regexp_replace(regexp_replace(lower(text),
         |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
         |  FROM all_docs)
         |SELECT md5(norm) AS norm_hash,
         |  CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_copies,
         |  CAST(SUM(CASE WHEN norm <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
         |FROM n GROUP BY md5(norm) ORDER BY norm_hash""".stripMargin,

    // Independent doc count + constant cert bits (zlib byte counts are
    // library-specific — the raw ratios are pinned in TextOpsSpec; see
    // the tx31 entry for what each bit certifies).
    "tx31_compression_ratio" ->
      """SELECT CAST(COUNT(*) + 2 AS BIGINT) AS n_docs,
        |  CAST(1 AS BIGINT) AS ratio_bounds_ok,
        |  CAST(1 AS BIGINT) AS fixture_order_ok,
        |  CAST(1 AS BIGINT) AS corpus_signal_ok
        |FROM documents""".stripMargin)

  /** The tx26/tx29 oracle chain: a fully UNROLLED DuckDB replay of the
    * BPE training loop — `rounds` chained CTE blocks, each recomputing
    * pair counts over the evolving symbol dictionary, electing the
    * (count desc, pair asc) argmax, and applying the merge with the same
    * delimiter-wrapped `replace` the Spark side uses (chr(31)-wrapped
    * symbols; identical greedy left-to-right non-overlap semantics in
    * both engines). `keepW` carries the word column through the chain
    * for the encode oracle's dictionary join. */
  private def bpeChainSql(rounds: Int, keepW: Boolean): String = {
    val S = "chr(31)"
    val w = if (keepW) "w, " else ""
    val sb = new StringBuilder
    sb.append(
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |v0 AS (SELECT w, count(*) AS wc FROM toks WHERE length(w) >= 1 GROUP BY w),
         |s0 AS (SELECT ${w}wc, $S || array_to_string(
         |    list_transform(generate_series(1, length(w)), i -> w[i]),
         |    $S || $S) || $S AS ws FROM v0),
         |""".stripMargin)
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(
        s"""p$r AS (SELECT pr, sum(wc) AS n FROM (
           |  SELECT wc, unnest(list_transform(generate_series(1, len(cl) - 1),
           |    i -> cl[i] || $S || cl[i + 1])) AS pr
           |  FROM (SELECT wc, string_split(substr(ws, 2, length(ws) - 2),
           |                                $S || $S) AS cl FROM s$p)
           |  WHERE len(cl) >= 2) GROUP BY pr),
           |b$r AS (SELECT pr, n FROM p$r ORDER BY n DESC, pr LIMIT 1),
           |s$r AS (SELECT ${w}wc, replace(ws,
           |    $S || string_split(pr, $S)[1] || $S || $S || string_split(pr, $S)[2] || $S,
           |    $S || replace(pr, $S, '') || $S) AS ws
           |  FROM s$p CROSS JOIN b$r),
           |""".stripMargin)
    }
    sb.setLength(sb.length - 2) // drop the final CTE's trailing ",\n"
    sb.append("\n")
    sb.toString
  }

  /** tx26: the merge table from the unrolled chain. */
  private def bpeOracleSql(rounds: Int): String = {
    val S = "chr(31)"
    bpeChainSql(rounds, keepW = false) + (1 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  string_split(pr, $S)[1] AS lhs,
         |  string_split(pr, $S)[2] AS rhs,
         |  replace(pr, $S, '') AS merged,
         |  CAST(n AS BIGINT) AS n_occurrences FROM b$r""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY round")
  }

  /** tx29: the same unrolled chain carrying the word column, then the
    * (word → symbol count) dictionary join over the corpus token
    * stream — identical encode rule to the Spark broadcast join. */
  private def bpeEncodeOracleSql(rounds: Int): String = {
    val S = "chr(31)"
    bpeChainSql(rounds, keepW = true) +
      s"""SELECT d.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(v.n_sym) AS BIGINT) AS n_bpe_tokens
         |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |      FROM documents) d
         |JOIN (SELECT w, len(string_split(substr(ws, 2, length(ws) - 2),
         |                                 $S || $S)) AS n_sym
         |      FROM s$rounds) v USING (w)
         |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin
  }

  /** tx32: the same chain + dictionary join, but the decoded-character
    * column is recomputed from RAW token lengths with no BPE machinery —
    * the independent side of the decode∘encode = id equation — and the
    * vocab-losslessness bit is pinned to 1. */
  private def bpeDecodeOracleSql(rounds: Int): String = {
    val S = "chr(31)"
    bpeChainSql(rounds, keepW = true) +
      s"""SELECT d.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(v.n_sym) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(length(d.w)) AS BIGINT) AS n_decoded_chars,
         |  CAST(1 AS BIGINT) AS vocab_lossless
         |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |      FROM documents) d
         |JOIN (SELECT w, len(string_split(substr(ws, 2, length(ws) - 2),
         |                                 $S || $S)) AS n_sym
         |      FROM s$rounds) v USING (w)
         |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin
  }
}
