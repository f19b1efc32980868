package graft.queries

import org.apache.spark.sql.functions._

import graft.etl.InvoiceFeaturizer
import graft.ml.{ModelStore, Scoring, Training}
import graft.model.Tables
import graft.ops.{Dedup, Lineage, Multimodal, Multiset, Similarity, TextOps}
import graft.ops.Lineage.LineageOps
import QueryUtil._

/** Training-data-pipeline operators: dedup (MinHash/LSH, SimHash,
  * embedding-IVF), ANN, trained-model scoring, fingerprints, multimodal.
  * Oracle-checked wherever the result is SQL-reachable — exactly (an01,
  * dd03, mm01, and via inline integrity bits tx07 since r11 and an02
  * since r14) or as an exact-recall pin (dd01, dd04; see [[oracles]]) —
  * rows-only ONLY where the output IS the signature-bound artifact
  * (dd02, dd04, tx28: Hamming-band pairs, IVF candidate pairs, raw
  * 64-bit fingerprints — each with an oracle-green certificate twin;
  * see the terminal note at [[oracles]]). Everything is deterministic
  * by construction (seeded models, hash permutations) and pinned by
  * scalatest specs besides.
  */
object PipelineQueries {

  val queries: Map[String, Q] = Map(
    // MinHash + LSH near-duplicate pairs over documents, Jaccard-verified.
    "dd01_minhash_dup_pairs" -> { (s, dir) =>
      Dedup.minHashDupPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleK = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },

    // SimHash (native codegen expression) near-duplicate pairs. 8 rotation
    // probes: a single 12-bit prefix probe catches a hamming-8 pair only
    // when all 8 differing bits dodge the prefix window (≈(52/64)^8 ≈ 0.19;
    // measured 0.142 recall on the test corpus) — 8 probes lift measured
    // recall to 0.891 on hamming-≤8 and 1.0 on hamming-≤4 pairs
    // (DedupSpec's brute-force ground-truth pin) at linear candidate cost.
    "dd02_simhash_dup_pairs" -> { (s, dir) =>
      Dedup.simHashDupPairs(Tables.documents(s, dir), "doc_id", "text",
        prefixBits = 12, maxHamming = 8, rotations = 8)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Self-certifying SimHash quality (upgrades dd02's rows-only story
    // the way an03 upgraded an02's): recall of the 8-probe SimHash
    // pipeline against the EXACT Jaccard>=0.5 duplicate-pair set — the
    // ground truth DuckDB recomputes independently (dd01's oracle set;
    // the Spark side reuses minHashDupPairs, proven ≡ exact by dd01's
    // green hash row). Measured recall is 0.95–1.0 at every local SF
    // (deterministic hashes → fixed per corpus); the bar is 0.9. The
    // exact-pair count is the data-derived hash-checked column.
    "dd06_simhash_recall" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val exact = Dedup.minHashDupPairs(docs, "doc_id", "text",
        shingleK = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val sim = Dedup.simHashDupPairs(docs, "doc_id", "text",
        prefixBits = 12, maxHamming = 8, rotations = 8)
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      exact.join(sim, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_true_pairs"),
          (sum(coalesce(col("hit"), lit(0L))).cast("double") / count(lit(1))).as("recall"))
        .select(col("n_true_pairs"),
          when(col("recall") >= 0.9, 1L).otherwise(0L).as("recall_ok"))
    },

    // Hot-bucket skew-stress certificate for the LSH dedup tier (the
    // boilerplate scenario every crawl corpus hits at scale): inject a
    // 200-copy identical-text clique into the corpus — its signature is
    // one fixed MinHash vector, so ALL its copies land in the same 8 band
    // buckets, each 3x over the production cap (maxBucket=64). The cert
    // pins, in one self-certifying row, that
    //   (a) hot_bucket_seen: the injected clique genuinely formed
    //       over-cap buckets (the stress is not vacuous),
    //   (b) cap_bounded: zero pairs among the clique ids survive — the
    //       cap dropped the would-be 19,900-pair quadratic blow-up (the
    //       mega-cluster belongs to exact dedup tx03, not LSH), and
    //   (c) recall_ok: recall over the TRUE pair set of the original
    //       corpus stays >= 0.9 — real docs' band keys are untouched by
    //       the injection, so the cure costs nothing elsewhere.
    // n_true_pairs is the data-derived hash-checked column (DuckDB
    // recomputes the exact-Jaccard pair set independently, as in dd01).
    "dd12_lsh_hotbucket_stress" -> { (s, dir) =>
      val BoilerBase = 10000000L
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val boiler = s.range(200).select(
        (col("id") + BoilerBase).as("doc_id"),
        lit("identical boilerplate footer paragraph repeated verbatim " +
          "across every crawled page of the mirrored site").as("text"))
      val skewed = docs.unionByName(boiler)
      // ONE shingle pass + ONE MinHash-signature pass serve all three
      // consumers (skewed detector, boiler-free baseline detector, hot-
      // bucket audit) — the per-doc frames are pure row functions, so
      // the baseline's inputs are exactly the skewed frames restricted
      // to the real corpus ids; previously each consumer re-ran the full
      // tokenize→shingle→sign pipeline (3× the dominant expression)
      val sh = Dedup.shingled(skewed, "doc_id", "text", 3).cutLineage()
      val banded = Dedup.bandedOf(sh, 8, 4).cutLineage()
      val found = Dedup.minHashDupPairsFrom(sh, banded,
          threshold = 0.5, maxBucket = 64)
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      val baseline = Dedup.minHashDupPairsFrom(
          sh.filter(col("id") < BoilerBase),
          banded.filter(col("id") < BoilerBase),
          threshold = 0.5, maxBucket = 64)
        .select(col("id_a"), col("id_b"))
      val hotOk = banded
        .groupBy(col("band")).agg(count(lit(1)).as("n"))
        .agg(max(col("n")).as("mx"))
        .select(when(col("mx") > 64, 1L).otherwise(0L).as("hot_bucket_seen"))
      val capOk = found
        .filter(col("id_a") >= BoilerBase || col("id_b") >= BoilerBase)
        .agg(count(lit(1)).as("n"))
        .select(when(col("n") === 0, 1L).otherwise(0L).as("cap_bounded"))
      baseline.join(found, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_true_pairs"),
          (sum(coalesce(col("hit"), lit(0L))).cast("double") / count(lit(1)))
            .as("recall"))
        .select(col("n_true_pairs"),
          when(col("recall") >= 0.9, 1L).otherwise(0L).as("recall_ok"))
        .crossJoin(broadcast(capOk))
        .crossJoin(broadcast(hotOk))
    },

    // Paragraph-level exact dedup — the finer-granularity scrub stage
    // (Dolma-style) that removes repeated boilerplate WITHIN documents
    // while keeping the first occurrence corpus-wide: explode paragraphs
    // with positions, elect the (cid, pos)-minimal owner per distinct
    // paragraph digest, reassemble survivors in position order. Scale
    // shape: the dedup shuffle carries 16 B md5 digests + integer
    // positions (never the text twice), reassembly is one groupBy —
    // no pairwise stage anywhere. The driver corpus is single-line
    // texts, so paragraph structure is built deterministically
    // (composite cid = doc_id div 3, paragraphs joined with blank
    // lines) and four injected composites re-use the first composites'
    // paragraphs — keep-first must zero them out (n_kept = 0), the
    // certificate DuckDB independently replays.
    "dd13_paragraph_dedup" -> { (s, dir) =>
      val DupBase = 1000000L
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val base = docs
        .select(expr("doc_id div 3").as("cid"), col("doc_id"), col("text"))
        .unionByName(docs
          .filter(col("doc_id") < 12 && expr("doc_id % 3") =!= 2)
          .select((expr("doc_id div 3") + lit(DupBase)).as("cid"),
            col("doc_id"), col("text")))
      val comp = base.groupBy(col("cid")).agg(
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")), "\n\n").as("ctext"))
      val para = comp
        .select(col("cid"), posexplode(split(col("ctext"), "\n\n")))
        .select(col("cid"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("para"))
      val winner = para.groupBy(md5(col("para")).as("d"))
        .agg(min(col("cid") * 100 + col("pos")).as("wk"))
      val kept = para.join(winner,
          md5(para("para")) === winner("d") &&
            para("cid") * 100 + para("pos") === winner("wk"))
        .select(para("cid"), para("pos"), para("para"))
      val stats = para.groupBy(col("cid")).agg(count(lit(1)).as("n_paras"))
      val reb = kept.groupBy(col("cid")).agg(
        count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")), "\n\n")).as("kept_md5"))
      stats.join(reb, Seq("cid"), "left")
        .select(col("cid").as("comp_id"), col("n_paras"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
        .orderBy(col("comp_id"))
    },

    // Exact n-gram Jaccard with rare-shingle blocking.
    "dd03_ngram_jaccard_pairs" -> { (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleK = 4, threshold = 0.5, maxDf = 16)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Character-level near-duplicates: same blocked candidates as dd03,
    // verified by banded Levenshtein (length-band prefilter, then the
    // thresholded O(maxDist·len) distance — never the full O(m·n) DP).
    // maxDist=64 is calibrated to yield non-empty pair sets at every
    // local SF (28 / 25 / 274 pairs at sf0.001/0.01/0.1). The oracle
    // recomputes the unbanded distance on the same candidates — equal
    // for every within-threshold pair by construction.
    "dd08_editdistance_pairs" -> { (s, dir) =>
      Dedup.editDistancePairs(Tables.documents(s, dir), "doc_id", "text",
        shingleK = 4, maxDist = 64, maxDf = 16)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Asymmetric containment pairs (quote/excerpt detection): dd03's
    // blocked candidates scored by |A∩B|/min(|A|,|B|) — the subset
    // direction symmetric Jaccard dilutes. Threshold 0.8 yields
    // 28/25/256 pairs at sf0.001/0.01/0.1; the score is one exact-int
    // division, bit-identical in both engines.
    "dd09_containment_pairs" -> { (s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleK = 4, threshold = 0.8, maxDf = 16)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Embedding cosine near-duplicates via capped IVF cells. Threshold 0.4
    // is calibrated to the testdata's near-random embeddings (max pairwise
    // cosine ≈ 0.51) so the check set yields verifiable pairs — an empty
    // result would validate nothing. nCells=0 scales the cell count with
    // the corpus (mean cell ≪ maxCell, hot cells dropped by the cap).
    // Deliberately NOT oracle-checked: at this threshold (the noise floor
    // of near-random embeddings) full recall degenerates to the O(n²)
    // scan for ANY cell/probe configuration — measured 40 s at sf0.1 with
    // the probes cranked high enough to reach it — so the entry keeps the
    // bounded production posture and stays rows-only (recall behavior
    // pinned in DedupSpec instead).
    "dd04_embedding_dup_pairs" -> { (s, dir) =>
      Similarity.embeddingDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.4, quantizerKey = s"emb-dup-$dir")
        .orderBy(col("id_a"), col("id_b"))
    },

    // Self-certifying embedding near-dup quality (retires dd04's last
    // spec-only claim, the same upgrade dd06 gave dd02): recall against
    // the exact all-pairs cosine≥0.4 ground truth, which the DuckDB
    // oracle recomputes independently (n_true_pairs is the data-derived
    // hash-checked column). Threshold 0.4 is the testdata's noise floor
    // (near-random embeddings, max cosine ≈ 0.51) — the hardest regime
    // for cell-local search — so this is an an03-style two-point curve,
    // not a full-recall claim (full recall at the noise floor degenerates
    // to the O(n²) scan; see dd04's note):
    //  - the PRODUCTION dd04 config (nProbe=2, maxCell=256): measured
    //    0.52–0.73 across SFs, certified ≥ 0.45 — the bounded-cost
    //    posture, precision 1.0 by construction (every pair is
    //    exact-verified);
    //  - the cranked config (nProbe=6, maxCell=1024): measured
    //    0.98–1.0, certified ≥ 0.9 — the knob a user turns when recall
    //    matters more than cost. The cap must rise WITH the probes:
    //    multi-probe multiplies cell occupancy, and at nProbe=8 under
    //    the production cap every bucket overflows and is dropped —
    //    recall collapses to 0 (measured), the cap/probe interaction
    //    this second point exists to pin.
    "dd10_embdup_recall" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // both curve points join against the same ground truth — materialize
      // it once (localCheckpoint) instead of paying the O(n²) scoring per
      // point
      val exact = Similarity.allPairsCosine(emb, "vec_id", "embedding",
        threshold = 0.4).cutLineage()
      def point(nProbe: Int, maxCell: Int, bar: Double) = {
        val found = Similarity.embeddingDupPairs(emb, "vec_id", "embedding",
            threshold = 0.4, nProbe = nProbe, maxCell = maxCell,
            quantizerKey = s"emb-dup-$dir-$nProbe-$maxCell")
          .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
        exact.join(found, Seq("id_a", "id_b"), "left")
          .agg(count(lit(1)).as("n_true_pairs"),
            (sum(coalesce(col("hit"), lit(0L))).cast("double") / count(lit(1)))
              .as("recall"))
          .select(lit(nProbe.toLong).as("n_probe"), col("n_true_pairs"),
            lit(bar).as("threshold"),
            when(col("recall") >= bar, 1L).otherwise(0L).as("recall_ok"))
      }
      point(2, 256, 0.45).unionByName(point(6, 1024, 0.9))
        .orderBy(col("n_probe"))
    },

    // SEMANTIC dedup end-to-end (the embedding-tier twin of dd05's
    // text-tier pipeline): cosine near-dup pairs → connected components →
    // per-cluster keeper election (min id) → a keep/drop verdict for
    // EVERY corpus row — the complete curation decision a training-data
    // pipeline acts on, not just the pair list. This oracle-eligible
    // entry walks the EXACT all-pairs edge set (the dd10-certified
    // baseline, replayable in SQL); the production swap is
    // embeddingDupPairs for the pair stage (dd10 certifies exactly how
    // much of this exact answer that config retains), with components
    // and keeper election unchanged.
    "dd11_semantic_keepers" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val pairs = Similarity.allPairsCosine(emb, "vec_id", "embedding",
        threshold = 0.4)
      val comps = Dedup.connectedComponents(pairs)
      emb.select(col("vec_id"))
        .join(comps.select(col("id").as("vec_id"), col("comp")),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("comp"), col("vec_id")).as("keeper_id"),
          when(coalesce(col("comp"), col("vec_id")) === col("vec_id"), 0L)
            .otherwise(1L).as("is_dup"))
        .orderBy(col("vec_id"))
    },

    // dd11 IN PRODUCTION CONFIG — the swap dd11's own comment names:
    // the identical pipeline (pairs → connected components → min-id
    // keeper election) with the pair stage on the BLOCKED
    // embeddingDupPairs (dd04's bounded IVF-cell config: capped cells,
    // 2 probes, exact per-pair verification — never O(n²)) instead of
    // the exact all-pairs walk. Raw verdicts are quantizer-bound (cell
    // assignment decides WHICH true pairs are found), so the entry
    // certifies the operator inline, the an02/tx07 pattern:
    //  - n_docs / n_true_pairs: data-derived scalars the DuckDB oracle
    //    recomputes independently (hash-checked at every SF);
    //  - precision_ok: every blocked pair re-found in the exact pair
    //    set (structural — the pipeline exact-verifies each candidate —
    //    but asserted, not assumed);
    //  - recall_ok: the dd10 production-point floor (≥ 0.45 at
    //    nProbe=2/maxCell=256, the calibrated noise-floor regime)
    //    carried inline;
    //  - election wiring: coverage_ok (exactly one verdict per doc),
    //    edges_ok (every found pair lands in ONE cluster),
    //    keeper_member_ok (every elected keeper is a member that elects
    //    itself), keeper_is_min_ok (each cluster's label is its min
    //    member). The component machinery itself is oracle-pinned by
    //    dd05's recursive-CTE transitive closure on the text tier.
    // dd11 stays as the certified exact baseline; this is the plan a
    // 100 TB corpus actually runs.
    "dd19_semantic_keepers_blocked" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val pairs = Similarity.embeddingDupPairs(emb, "vec_id", "embedding",
          threshold = 0.4, quantizerKey = s"emb-dup-$dir")
        .select($"id_a", $"id_b")
        .cutLineage() // feeds components + three certificate joins
      val verdicts = emb.select($"vec_id")
        .join(Dedup.connectedComponents(pairs)
            .select($"id".as("vec_id"), $"comp"),
          Seq("vec_id"), "left")
        .select($"vec_id", coalesce($"comp", $"vec_id").as("keeper_id"))
        .cutLineage() // feeds four certificate aggregates
      val coverage = verdicts.agg(
        count(lit(1)).as("n_docs"),
        when(countDistinct($"vec_id") === count(lit(1)), 1L).otherwise(0L)
          .as("coverage_ok"))
      val edgesOk = pairs
        .join(verdicts.select($"vec_id".as("id_a"), $"keeper_id".as("ka")), "id_a")
        .join(verdicts.select($"vec_id".as("id_b"), $"keeper_id".as("kb")), "id_b")
        .agg(coalesce(min(when($"ka" === $"kb", 1L).otherwise(0L)), lit(1L))
          .as("edges_ok"))
      val keeperMin = verdicts.groupBy($"keeper_id")
        .agg(min($"vec_id").as("mn"))
        .agg(coalesce(min(when($"keeper_id" === $"mn", 1L).otherwise(0L)),
          lit(1L)).as("keeper_is_min_ok"))
      val keeperSelf = verdicts.select($"keeper_id".as("vec_id")).distinct()
        .join(verdicts.filter($"vec_id" === $"keeper_id"),
          Seq("vec_id"), "left_anti")
        .agg(when(count(lit(1)) === 0, 1L).otherwise(0L).as("keeper_member_ok"))
      // the dd10 certificate inline: exact ground truth is materialized
      // once and feeds both the recall floor and the precision assert.
      // CERT REGIME (st35's sampled treatment, ported r20; the rule and
      // its CertFullMax=4096 constant live in Similarity.certProbeIds so
      // the two entries can never diverge): the exact sweep is
      // certification, not production. At or below the budget it runs
      // in FULL — every driver-tested SF (sf0.1 tops out at 2000 rows),
      // so the DuckDB oracle's n_true_pairs is always the full-corpus
      // number where the oracle actually runs; the cert_sampled column
      // pins the regime so a testdata change crossing the switch fails
      // at the cause. Above the budget the cert covers the 1024
      // hash-smallest vec_ids via allPairsCosineProbed — O(n·1024),
      // probe side broadcast; exact neighborhoods are complete for
      // every probe id — so the 16× scale cell prices the OPERATOR,
      // not a quadratic cert (the r17 fixed-id-range gate this replaces
      // froze the cert at a constant 4000²/2 sweep and a shrinking
      // corpus fraction).
      val certIds = Similarity.certProbeIds(emb, "vec_id")
      val exact = (certIds match {
        case None => Similarity.allPairsCosine(
          emb, "vec_id", "embedding", threshold = 0.4)
        case Some(ids) => Similarity.allPairsCosineProbed(
          emb, "vec_id", "embedding", threshold = 0.4, ids)
      }).cutLineage()
      // the blocked pairs inside the cert universe: every pair touching
      // ≥1 probe id (full regime: all of them) — exactly the pairs the
      // probed exact set can verify
      val certPairs = certIds.fold(pairs) { ids =>
        pairs.join(ids.select($"vec_id".as("id_a")), Seq("id_a"), "left_semi")
          .unionByName(
            pairs.join(ids.select($"vec_id".as("id_b")), Seq("id_b"), "left_semi"))
          .distinct()
      }
      val truth = exact
        .join(certPairs.withColumn("hit", lit(1L)), Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_true_pairs"),
          // an empty truth set makes sum(...) NULL → recall NULL → the
          // floor check would report 0; recall over zero true pairs is
          // vacuously perfect, so coalesce to 1.0 (matching the oracle's
          // behavior on an empty truth set)
          coalesce(sum(coalesce($"hit", lit(0L))).cast("double") /
            count(lit(1)), lit(1.0)).as("recall"))
        .select($"n_true_pairs",
          when($"recall" >= 0.45, 1L).otherwise(0L).as("recall_ok"))
      val precision = certPairs
        .join(exact.withColumn("ex", lit(1L)), Seq("id_a", "id_b"), "left")
        .agg(coalesce(min(coalesce($"ex", lit(0L))), lit(1L))
          .as("precision_ok"))
      coverage
        .crossJoin(broadcast(truth))
        .crossJoin(broadcast(precision))
        .crossJoin(broadcast(edgesOk))
        .crossJoin(broadcast(keeperMin))
        .crossJoin(broadcast(keeperSelf))
        .withColumn("cert_sampled",
          lit(if (certIds.isDefined) 1L else 0L))
    },

    // Pair list → duplicate clusters (connected components over the exact
    // dd03 pairs): keeper selection is per GROUP, so this is the step that
    // turns near-dup detection into an actual dedup pass. Oracle-checked
    // via a recursive-CTE transitive closure over the same pairs.
    "dd05_dup_clusters" -> { (s, dir) =>
      val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleK = 4, threshold = 0.5, maxDf = 16)
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
        .orderBy(col("doc_id"))
    },

    // Brute-force cosine top-k (ANN correctness baseline): first 10
    // vectors as queries against the whole corpus.
    "an01_cosine_topk_brute" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },

    // Late-interaction (ColBERT-style MaxSim) retrieval: each vector is
    // treated as 4 token sub-vectors (contiguous dim/4 slices), and
    // score(q, d) = Σ_i max_j ⟨q_i, d_j⟩ — every query token matches its
    // best document token, the retrieval shape multi-vector models use
    // where single-vector cosine loses token-level signal. All 16 slice
    // dot products run through the codegen DotProduct expression; the
    // corpus is never shuffled (broadcast query set, as an01) and the
    // fixed i-then-j evaluation order makes the float sum identical to
    // DuckDB's left-associative replay.
    //
    // Dim contract: slices cover the first 4·⌊dim/4⌋ components — for a
    // dim not divisible by 4 the trailing dim%4 components are ignored on
    // BOTH engines (the oracle slices identically, so parity holds; the
    // driver's 64-dim embeddings divide evenly). An empty corpus returns
    // an empty frame instead of throwing on the eager dim probe.
    "an10_maxsim_topk" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val dimRow = emb.select(size($"embedding")).head(1)
      if (dimRow.isEmpty)
        // schema-stable empty result (same columns/types as the populated path)
        Seq.empty[(Long, Long, Long, Double)]
          .toDF("query_id", "rank", "neighbor_id", "maxsim")
      else {
      val dim = dimRow.head.getInt(0)
      val dsub = dim / 4
      def sub(v: org.apache.spark.sql.Column, i: Int) =
        slice(v, i * dsub + 1, dsub)
      val c = emb.select($"vec_id".as("neighbor_id"),
        $"embedding".cast("array<double>").as("dv"))
      val q = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("query_id"), $"embedding".cast("array<double>").as("qv"))
      val score = (0 until 4).map { i =>
        greatest((0 until 4).map(j =>
          Similarity.dot(sub($"qv", i), sub($"dv", j))): _*)
      }.reduce(_ + _)
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
        .orderBy($"maxsim".desc, $"neighbor_id")
      c.join(broadcast(q), $"query_id" =!= $"neighbor_id")
        .select($"query_id", $"neighbor_id", score.as("maxsim"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 5)
        .select($"query_id", $"rank", $"neighbor_id",
          round($"maxsim", 6).as("maxsim"))
        .orderBy($"query_id", $"rank")
      }
    },

    // Filtered vector search (the RAG shape: top-k under a metadata
    // predicate). The filter applies to the CORPUS side before scoring —
    // pushed to the parquet scan, so the brute-force pass reads and
    // scores only qualifying rows rather than post-filtering a k-list
    // that could go empty. Same scoring/rank/rounding as an01.
    "an07_filtered_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      Similarity.bruteForceTopK(emb.filter(col("label") % 3 === 0), queries,
        "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },

    // Per-label embedding centroids (mean pooling / cluster-center
    // computation) with exact distributed float semantics: components
    // are floor-quantized to fixed point BEFORE the sum, so the result
    // is bit-identical on any partitioning — the property a naive
    // avg-over-floats loses to partial-aggregation order. The oracle
    // replays the same quantize→sum→divide sequence sequentially.
    "an08_label_centroids" -> { (s, dir) =>
      Similarity.groupCentroids(Tables.embeddings(s, dir), "label", "embedding")
        .select(col("key").as("label"), col("dim"), col("mean_val"), col("n"))
        .orderBy(col("label"), col("dim"))
    },

    // IVF ANN (the scale path) on the same queries. ORACLE-ELIGIBLE
    // since r14 via the tx07 inline-integrity pattern: the raw neighbor
    // ids (IVF-internals-dependent — not reproducible in DuckDB) move
    // out of the output; the FULL IVF search still executes, and every
    // per-query row carries certificates the oracle pins:
    //  - k_returned: exactly k answers per query (a probe/cell bug that
    //    starves a query flips this);
    //  - in_corpus_ok / not_self_ok: every answer is a real non-self
    //    corpus vector;
    //  - ordered_ok: scores non-increasing down the rank list (a rank/
    //    score mix-up flips this);
    //  - recall_ok: recall@5 vs an01's exact answer ≥ 0.5 at the
    //    production nProbe=4 (an03's calibrated floor for this
    //    near-random corpus), attached as a broadcast 1-row scalar.
    // Users who want the raw neighbor lists call Similarity.ivfTopK
    // directly (exercised verbatim by an03/an12 and pinned in DedupSpec).
    "an02_cosine_topk_ivf" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
        nCells = 16, nProbe = 4, quantizerKey = s"emb-$dir")
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
        .select($"query_id".as("qid"), $"neighbor_id".as("nid"))
      val recall = exact.join(
          ivf.select($"query_id".as("q2"), $"neighbor_id".as("n2"), lit(1L).as("hit")),
          $"qid" === $"q2" && $"nid" === $"n2", "left")
        .agg((sum(coalesce($"hit", lit(0L))).cast("double") / count(lit(1))).as("recall"))
        .select(when($"recall" >= 0.5, 1L).otherwise(0L).as("recall_ok"))
      val corpus = emb.select($"vec_id".as("neighbor_id"), lit(1L).as("in_corpus"))
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"rank")
      ivf
        .join(broadcast(corpus), Seq("neighbor_id"), "left")
        .withColumn("prev_cos", lag($"cosine", 1).over(wOrd))
        .groupBy($"query_id")
        .agg(count(lit(1)).as("k_returned"),
          min(coalesce($"in_corpus", lit(0L))).as("in_corpus_ok"),
          min(when($"neighbor_id" =!= $"query_id", 1L).otherwise(0L)).as("not_self_ok"),
          min(when($"prev_cos".isNull || $"cosine" <= $"prev_cos", 1L)
            .otherwise(0L)).as("ordered_ok"))
        .crossJoin(broadcast(recall))
        .orderBy($"query_id")
    },

    // Self-certifying IVF quality: recall@5 of the IVF answer against
    // an01's exact answer at two probe settings, emitted as pass/fail
    // bits the DuckDB oracle pins to 1. Both inputs are deterministic
    // (seeded quantizer, id-tiebroken ranks), so this converts the IVF
    // entry's rows-only story into a hash-checked recall guarantee at
    // EVERY scale factor the driver verifies — without the oracle having
    // to reproduce model internals. Two points on the recall curve:
    //  - nProbe=4 (an02's production posture, 1/4 of cells scanned)
    //    against a 0.5 floor — this corpus is near-random embeddings
    //    (see dd04's note), the worst case for cell locality, and its
    //    measured recall at 1/4-probe is 0.56–0.70 across SFs;
    //  - nProbe=12 against the 0.85 quality bar (measured 0.88–0.96) —
    //    certifying the probe knob reaches target recall when cranked.
    // The raw recall value at nProbe=8 is additionally pinned in
    // DedupSpec against the same brute-force frames.
    "an03_ivf_recall" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
        .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
      def point(nProbe: Int, bar: Double) = {
        val approx = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
            nCells = 16, nProbe = nProbe, quantizerKey = s"emb-$dir")
          .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
        // both sides are k·|queries| rows — tiny by construction
        exact.join(approx,
            col("qid") === col("query_id") && col("nid") === col("neighbor_id"), "left")
          .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") / count(lit(1)))
            .as("recall"))
          .select(lit(nProbe.toLong).as("n_probe"), lit(bar).as("threshold"),
            when(col("recall") >= bar, 1L).otherwise(0L).as("recall_ok"))
      }
      point(4, 0.5).unionByName(point(12, 0.85)).orderBy(col("n_probe"))
    },

    // Self-certifying PQ quality, same contract as an03: recall@5 of the
    // product-quantized search against an01's exact answer, emitted as
    // pass/fail bits the DuckDB oracle pins to 1. Codebooks are seeded
    // and fit on a sorted-hash sample, ranks are id-tiebroken — both
    // inputs deterministic at every SF. Two points:
    //  - pure ADC (shortlist=0): 4-bit codes at 32× memory compression
    //    over a near-random corpus (PQ's worst case — no cluster
    //    structure for centroids to exploit); measured recall@5 is
    //    0.28–0.44 across SFs, certified against a 0.2 floor;
    //  - ADC shortlist 100 + exact re-rank: the production posture
    //    (codes narrow, floats re-read for ≤100 rows/query); measured
    //    0.92–0.98, certified against the 0.85 quality bar.
    "an04_pq_recall" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
        .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
      def point(shortlist: Int, bar: Double) = {
        val approx = Similarity.pqTopK(emb, queries, "vec_id", "embedding", k = 5,
            m = 16, ksub = 16, shortlist = shortlist, quantizerKey = s"emb-$dir")
          .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
        exact.join(approx,
            col("qid") === col("query_id") && col("nid") === col("neighbor_id"), "left")
          .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") / count(lit(1)))
            .as("recall"))
          .select(lit(shortlist.toLong).as("shortlist"), lit(bar).as("threshold"),
            when(col("recall") >= bar, 1L).otherwise(0L).as("recall_ok"))
      }
      point(0, 0.2).unionByName(point(100, 0.85)).orderBy(col("shortlist"))
    },

    // Self-certifying int8 scalar-quantization recall (the third
    // compression point on the ANN tier: float64 brute force → SQ8 at
    // 4× memory cut → PQ at 32×). Same constant-oracle contract as
    // an03/an04: per-dim ranges are order-independent min/max (exact on
    // any partitioning), so recall is a fixed per-corpus number. Two
    // points: pure SQ-ADC (8-bit codes rank directly — measured ≈1.0 on
    // this corpus, certified ≥0.85) and SQ + exact re-rank of a
    // 50-deep shortlist (the belt-and-braces posture, certified ≥0.95).
    "an09_sq8_recall" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
        .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
      def point(shortlist: Int, bar: Double) = {
        val approx = Similarity.sqTopK(emb, queries, "vec_id", "embedding", k = 5,
            shortlist = shortlist, quantizerKey = s"emb-$dir")
          .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
        exact.join(approx,
            col("qid") === col("query_id") && col("nid") === col("neighbor_id"), "left")
          .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") / count(lit(1)))
            .as("recall"))
          .select(lit(shortlist.toLong).as("shortlist"), lit(bar).as("threshold"),
            when(col("recall") >= bar, 1L).otherwise(0L).as("recall_ok"))
      }
      point(0, 0.85).unionByName(point(50, 0.95)).orderBy(col("shortlist"))
    },

    // OPQ vs plain PQ at IDENTICAL cost (an11): the learned orthogonal
    // rotation (Ge et al. CVPR'13 — PCA + eigenvalue-allocation init,
    // Procrustes alternation; see Similarity.opqArtifacts) certified
    // against an04's plain PQ at the same m/ksub/seed/pure-ADC
    // settings. Certification runs on a deterministic ANISOTROPIC view
    // of the embeddings ([[anisoEmbeddings]]): the driver corpus is
    // near-isotropic by construction (dd04's note) — per-dim variances
    // within ±15%, ~zero cross-dim correlation — a geometry where NO
    // rotation can beat identity (measured: permutation and Procrustes
    // uplifts are ±0.02 recall noise there). The view manufactures the
    // correlated, scale-skewed, clustered geometry real embedding
    // corpora have, which is what OPQ's rotation exploits. Two bits,
    // both deterministic (sorted bounded sample, seeded Lloyd, LAPACK
    // eig/svd):
    //  - dist_uplift_ok: corpus-wide quantization distortion (the
    //    objective OPQ minimizes) at least 3% below plain PQ's
    //    (measured ~25-35% below across local SFs);
    //  - recall_uplift_ok: pure-ADC recall@5 at least plain PQ's at
    //    identical ADC cost.
    "an11_opq_recall" -> { (s, dir) =>
      // the anisotropic view is an interpreted zip_with chain over the
      // corpus; every consumer below (brute-force corpus side, both ANN
      // scans, the distortion aggregate, the query filter) re-derived it
      // — materialize the INPUT once (pure view of the corpus, not part
      // of what any compared side certifies)
      val emb = Lineage.cut(anisoEmbeddings(s, dir))
      val queries = emb.filter(col("vec_id") < 10)
      val key = s"emb-aniso-$dir"
      val m = 16; val ksub = 16
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
        .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
      def recallOf(approx: org.apache.spark.sql.DataFrame, as: String) =
        exact.join(
            approx.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
            col("qid") === col("query_id") && col("nid") === col("neighbor_id"), "left")
          .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") / count(lit(1)))
            .as(as))
      val rPq = recallOf(Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        k = 5, m = m, ksub = ksub, shortlist = 0, quantizerKey = key), "r_pq")
      val rOpq = recallOf(Similarity.opqTopK(emb, queries, "vec_id", "embedding",
        k = 5, m = m, ksub = ksub, shortlist = 0, quantizerKey = key), "r_opq")
      val books = Similarity.pqCodebooks(emb, "vec_id", "embedding", key, m, ksub, 42L)
      val (rot, obooks) = Similarity.opqArtifacts(emb, "vec_id", "embedding", key, m, ksub, 42L)
      val dist = emb.select(col("embedding").as("v"))
        .withColumn("vn", Similarity.norm(col("v"))).filter(col("vn") > 0)
        .withColumn("u", transform(col("v"), x => x / col("vn")))
        .agg(avg(Similarity.quantDistortion(books, col("u"))).as("d_pq"),
          avg(Similarity.opqDistortion(rot, obooks, col("u"))).as("d_opq"))
      rPq.crossJoin(broadcast(rOpq)).crossJoin(broadcast(dist))
        .select(lit(m.toLong).as("m"), lit(ksub.toLong).as("ksub"),
          when(col("d_opq") <= col("d_pq") * 0.97, 1L).otherwise(0L)
            .as("dist_uplift_ok"),
          when(col("r_opq") >= col("r_pq"), 1L).otherwise(0L)
            .as("recall_uplift_ok"))
    },

    // ANN index PERSISTENCE round-trip (an12) — the restart path a
    // production deployment actually exercises: the IVF index (16
    // centroids + the full (vec_id, cell) assignment table) is written
    // to parquet, read back, and the search re-runs FROM THE RELOADED
    // INDEX via Similarity.ivfTopKWithIndex — no re-clustering, no
    // in-memory artifact cache. Certificate bits, the an03 contract:
    //  - n_queries: data-derived query count (DuckDB replays);
    //  - centroids_roundtrip_ok: all 16×64 doubles bit-identical after
    //    the parquet round-trip;
    //  - counts_match + results_match: the loaded-index search returns
    //    exactly the fresh-artifact an02 result set — same (query, rank,
    //    neighbor) triples, cosines equal to 1e-15 (identical arithmetic
    //    on identical cells ⇒ bit-equal in practice).
    "an12_index_persistence" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val key = s"emb-$dir"
      val centers = Similarity.coarseQuantizer(emb, "vec_id", "embedding", key, 16, 42L)
      val idxDir = new java.io.File(
        s"target/fixtures/ivf_index/${new java.io.File(dir).getName}").getAbsolutePath
      centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "cvec")
        .repartition(1).write.mode("overwrite").parquet(s"$idxDir/centroids")
      Similarity.ivfAssignments(emb, "vec_id", "embedding", centers)
        .write.mode("overwrite").parquet(s"$idxDir/assignments")
      // reload: the driver-side artifact is 16 rows; the assignment
      // table stays distributed
      val reloaded = s.read.parquet(s"$idxDir/centroids").collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .sortBy(_._1).map(_._2)
      val roundtripOk = reloaded.length == centers.length &&
        centers.zip(reloaded).forall { case (a, b) => java.util.Arrays.equals(a, b) }
      val assignments = s.read.parquet(s"$idxDir/assignments")
      val fresh = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
          k = 5, nCells = 16, nProbe = 4, quantizerKey = key)
        .select($"query_id", $"rank", $"neighbor_id".as("n_fresh"),
          $"cosine".as("c_fresh"))
      val loaded = Similarity.ivfTopKWithIndex(emb, queries, "vec_id", "embedding",
          k = 5, centers = reloaded, assignments = assignments, nProbe = 4)
        .select($"query_id", $"rank", $"neighbor_id".as("n_loaded"),
          $"cosine".as("c_loaded"))
      val nQueries = queries.agg(count(lit(1)).as("n_queries"))
      fresh.join(loaded, Seq("query_id", "rank"), "full_outer")
        .agg(sum(when($"n_fresh".isNull || $"n_loaded".isNull, 1L).otherwise(0L))
            .as("n_unpaired"),
          sum(when($"n_fresh" === $"n_loaded" &&
            abs($"c_fresh" - $"c_loaded") <= 1e-15, 0L).otherwise(1L))
            .as("n_mismatch"))
        .crossJoin(broadcast(nQueries))
        .select($"n_queries".cast("long").as("n_queries"),
          lit(if (roundtripOk) 1L else 0L).as("centroids_roundtrip_ok"),
          when($"n_unpaired" === 0, 1L).otherwise(0L).as("counts_match"),
          when($"n_mismatch" === 0, 1L).otherwise(0L).as("results_match"))
    },

    // Persisted PQ/OPQ index round-trip (an13) — an12's restart posture
    // for the COMPRESSED-ANN tier, the r18 verdict's ask #2: both index
    // halves land as parquet artifacts (driver-side: PQ codebooks as
    // (j, c, cent) rows, the OPQ rotation as (i, rvec) rows; distributed:
    // the (vec_id, codes) tables from pqCodeTable/opqCodeTable), are
    // reloaded, and the search re-runs FROM THE RELOADED ARTIFACT via
    // pqTopKWithIndex/opqTopKWithIndex — no re-fit, no re-encode, and in
    // the pure-ADC regime no corpus scan at all (the codes table IS the
    // index). Certificate bits, the an12 contract:
    //  - n_queries: data-derived query count (DuckDB replays);
    //  - pq_books_roundtrip_ok / opq_artifacts_roundtrip_ok: every
    //    codebook centroid (and the rotation matrix) bit-identical after
    //    the parquet round-trip (java.util.Arrays.equals per row);
    //  - pq_rerank_match / opq_rerank_match: loaded ≡ fresh in the
    //    shortlist-20 exact-re-rank regime — same (query, rank,
    //    neighbor) triples, cosines within 1e-15 (identical arithmetic
    //    on bit-identical inputs ⇒ bit-equal in practice). One
    //    comparison per quantizer (the an12 posture): the regime runs
    //    ADC scoring, the ADC ordering (shortlist membership IS the
    //    top-20 of the ADC ranking), and the shortlist-bounded corpus
    //    re-join in a single path, so a divergence anywhere in the
    //    loaded pipeline flips the bit.
    // Cost shape: ~10 s and SF-INDEPENDENT at the test SFs (identical at
    // sf0.01 and sf0.1) — the corpus is 500–2000 rows, so the entry is
    // bound by planning/codegen of the literal-heavy encode/ADC
    // expressions across its ~8 actions, not by data. At corpus scale
    // the same plans amortize: encode is one pass (stored), pure-ADC
    // search never touches the corpus, re-rank reads ≤20 vectors/query.
    "an13_pq_index_persistence" -> { (s, dir) =>
      import s.implicits._
      val (m, ksub) = (16, 16)
      val emb = Tables.embeddings(s, dir)
      val pqQueries = emb.filter(col("vec_id") < 10)
      val key = s"emb-$dir"
      val books = Similarity.pqCodebooks(emb, "vec_id", "embedding", key, m, ksub, 42L)
      // OPQ on the anisotropic view — the corpus its rotation is FOR
      // (an11/build_opq_artifacts' posture; artifacts memoized per key).
      // Materialized ONCE: the view is an interpreted zip_with chain,
      // and the code-table write, the fresh search, the loaded re-rank
      // and the query filter each re-derived it (shared INPUT prep —
      // the fresh and loaded pipelines it feeds stay independent)
      val aniso = Lineage.cut(anisoEmbeddings(s, dir))
      val aQueries = aniso.filter(col("vec_id") < 10)
      val akey = s"emb-aniso-$dir"
      val (rot, obooks) = Similarity.opqArtifacts(aniso, "vec_id", "embedding",
        akey, m, ksub, 42L)
      val idxDir = new java.io.File(
        s"target/fixtures/pq_index/${new java.io.File(dir).getName}").getAbsolutePath
      def writeBooks(bs: Array[Array[Array[Double]]], p: String): Unit =
        bs.zipWithIndex.flatMap { case (bj, j) =>
          bj.zipWithIndex.map { case (cent, c) => (j, c, cent.toSeq) } }.toSeq
          .toDF("j", "c", "cent")
          .repartition(1).write.mode("overwrite").parquet(p)
      writeBooks(books, s"$idxDir/pq_books")
      writeBooks(obooks, s"$idxDir/opq_books")
      rot.zipWithIndex.map { case (rv, i) => (i, rv.toSeq) }.toSeq
        .toDF("i", "rvec")
        .repartition(1).write.mode("overwrite").parquet(s"$idxDir/opq_rot")
      Similarity.pqCodeTable(emb, "vec_id", "embedding", books)
        .write.mode("overwrite").parquet(s"$idxDir/pq_codes")
      Similarity.opqCodeTable(aniso, "vec_id", "embedding", rot, obooks)
        .write.mode("overwrite").parquet(s"$idxDir/opq_codes")
      // reload the driver-side halves (bounded artifacts: m·ksub = 256
      // centroid rows, dim = 64 rotation rows); codes stay distributed
      def loadBooks(p: String): Array[Array[Array[Double]]] = {
        val rows = s.read.parquet(p).collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        Array.tabulate(rows.map(_._1).max + 1) { j =>
          rows.filter(_._1 == j).sortBy(_._2).map(_._3)
        }
      }
      val lBooks = loadBooks(s"$idxDir/pq_books")
      val lObooks = loadBooks(s"$idxDir/opq_books")
      val lRot = s.read.parquet(s"$idxDir/opq_rot").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).map(_._2)
      def booksEq(a: Array[Array[Array[Double]]], b: Array[Array[Array[Double]]]) =
        a.length == b.length && a.zip(b).forall { case (x, y) =>
          x.length == y.length && x.zip(y).forall { case (u, v) =>
            java.util.Arrays.equals(u, v) } }
      val pqOk = booksEq(books, lBooks)
      val opqOk = booksEq(obooks, lObooks) && lRot.length == rot.length &&
        rot.zip(lRot).forall { case (a, b) => java.util.Arrays.equals(a, b) }
      val lPqCodes = s.read.parquet(s"$idxDir/pq_codes")
      val lOpqCodes = s.read.parquet(s"$idxDir/opq_codes")
      def cmp(fresh: org.apache.spark.sql.DataFrame,
              loaded: org.apache.spark.sql.DataFrame, as: String) =
        fresh.select($"query_id", $"rank", $"neighbor_id".as("nf"),
            $"cosine".as("cf"))
          .join(loaded.select($"query_id", $"rank", $"neighbor_id".as("nl"),
            $"cosine".as("cl")), Seq("query_id", "rank"), "full_outer")
          .agg(sum(when($"nf".isNull || $"nl".isNull || $"nf" =!= $"nl" ||
            abs($"cf" - $"cl") > 1e-15, 1L).otherwise(0L)).as("bad"))
          .select(when($"bad" === 0, 1L).otherwise(0L).as(as))
      val bits = Seq(
        cmp(Similarity.pqTopK(emb, pqQueries, "vec_id", "embedding", k = 5,
            m = m, ksub = ksub, shortlist = 20, quantizerKey = key),
          Similarity.pqTopKWithIndex(emb, pqQueries, "vec_id", "embedding",
            k = 5, lBooks, lPqCodes, shortlist = 20), "pq_rerank_match"),
        cmp(Similarity.opqTopK(aniso, aQueries, "vec_id", "embedding", k = 5,
            m = m, ksub = ksub, shortlist = 20, quantizerKey = akey),
          Similarity.opqTopKWithIndex(aniso, aQueries, "vec_id", "embedding",
            k = 5, lRot, lObooks, lOpqCodes, shortlist = 20), "opq_rerank_match"))
      val nQueries = pqQueries.agg(count(lit(1)).as("n_queries"))
      bits.reduce((a, b) => a.crossJoin(broadcast(b)))
        .crossJoin(broadcast(nQueries))
        .select($"n_queries".cast("long").as("n_queries"),
          lit(if (pqOk) 1L else 0L).as("pq_books_roundtrip_ok"),
          lit(if (opqOk) 1L else 0L).as("opq_artifacts_roundtrip_ok"),
          $"pq_rerank_match", $"opq_rerank_match")
    },

    // TOMBSTONE DELETION for the PERSISTED ANN INDEX (an14) — dd21's
    // takedown contract carried to the similarity tier, the one index
    // family that had no deletion story: the LSH band index deletes
    // (dd21, live in st39), but a production vector index must serve the
    // same right-to-be-forgotten without refitting. The deletable layout
    // is the honest IVF shape: the assignment table lands CELL-ROUTED
    // through IdempotentSink (one posting-list directory per cell, three
    // id-sliced ingest batches), so a probe reads only its queries'
    // nProbe cells — directory skip hot, partition filter cold — and
    // dd20's compaction applies verbatim. The takedown, in dd21's two
    // phases: (1) LOGICAL at probe time — the reader anti-joins the tiny
    // tombstone artifact against the postings; deleted vectors drop from
    // the corpus-join by construction (no corpus-side filter needed —
    // a vector with no posting row is unreachable); effective
    // immediately, zero rewrite; (2) PHYSICAL at the next compaction —
    // the purge rides compactRouted's fold, after which the postings
    // physically hold zero tombstoned rows. The CENTROIDS are a model,
    // not member content, so they survive the takedown (the
    // FAISS/Milvus remove_ids posture: postings shrink, geometry
    // stands). Certs: no post-takedown result touches a tombstone; the
    // purged artifact holds zero tombstoned postings; the post-purge
    // probe (no logical filter) is bit-identical to the logical-phase
    // probe; and the takedown is EXACT — results equal a fresh
    // assignment table built from the live corpus under the same
    // centroids (full_outer on (query, rank), cosines ≤1e-15 — same
    // arithmetic on the same surviving pairs). takedown_effective_ok
    // guards vacuity: either the pre-delete results really carried
    // tombstoned neighbors (the deletion moved results) or deletion
    // changed nothing AND no tombstone ever surfaced.
    // n_queries/n_tombstones are DuckDB-recomputed so the tombstone rule
    // (every 7th vector outside the query set) does real work wherever
    // the corpus allows. 100 TB shape: tombstones are a broadcast-sized
    // artifact; the logical phase adds one anti-join on the pruned
    // postings read; the physical phase rides a rewrite the LSM layout
    // already pays for.
    "an14_ivf_index_tombstones" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter($"vec_id" < 10)
      val key = s"emb-$dir"
      val centers = Similarity.coarseQuantizer(emb, "vec_id", "embedding",
        key, 16, 42L)
      val base = graft.stream.StreamRunner.scratchDir("anntomb-")
      val aDir = s"$base/postings"
      // cell-routed posting-list ingest, three id-sliced batches; the
      // route is a STRING copy of the payload cell (partitionBy strips
      // the route column from the files; the payload copy is what
      // ivfTopKWithIndex joins on)
      (0 until 3).foreach { i =>
        graft.stream.IdempotentSink.writeRoutedBatch(
          Similarity.ivfAssignments(emb.filter($"vec_id" % 3 === i),
              "vec_id", "embedding", centers)
            .withColumn("cell_route", $"cell".cast("string")),
          aDir, "cell_route", i)
      }
      // the takedown request, persisted as its own tiny artifact — every
      // 7th vector outside the query set
      emb.filter($"vec_id" % 7 === 3 && $"vec_id" >= 10)
        .select($"vec_id".as("tid"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/tombstones")
      val tomb = s.read.parquet(s"$base/tombstones").cutLineage()
      // probe-side and corpus-side prep are pure INPUT functions shared
      // by all four certified searches (what each search certifies is
      // the ASSIGNMENT table it joins — pre-delete, logical, post-purge,
      // fresh-from-live-corpus); build each once instead of re-planning
      // the literal-heavy nearest-cells cascade and the corpus norm scan
      // per search (4× before)
      val probeRows = Similarity.ivfProbeRows(queries, "vec_id",
        "embedding", centers, 4).cutLineage()
      val corpusSide = Similarity.corpusNormed(emb, "vec_id", "embedding")
        .cutLineage()
      // bounded driver pull (the st34 posture): the queries' probed
      // cells (≤ |queries| × nProbe ints) select which posting
      // directories are even listed — read off the materialized probe
      // frame (same nProbe-nearest-cells rule dupProbeRows applied)
      val probedCells = probeRows
        .select($"cell").distinct().collect().map(_.get(0).toString).toSeq
      def postings() = graft.stream.IdempotentSink
        .readRouted(s, aDir, "cell_route", Some(probedCells)).get
      def search(assign: org.apache.spark.sql.DataFrame) =
        Similarity.ivfTopKWithIndex(emb, queries, "vec_id", "embedding",
          k = 5, centers = centers, assignments = assign, nProbe = 4,
          probeRows = Some(probeRows), corpusSide = Some(corpusSide))
      // diff count as a DEFERRED 1-row aggregate, so several compares
      // (and their sibling audit counts) ride one action via
      // Actions.longs — each was its own count job before, and at this
      // size every job is scheduling overhead, not compute
      def cmpN(a: org.apache.spark.sql.DataFrame,
               b: org.apache.spark.sql.DataFrame) =
        graft.ops.Actions.countOf(
          a.select($"query_id", $"rank", $"neighbor_id".as("n_a"),
              $"cosine".as("c_a"))
            .join(b.select($"query_id", $"rank", $"neighbor_id".as("n_b"),
              $"cosine".as("c_b")), Seq("query_id", "rank"), "full_outer")
            .filter($"n_a".isNull || $"n_b".isNull || $"n_a" =!= $"n_b" ||
              abs($"c_a" - $"c_b") > 1e-15))
      // pre-delete probe: did the corpus even have tombstoned neighbors
      // in range? (feeds the vacuity guard)
      val pre = search(postings()).cutLineage()
      // (1) LOGICAL: anti-join the tombstones at probe time — no rewrite
      val res1 = search(postings().join(tomb, col("vec_id") === col("tid"),
        "left_anti")).cutLineage()
      val Seq(nTomb, preTombHits, tombHits, preDiff) = graft.ops.Actions.longs(
        graft.ops.Actions.countOf(tomb),
        graft.ops.Actions.countOf(pre.join(tomb,
          pre("neighbor_id") === tomb("tid"), "left_semi")),
        graft.ops.Actions.countOf(res1.join(tomb,
          res1("neighbor_id") === tomb("tid"), "left_semi")),
        cmpN(pre, res1))
      val effective = preTombHits > 0 || preDiff == 0
      // (2) PHYSICAL: the purge rides the compaction fold
      graft.stream.IdempotentSink.compactRouted(s, aDir, "cell_route",
        shufflePartitions = 16,
        purge = Some(df => df.join(tomb, df("vec_id") === tomb("tid"),
          "left_anti")))
      val allAfter = graft.stream.IdempotentSink
        .readRouted(s, aDir, "cell_route").get
      // (3) post-purge probe needs no logical filter; (4) exactness:
      // ≡ fresh postings from the live corpus, same centers. The purge
      // audit and both compares share ONE action — their subplans are
      // independent and materialize concurrently under AQE
      val liveCorpus = emb.join(tomb, emb("vec_id") === tomb("tid"),
        "left_anti")
      val Seq(purgedRows, reprobeDiff, freshDiff) = graft.ops.Actions.longs(
        graft.ops.Actions.countOf(allAfter.join(tomb,
          allAfter("vec_id") === tomb("tid"), "left_semi")),
        cmpN(res1, search(postings())),
        cmpN(res1, search(
          Similarity.ivfAssignments(liveCorpus, "vec_id", "embedding", centers))))
      queries.agg(count(lit(1)).cast("long").as("n_queries"))
        .select($"n_queries",
          lit(nTomb).as("n_tombstones"),
          lit(if (tombHits == 0L) 1L else 0L).as("no_tombstone_hit_ok"),
          lit(if (effective) 1L else 0L).as("takedown_effective_ok"),
          lit(if (purgedRows == 0L) 1L else 0L).as("purged_ok"),
          lit(if (reprobeDiff == 0L) 1L else 0L).as("reprobe_equal_ok"),
          lit(if (freshDiff == 0L) 1L else 0L).as("fresh_equal_ok"))
    },

    // Text-similarity search baseline: exact Jaccard top-3 neighbors for
    // the first 5 documents, via an inverted shingle index — candidates
    // are (query, doc) pairs sharing at least one 3-shingle, intersection
    // sizes come from one (shingle join → pair groupBy) pass, and the
    // union size is |A|+|B|−|A∩B| from precomputed set sizes: no
    // all-pairs scan, work bounded by shared-shingle pair counts. The
    // Jaccard score is a single division of exact integers (identical
    // doubles in both engines, ranked with id tie-break). Hot-shingle
    // skew is the hazard at 100 TB — the production probe is dd01's
    // banded MinHash-LSH with capped buckets; this entry is the exact
    // baseline it approximates (an01's role, for text).
    "an06_jaccard_topk" -> { (s, dir) =>
      import s.implicits._
      // shingles as 64-bit xxhash values via the native one-pass codegen
      // expression (the r11 shape built shingle STRINGS through three
      // interpreted HOFs — the dominant cost of the whole entry — and
      // carried them onto the wire). Hashed-set intersection counts
      // equal string-set counts absent an xxhash64 collision; a
      // collision would change a jaccard value and flip THIS entry's
      // oracle compare red, so the assumption is self-checking (the
      // dd07/tx03 digest posture). Docs under k tokens are excluded
      // up front — the hash kernel's short-doc convention (whole-doc
      // shingle) must not differ from the string kernel's empty array.
      val sh = Tables.documents(s, dir)
        .withColumn("_toks", TextOps.tokens($"text"))
        .filter(size($"_toks") >= 3)
        .select($"doc_id", Dedup.shingleHashes($"_toks", 3).as("s"))
        .filter(size($"s") > 0)
      // set sizes ride the exploded rows (constant per doc — `first` in
      // the pair aggregate recovers them), so the shingle subtree is
      // evaluated once per side instead of four times (r11's shape
      // re-joined two size frames, each re-running the shingling over
      // the corpus). The query side is a CONSTANT number of docs —
      // broadcast it so the corpus-wide shingle stream is probed in
      // place instead of shuffled by shingle key. The only shuffle left
      // is the pair-count aggregate.
      val ex = sh.select($"doc_id", size($"s").cast("long").as("nd"),
        explode($"s").as("sh"))
      val qex = ex.filter($"doc_id" < 5)
        .select($"doc_id".as("query_id"), $"nd".as("nq"), $"sh")
      val inter = ex.join(broadcast(qex), "sh")
        .filter($"query_id" =!= $"doc_id")
        .groupBy($"query_id", $"doc_id")
        .agg(count(lit(1)).as("i"), first($"nq").as("nq"), first($"nd").as("nd"))
      val scored = inter
        .select($"query_id", $"doc_id".as("neighbor_id"),
          ($"i".cast("double") / ($"nq" + $"nd" - $"i")).as("jaccard"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"jaccard".desc, $"neighbor_id")
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 3)
        .select($"query_id", $"rank", $"neighbor_id", $"jaccard")
        .orderBy($"query_id", $"rank")
    },

    // Self-certifying IVF·PQ quality — the fully-composed inverted-file
    // shape (coarse cells cut candidates, PQ codes cut memory, exact
    // re-rank restores precision; see Similarity.ivfPqTopK). Same
    // constant-oracle contract as an03/an04. Two points:
    //  - nProbe=4, pure ADC: both approximations compounded at the
    //    production probe width; measured 0.28–0.40 across SFs on this
    //    near-random worst-case corpus, certified against the 0.2 floor;
    //  - nProbe=12 + rerank-100: the quality posture; measured
    //    0.88–0.96, certified against the 0.85 bar (deterministic per
    //    corpus — seeded index artifacts, id-tiebroken ranks).
    "an05_ivfpq_recall" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
        .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
      def point(nProbe: Int, shortlist: Int, bar: Double) = {
        val approx = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", k = 5,
            nCells = 16, nProbe = nProbe, m = 16, ksub = 16,
            shortlist = shortlist, quantizerKey = s"emb-$dir")
          .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
        exact.join(approx,
            col("qid") === col("query_id") && col("nid") === col("neighbor_id"), "left")
          .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") / count(lit(1)))
            .as("recall"))
          .select(lit(nProbe.toLong).as("n_probe"),
            lit(shortlist.toLong).as("shortlist"), lit(bar).as("threshold"),
            when(col("recall") >= bar, 1L).otherwise(0L).as("recall_ok"))
      }
      point(4, 0, 0.2).unionByName(point(12, 100, 0.85)).orderBy(col("n_probe"))
    },

    // Fingerprint + BPE-ish token estimate. ORACLE-ELIGIBLE since r11:
    // the raw 64-bit fingerprint (xxhash64-based — not reproducible in
    // DuckDB) no longer appears in the output; instead the fingerprint
    // column is computed in-query and certified by the two tx11
    // integrity bits (collision-free on the corpus, pure function of
    // text), attached to every row as a broadcast 1-row aggregate (the
    // tx12 scalar pattern). A fingerprint regression flips a bit to 0
    // and the DuckDB hash compare goes red — the driver's own
    // CORRECTNESS row now has teeth without the tx11 twin. Users who
    // want the raw value call `TextOps.fingerprint` directly (pinned
    // bit-for-bit in TextOpsSpec + CodegenSpec).
    "tx07_fingerprints" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cert = docs
        .select(md5(col("text")).as("digest"),
          TextOps.fingerprint(col("text")).as("fp"))
        .agg(
          (countDistinct(col("fp")) === countDistinct(col("digest")))
            .cast("long").as("collision_free"),
          (countDistinct(col("digest"), col("fp")) === countDistinct(col("digest")))
            .cast("long").as("fp_pure"))
      docs.select(col("doc_id"),
          TextOps.estimatedBpeTokens(col("text")).as("est_bpe_tokens"))
        .crossJoin(broadcast(cert))
        .orderBy(col("doc_id"))
    },

    // The RAW per-doc fingerprint values — the user-facing shape of the
    // fingerprint operator (tx07 certifies the integrity bits oracle-side
    // but no longer emits the 64-bit value itself). Rows-only BY NATURE:
    // the xxhash64-based rolling hash is not reproducible in DuckDB —
    // same signature-bound class as dd02/dd04, with tx07/tx11 as
    // the oracle-green certificate twins and the value itself pinned
    // bit-for-bit in TextOpsSpec/CodegenSpec.
    "tx28_fingerprint_values" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    },

    // Self-certifying fingerprint integrity (upgrades tx07's rows-only
    // story the way an03 upgrades an02's): a fingerprint is useful iff it
    // is (a) a pure function of the text — every distinct text maps to
    // exactly one fingerprint, proven across partitioning/replay — and
    // (b) collision-free on the corpus. Both are checkable against DuckDB
    // WITHOUT reproducing the hash: the oracle recomputes the doc and
    // distinct-text counts from the raw table (real data-derived columns,
    // not constants) and pins the two integrity bits to 1. Distinctness
    // of text is counted via its 128-bit md5 digest — the same
    // shuffle-16-bytes-never-text posture as tx03's exact dedup — which
    // equals count(DISTINCT text) absent an md5 collision.
    "tx11_fingerprint_integrity" -> { (s, dir) =>
      val fp = Tables.documents(s, dir)
        .select(md5(col("text")).as("digest"),
          TextOps.fingerprint(col("text")).as("fp"))
      fp.agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("digest")).as("n_texts"),
          countDistinct(col("fp")).as("n_fp"),
          countDistinct(col("digest"), col("fp")).as("n_text_fp"))
        .select(col("n_docs"), col("n_texts"),
          when(col("n_fp") === col("n_texts"), 1L).otherwise(0L)
            .as("collision_free"),
          when(col("n_text_fp") === col("n_texts"), 1L).otherwise(0L)
            .as("fp_is_function_of_text"))
    },

    // Multimodal: real binary image payload (24-bit BMP / binary PPM,
    // deterministic pixel pattern) → per-partition REAL decode (header
    // parse + pixel-array walk) → metadata + exact integer pixel stats.
    // The DuckDB oracle replays the pixel GENERATOR, not the codec: the
    // hashes only match if encode→decode round-trips bit-exactly —
    // channel sums pin BGR/RGB order, the top-down positional moment
    // pins BMP's bottom-up scanline flip and row padding, n_bytes pins
    // the canonical encoded size of both formats.
    "mm01_media_metadata" -> { (s, dir) =>
      Multimodal.decodeMeta(Multimodal.withPayload(Tables.documents(s, dir)))
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("n_bytes"), col("n_pixels"),
          col("sum_r"), col("sum_g"), col("sum_b"), col("mom_r"))
        .orderBy(col("doc_id"))
    },

    // INCREMENTAL INGEST DEDUP — the shape a production curation run
    // actually executes: a NEW batch (here the doc_id%4==3 quarter of
    // the corpus — a deterministic stand-in for today's crawl) deduped
    // against the EXISTING corpus (the other three quarters — in
    // production a persisted digest/band index, not a rescan) plus
    // within itself. Drop rules, all replay-deterministic:
    //  - exact vs history: content digest already present;
    //  - exact within batch: a smaller batch id shares the digest;
    //  - near vs history: any verified LSH pair (dd01 params,
    //    Jaccard ≥ 0.5) with a history partner — history always wins
    //    regardless of id order;
    //  - near within batch: a verified pair with a smaller batch id.
    // Scale shape: digests + ids on every shuffle; pair generation is
    // dd01's capped-bucket LSH (oracle-equal to exact Jaccard on this
    // corpus — dd01's green hash row is the equivalence certificate).
    "dd15_incremental_ingest_dedup" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val withSide = docs.select($"doc_id", $"n_chars",
        md5($"text".cast("binary")).as("h"), ($"doc_id" % 4 === 3).as("is_new"))
      val hist = withSide.filter(!$"is_new")
      val batch = withSide.filter($"is_new")
      val dropExactHist = batch
        .join(hist.select($"h").distinct(), Seq("h"), "left_semi")
        .select($"doc_id")
      val wD = org.apache.spark.sql.expressions.Window
        .partitionBy($"h").orderBy($"doc_id")
      val dropExactBatch = batch.withColumn("rn", row_number().over(wD))
        .filter($"rn" > 1).select($"doc_id")
      // both orientations in ONE pass (Dedup.undirectedPairs): the
      // MinHash+verify stack is evaluated once with no checkpoint job at
      // all — the swapped-union form ran it per branch, and the r20
      // mitigation paid a dedicated localCheckpoint materialization
      val undirected = Dedup.undirectedPairs(
        Dedup.minHashDupPairs(docs, "doc_id", "text",
            shingleK = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5)
          .select($"id_a", $"id_b"))
      val dropNear = undirected
        .join(batch.select($"doc_id".as("id_b")), "id_b")
        .join(withSide.select($"doc_id".as("id_a"), $"is_new".as("partner_new")), "id_a")
        .filter(!$"partner_new" || $"id_a" < $"id_b")
        .select($"id_b".as("doc_id")).distinct()
      val dropped = dropExactHist.unionByName(dropExactBatch)
        .unionByName(dropNear).distinct()
      batch.join(dropped, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"n_chars").orderBy($"doc_id")
    },

    // dd15 WITH A PERSISTED INDEX — the shape a daily crawl actually
    // runs: the history side's LSH band table and content digests are
    // parquet artifacts written when history was ingested (an12's
    // restart posture, for the dedup tier); today's batch generates its
    // candidates by probing the RELOADED artifacts — the history text is
    // never re-scanned for candidate generation, and is re-read only to
    // verify candidate partners (left-semi pruned before shingling).
    // Band buckets union index rows with fresh rows, so the capped-
    // bucket candidate set is EXACTLY the full-corpus run's restricted
    // to batch-touching pairs — same drop rules, same keepers, same
    // oracle as dd15 (which is the equivalence certificate: persisted-
    // index path ≡ recompute-from-scratch path, hash-checked).
    "dd17_persisted_lsh_ingest" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val hist = docs.filter(!($"doc_id" % 4 === 3))
      val batch = docs.filter($"doc_id" % 4 === 3)
      // the index WRITE is the "history was ingested yesterday" step —
      // a one-time build (memoized per dir + documents fingerprint,
      // exposed as build_lsh_index so the bench prices it separately);
      // the entry times the PROBE path, which is the operator under
      // test. The write path carries the band parameters in a _params
      // sidecar; the read path ASSERTS them (a mismatched probe would
      // silently corrupt the candidate set — Dedup.readLshBandIndex)
      val idxDir = ensureLshIndex(s, dir)
      val bands = Dedup.readLshBandIndex(s, idxDir,
        shingleK = 3, numBands = 8, rowsPerBand = 4)
      val digests = s.read.parquet(s"$idxDir/digests")
      val withMeta = batch.select($"doc_id", $"n_chars",
        md5($"text".cast("binary")).as("h"))
      val dropExactHist = withMeta
        .join(digests, Seq("h"), "left_semi").select($"doc_id")
      val wD = org.apache.spark.sql.expressions.Window
        .partitionBy($"h").orderBy($"doc_id")
      val dropExactBatch = withMeta.withColumn("rn", row_number().over(wD))
        .filter($"rn" > 1).select($"doc_id")
      // both orientations in ONE pass (Dedup.undirectedPairs): the probe
      // verify tail (batch re-shingle + partner fetch) is evaluated once
      // with no checkpoint job — see dd15
      val undirected = Dedup.undirectedPairs(
        Dedup.minHashDupPairsWithIndex(batch, bands, hist,
            "doc_id", "text", shingleK = 3, numBands = 8, rowsPerBand = 4,
            threshold = 0.5)
          .select($"id_a", $"id_b"))
      val dropNear = undirected
        .join(batch.select($"doc_id".as("id_b")), "id_b")
        .join(docs.select($"doc_id".as("id_a"),
          ($"doc_id" % 4 === 3).as("partner_new")), "id_a")
        .filter(!$"partner_new" || $"id_a" < $"id_b")
        .select($"id_b".as("doc_id")).distinct()
      val dropped = dropExactHist.unionByName(dropExactBatch)
        .unionByName(dropNear).distinct()
      batch.join(dropped, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"n_chars").orderBy($"doc_id")
    },

    // CERTIFIED COMPACTION of the streaming band-index artifact — the
    // 100 TB maintenance op the per-batch commit protocol needs: st29's
    // index accumulates one atomic directory per batch per touched
    // bucket forever, so after thousands of crawl batches LISTING cost
    // grows with batch count even though probe pruning bounds the bytes.
    // IdempotentSink.compactRouted folds the hot directories into ONE
    // Hive-partitioned cold run (one file per bucket), committed by a
    // cumulative manifest (stage + rename — crash-recoverable at every
    // step, readers converge at every intermediate state). This entry
    // replays a 3-batch ingest, snapshots the accumulated index, folds
    // it, re-delivers an already-consumed batch (the at-least-once
    // retry-after-maintenance case — the _committed marker must no-op
    // it), and certifies: content multiset-identical to the snapshot
    // (compaction is pure layout maintenance), exactly one cold run, ≤1
    // file per bucket partition, zero hot directories left. Counts are
    // DuckDB's independent recomputes (every doc contributes exactly
    // numBands=8 band rows); the probe-plan half (partition filter +
    // Bloom on the compacted layout) is pinned in DedupSpec.
    "dd20_band_index_compaction" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir).select($"doc_id", $"text")
      val base = graft.stream.StreamRunner.scratchDir("bandcompact-")
      val bandsDir = s"$base/bands"
      // ONE shingle+signature pass over the corpus serves all four band
      // consumers (3 batch writes + the post-fold redelivery, whose
      // committed-batch no-op still materializes its input frame): the
      // band rows are a pure per-doc function, so each batch is the
      // checkpointed frame filtered to its slice — previously every
      // consumer re-ran the full tokenize→shingle→sign pipeline
      val allBands = Dedup.bandedOf(
          Dedup.shingled(docs, "doc_id", "text", 3), 8, 4)
        .withColumn("band_bucket", Dedup.bandBucket($"band"))
        .cutLineage()
      def bandsOf(i: Int) = allBands.filter($"id" % 3 === i)
      (0 until 3).foreach { i =>
        graft.stream.IdempotentSink.writeRoutedBatch(
          bandsOf(i), bandsDir, "band_bucket", i)
      }
      // snapshot BEFORE the fold (compaction deletes the hot dirs)
      val before = graft.stream.IdempotentSink
        .readRouted(s, bandsDir, "band_bucket").get.cutLineage()
      graft.stream.IdempotentSink.compactRouted(s, bandsDir, "band_bucket",
        shufflePartitions = Dedup.BandBuckets)
      // at-least-once redelivery AFTER maintenance: batch 1 was consumed
      // into the cold run; the _committed marker (which compaction never
      // touches) must make this a no-op, or content_equal/hot-dir pins
      // below go red
      graft.stream.IdempotentSink.writeRoutedBatch(
        bandsOf(1), bandsDir, "band_bucket", 1)
      val after = graft.stream.IdempotentSink
        .readRouted(s, bandsDir, "band_bucket").get
      val eq = before.groupBy($"id", $"band").agg(count(lit(1)).as("n_a"))
        .join(after.groupBy($"id", $"band").agg(count(lit(1)).as("n_b")),
          Seq("id", "band"), "full_outer")
        .agg(coalesce(min(when($"n_a" === $"n_b", 1L).otherwise(0L)),
          lit(1L)).as("content_equal"))
      // layout pins from the filesystem listing (bounded: ≤ BandBuckets
      // partition dirs + a handful of run dirs)
      def ls(p: String) = Option(new java.io.File(p).listFiles())
        .getOrElse(Array.empty[java.io.File])
      val coldRuns = ls(bandsDir).filter(f => f.isDirectory &&
        f.getName.matches("c\\d+"))
      val oneColdRun = coldRuns.length == 1
      val onePerBucket = oneColdRun && coldRuns.head.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("band_bucket="))
        .forall(_.listFiles().count(_.getName.endsWith(".parquet")) == 1)
      val hotGone = ls(bandsDir).filter(_.isDirectory)
        .filter(f => !f.getName.startsWith("_") && !f.getName.matches("c\\d+"))
        .flatMap(f => ls(f.getPath)).isEmpty
      after.agg(count(lit(1)).as("n_band_rows"),
          countDistinct($"id").as("n_docs_indexed"))
        .crossJoin(broadcast(eq))
        .withColumn("one_cold_run_ok", lit(if (oneColdRun) 1L else 0L))
        .withColumn("one_file_per_bucket_ok", lit(if (onePerBucket) 1L else 0L))
        .withColumn("hot_dirs_gone_ok", lit(if (hotGone) 1L else 0L))
    },

    // TOMBSTONE DELETION for persisted index artifacts — the takedown /
    // right-to-be-forgotten op a 100 TB corpus must serve WITHOUT
    // rebuilding its indexes: deletion is LOGICAL at probe time (the
    // reader anti-joins a tiny tombstone set — effective immediately, no
    // rewrite) and PHYSICAL at the next compaction (the purge hook rides
    // the rewrite the artifact already pays for — the Delta/Iceberg
    // deletion-vector posture), after which the bytes are provably gone.
    // A deletable index must be ID-KEYED: dd17's distinct-digest index
    // cannot subtract one document, so this entry's band and digest
    // artifacts both carry doc ids (st29's layout). Tombstones are
    // data-derived so the deletion does real work wherever the corpus
    // allows: every 5th history doc PLUS any history doc sharing an
    // exact digest with a batch doc (those are exactly the docs whose
    // removal flips a drop verdict); n_tombstones is oracle-recomputed
    // so vacuosity would be visible. Certs: no emitted pair touches a
    // tombstone; after the purge-fold the artifact physically holds zero
    // tombstoned rows; the post-purge probe needs no logical filter and
    // returns identical pairs. Keepers = dd15's full drop rules replayed
    // by DuckDB over the LIVE corpus only.
    "dd21_index_tombstones" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir).select($"doc_id", $"text", $"n_chars")
      val hist = docs.filter(!($"doc_id" % 4 === 3))
      val batch = docs.filter($"doc_id" % 4 === 3)
      val base = graft.stream.StreamRunner.scratchDir("tombidx-")
      val bandsDir = s"$base/bands"
      // ONE shingle+signature pass over history serves all three batch
      // writes (the dd20/dd12 treatment: band rows are a pure per-doc
      // function, each batch is the checkpointed frame filtered to its
      // slice — previously each write re-ran the full MinHash pipeline)
      val histBands = Dedup.bandedOf(
          Dedup.shingled(hist, "doc_id", "text", 3), 8, 4)
        .withColumn("band_bucket", Dedup.bandBucket($"band"))
        .cutLineage()
      (0 until 3).foreach { i =>
        graft.stream.IdempotentSink.writeRoutedBatch(
          histBands.filter($"id" % 3 === i), bandsDir, "band_bucket", i)
      }
      // one md5 pass over history text feeds both the id-keyed digest
      // artifact (the deletable twin of dd17's digests) and the
      // digest-collision half of the tombstone rule
      val histH = hist.select($"doc_id", md5($"text".cast("binary")).as("h"))
        .cutLineage()
      histH.select($"doc_id".as("id"), $"h")
        .write.mode("overwrite").parquet(s"$base/digests")
      // the takedown request, persisted as its own tiny artifact
      val batchH = batch.select(md5($"text".cast("binary")).as("h")).distinct()
      histH.filter($"doc_id" % 5 === 0).select($"doc_id".as("tid"))
        .unionByName(histH.join(batchH, Seq("h"), "left_semi")
          .select($"doc_id".as("tid")))
        .distinct()
        .coalesce(1).write.mode("overwrite").parquet(s"$base/tombstones")
      val tomb = s.read.parquet(s"$base/tombstones").cutLineage()
      val liveHist = hist.join(tomb, hist("doc_id") === tomb("tid"), "left_anti")
      // the batch's band frame + summary + Bloom are probe-invariant:
      // build them ONCE and feed both probes (each probe call would
      // otherwise re-run the MinHash signature pass — the expensive
      // expression — plus its own persist/summary/Bloom jobs over the
      // same batch)
      val batchBands = Dedup.lshBandIndex(batch, "doc_id", "text",
          shingleK = 3, numBands = 8, rowsPerBand = 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val batchSummary = Dedup.bandSummary(batchBands)
      val batchBloom = graft.ops.Sketches.bloomBytes(batchBands, "band",
        expectedItems = batchSummary._2, fpp = 0.01)
      def probe(bands: org.apache.spark.sql.DataFrame) = Dedup.minHashDupPairsWithIndex(
          batch, bands, liveHist, "doc_id", "text",
          shingleK = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5,
          newBands = Some(batchBands), newBandSummary = Some(batchSummary),
          newBloom = Some(batchBloom))
        .select($"id_a", $"id_b")
      // (1) LOGICAL: anti-join the tombstones at read — no rewrite yet
      val rawBands = graft.stream.IdempotentSink
        .readRouted(s, bandsDir, "band_bucket").get
      val liveBands = rawBands.join(tomb, rawBands("id") === tomb("tid"),
        "left_anti")
      val pairs1 = probe(liveBands).cutLineage()
      // endpoint-exploded hash semi join: the OR-condition form
      // (id_a = tid OR id_b = tid) cannot hash-partition and plans as a
      // nested-loop join. The count is ENDPOINT-weighted (a pair with
      // both ends tombstoned counts twice) — only its zero-ness is
      // consumed, and zero endpoints ⟺ zero touching pairs.
      // Both audit scalars ride ONE action (Actions.longs) — each was
      // its own count job before, all scheduling overhead at this size
      val Seq(nTomb, tombEndpointTouches) = graft.ops.Actions.longs(
        graft.ops.Actions.countOf(tomb),
        graft.ops.Actions.countOf(pairs1
          .select(explode(array($"id_a", $"id_b")).as("k"))
          .join(tomb, $"k" === tomb("tid"), "left_semi")))
      // (2) PHYSICAL: the purge rides the compaction fold
      graft.stream.IdempotentSink.compactRouted(s, bandsDir, "band_bucket",
        shufflePartitions = Dedup.BandBuckets,
        purge = Some(df => df.join(tomb, df("id") === tomb("tid"), "left_anti")))
      val afterBands = graft.stream.IdempotentSink
        .readRouted(s, bandsDir, "band_bucket").get
      // (3) the post-purge probe needs no logical filter; equality via
      // the signed-count form (vs two exceptAll counts — each of which
      // would re-run the whole probe pipeline as its second input scan),
      // and the purge audit rides the SAME action as the reprobe compare
      val pairs2 = probe(afterBands)
      val Seq(purgedRows, reprobeDiffRows) = graft.ops.Actions.longs(
        graft.ops.Actions.countOf(afterBands.join(tomb,
          afterBands("id") === tomb("tid"), "left_semi")),
        graft.ops.Actions.countOf(Multiset.signedCounts(pairs1, pairs2)))
      val reprobeSame = reprobeDiffRows == 0L
      batchBands.unpersist(blocking = false)
      // keepers: dd15/dd17's drop rules over the LIVE corpus, digests by
      // anti-joined id-keyed artifact (never a history text rescan)
      val liveDigests = s.read.parquet(s"$base/digests")
        .join(tomb, col("id") === col("tid"), "left_anti")
      val withMeta = batch.select($"doc_id", $"n_chars",
        md5($"text".cast("binary")).as("h"))
      val dropExactHist = withMeta
        .join(liveDigests.select($"h").distinct(), Seq("h"), "left_semi")
        .select($"doc_id")
      val wD = org.apache.spark.sql.expressions.Window
        .partitionBy($"h").orderBy($"doc_id")
      val dropExactBatch = withMeta.withColumn("rn", row_number().over(wD))
        .filter($"rn" > 1).select($"doc_id")
      val undirected = Dedup.undirectedPairs(pairs1)
      val dropNear = undirected
        .join(batch.select($"doc_id".as("id_b")), "id_b")
        .join(docs.select($"doc_id".as("id_a"),
          ($"doc_id" % 4 === 3).as("partner_new")), "id_a")
        .filter(!$"partner_new" || $"id_a" < $"id_b")
        .select($"id_b".as("doc_id")).distinct()
      val dropped = dropExactHist.unionByName(dropExactBatch)
        .unionByName(dropNear).distinct()
      batch.join(dropped, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"n_chars",
          lit(nTomb).as("n_tombstones"),
          lit(if (tombEndpointTouches == 0L) 1L else 0L).as("no_tombstone_pair_ok"),
          lit(if (purgedRows == 0L) 1L else 0L).as("purged_ok"),
          lit(if (reprobeSame) 1L else 0L).as("reprobe_equal_ok"))
        .orderBy($"doc_id")
    },

    // Multimodal AUDIO: real 16-bit mono PCM WAV payloads → per-partition
    // REAL decode (RIFF chunk walk, fmt parse, sample fold) → exact
    // integer sample stats. Same certification scheme as mm01: the
    // oracle replays the deterministic sample GENERATOR, so the hash
    // only matches if encode→decode round-trips bit-exactly — the
    // positional moment Σ i·s_i pins sample order and LE byte order,
    // n_bytes pins the canonical 44-byte-header encoding.
    "mm04_audio_metadata" -> { (s, dir) =>
      Multimodal.decodeAudioMeta(Multimodal.withAudioPayload(Tables.documents(s, dir)))
        .select(col("doc_id"), col("n_bytes"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("bits_per_sample").cast("long").as("bits_per_sample"),
          col("n_samples"), col("sum_s"), col("sum_abs"), col("mom_s"))
        .orderBy(col("doc_id"))
    },

    // Multimodal RESIZE — the per-pixel transform stage (thumbnailing /
    // model-input normalization) on top of the mm01 codecs: real decode
    // to a raster, nearest-neighbor resize to a fixed 6×5 target (the
    // floor mapping src=(out·srcDim)/outDim — both up- and down-sampling
    // occur across the 4–24 × 3–15 source range), real re-encode of the
    // thumbnail as BMP, real second decode, exact integer stats of the
    // re-decoded pixels. One hash certifies decode + resize + the
    // derived-image encode path: the oracle replays only the pixel
    // GENERATOR at the elected source coordinates. Embarrassingly
    // parallel mapPartitions, no shuffle, binary confined to the
    // codec boundary.
    "mm05_image_resize" -> { (s, dir) =>
      Multimodal.resizeMeta(Multimodal.withPayload(Tables.documents(s, dir)),
          outW = 6, outH = 5)
        .select(col("doc_id"),
          col("src_w").cast("long").as("src_w"),
          col("src_h").cast("long").as("src_h"),
          col("out_w").cast("long").as("out_w"),
          col("out_h").cast("long").as("out_h"),
          col("n_bytes_out"), col("sum_r"), col("sum_g"), col("sum_b"),
          col("mom_r"))
        .orderBy(col("doc_id"))
    },

    // Multimodal PNG — the real-world COMPRESSED format the hand-rolled
    // BMP/PPM walkers don't cover, through the JDK's ImageIO (zero new
    // dependencies): every doc's deterministic pixel pattern encoded as
    // a real PNG (zlib-deflated filtered scanlines, chunk CRCs) and
    // decoded back at the same mapPartitions codec boundary. PNG is
    // lossless, so the oracle replays the pixel GENERATOR exactly as in
    // mm01 — the hash only matches if the compressed round-trip is
    // bit-exact per pixel. The encoded SIZE is deflate-implementation-
    // specific, so it is pinned as a bounds bit (PNG skeleton ≤ bytes ≤
    // raw RGB + fixed overhead), never an exact length.
    "mm06_png_metadata" -> { (s, dir) =>
      Multimodal.decodeMeta(Multimodal.withPngPayload(Tables.documents(s, dir)))
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("n_pixels"),
          col("sum_r"), col("sum_g"), col("sum_b"), col("mom_r"),
          when(col("n_bytes") >= 57 &&
            col("n_bytes") <= lit(3L) * col("n_pixels") + 300L, 1L)
            .otherwise(0L).as("bytes_ok"))
        .orderBy(col("doc_id"))
    },

    // AUDIO RESAMPLE — the per-sample transform tier for the audio
    // column (mm05's role on the WAV corpus): REAL chunk-walk decode to
    // the full PCM array → integer-exact linear resample to a common
    // 8 kHz (the ASR-pipeline normalization step; the corpus mixes
    // 8/12/16 kHz) → derived-audio WAV re-encode → second decode →
    // exact integer stats of the re-decoded samples. One hash certifies
    // decode, the rational-arithmetic interpolation (TRUNCATING integer
    // division on both sides — DuckDB's `//` truncates toward zero,
    // −5 // 2 = −2, exactly like Java's `/`; a floorDiv here would
    // diverge on negative samples), the derived encode, and the second
    // decode at once; the
    // 8 kHz third of the corpus pins the identity path (frac = 0
    // everywhere). Per-partition codec batching as everywhere in mm*.
    "mm08_audio_resample" -> { (s, dir) =>
      import s.implicits._
      Multimodal.withAudioPayload(Tables.documents(s, dir))
        .select(col("doc_id").as("id"), col("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, p) =>
            val (rate, smp) = Multimodal.decodeWavSamples(p)
            val derived = Multimodal.encodeWavPcm(8000,
              Multimodal.resampleLinear(smp, rate, 8000))
            val (rate2, out) = Multimodal.decodeWavSamples(derived)
            var sumS = 0L; var sumAbs = 0L; var mom = 0L
            var j = 0
            while (j < out.length) {
              val v = out(j)
              sumS += v; sumAbs += math.abs(v); mom += j.toLong * v
              j += 1
            }
            (id, rate.toLong, rate2.toLong, smp.length.toLong,
              out.length.toLong, sumS, sumAbs, mom)
          }
        }
        .toDF("doc_id", "src_rate", "dst_rate", "n_in", "n_out",
          "sum_out", "sum_abs_out", "mom_out")
        .orderBy($"doc_id")
    },

    // PERCEPTUAL-HASH NEAR-DUP over the BINARY image corpus — the
    // multimodal twin of dd01: near-duplicate detection where "content"
    // is pixels, not text (the CommonCrawl-image / LAION curation step).
    // Pipeline, every stage REAL and replayed bit-exact by the oracle:
    //  1. decode payload (BMP/PPM walkers) → aHash64 (8×8 nearest
    //     resize, integer grayscale, mean threshold — Multimodal
    //     .aHash64Bits), emitted as the hash-checked `ahash` column;
    //  2. a PLANTED near-duplicate twin per doc: source pixel (0,0)'s
    //     red channel bumped `(r+8) % 256`, re-encoded through the BMP
    //     writer, re-decoded, re-hashed — a real "same image, touched
    //     up + recompressed" neighbor with known ground truth;
    //  3. banded Hamming join: 4 bands × 16 bits, originals ⋈ twins on
    //     band equality — by pigeonhole COMPLETE for Hamming ≤ 3, so
    //     `n_neardups` (verified cross-doc pairs at ≤ 3) is EXACT, and
    //     `guarantee_ok` (twin found whenever its distance ≤ 3) is
    //     computed per doc, never pinned.
    // Scale shape: the fingerprint pass is one narrow map (64 chars +
    // id per image — the persisted-index candidate, cf. dd17); the join
    // shuffles bands, never payloads. Gradient-heavy thresholded hashes
    // make band values COLLIDE (the sf0.1 profile: 5k docs, hottest
    // band 139, pair volume Σn² ≈ 400k — quadratic in corpus), so past
    // CorpusCapMax docs each (b, band) group keeps only its PerBandCap
    // smallest doc_ids per side — pair volume drops to ≤ cap·4n, linear
    // (dd12's hot-bucket treatment). The regime is EXPLICIT: a `capped`
    // column the oracle pins to 0 — a testdata/SF change crossing the
    // threshold fails at the regime column, at the cause (the dd19/st35
    // posture); in the capped regime guarantee_ok stays HONEST (a
    // planted pair dropped by the cap reads 0, not a pinned 1). The
    // fingerprint frame is computed once and reused across all four
    // consumers (twin distance, both band sides, verify) — cache, not
    // recompute, is the right call for a bounded derived table.
    "mm07_phash_neardup" -> { (s, dir) =>
      import s.implicits._
      val hashes = Multimodal.withPayload(Tables.documents(s, dir))
        .select(col("doc_id").as("id"), col("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, payload) =>
            val src = Multimodal.decodePixels(payload)
            val ha = Multimodal.aHash64Bits(src)
            val twinRgb = src.rgb.clone()
            val p0 = twinRgb(0)
            twinRgb(0) = (((((p0 >> 16) & 0xff) + 8) % 256) << 16) | (p0 & 0xffff)
            val twinBytes = Multimodal.encodeBmpPixels(src.width, src.height, twinRgb)
            val ht = Multimodal.aHash64Bits(Multimodal.decodePixels(twinBytes))
            (id, ha, ht)
          }
        }.toDF("doc_id", "ahash", "ahash_twin").cache()
      val CorpusCapMax = 8192L; val PerBandCap = 64
      val isCapped = hashes.count() > CorpusCapMax
      def bandsOf(hashCol: String, idAs: String) = {
        val b = hashes
          .select(col("doc_id").as(idAs),
            explode(expr("sequence(0, 3)")).as("b"), col(hashCol))
          .select(col(idAs), col("b"),
            expr(s"substring($hashCol, b*16 + 1, 16)").as("band"))
        if (!isCapped) b
        else b.withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy($"b", $"band").orderBy(col(idAs))))
          .filter($"rn" <= PerBandCap).drop("rn")
      }
      val cand = bandsOf("ahash", "id_o").join(bandsOf("ahash_twin", "id_t"),
          Seq("b", "band"))
        .select($"id_o", $"id_t").distinct()
      val hamming = (a: String, b: String) => expr(
        s"CAST(aggregate(sequence(1, 64), 0, (acc, i) -> acc + " +
          s"IF(substring($a, i, 1) = substring($b, i, 1), 0, 1)) AS LONG)")
      val verified = cand
        .join(hashes.select($"doc_id".as("id_o"), $"ahash".as("ha")), "id_o")
        .join(hashes.select($"doc_id".as("id_t"), $"ahash_twin".as("ht")), "id_t")
        .withColumn("dist", hamming("ha", "ht"))
      val perDoc = verified.groupBy($"id_o".as("doc_id")).agg(
        count(when($"id_t" =!= $"id_o", 1)).as("n_band_cands"),
        count(when($"id_t" =!= $"id_o" && $"dist" <= 3, 1)).as("n_neardups"),
        max(when($"id_t" === $"id_o", 1L).otherwise(0L)).as("twin_found"))
      hashes
        .withColumn("twin_dist", hamming("ahash", "ahash_twin"))
        .join(perDoc, Seq("doc_id"), "left")
        .select($"doc_id", $"ahash", $"twin_dist",
          coalesce($"twin_found", lit(0L)).as("twin_found"),
          when($"twin_dist" > 3 || coalesce($"twin_found", lit(0L)) === 1L, 1L)
            .otherwise(0L).as("guarantee_ok"),
          coalesce($"n_band_cands", lit(0L)).as("n_band_cands"),
          coalesce($"n_neardups", lit(0L)).as("n_neardups"),
          lit(if (isCapped) 1L else 0L).as("capped"))
        .orderBy($"doc_id")
    },

    // Trained KMeans over embeddings, upgraded from rows-only to a
    // SELF-CERTIFYING oracle row (the an03/dd06 pattern): the fit runs on
    // a bounded deterministic hash sample (single-partition, sorted — see
    // ml05's determinism note), capped iterations; the scoring pass over
    // the full corpus is certified by
    //  - n_points: sum of the cluster sizes, hash-checked against
    //    DuckDB's independent COUNT(*) of the table — the scoring pass
    //    covers every row exactly once (a partition of n);
    //  - k_ok: 1 <= #clusters <= the configured k;
    //  - split_ok: the model genuinely partitions (>= 2 non-empty
    //    clusters, none holding the whole corpus).
    // The per-cluster sizes themselves stay pinned by MlSpec.
    "ml01_kmeans_cluster_sizes" -> { (s, dir) =>
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), array_to_vector(col("embedding").cast("array<double>")).as("features"))
      val sample = Training.hashSample(emb, "vec_id", 4)
        .repartition(1).sortWithinPartitions(col("vec_id"))
      val model = new KMeans().setK(10).setSeed(7L).setMaxIter(10)
        .setInitMode("random").setFeaturesCol("features").fit(sample)
      model.transform(emb)
        .groupBy(col("prediction")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n")).as("n_points"), count(lit(1)).as("k"),
          max(col("n")).as("mx"))
        .select(col("n_points").cast("long").as("n_points"),
          when(col("k").between(1, 10), 1L).otherwise(0L).as("k_ok"),
          when(col("k") >= 2 && col("mx") < col("n_points"), 1L)
            .otherwise(0L).as("split_ok"))
    },

    // The reference's full train→save→load→score pipeline on invoice
    // features (A7–A10 + F5 + S2/S3/S6/S7): the model is trained ONCE per
    // session (ModelStore), persisted and re-loaded, and the query itself
    // is a pure scoring pass — at scale, training is an index build, not a
    // per-query cost. Output upgraded from the rows-only anomaly list to
    // the self-certifying [[trainedAnomalyCert]] row (the anomaly list
    // itself stays pinned by MlSpec).
    "ml02_invoice_anomalies_trained" -> { (s, dir) =>
      val feats = InvoiceQueries.invoiceFeatures(s, dir)
      val m = ModelStore.kmeansAnomaly(s"invoice-$dir", feats,
        InvoiceFeaturizer.FeatureCols, sampleMod = 4)
      trainedAnomalyCert(feats, m)
    },

    // TRAINED QUALITY CLASSIFIER — the GPT-3/LLaMA/RefinedWeb curation
    // step the heuristic filters (tx02/tx13/tx23/tx25) feed: per-doc
    // linguistic features (quality score, log token count, type-token
    // ratio, mean word length), a weak label from the tx02 quality gate
    // (q ≥ 0.2 — the real pipelines' "looks like the curated corpus"
    // stand-in), a 75/25 content-hash train/holdout split (no RNG —
    // replay-stable, the tx08 rule), logistic regression trained on the
    // train side, and the full corpus scored. Certified by a BINNED
    // rank-sum AUC on the holdout: scores quantize to 256 bins, ONE
    // hash aggregate yields the 256-row (pos, neg) histogram, and the
    // driver computes Mann-Whitney AUC from it (ties counted ½) — no
    // global sort, no unpartitioned window, scale-independent. The
    // oracle hash-checks every split/label count (both engines compute
    // identical quality doubles — tx02's green row is the proof) and
    // pins auc_ok against a 0.85 bar with wide margin over the measured
    // 0.997-1.000 (all three local SFs) (L-BFGS partial-aggregation order can wiggle
    // coefficients in the last ulps across partitionings; the binned
    // cert absorbs it).
    // PCA over the anisotropic embedding view (the geometry where
    // dimensionality reduction has something to find — the isotropic
    // driver corpus would spread variance ~uniformly across all 64
    // dims). Self-certifying oracle row, the ml01/an03 contract:
    //  - n_points: projected-row count hash-checked against DuckDB's
    //    independent COUNT(*) — the transform covers every vector;
    //  - ortho_ok: the 64×8 loading matrix is orthonormal to 1e-9
    //    (driver-side check on the tiny model artifact);
    //  - var_order_ok: explained-variance proportions nonincreasing;
    //  - var_frac_ok: top-8/64 components capture ≥ 60% of total
    //    variance (the 1.1^d per-dim scaling concentrates it; measured
    //    ~0.75+ — an isotropic corpus would sit near 8/64 = 0.125, so
    //    the bar has real teeth).
    // Eigendecomposition is LAPACK on the exact Gramian — deterministic
    // per corpus; the emitted bits absorb last-ulp wiggle.
    "ml07_pca_certificate" -> { (s, dir) =>
      import org.apache.spark.ml.feature.PCA
      import org.apache.spark.ml.functions.array_to_vector
      val k = 8
      val emb = anisoEmbeddings(s, dir)
        .select(col("vec_id"), array_to_vector(col("embedding")).as("features"))
      val model = new PCA().setK(k).setInputCol("features").setOutputCol("proj")
        .fit(emb)
      val pc = model.pc
      var maxDev = 0.0
      for (i <- 0 until pc.numCols; j <- 0 until pc.numCols) {
        var dot = 0.0
        for (r <- 0 until pc.numRows) dot += pc(r, i) * pc(r, j)
        maxDev = math.max(maxDev, math.abs(dot - (if (i == j) 1.0 else 0.0)))
      }
      val ev = model.explainedVariance.toArray
      val orderOk = ev.zip(ev.tail).forall { case (a, b) => a >= b - 1e-12 }
      model.transform(emb)
        .agg(count(lit(1)).as("n_points"))
        .select(col("n_points").cast("long").as("n_points"),
          lit(k.toLong).as("k"),
          lit(if (maxDev < 1e-9) 1L else 0L).as("ortho_ok"),
          lit(if (orderOk) 1L else 0L).as("var_order_ok"),
          lit(if (ev.sum >= 0.6) 1L else 0L).as("var_frac_ok"))
    },

    "ml06_quality_classifier" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.ml.classification.LogisticRegression
      import org.apache.spark.ml.functions.array_to_vector
      val stop = Seq("the", "a")
      val base = Tables.documents(s, dir).select($"doc_id",
          md5($"text".cast("binary")).as("h"),
          TextOps.qualityScore($"text", stop).as("q"),
          size(TextOps.tokens($"text")).cast("double").as("ntok"),
          (size(array_distinct(TextOps.tokens($"text"))).cast("double") /
            size(TextOps.tokens($"text"))).as("ttr"),
          ($"n_chars".cast("double") / size(TextOps.tokens($"text"))).as("mwl"))
        .withColumn("label", when($"q" >= 0.2, 1.0).otherwise(0.0))
        .withColumn("features",
          array_to_vector(array($"q", log1p($"ntok"), $"ttr", $"mwl")))
        .withColumn("is_train", substring($"h", 1, 1) < "c")
      val model = new LogisticRegression().setMaxIter(20).setRegParam(0.01)
        .setFeaturesCol("features").setLabelCol("label")
        .fit(base.filter($"is_train"))
      // scoring as PURE codegen column math from the fitted coefficients
      // (the model is a driver-side index artifact, 5 doubles): stays in
      // WholeStageCodegen — no prediction UDF in the scan, and no
      // closure capturing the model (whose training summary drags the
      // whole SparkSession into the task, a serialization trap)
      val coef = model.coefficients.toArray
      val margin = $"q" * coef(0) + log1p($"ntok") * coef(1) +
        $"ttr" * coef(2) + $"mwl" * coef(3) + lit(model.intercept)
      val p = lit(1.0) / (lit(1.0) + exp(-margin))
      val bins = base.filter(!$"is_train")
        .select($"label",
          least(lit(255), floor(p * 256).cast("int")).as("bin"))
        .groupBy($"bin").agg(
          sum($"label").as("pos"),
          (count(lit(1)).cast("double") - sum($"label")).as("neg"))
        .orderBy($"bin")
        .collect()
      var cumNeg = 0.0; var u = 0.0; var nPos = 0.0; var nNeg = 0.0
      bins.foreach { r =>
        val pos = r.getDouble(1); val neg = r.getDouble(2)
        u += pos * (cumNeg + 0.5 * neg)
        cumNeg += neg; nPos += pos; nNeg += neg
      }
      // a degenerate holdout (all one class) has no ranking to certify
      val aucOk = if (nPos == 0 || nNeg == 0) 1L
        else if (u / (nPos * nNeg) >= 0.85) 1L else 0L
      base.agg(
          count(lit(1)).as("n_docs"),
          sum(when($"is_train", 1L).otherwise(0L)).as("n_train"),
          sum(when(!$"is_train", 1L).otherwise(0L)).as("n_holdout"),
          sum(when(!$"is_train" && $"label" === 1.0, 1L).otherwise(0L))
            .as("n_pos_holdout"),
          sum(when(!$"is_train" && $"label" === 0.0, 1L).otherwise(0L))
            .as("n_neg_holdout"))
        .select($"n_docs", $"n_train", $"n_holdout",
          $"n_pos_holdout", $"n_neg_holdout", lit(aucOk).as("auc_ok"))
    },

    // Elbow-selected k over a cost sweep (A9/A10), documented semantics.
    // Like ml05: the 7 fits run on a bounded deterministic hash sample
    // (the elbow reads the cost curve's *shape* — per-sample SSE has the
    // same shape), which the sweep lays out as one partition sorted by
    // feature vector so the raw double costs are replay-deterministic;
    // capped iterations, random init. Output is the self-certifying
    // [[elbowCert]] row; withMonotone is on (the
    // embeddings cost curve is measured strictly decreasing at every
    // local SF — max ratio 0.997; ml05's invoice curve is not, see there).
    "ml03_elbow_selection" -> { (s, dir) =>
      import s.implicits._
      val emb = Training.hashSample(Tables.embeddings(s, dir), "vec_id", 4)
      val assembled = emb.select(
        org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("features"))
      val sweep = Training.kMeansSweep(assembled, 2 to 8, seed = 7L,
        maxIter = 5, initMode = "random")
      val costs = sweep.map(_._3)
      val selected = Training.elbowSelection(costs, 0.7)
      val curve = sweep.zipWithIndex.map { case ((k, _, cost), i) =>
        (k.toLong, cost, i == selected)
      }.toDF("k", "cost", "selected")
      elbowCert(curve, withMonotone = true)
    },

    // BisectingKMeans end-to-end (reference `trainBisecting.scala:11-49`) —
    // the second half of the reference's model surface, same persisted
    // train→score contract as ml02.
    "ml04_bisecting_anomalies" -> { (s, dir) =>
      val feats = InvoiceQueries.invoiceFeatures(s, dir)
      val m = ModelStore.bisectingAnomaly(s"invoice-$dir", feats,
        InvoiceFeaturizer.FeatureCols, sampleMod = 4)
      trainedAnomalyCert(feats, m)
    },

    // The reference's full training entry: k-sweep over the invoice
    // features with elbow ratio 0.7 (`train.scala:55-65`). The reference
    // sweeps 1..20 on the RDD API; the DataFrame-API KMeans requires
    // k ≥ 2, so the sweep is 2..20 (k=1 is a degenerate single-cluster
    // fit the elbow never selects anyway). Iterations are capped — the
    // elbow needs the cost curve's *shape*, not converged fits.
    "ml05_elbow_invoice" -> { (s, dir) =>
      import s.implicits._
      // The sweep fits 19 models — on a bounded deterministic hash-sample
      // of invoices, not the corpus (the elbow reads the cost curve's
      // shape; at 100 TB a full-corpus k-sweep is 19 full passes for a
      // scalar decision). Costs are per-sample SSE — same curve shape.
      // Float accumulation during training must see a fully deterministic
      // row order (shuffle-fetch order and range-partition boundaries vary
      // run to run) or the raw double costs in the output wiggle in the
      // last bits: the sweep fits on one partition sorted by feature vector.
      val feats = Training.hashSample(InvoiceQueries.invoiceFeatures(s, dir), "invoice_no", 16)
      val assembled = Training.assemble(feats, InvoiceFeaturizer.FeatureCols)
      // random init: one seeding job per fit instead of k-means||'s
      // multi-step init — 19 fits of a sweep are driver-job-bound, and
      // the elbow only reads the curve's shape
      val sweep = Training.kMeansSweep(assembled, 2 to 20, seed = 1L,
        maxIter = 5, initMode = "random")
      val selected = Training.elbowSelection(sweep.map(_._3), 0.7)
      // self-certifying row; withMonotone is OFF — with maxIter=5
      // non-converged fits on the clustered invoice features, cost(k+1)
      // can genuinely exceed cost(k) (measured ratios up to 1.32), which
      // is exactly the curve shape the elbow rule exists to cut off
      val curve = sweep.zipWithIndex.map { case ((k, _, cost), i) =>
        (k.toLong, cost, i == selected)
      }.toDF("k", "cost", "selected")
      elbowCert(curve, withMonotone = false)
    })

  /** Self-certifying single-row certificate for a trained anomaly scorer
    * (ml02/ml04 — upgrades their rows-only story the way an03 upgraded
    * an02's). Columns, oracle-pinned:
    *  - n_scored: rows scored, hash-checked against DuckDB's independent
    *    per-invoice count — the scoring pass covers every invoice;
    *  - threshold_pos: the calibrated threshold is a positive distance;
    *  - dist_xcheck_ok: the codegen [[graft.functions.SqDistToNearest]]
    *    kernel agrees with an INDEPENDENT plain-column-arithmetic
    *    formulation of least-squared-distance (relative dev <= 1e-9) —
    *    the custom expression is cross-validated, not trusted;
    *  - anomaly_tail_ok: the flagged set is exactly the dist>threshold
    *    tail, non-empty, and not the whole corpus. */
  private def trainedAnomalyCert(feats: org.apache.spark.sql.DataFrame,
                                 m: ModelStore.AnomalyModel): org.apache.spark.sql.DataFrame = {
    val featCols = InvoiceFeaturizer.FeatureCols.map(c => col(c).cast("double"))
    val indep = least(m.centers.map(c => InvoiceQueries.sqDistTo(c, featCols)): _*)
    Scoring.score(feats, InvoiceFeaturizer.FeatureCols, m.centers, m.threshold)
      .withColumn("dist_indep", indep)
      .agg(
        count(lit(1)).as("n_scored"),
        sum(col("is_anomaly")).as("n_anom"),
        sum(when(col("dist") > m.threshold, 1L).otherwise(0L)).as("n_tail"),
        max(abs(col("dist") - col("dist_indep")) /
          greatest(abs(col("dist")), lit(1.0))).as("max_rel_dev"))
      .select(
        col("n_scored"),
        when(lit(m.threshold) > 0.0, 1L).otherwise(0L).as("threshold_pos"),
        when(col("max_rel_dev") <= 1e-9, 1L).otherwise(0L).as("dist_xcheck_ok"),
        when(col("n_anom") === col("n_tail") && col("n_anom") > 0 &&
          col("n_anom") < col("n_scored"), 1L).otherwise(0L).as("anomaly_tail_ok"))
  }

  /** Self-certifying single-row certificate for an elbow sweep (ml03/
    * ml05). The driver-side [[Training.elbowSelection]] pick is
    * cross-checked against an INDEPENDENT declarative window-function
    * formulation of the same rule (first k whose cost ratio exceeds 0.7,
    * else the last) — the index arithmetic the reference got wrong
    * (`Clustering.scala:125-136`'s off-by-one) is exactly what this bit
    * would catch. Columns, oracle-pinned: n_ks (sweep width), one_selected,
    * sel_in_range, elbow_consistent, costs_finite, and (when
    * `withMonotone`) monotone_ok — no cost increase anywhere in the curve. */
  private def elbowCert(curve: org.apache.spark.sql.DataFrame,
                        withMonotone: Boolean): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"))
    val base = curve
      .withColumn("ratio", col("cost") / lag(col("cost"), 1).over(w))
      .agg(
        count(lit(1)).as("n_ks"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("n_sel"),
        min(when(col("selected"), col("k"))).as("sel_k"),
        min(when(col("ratio") > 0.7, col("k"))).as("first_elbow_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        sum(when(isnan(col("cost")) || col("cost") < 0.0 ||
          col("cost") === Double.PositiveInfinity, 1L).otherwise(0L)).as("bad_costs"),
        sum(when(col("ratio") > 1.0, 1L).otherwise(0L)).as("n_increases"))
    val certed = base.select(
      col("n_ks"),
      when(col("n_sel") === 1L, 1L).otherwise(0L).as("one_selected"),
      when(col("sel_k").between(col("min_k"), col("max_k")), 1L)
        .otherwise(0L).as("sel_in_range"),
      when(col("sel_k") === coalesce(col("first_elbow_k"), col("max_k")), 1L)
        .otherwise(0L).as("elbow_consistent"),
      when(col("bad_costs") === 0L, 1L).otherwise(0L).as("costs_finite"),
      when(col("n_increases") === 0L, 1L).otherwise(0L).as("monotone_ok"))
    if (withMonotone) certed else certed.drop("monotone_ok")
  }

  /** One-time index builds the catalog queries amortize — same memo keys
    * as the queries above, so running a build first makes the matching
    * query a pure probe. The bench times these separately. */
  private val lshIndexDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** dd17's one-time ingest fixture: the history side's LSH band table,
    * content digests, and band-parameter sidecar, written once per
    * (dir, documents fingerprint) — in production this artifact exists
    * because history was ingested yesterday; rewriting it inside the
    * timed entry (the r15 shape) mispriced dd17 by the whole write path
    * and re-paid it on every run. The fingerprint key is the
    * `chunkDirs`/`sourceId` stale-data posture: the driver regenerates
    * testdata in place between rounds, and probing yesterday's index
    * against today's documents would silently corrupt the oracle. */
  private[graft] def ensureLshIndex(s: org.apache.spark.sql.SparkSession,
                                    dir: String): String =
    lshIndexDirs.computeIfAbsent(
      s"$dir|${StreamQueries.sourceId(s, dir, "documents")}", _ => {
        val idxDir = new java.io.File(
          s"target/fixtures/lsh_index/${new java.io.File(dir).getName}").getAbsolutePath
        val hist = Tables.documents(s, dir).filter(!(col("doc_id") % 4 === 3))
        Dedup.writeLshBandIndex(hist, "doc_id", "text", idxDir,
          shingleK = 3, numBands = 8, rowsPerBand = 4)
        hist.select(md5(col("text").cast("binary")).as("h")).distinct()
          .write.mode("overwrite").parquet(s"$idxDir/digests")
        idxDir
      })

  val builds: Map[String, QueryUtil.B] = Map(
    "build_lsh_index" -> ((s, dir) => { ensureLshIndex(s, dir); () }),
    "build_kmeans_model" -> { (s, dir) =>
      ModelStore.kmeansAnomaly(s"invoice-$dir", InvoiceQueries.invoiceFeatures(s, dir),
        InvoiceFeaturizer.FeatureCols, sampleMod = 4); ()
    },
    "build_bisecting_model" -> { (s, dir) =>
      ModelStore.bisectingAnomaly(s"invoice-$dir", InvoiceQueries.invoiceFeatures(s, dir),
        InvoiceFeaturizer.FeatureCols, sampleMod = 4); ()
    },
    "build_ivf_quantizer" -> { (s, dir) =>
      Similarity.coarseQuantizer(Tables.embeddings(s, dir), "vec_id", "embedding",
        s"emb-$dir", nCells = 16, seed = 42L); ()
    },
    "build_pq_codebooks" -> { (s, dir) =>
      Similarity.pqCodebooks(Tables.embeddings(s, dir), "vec_id", "embedding",
        s"emb-$dir", m = 16, ksub = 16, seed = 42L); ()
    },
    "build_dup_quantizer" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.coarseQuantizer(emb, "vec_id", "embedding",
        s"emb-dup-$dir", Similarity.autoCells(emb, quantizerKey = s"emb-dup-$dir"),
        seed = 42L); ()
    },
    "build_opq_artifacts" -> { (s, dir) =>
      // an11's index artifacts on the anisotropic view: the plain-PQ
      // codebooks it compares against AND the OPQ rotation+codebooks.
      // The view (an interpreted zip_with chain) is materialized once —
      // each fit below collects its own bounded sample from it
      val emb = Lineage.cut(anisoEmbeddings(s, dir))
      Similarity.pqCodebooks(emb, "vec_id", "embedding",
        s"emb-aniso-$dir", m = 16, ksub = 16, seed = 42L)
      Similarity.opqArtifacts(emb, "vec_id", "embedding",
        s"emb-aniso-$dir", m = 16, ksub = 16, seed = 42L); ()
    })

  /** Deterministic ANISOTROPIC certification view of the embeddings
    * table for an11 (dim 64): per-row cluster offset (8 hash-sign
    * centroid patterns, ±0.6 per dim, keyed by vec_id mod 8), cross-dim
    * mixing (x + 0.9·roll(x, 32) — strong correlation across the
    * subspace boundary PQ splits on), and exponential per-dim scaling
    * (1.1^d — a decaying-spectrum stand-in). Pure column math over the
    * scan: deterministic at every SF, never materialized. */
  private[graft] def anisoEmbeddings(s: org.apache.spark.sql.SparkSession,
                                     dir: String): org.apache.spark.sql.DataFrame = {
    val dim = 64; val nClust = 8
    val muLit = typedlit(Array.tabulate(nClust, dim)(hashSign).map(_.toSeq).toSeq)
    val scaleLit = typedlit((0 until dim).map(d => math.pow(1.1, d)))
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        zip_with(col("embedding").cast("array<double>"),
          element_at(muLit, pmod(col("vec_id"), lit(nClust)).cast("int") + 1),
          (x, mu) => x + lit(0.6) * mu).as("va"))
      .select(col("vec_id"),
        zip_with(
          zip_with(col("va"),
            concat(slice(col("va"), dim / 2 + 1, dim / 2), slice(col("va"), 1, dim / 2)),
            (a, b) => a + lit(0.9) * b),
          scaleLit, (x, sc) => x * sc).as("embedding"))
  }

  /** Deterministic ±1 pattern for the 8 synthetic cluster centroids
    * (integer avalanche hash — no RNG, identical on replay). */
  private def hashSign(c: Int, d: Int): Double = {
    var h = (c * 1315423911L + d * 2654435761L) & 0xffffffffL
    h ^= h >>> 16; h = (h * 0x45d9f3bL) & 0xffffffffL; h ^= h >>> 16
    if ((h & 1L) == 1L) 1.0 else -1.0
  }

  /** Two oracle families here:
    *
    *  - **Exact-semantics** (dd03, an01, mm01): the operator's result is
    *    fully determined by its inputs with no hash/model dependence, so
    *    the oracle recomputes it 1:1 in SQL (dd03 over string shingles,
    *    an01 via `list_cosine_similarity` over the same double-cast
    *    vectors — the rounded cosine hash-matches because both engines
    *    do IEEE-754 double arithmetic over identical values).
    *
    *  - **Exact-recall pin** (dd01): the operator is approximate by
    *    design (LSH banding bounds the candidate set), but every
    *    surviving pair is *exactly verified* (true Jaccard), so output ⊆
    *    exact answer always. The oracle IS the exact answer, which
    *    additionally pins recall = 100% at the check SF — a driver-
    *    verified guarantee that the banding parameters (8×4 at J≥0.5)
    *    deliver their designed recall and that the capped-bucket skeleton
    *    drops no true pair here. Deterministic on both sides (seeded hash
    *    permutations), so a local pass implies a driver pass.
    *
    * TERMINAL rows-only set (r14): exactly dd02, dd04 (+ tx28, their
    * fingerprint sibling). Each output IS the signature-bound artifact a
    * user asks this operator for — dd02's pair set depends on xxhash64
    * SimHash bit patterns, dd04's candidate pairs on quantizer cell
    * assignment — none reproducible in DuckDB without reimplementing
    * Spark's xxhash64/k-means, at which point the "oracle" would be a
    * port of the code under test, not an independent check. The honest
    * independent checks are their certificate twins, all oracle-green:
    * an03/an04/an05/an09 (recall floors vs the brute-force frame), dd06
    * (SimHash recall ≥0.9 vs exact Jaccard), dd10 (embedding-dup recall
    * vs exact cosine pairs). tx07 left this list in r11 — and an02 in
    * r14 — by moving the raw signature-bound values out of the output
    * and certifying the operator inline (per-query structural bits +
    * the recall floor); dd02/dd04 have no analogous move that keeps the
    * entry distinct from its existing certificate twin (dd06/dd10
    * already ARE the inline-bit formulation over the same operators). */
  /** dd15 AND dd17 share this oracle: the exact-Jaccard replay of the
    * incremental-ingest drop rules. For dd17 the shared SQL is itself the
    * certificate that the persisted-index probe path lands on the
    * identical keeper set as the recompute-from-scratch path. */
  private val incrementalIngestOracleSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
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
      |und AS (SELECT id_a, id_b FROM pairs
      |        UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM pairs),
      |d AS (SELECT doc_id, n_chars, md5(text) AS h, doc_id % 4 = 3 AS is_new
      |      FROM documents),
      |drop_exact_hist AS (
      |  SELECT b.doc_id FROM d b
      |  WHERE b.is_new AND EXISTS (
      |    SELECT 1 FROM d h WHERE NOT h.is_new AND h.h = b.h)),
      |drop_exact_batch AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      |    FROM d WHERE is_new) WHERE rn > 1),
      |drop_near AS (
      |  SELECT DISTINCT u.id_b AS doc_id
      |  FROM und u
      |  JOIN d b ON u.id_b = b.doc_id AND b.is_new
      |  JOIN d p ON u.id_a = p.doc_id
      |  WHERE (NOT p.is_new) OR u.id_a < u.id_b),
      |dropped AS (SELECT doc_id FROM drop_exact_hist
      |            UNION SELECT doc_id FROM drop_exact_batch
      |            UNION SELECT doc_id FROM drop_near)
      |SELECT doc_id, n_chars FROM d
      |WHERE is_new AND doc_id NOT IN (SELECT doc_id FROM dropped)
      |ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // ml01: n_points is DuckDB's independent row count of the scored
    // table (a partition-of-n check on the cluster sizes); the bits are
    // pinned to 1.
    "ml01_kmeans_cluster_sizes" ->
      """SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_points,
        |       CAST(1 AS BIGINT) AS k_ok,
        |       CAST(1 AS BIGINT) AS split_ok""".stripMargin,

    // ml02/ml04: n_scored is DuckDB's independent per-invoice count (the
    // scoring pass covers every invoice); certificate bits pinned to 1.
    "ml02_invoice_anomalies_trained" ->
      """SELECT (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
        |        FROM lineitem JOIN orders ON l_orderkey = o_orderkey) AS n_scored,
        |       CAST(1 AS BIGINT) AS threshold_pos,
        |       CAST(1 AS BIGINT) AS dist_xcheck_ok,
        |       CAST(1 AS BIGINT) AS anomaly_tail_ok""".stripMargin,

    "ml04_bisecting_anomalies" ->
      """SELECT (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
        |        FROM lineitem JOIN orders ON l_orderkey = o_orderkey) AS n_scored,
        |       CAST(1 AS BIGINT) AS threshold_pos,
        |       CAST(1 AS BIGINT) AS dist_xcheck_ok,
        |       CAST(1 AS BIGINT) AS anomaly_tail_ok""".stripMargin,

    // ml03/ml05: sweep-width constant + certificate bits pinned to 1
    // (ml05 carries no monotone bit — see the entry's comment).
    "ml03_elbow_selection" ->
      """SELECT CAST(7 AS BIGINT) AS n_ks,
        |       CAST(1 AS BIGINT) AS one_selected,
        |       CAST(1 AS BIGINT) AS sel_in_range,
        |       CAST(1 AS BIGINT) AS elbow_consistent,
        |       CAST(1 AS BIGINT) AS costs_finite,
        |       CAST(1 AS BIGINT) AS monotone_ok""".stripMargin,

    "ml05_elbow_invoice" ->
      """SELECT CAST(19 AS BIGINT) AS n_ks,
        |       CAST(1 AS BIGINT) AS one_selected,
        |       CAST(1 AS BIGINT) AS sel_in_range,
        |       CAST(1 AS BIGINT) AS elbow_consistent,
        |       CAST(1 AS BIGINT) AS costs_finite""".stripMargin,

    // an02's per-query certificate frame: one row per query vector, every
    // structural bit pinned to 1 and k_returned pinned to the full 5 —
    // data-derived query ids, so a missing/extra query row also fails.
    "an02_cosine_topk_ivf" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS k_returned,
        |       CAST(1 AS BIGINT) AS in_corpus_ok,
        |       CAST(1 AS BIGINT) AS not_self_ok,
        |       CAST(1 AS BIGINT) AS ordered_ok,
        |       CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 10
        |ORDER BY query_id""".stripMargin,

    // Constant oracle: the IVF pipeline must deliver recall@5 above each
    // probe setting's calibrated bar at any SF the driver runs — the
    // quality bars themselves are the hash-checked values (see the an03
    // entry for the two-point recall-curve rationale).
    "an03_ivf_recall" ->
      """SELECT CAST(4 AS BIGINT) AS n_probe, 0.5 AS threshold,
        |       CAST(1 AS BIGINT) AS recall_ok
        |UNION ALL
        |SELECT CAST(12 AS BIGINT), 0.85, CAST(1 AS BIGINT)
        |ORDER BY n_probe""".stripMargin,

    // dd05's recursive-CTE closure replayed over the exact cosine edge
    // set: component = min reachable id; rows in no pair keep themselves.
    "dd11_semantic_keepers" ->
      """WITH RECURSIVE e AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |      FROM e a JOIN e b ON a.vec_id < b.vec_id
        |      WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4),
        |edges AS (SELECT id_a AS u, id_b AS v FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, ed.v FROM reach r JOIN edges ed ON r.v = ed.u),
        |comp AS (SELECT u AS vec_id, LEAST(u, MIN(v)) AS keeper
        |         FROM reach GROUP BY u)
        |SELECT em.vec_id,
        |       CAST(COALESCE(c.keeper, em.vec_id) AS BIGINT) AS keeper_id,
        |       CAST(CASE WHEN COALESCE(c.keeper, em.vec_id) = em.vec_id
        |            THEN 0 ELSE 1 END AS BIGINT) AS is_dup
        |FROM e em LEFT JOIN comp c ON em.vec_id = c.vec_id
        |ORDER BY em.vec_id""".stripMargin,

    // Independent exact recompute of the ground-truth pair count (a full
    // O(n²) cross join — the embeddings table caps at 2 000 rows, so the
    // oracle side is 4M dot products), plus the constant recall bit each
    // configuration must clear (see the dd10 entry's two-point curve).
    "dd10_embdup_recall" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |t AS (SELECT count(*) AS n_true_pairs
        |      FROM e a JOIN e b ON a.vec_id < b.vec_id
        |      WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4)
        |SELECT CAST(2 AS BIGINT) AS n_probe,
        |       CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
        |       0.45 AS threshold, CAST(1 AS BIGINT) AS recall_ok FROM t
        |UNION ALL
        |SELECT CAST(6 AS BIGINT), CAST(n_true_pairs AS BIGINT),
        |       0.9, CAST(1 AS BIGINT) FROM t
        |ORDER BY n_probe""".stripMargin,

    // dd19: n_docs and n_true_pairs are DuckDB's independent recomputes
    // (the O(n²) exact replay lives here in the oracle); the six
    // certificate bits are pinned to 1 — the an03/dd10 constant-oracle
    // contract for quantizer-bound operators.
    "dd19_semantic_keepers_blocked" ->
      // full-corpus exact truth: the entry's cert runs in FULL regime at
      // every oracle-checked SF (≤ CertFullMax rows) and pins
      // cert_sampled = 0 — a testdata change crossing the switch fails
      // here, at the regime column, not in a far-away count mismatch
      """WITH t AS (SELECT count(*) AS n_true_pairs
        |      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |      WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_docs,
        |       CAST(1 AS BIGINT) AS coverage_ok,
        |       CAST(t.n_true_pairs AS BIGINT) AS n_true_pairs,
        |       CAST(1 AS BIGINT) AS recall_ok,
        |       CAST(1 AS BIGINT) AS precision_ok,
        |       CAST(1 AS BIGINT) AS edges_ok,
        |       CAST(1 AS BIGINT) AS keeper_is_min_ok,
        |       CAST(1 AS BIGINT) AS keeper_member_ok,
        |       CAST(0 AS BIGINT) AS cert_sampled
        |FROM t""".stripMargin,

    // Constant oracle, same contract as an03: PQ must clear each
    // shortlist setting's calibrated recall bar at any SF (see the an04
    // entry for the two-point rationale).
    "an04_pq_recall" ->
      """SELECT CAST(0 AS BIGINT) AS shortlist, 0.2 AS threshold,
        |       CAST(1 AS BIGINT) AS recall_ok
        |UNION ALL
        |SELECT CAST(100 AS BIGINT), 0.85, CAST(1 AS BIGINT)
        |ORDER BY shortlist""".stripMargin,

    // Constant oracle, same contract as an03/an04: SQ8 must clear each
    // point's calibrated recall bar at any SF (see the an09 entry).
    "an09_sq8_recall" ->
      """SELECT CAST(0 AS BIGINT) AS shortlist, 0.85 AS threshold,
        |       CAST(1 AS BIGINT) AS recall_ok
        |UNION ALL
        |SELECT CAST(50 AS BIGINT), 0.95, CAST(1 AS BIGINT)
        |ORDER BY shortlist""".stripMargin,

    // Every split/label count recomputed independently (identical
    // quality doubles on both engines — tx02's green row); the AUC bit
    // is the constant-oracle part, same contract as an03/an04.
    "ml06_quality_classifier" ->
      """WITH s AS (SELECT md5(text) AS h,
        |    (1.0 - len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a'))
        |         / len(string_split(text, ' ')))
        |      * (LEAST(len(string_split(text, ' ')), 200) / 200.0) AS q
        |  FROM documents),
        |lab AS (SELECT CASE WHEN q >= 0.2 THEN 1 ELSE 0 END AS y,
        |               substring(h, 1, 1) < 'c' AS tr FROM s)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |  CAST(sum(CASE WHEN NOT tr THEN 1 ELSE 0 END) AS BIGINT) AS n_holdout,
        |  CAST(sum(CASE WHEN NOT tr AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pos_holdout,
        |  CAST(sum(CASE WHEN NOT tr AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_neg_holdout,
        |  CAST(1 AS BIGINT) AS auc_ok
        |FROM lab""".stripMargin,

    // n_queries recomputed independently; the three persistence bits are
    // the constant-oracle part (see the an12 entry).
    "an12_index_persistence" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(1 AS BIGINT) AS centroids_roundtrip_ok,
        |  CAST(1 AS BIGINT) AS counts_match,
        |  CAST(1 AS BIGINT) AS results_match
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // n_queries recomputed independently; the four persistence bits are
    // the constant-oracle part (see the an13 entry).
    "an13_pq_index_persistence" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(1 AS BIGINT) AS pq_books_roundtrip_ok,
        |  CAST(1 AS BIGINT) AS opq_artifacts_roundtrip_ok,
        |  CAST(1 AS BIGINT) AS pq_rerank_match,
        |  CAST(1 AS BIGINT) AS opq_rerank_match
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // an14: n_queries and n_tombstones recomputed independently (the
    // takedown rule must do real work — a vacuous tombstone set would
    // show up as a count mismatch); the five takedown bits are the
    // constant-oracle part (see the an14 entry for what each pins).
    "an14_ivf_index_tombstones" ->
      """SELECT
        |  CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 10)
        |    AS BIGINT) AS n_queries,
        |  CAST((SELECT COUNT(*) FROM embeddings
        |        WHERE vec_id % 7 = 3 AND vec_id >= 10)
        |    AS BIGINT) AS n_tombstones,
        |  CAST(1 AS BIGINT) AS no_tombstone_hit_ok,
        |  CAST(1 AS BIGINT) AS takedown_effective_ok,
        |  CAST(1 AS BIGINT) AS purged_ok,
        |  CAST(1 AS BIGINT) AS reprobe_equal_ok,
        |  CAST(1 AS BIGINT) AS fresh_equal_ok""".stripMargin,

    // n_points recomputed independently; the three quality bits are the
    // constant-oracle part (see the ml07 entry for what each pins).
    "ml07_pca_certificate" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
        |  CAST(8 AS BIGINT) AS k,
        |  CAST(1 AS BIGINT) AS ortho_ok,
        |  CAST(1 AS BIGINT) AS var_order_ok,
        |  CAST(1 AS BIGINT) AS var_frac_ok
        |FROM embeddings""".stripMargin,

    // Constant oracle, same contract as an03/an04: OPQ must strictly
    // improve quantization distortion (≥3%) and not lose recall vs
    // plain PQ at identical m/ksub/ADC cost (see the an11 entry).
    "an11_opq_recall" ->
      """SELECT CAST(16 AS BIGINT) AS m, CAST(16 AS BIGINT) AS ksub,
        |       CAST(1 AS BIGINT) AS dist_uplift_ok,
        |       CAST(1 AS BIGINT) AS recall_uplift_ok""".stripMargin,

    // Independent recompute via list_intersect over string shingle sets —
    // same candidate rule (≥1 shared shingle), same exact-int division.
    "an06_jaccard_topk" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, len(w) - 2),
        |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM w WHERE len(w) >= 3),
        |pairs AS (
        |  SELECT q.doc_id AS query_id, d.doc_id AS neighbor_id,
        |         len(list_intersect(q.s, d.s)) AS i, len(q.s) AS nq, len(d.s) AS nd
        |  FROM sh q JOIN sh d ON q.doc_id < 5 AND d.doc_id <> q.doc_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id,
        |         CAST(i AS DOUBLE)/(nq + nd - i) AS jaccard,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY CAST(i AS DOUBLE)/(nq + nd - i) DESC, neighbor_id) AS rk
        |  FROM pairs WHERE i > 0)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, jaccard
        |FROM ranked WHERE rk <= 3
        |ORDER BY query_id, rank""".stripMargin,

    // Constant oracle for the composed IVF·PQ recall curve (see the an05
    // entry for the calibration).
    "an05_ivfpq_recall" ->
      """SELECT CAST(4 AS BIGINT) AS n_probe, CAST(0 AS BIGINT) AS shortlist,
        |       0.2 AS threshold, CAST(1 AS BIGINT) AS recall_ok
        |UNION ALL
        |SELECT CAST(12 AS BIGINT), CAST(100 AS BIGINT), 0.85, CAST(1 AS BIGINT)
        |ORDER BY n_probe""".stripMargin,

    // Per-doc BPE estimate recomputed from the raw text (same integer
    // arithmetic as tx01's oracle); the two fingerprint integrity bits
    // are pinned to 1 — a fingerprint collision or impurity flips them
    // in the Spark output and fails the hash compare.
    "tx07_fingerprints" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' '))
        |       + list_sum(list_transform(string_split(text, ' '),
        |           x -> CASE WHEN length(x) > 6 THEN length(x) - 6 ELSE 0 END)) // 6
        |    AS BIGINT) AS est_bpe_tokens,
        |  CAST(1 AS BIGINT) AS collision_free,
        |  CAST(1 AS BIGINT) AS fp_pure
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Doc/distinct-text counts recomputed from the raw table; the two
    // integrity bits (no fingerprint collisions, fingerprint is a pure
    // function of text) are pinned to 1 — see the tx11 entry.
    "tx11_fingerprint_integrity" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT text) AS BIGINT) AS n_texts,
        |       CAST(1 AS BIGINT) AS collision_free,
        |       CAST(1 AS BIGINT) AS fp_is_function_of_text
        |FROM documents""".stripMargin,

    // Exact top-k by cosine: both engines compute the same doubles from
    // the same float-widened vectors, so ranks AND rounded scores match.
    "an01_cosine_topk_brute" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id, v FROM c WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(c.v, q.v) AS cosine
        |  FROM c CROSS JOIN q WHERE q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
        |       round(cosine, 6) AS cosine
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // 16 slice dot products, max per query token, left-associative sum —
    // the same evaluation order as the Spark expression tree
    "an10_maxsim_topk" -> {
      def subQ(i: Int) = s"q.v[${i}*q.ds+1:${i + 1}*q.ds]"
      def subC(j: Int) = s"c.v[${j}*c.ds+1:${j + 1}*c.ds]"
      val score = (0 until 4).map { i =>
        s"GREATEST(${(0 until 4).map(j =>
          s"list_dot_product(${subQ(i)}, ${subC(j)})").mkString(", ")})"
      }.mkString(" + ")
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |                  len(embedding) // 4 AS ds
         |           FROM embeddings),
         |q AS (SELECT vec_id, v, ds FROM c WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         $score AS maxsim
         |  FROM c CROSS JOIN q WHERE q.vec_id <> c.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, maxsim,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY maxsim DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
         |       round(maxsim, 6) AS maxsim
         |FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    // the same fixed-point quantize→exact-sum→two-division sequence,
    // evaluated sequentially — equality IS the order-independence proof
    "an08_label_centroids" ->
      """WITH x AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |         unnest(embedding) AS x,
        |         unnest(generate_series(0, len(embedding)-1)) AS dim
        |  FROM embeddings)
        |SELECT label, CAST(dim AS BIGINT) AS dim,
        |  CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
        |    / 1000000.0 / COUNT(*) AS mean_val,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM x
        |GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin,

    // an01's oracle with the corpus restricted by the metadata predicate
    // (queries stay unfiltered — the RAG filter applies to candidates)
    "an07_filtered_topk" ->
      """WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id, v FROM c WHERE vec_id < 10),
        |f AS (SELECT vec_id, v FROM c WHERE label % 3 = 0),
        |scored AS (
        |  SELECT q.vec_id AS query_id, f.vec_id AS neighbor_id,
        |         list_cosine_similarity(f.v, q.v) AS cosine
        |  FROM f CROSS JOIN q WHERE q.vec_id <> f.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
        |       round(cosine, 6) AS cosine
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // The exact-pair COUNT from the same ground-truth set dd01 pins,
    // plus the SimHash recall bit (see the dd06 entry).
    "dd06_simhash_recall" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
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
        |                                AND l.doc_id < r.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
        |       CAST(1 AS BIGINT) AS recall_ok
        |FROM cand c JOIN sh a ON c.id_a = a.doc_id JOIN sh b ON c.id_b = b.doc_id
        |WHERE len(list_intersect(a.shingles, b.shingles))
        |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.5""".stripMargin,

    // Exact-recall pin: ALL pairs with k=3-shingle Jaccard >= 0.5 —
    // candidate blocking here is any-shared-shingle (complete: J >= 0.5
    // implies a shared shingle), so this is the full exact answer the
    // LSH pipeline must reproduce.
    "dd01_minhash_dup_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
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
        |                                AND l.doc_id < r.doc_id)
        |SELECT c.id_a, c.id_b,
        |       len(list_intersect(a.shingles, b.shingles))
        |         / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE)
        |         AS jaccard
        |FROM cand c JOIN sh a ON c.id_a = a.doc_id JOIN sh b ON c.id_b = b.doc_id
        |WHERE len(list_intersect(a.shingles, b.shingles))
        |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,


    // Same exact-Jaccard pair pipeline as dd01's oracle, restricted to
    // the batch side, plus the exact-digest drops — the LSH≡exact
    // equivalence dd01's green row certifies makes the two pair sets
    // interchangeable here.
    "dd15_incremental_ingest_dedup" -> incrementalIngestOracleSql,

    // the persisted-index path must land on the IDENTICAL keeper set —
    // the same oracle IS the recompute-equivalence certificate
    "dd17_persisted_lsh_ingest" -> incrementalIngestOracleSql,

    // dd20: the band-row counts are DuckDB's independent recomputes
    // (every document contributes exactly numBands = 8 band rows); the
    // four equality/layout certificates are constant-pinned — the
    // an03/dd10 contract for signature-bound artifacts.
    "dd20_band_index_compaction" ->
      """SELECT CAST(count(*) * 8 AS BIGINT) AS n_band_rows,
        |       CAST(count(*) AS BIGINT) AS n_docs_indexed,
        |       CAST(1 AS BIGINT) AS content_equal,
        |       CAST(1 AS BIGINT) AS one_cold_run_ok,
        |       CAST(1 AS BIGINT) AS one_file_per_bucket_ok,
        |       CAST(1 AS BIGINT) AS hot_dirs_gone_ok
        |FROM documents""".stripMargin,

    // dd15's full exact drop-rule replay restricted to the LIVE corpus
    // (documents minus the tombstoned history docs): deleted docs
    // neither drop keepers (exact or near) nor count as partners, and
    // the tombstone count is independently recomputed so a vacuous
    // tombstone set would be visible in the hash. The purge/probe
    // equivalence bits are engine-side certs pinned to 1.
    "dd21_index_tombstones" ->
      """WITH tomb AS (
        |  SELECT doc_id FROM documents
        |  WHERE doc_id % 4 <> 3
        |    AND (doc_id % 5 = 0 OR md5(text) IN
        |         (SELECT md5(text) FROM documents WHERE doc_id % 4 = 3))),
        |live AS (SELECT * FROM documents
        |         WHERE doc_id % 4 = 3
        |            OR doc_id NOT IN (SELECT doc_id FROM tomb)),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM live),
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
        |und AS (SELECT id_a, id_b FROM pairs
        |        UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM pairs),
        |d AS (SELECT doc_id, n_chars, md5(text) AS h, doc_id % 4 = 3 AS is_new
        |      FROM live),
        |drop_exact_hist AS (
        |  SELECT b.doc_id FROM d b
        |  WHERE b.is_new AND EXISTS (
        |    SELECT 1 FROM d h WHERE NOT h.is_new AND h.h = b.h)),
        |drop_exact_batch AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        |    FROM d WHERE is_new) WHERE rn > 1),
        |drop_near AS (
        |  SELECT DISTINCT u.id_b AS doc_id
        |  FROM und u
        |  JOIN d b ON u.id_b = b.doc_id AND b.is_new
        |  JOIN d p ON u.id_a = p.doc_id
        |  WHERE (NOT p.is_new) OR u.id_a < u.id_b),
        |dropped AS (SELECT doc_id FROM drop_exact_hist
        |            UNION SELECT doc_id FROM drop_exact_batch
        |            UNION SELECT doc_id FROM drop_near)
        |SELECT doc_id, n_chars,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM tomb) AS n_tombstones,
        |       CAST(1 AS BIGINT) AS no_tombstone_pair_ok,
        |       CAST(1 AS BIGINT) AS purged_ok,
        |       CAST(1 AS BIGINT) AS reprobe_equal_ok
        |FROM d
        |WHERE is_new AND doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY doc_id""".stripMargin,

    // dd12's ground truth: the exact-Jaccard pair count of the ORIGINAL
    // corpus (same pipeline as dd01's oracle), plus the three certificate
    // bits pinned to 1 — the stress fired, the cap bounded it, recall
    // survived it.
    "dd12_lsh_hotbucket_stress" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
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
        |        / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.5)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
        |       CAST(1 AS BIGINT) AS recall_ok,
        |       CAST(1 AS BIGINT) AS cap_bounded,
        |       CAST(1 AS BIGINT) AS hot_bucket_seen
        |FROM pairs""".stripMargin,

    // Replays the deterministic pixel GENERATOR (never the codec): the
    // Spark side encodes real BMP/PPM bytes and decodes them back by
    // parsing headers and walking the pixel array, so this hash only
    // matches if the round-trip is bit-exact — per-channel sums catch a
    // BGR/RGB swap, the top-down moment Σ(y·w+x)·r catches an unflipped
    // bottom-up BMP or mis-padded row, n_bytes pins canonical sizes.
    "mm01_media_metadata" ->
      """WITH d AS (SELECT doc_id, (doc_id % 21) + 4 AS w, (doc_id % 13) + 3 AS h
        |           FROM documents),
        |ys AS (SELECT doc_id, w, h, unnest(range(0, h)) AS y FROM d),
        |xs AS (SELECT doc_id, w, h, y, unnest(range(0, w)) AS x FROM ys),
        |agg AS (SELECT doc_id,
        |          sum((doc_id*7 + 11*y + 13*x) % 256) AS sum_r,
        |          sum((doc_id*5 + 3*y + 17*x) % 256) AS sum_g,
        |          sum((doc_id*3 + 19*y + 5*x) % 256) AS sum_b,
        |          sum((y*w + x) * ((doc_id*7 + 11*y + 13*x) % 256)) AS mom_r
        |        FROM xs GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS format,
        |  CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels,
        |  CAST(CASE WHEN d.doc_id % 2 = 0
        |       THEN 54 + ((3*d.w + 3) // 4) * 4 * d.h
        |       ELSE 9 + length(CAST(d.w AS VARCHAR)) + length(CAST(d.h AS VARCHAR))
        |            + 3*d.w*d.h END AS BIGINT) AS n_bytes,
        |  CAST(d.w * d.h AS BIGINT) AS n_pixels,
        |  CAST(agg.sum_r AS BIGINT) AS sum_r,
        |  CAST(agg.sum_g AS BIGINT) AS sum_g,
        |  CAST(agg.sum_b AS BIGINT) AS sum_b,
        |  CAST(agg.mom_r AS BIGINT) AS mom_r
        |FROM d JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Replays the pixel GENERATOR for the PNG round-trip (mm01's
    // contract through a compressed codec): PNG is lossless so every
    // stat must be exact; the encoded size — deflate-dependent — is
    // certified only as the bounds bit.
    "mm06_png_metadata" ->
      """WITH d AS (SELECT doc_id, (doc_id % 21) + 4 AS w, (doc_id % 13) + 3 AS h
        |           FROM documents),
        |ys AS (SELECT doc_id, w, h, unnest(range(0, h)) AS y FROM d),
        |xs AS (SELECT doc_id, w, h, y, unnest(range(0, w)) AS x FROM ys),
        |agg AS (SELECT doc_id,
        |          sum((doc_id*7 + 11*y + 13*x) % 256) AS sum_r,
        |          sum((doc_id*5 + 3*y + 17*x) % 256) AS sum_g,
        |          sum((doc_id*3 + 19*y + 5*x) % 256) AS sum_b,
        |          sum((y*w + x) * ((doc_id*7 + 11*y + 13*x) % 256)) AS mom_r
        |        FROM xs GROUP BY doc_id)
        |SELECT d.doc_id, 'png' AS format,
        |  CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels,
        |  CAST(d.w * d.h AS BIGINT) AS n_pixels,
        |  CAST(agg.sum_r AS BIGINT) AS sum_r,
        |  CAST(agg.sum_g AS BIGINT) AS sum_g,
        |  CAST(agg.sum_b AS BIGINT) AS sum_b,
        |  CAST(agg.mom_r AS BIGINT) AS mom_r,
        |  CAST(1 AS BIGINT) AS bytes_ok
        |FROM d JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Replays the pixel GENERATOR at the nearest-neighbor-elected source
    // coordinates (never any codec): sx=(ox*w)//6, sy=(oy*h)//5 is the
    // identical floor mapping `Multimodal.resizeNearest` computes. The
    // Spark side's stats come from decode(encodeBmp(resize(decode(real
    // bytes)))) — a double codec round-trip on a DERIVED image — so this
    // hash breaks if decode, the coordinate election, the thumbnail
    // encode, or the second decode is wrong. n_bytes_out pins the
    // canonical 6×5 24-bit BMP size (54 + 20·5 = 154).
    "mm05_image_resize" ->
      """WITH d AS (SELECT doc_id, (doc_id % 21) + 4 AS w, (doc_id % 13) + 3 AS h
        |           FROM documents),
        |ys AS (SELECT doc_id, w, h, unnest(range(0, 5)) AS oy FROM d),
        |xs AS (SELECT doc_id, w, h, oy, unnest(range(0, 6)) AS ox FROM ys),
        |px AS (SELECT doc_id, w, h, oy, ox,
        |         (oy * h) // 5 AS sy, (ox * w) // 6 AS sx
        |       FROM xs),
        |agg AS (SELECT doc_id,
        |          sum((doc_id*7 + 11*sy + 13*sx) % 256) AS sum_r,
        |          sum((doc_id*5 + 3*sy + 17*sx) % 256) AS sum_g,
        |          sum((doc_id*3 + 19*sy + 5*sx) % 256) AS sum_b,
        |          sum((oy*6 + ox) * ((doc_id*7 + 11*sy + 13*sx) % 256)) AS mom_r
        |        FROM px GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(d.w AS BIGINT) AS src_w, CAST(d.h AS BIGINT) AS src_h,
        |  CAST(6 AS BIGINT) AS out_w, CAST(5 AS BIGINT) AS out_h,
        |  CAST(154 AS BIGINT) AS n_bytes_out,
        |  CAST(agg.sum_r AS BIGINT) AS sum_r,
        |  CAST(agg.sum_g AS BIGINT) AS sum_g,
        |  CAST(agg.sum_b AS BIGINT) AS sum_b,
        |  CAST(agg.mom_r AS BIGINT) AS mom_r
        |FROM d JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Replays the whole perceptual pipeline from the pixel GENERATOR:
    // 8×8 nearest resize (mm05's coordinate election), integer
    // grayscale, the `gray·64 ≥ Σgray` mean threshold, the planted
    // (r+8)%256 perturbation, 4×16 banding, candidate verify — so the
    // hash compare certifies decode, resize, threshold, band join, AND
    // the Hamming verify at once. The guarantee bit is COMPUTED on both
    // sides (twin found whenever its distance ≤ 3 — banding's pigeonhole
    // completeness), never pinned.
    "mm07_phash_neardup" ->
      """WITH d AS (SELECT doc_id, (doc_id % 21) + 4 AS w, (doc_id % 13) + 3 AS h
        |           FROM documents),
        |ys AS (SELECT doc_id, w, h, unnest(range(0, 8)) AS oy FROM d),
        |xs AS (SELECT doc_id, w, h, oy, unnest(range(0, 8)) AS ox FROM ys),
        |px AS (SELECT doc_id, oy, ox, (oy*h)//8 AS sy, (ox*w)//8 AS sx FROM xs),
        |g AS (SELECT doc_id, oy, ox,
        |        (((doc_id*7 + 11*sy + 13*sx) % 256) + ((doc_id*5 + 3*sy + 17*sx) % 256)
        |          + ((doc_id*3 + 19*sy + 5*sx) % 256)) // 3 AS gray,
        |        (((doc_id*7 + 11*sy + 13*sx + CASE WHEN sy = 0 AND sx = 0 THEN 8 ELSE 0 END) % 256)
        |          + ((doc_id*5 + 3*sy + 17*sx) % 256)
        |          + ((doc_id*3 + 19*sy + 5*sx) % 256)) // 3 AS gray_t
        |      FROM px),
        |tot AS (SELECT doc_id, sum(gray) AS sg, sum(gray_t) AS sgt FROM g GROUP BY doc_id),
        |bits AS (SELECT g.doc_id, oy, ox,
        |           CASE WHEN gray*64 >= sg THEN 1 ELSE 0 END AS bo,
        |           CASE WHEN gray_t*64 >= sgt THEN 1 ELSE 0 END AS bt
        |         FROM g JOIN tot USING (doc_id)),
        |h AS (SELECT doc_id,
        |        string_agg(CAST(bo AS VARCHAR), '' ORDER BY oy, ox) AS ha,
        |        string_agg(CAST(bt AS VARCHAR), '' ORDER BY oy, ox) AS ht,
        |        CAST(sum(CASE WHEN bo <> bt THEN 1 ELSE 0 END) AS BIGINT) AS twin_dist
        |      FROM bits GROUP BY doc_id),
        |bnd AS (SELECT doc_id, unnest(range(0, 4)) AS b, ha, ht FROM h),
        |po AS (SELECT doc_id, b, substr(ha, CAST(b*16 + 1 AS INT), 16) AS band FROM bnd),
        |pt AS (SELECT doc_id, b, substr(ht, CAST(b*16 + 1 AS INT), 16) AS band FROM bnd),
        |cand AS (SELECT DISTINCT po.doc_id AS id_o, pt.doc_id AS id_t
        |         FROM po JOIN pt ON po.b = pt.b AND po.band = pt.band),
        |vc AS (SELECT c.id_o, c.id_t,
        |         len(list_filter(range(1, 65),
        |             i -> substr(a.ha, CAST(i AS INT), 1) <> substr(b.ht, CAST(i AS INT), 1))) AS dist
        |       FROM cand c JOIN h a ON c.id_o = a.doc_id JOIN h b ON c.id_t = b.doc_id),
        |agg AS (SELECT id_o AS doc_id,
        |          CAST(count(CASE WHEN id_t <> id_o THEN 1 END) AS BIGINT) AS n_band_cands,
        |          CAST(count(CASE WHEN id_t <> id_o AND dist <= 3 THEN 1 END) AS BIGINT) AS n_neardups,
        |          CAST(max(CASE WHEN id_t = id_o THEN 1 ELSE 0 END) AS BIGINT) AS twin_found
        |        FROM vc GROUP BY id_o)
        |SELECT h.doc_id, h.ha AS ahash, h.twin_dist,
        |       COALESCE(agg.twin_found, 0) AS twin_found,
        |       CAST(CASE WHEN h.twin_dist > 3 OR COALESCE(agg.twin_found, 0) = 1
        |            THEN 1 ELSE 0 END AS BIGINT) AS guarantee_ok,
        |       COALESCE(agg.n_band_cands, 0) AS n_band_cands,
        |       COALESCE(agg.n_neardups, 0) AS n_neardups,
        |       CAST(0 AS BIGINT) AS capped
        |FROM h LEFT JOIN agg USING (doc_id)
        |ORDER BY h.doc_id""".stripMargin,

    // Replays generator → rational resample arithmetic (idx/frac from
    // integer division; interpolation divides with `//`, which in
    // DuckDB TRUNCATES toward zero — matching Java's `/` on the Spark
    // side) — the WAV codec round-trips are certified by the hash
    // matching at all: a misdecoded or misencoded sample breaks
    // sum/abs/moment.
    "mm08_audio_resample" ->
      """WITH d AS (SELECT doc_id, (doc_id % 400) + 100 AS n_in,
        |                  8000 + (doc_id % 3) * 4000 AS src_rate
        |           FROM documents),
        |js AS (SELECT doc_id, n_in, src_rate,
        |              unnest(range(0, ((n_in - 1) * 8000) // src_rate + 1)) AS j
        |       FROM d),
        |pos AS (SELECT doc_id, n_in, src_rate, j,
        |               (j * src_rate) // 8000 AS idx,
        |               (j * src_rate) % 8000 AS frac
        |        FROM js),
        |o AS (SELECT doc_id, n_in, src_rate, j,
        |             CASE WHEN frac = 0
        |               THEN ((doc_id*13 + 7*idx) % 65536) - 32768
        |               ELSE ((((doc_id*13 + 7*idx) % 65536) - 32768) * (8000 - frac)
        |                     + ((((doc_id*13 + 7*(idx+1)) % 65536) - 32768) * frac)) // 8000
        |             END AS v
        |      FROM pos)
        |SELECT doc_id,
        |       CAST(src_rate AS BIGINT) AS src_rate,
        |       CAST(8000 AS BIGINT) AS dst_rate,
        |       CAST(n_in AS BIGINT) AS n_in,
        |       CAST(count(*) AS BIGINT) AS n_out,
        |       CAST(sum(v) AS BIGINT) AS sum_out,
        |       CAST(sum(abs(v)) AS BIGINT) AS sum_abs_out,
        |       CAST(sum(j * v) AS BIGINT) AS mom_out
        |FROM o GROUP BY doc_id, src_rate, n_in
        |ORDER BY doc_id""".stripMargin,

    // Replays the WAV sample GENERATOR (never the codec) — see mm01's
    // contract; the moment column is what fails if the decoder misreads
    // sample order or endianness.
    "mm04_audio_metadata" ->
      """WITH d AS (SELECT doc_id, (doc_id % 400) + 100 AS n,
        |             8000 + (doc_id % 3) * 4000 AS rate
        |           FROM documents),
        |xs AS (SELECT doc_id, unnest(range(0, n)) AS i FROM d),
        |agg AS (SELECT doc_id,
        |          sum((doc_id*13 + 7*i) % 65536 - 32768) AS sum_s,
        |          sum(abs((doc_id*13 + 7*i) % 65536 - 32768)) AS sum_abs,
        |          sum(i * ((doc_id*13 + 7*i) % 65536 - 32768)) AS mom_s
        |        FROM xs GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(44 + 2 * d.n AS BIGINT) AS n_bytes,
        |  CAST(d.rate AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(16 AS BIGINT) AS bits_per_sample,
        |  CAST(d.n AS BIGINT) AS n_samples,
        |  CAST(agg.sum_s AS BIGINT) AS sum_s,
        |  CAST(agg.sum_abs AS BIGINT) AS sum_abs,
        |  CAST(agg.mom_s AS BIGINT) AS mom_s
        |FROM d JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    "dd03_ngram_jaccard_pairs" ->
      s"""WITH $NgramPipelineSql
         |SELECT c.id_a, c.id_b,
         |       len(list_intersect(a.shingles, b.shingles))
         |         / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) AS jaccard
         |FROM cand c JOIN sh a ON c.id_a = a.doc_id JOIN sh b ON c.id_b = b.doc_id
         |WHERE len(list_intersect(a.shingles, b.shingles))
         |      / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    // same blocked candidates, containment scored over string shingle
    // sets — the asymmetric min-denominator twin of dd03's check
    "dd09_containment_pairs" ->
      s"""WITH $NgramPipelineSql
         |SELECT c.id_a, c.id_b,
         |       len(list_intersect(a.shingles, b.shingles))
         |         / CAST(LEAST(len(a.shingles), len(b.shingles)) AS DOUBLE)
         |         AS containment
         |FROM cand c JOIN sh a ON c.id_a = a.doc_id JOIN sh b ON c.id_b = b.doc_id
         |WHERE len(list_intersect(a.shingles, b.shingles))
         |      / CAST(LEAST(len(a.shingles), len(b.shingles)) AS DOUBLE) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    // unbanded Levenshtein over the same blocked candidates: for every
    // pair the banded Spark variant keeps (dist ≤ 64), the full DP
    // computes the identical distance
    "dd08_editdistance_pairs" ->
      s"""WITH $NgramPipelineSql
         |SELECT c.id_a, c.id_b,
         |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
         |FROM cand c
         |JOIN documents a ON c.id_a = a.doc_id
         |JOIN documents b ON c.id_b = b.doc_id
         |WHERE abs(length(a.text) - length(b.text)) <= 64
         |  AND levenshtein(a.text, b.text) <= 64
         |ORDER BY id_a, id_b""".stripMargin,

    // transitive closure over the same exact pairs: component label =
    // min id among (self ∪ everything reachable)
    "dd05_dup_clusters" ->
      s"""WITH RECURSIVE $NgramPipelineSql,
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
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         |SELECT u AS doc_id, CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY u
         |ORDER BY doc_id""".stripMargin,

    // same composite construction, winner election, and reassembly as
    // the Spark entry — keep-first by (cid, pos) over md5 digests
    "dd13_paragraph_dedup" ->
      """WITH base AS (
        |  SELECT doc_id // 3 AS cid, doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 1000000 + doc_id // 3 AS cid, doc_id, text FROM documents
        |  WHERE doc_id < 12 AND doc_id % 3 <> 2),
        |comp AS (
        |  SELECT cid, string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS ctext
        |  FROM base GROUP BY cid),
        |pl AS (SELECT cid, string_split(ctext, chr(10) || chr(10)) AS ps FROM comp),
        |pu AS (SELECT cid, ps, unnest(generate_series(1, len(ps))) AS pos FROM pl),
        |para AS (SELECT cid, CAST(pos AS BIGINT) AS pos, ps[pos] AS para FROM pu),
        |w AS (SELECT md5(para) AS d, MIN(cid * 100 + pos) AS wk
        |      FROM para GROUP BY md5(para)),
        |kept AS (
        |  SELECT p.cid, p.pos, p.para FROM para p
        |  JOIN w ON md5(p.para) = w.d AND p.cid * 100 + p.pos = w.wk),
        |stats AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_paras
        |          FROM para GROUP BY cid),
        |reb AS (
        |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    md5(string_agg(para, chr(10) || chr(10) ORDER BY pos)) AS kept_md5
        |  FROM kept GROUP BY cid)
        |SELECT s.cid AS comp_id, s.n_paras,
        |  COALESCE(r.n_kept, CAST(0 AS BIGINT)) AS n_kept,
        |  COALESCE(r.kept_md5, md5('')) AS kept_md5
        |FROM stats s LEFT JOIN reb r ON s.cid = r.cid
        |ORDER BY comp_id""".stripMargin)

  /** Shared CTE prefix of the dd03/dd05 oracles: string-shingle pipeline →
    * blocked candidate pairs (k=4, df ≤ 16). Lazy: referenced by the
    * `oracles` val above during object init. */
  private lazy val NgramPipelineSql: String =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(t) < 4
      |           THEN [array_to_string(t, ' ')]
      |           ELSE list_transform(generate_series(1, len(t) - 3),
      |                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
      |         END) AS shingles
      |  FROM toks),
      |post AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |rare AS (SELECT shingle FROM post GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND 16),
      |rp AS (SELECT p.doc_id, p.shingle FROM post p JOIN rare USING (shingle)),
      |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      |         FROM rp l JOIN rp r ON l.shingle = r.shingle AND l.doc_id < r.doc_id)""".stripMargin
}
