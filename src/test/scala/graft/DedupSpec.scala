package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

class DedupSpec extends SparkSuite {

  private def docsDf = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
      (4L, "completely different words about spark catalyst optimizer rules"),
      (5L, "spark catalyst optimizer with completely different other words here")
    ).toDF("doc_id", "text")
  }

  test("minhash LSH finds exact and near duplicates, skips unrelated") {
    val pairs = Dedup.minHashDupPairs(docsDf, "doc_id", "text",
      shingleK = 2, numBands = 16, rowsPerBand = 2, threshold = 0.5, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "exact duplicate must be found")
    assert(!pairs.exists(p => p._2 == 4L && p._1 <= 2), "unrelated docs must not pair")
    // exact dup pair has jaccard 1.0
    val j = Dedup.minHashDupPairs(docsDf, "doc_id", "text",
      shingleK = 2, numBands = 16, rowsPerBand = 2, threshold = 0.5, maxBucket = 64)
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .select("jaccard").head().getDouble(0)
    assert(j == 1.0)
  }

  test("persisted band index: probe path equals the full-corpus LSH " +
    "restricted to batch-touching pairs (incl. jaccard values)") {
    val s = spark
    import s.implicits._
    val docs = graft.model.Tables.documents(s, sf).select($"doc_id", $"text")
    val hist = docs.filter(!($"doc_id" % 4 === 3))
    val batch = docs.filter($"doc_id" % 4 === 3)
    val dir = testDir("lsh-idx-")
    Dedup.lshBandIndex(hist, "doc_id", "text",
        shingleK = 3, numBands = 8, rowsPerBand = 4)
      .write.mode("overwrite").parquet(dir)
    val viaIndex = Dedup.minHashDupPairsWithIndex(batch,
        s.read.parquet(dir), hist, "doc_id", "text",
        shingleK = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batchIds = batch.select($"doc_id").as[Long].collect().toSet
    val full = Dedup.minHashDupPairs(docs, "doc_id", "text",
        shingleK = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => batchIds(p._1) || batchIds(p._2)).toSet
    assert(viaIndex == full,
      s"index-probe pairs diverged from the full run: " +
        s"only-index=${(viaIndex -- full).take(3)}, only-full=${(full -- viaIndex).take(3)}")
  }

  test("persisted band index: the _params sidecar rejects a mismatched probe") {
    val s = spark
    import s.implicits._
    val docs = graft.model.Tables.documents(s, sf)
      .select($"doc_id", $"text").limit(20)
    val dir = testDir("lsh-idx-params-")
    Dedup.writeLshBandIndex(docs, "doc_id", "text", dir,
      shingleK = 3, numBands = 8, rowsPerBand = 4)
    // matching parameters load fine and see the band rows
    assert(Dedup.readLshBandIndex(s, dir, 3, 8, 4).count() > 0)
    // any mismatched parameter fails loudly instead of silently
    // corrupting the candidate set
    for ((k, b, r) <- Seq((5, 8, 4), (3, 16, 4), (3, 8, 2))) {
      val e = intercept[IllegalArgumentException](
        Dedup.readLshBandIndex(s, dir, k, b, r))
      assert(e.getMessage.contains("band keys are"),
        s"unexpected message for ($k,$b,$r): ${e.getMessage}")
    }
  }

  test("index probe shuffle is proportional to the batch, not the " +
    "accumulated index (the r16 weak finding, pinned)") {
    val s = spark
    import s.implicits._
    // 2000 mutually-unrelated history docs (distinct token sets, so band
    // keys collide only for genuine near-dups) and a 2-doc batch: one
    // exact dup of history doc 7, one unrelated newcomer.
    def txt(i: Long) = (0 until 12).map(j => s"w${j}x$i").mkString(" ")
    val hist = (0L until 2000L).map(i => (i, txt(i))).toDF("doc_id", "text")
    val batch = Seq((9001L, txt(7)), (9002L, txt(777777L)))
      .toDF("doc_id", "text")
    val dir = testDir("lsh-idx-prune-")
    Dedup.writeLshBandIndex(hist, "doc_id", "text", dir,
      shingleK = 3, numBands = 8, rowsPerBand = 4)
    val bands = Dedup.readLshBandIndex(s, dir, 3, 8, 4)
    val indexRows = bands.count() // 2000 docs × 8 bands
    assert(bands.columns.contains("band_bucket"),
      "persisted layout must carry the partition column for scan pruning")
    var got: Set[(Long, Long, Double)] = Set.empty
    val recs = shuffleRecords {
      got = Dedup.minHashDupPairsWithIndex(batch, bands, hist,
          "doc_id", "text", shingleK = 3, numBands = 8, rowsPerBand = 4,
          threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    assert(got == Set((7L, 9001L, 1.0)),
      s"probe answer wrong after pruning: $got")
    // the substance: probe-side shuffle must NOT carry the index. The
    // budget is index/10 — generous headroom over the actual ~(batch
    // bands + Bloom false positives + verify joins) while being far
    // below any full-index re-shuffle (which alone would be ≥ indexRows).
    assert(recs < indexRows / 10,
      s"probe shuffled $recs records against a $indexRows-row index — " +
        "the accumulated index is crossing an exchange again")
    // NEGATIVE CONTROL (the q03/q40 pattern): the UNPRUNED shape — the
    // r16 plan, whole index unioned into the band-keyed aggregate —
    // blows the same budget, so the pin above cannot pass vacuously
    val newBanded = Dedup.lshBandIndex(batch, "doc_id", "text",
      shingleK = 3, numBands = 8, rowsPerBand = 4)
    val unioned = bands.drop("band_bucket")
      .select($"id", $"band", lit(0).as("fresh"))
      .unionByName(newBanded.select($"id", $"band", lit(1).as("fresh")))
    val unprunedRecs = shuffleRecords {
      // collect_list has no map-side combine, so the exchange carries
      // every union row — exactly what the old probe paid
      unioned.groupBy($"band").agg(collect_list($"id"))
        .write.mode("overwrite").format("noop").save()
    }
    assert(unprunedRecs >= indexRows,
      s"negative control shuffled only $unprunedRecs records (< $indexRows) " +
        "— the unpruned shape no longer trips the budget, teeth lost")
    // PLAN pin: the probe's index-prune stage (the production
    // pruneIndexToBatch, planned directly — the verify tail downstream
    // is lineage-truncated and would hide this scan) must carry BOTH
    // prune levels: a band_bucket partition filter (directory/partition
    // skip) and the map-side Bloom probe (might_contain), ahead of any
    // exchange
    val (bkts, nB) = Dedup.bandSummary(newBanded)
    val probePlan = Dedup.pruneIndexToBatch(bands, newBanded, bkts, nB)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(probePlan.contains("might_contain"),
      "probe plan lost the Bloom prune on the index scan")
    assert(probePlan.contains("PartitionFilters: [") &&
      probePlan.contains("band_bucket"),
      "probe plan lost the band_bucket partition filter — the scan reads " +
        "every bucket directory again")
  }

  test("compacted streaming band index: the cold run IS the Hive probe " +
    "layout — both prune levels and the probe answer survive the fold") {
    val s = spark
    import s.implicits._
    def txt(i: Long) = (0 until 12).map(j => s"c${j}z$i").mkString(" ")
    val hist = (0L until 300L).map(i => (i, txt(i))).toDF("doc_id", "text")
    val batch = Seq((9001L, txt(7)), (9002L, txt(888888L)))
      .toDF("doc_id", "text")
    val base = testDir("lsh-cmp-")
    // two streaming-style appends in st29's routed per-bucket layout
    Seq(hist.filter($"doc_id" % 2 === 0), hist.filter($"doc_id" % 2 === 1))
      .zipWithIndex.foreach { case (h, b) =>
        graft.stream.IdempotentSink.writeRoutedBatch(
          Dedup.lshBandIndex(h, "doc_id", "text",
              shingleK = 3, numBands = 8, rowsPerBand = 4)
            .withColumn("band_bucket", Dedup.bandBucket($"band")),
          base, "band_bucket", b)
      }
    def probe(bands: org.apache.spark.sql.DataFrame) =
      Dedup.minHashDupPairsWithIndex(batch, bands, hist, "doc_id", "text",
          shingleK = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val preAnswer = probe(
      graft.stream.IdempotentSink.readRouted(s, base, "band_bucket").get)
    assert(preAnswer == Set((7L, 9001L, 1.0)), s"hot-layout probe wrong: $preAnswer")
    graft.stream.IdempotentSink.compactRouted(s, base, "band_bucket",
      shufflePartitions = Dedup.BandBuckets)
    // the cold run is the writeLshBandIndex Hive shape: band_bucket rides
    // as the partition column, so the dd17 probe-plan pin re-runs
    // VERBATIM on the compacted artifact
    val coldName = new java.io.File(base).listFiles().map(_.getName)
      .filter(_.matches("c\\d+")).toSeq match {
      case Seq(one) => one
      case other => fail(s"expected exactly one cold run, got $other")
    }
    val cold = s.read.parquet(s"$base/$coldName")
    assert(cold.columns.contains("band_bucket"),
      "cold run lost the partition column — scan pruning gone")
    val newBanded = Dedup.lshBandIndex(batch, "doc_id", "text",
      shingleK = 3, numBands = 8, rowsPerBand = 4)
    val (bkts, nB) = Dedup.bandSummary(newBanded)
    val probePlan = Dedup.pruneIndexToBatch(cold, newBanded, bkts, nB)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(probePlan.contains("might_contain"),
      "compacted probe plan lost the Bloom prune")
    assert(probePlan.contains("PartitionFilters: [") &&
      probePlan.contains("band_bucket"),
      "compacted probe plan lost the band_bucket partition filter")
    assert(probe(cold) == preAnswer,
      "probe answer changed across the fold")
  }

  test("historyFor point-lookup loader: bucketed partner-text fetch answers " +
    "identically to the full-table semi join (the 100 TB corpus shape)") {
    val s = spark
    import s.implicits._
    def txt(i: Long) = (0 until 12).map(j => s"v${j}y$i").mkString(" ")
    val hist = (0L until 200L).map(i => (i, txt(i))).toDF("doc_id", "text")
    val batch = Seq((9001L, txt(7)), (9002L, txt(555555L)))
      .toDF("doc_id", "text")
    val bands = Dedup.lshBandIndex(hist, "doc_id", "text",
      shingleK = 3, numBands = 8, rowsPerBand = 4).localCheckpoint()
    // corpus persisted one directory per id bucket — the artifact layout
    // a streaming ingest loop maintains so partner text is a point
    // lookup instead of a full-history scan
    val dir = testDir("corpus-bkt-")
    hist.withColumn("b", pmod(hash($"doc_id"), lit(Dedup.BandBuckets)))
      .write.partitionBy("b").mode("overwrite").parquet(dir)
    var loaderBuckets = -1
    val loader = (partnerIds: org.apache.spark.sql.DataFrame) => {
      val bkts = partnerIds
        .select(pmod(hash($"pid"), lit(Dedup.BandBuckets)).as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq
      loaderBuckets = bkts.size
      val dirs = bkts.map(k => s"$dir/b=$k")
        .filter(p => new java.io.File(p).exists())
      val h =
        if (dirs.isEmpty) Seq.empty[(Long, String)].toDF("doc_id", "text")
        else s.read.parquet(dirs: _*)
      h.join(partnerIds, h("doc_id") === col("pid"), "left_semi")
    }
    def run(historyFor: Option[org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame], history: org.apache.spark.sql.DataFrame) =
      Dedup.minHashDupPairsWithIndex(batch, bands, history, "doc_id", "text",
          shingleK = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5,
          historyFor = historyFor)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaLoader = run(Some(loader), Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val viaSemiJoin = run(None, hist)
    assert(viaLoader == viaSemiJoin && viaLoader == Set((7L, 9001L, 1.0)),
      s"point-lookup path diverged: loader=$viaLoader semi=$viaSemiJoin")
    assert(loaderBuckets >= 1 && loaderBuckets < Dedup.BandBuckets,
      s"loader read $loaderBuckets buckets — expected a strict subset for " +
        "a 1-partner candidate set (the whole point of the layout)")
  }

  test("persisted band index: a foreign band_buckets layout in the " +
    "sidecar is rejected (partition pruning would skip wrong buckets)") {
    val s = spark
    import s.implicits._
    val docs = graft.model.Tables.documents(s, sf)
      .select($"doc_id", $"text").limit(20)
    val dir = testDir("lsh-idx-bb-")
    Dedup.writeLshBandIndex(docs, "doc_id", "text", dir,
      shingleK = 3, numBands = 8, rowsPerBand = 4)
    assert(Dedup.readLshBandIndex(s, dir, 3, 8, 4).count() > 0)
    // simulate an index written under a different bucket constant: the
    // sidecar rewrite also rotates the params memo key (mtime/length),
    // so the stale memo entry cannot mask the mismatch
    Seq((3, 8, 4, Dedup.BandBuckets * 2))
      .toDF("shingle_k", "num_bands", "rows_per_band", "band_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_params")
    val e = intercept[IllegalArgumentException](
      Dedup.readLshBandIndex(s, dir, 3, 8, 4))
    assert(e.getMessage.contains("bucket layout drives partition pruning"),
      s"unexpected message: ${e.getMessage}")
  }

  test("simhash: identical docs → hamming 0; near docs → small hamming") {
    val sigs = docsDf.select(col("doc_id"), Dedup.simHash(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    val hammingNear = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    val hammingFar = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(hammingNear < hammingFar,
      s"near-dup hamming $hammingNear should be < unrelated $hammingFar")
    val pairs = Dedup.simHashDupPairs(docsDf, "doc_id", "text",
      prefixBits = 8, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("ngram jaccard pairs: exact dup scores 1.0") {
    val pairs = Dedup.ngramJaccardPairs(docsDf, "doc_id", "text",
      shingleK = 2, threshold = 0.9, maxDf = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0)
  }

  test("skew guard: hot buckets generate no candidate pairs") {
    val s = spark
    import s.implicits._
    // 20 identical docs = one hot simhash bucket; maxBucket below the
    // bucket size must suppress the quadratic self-join entirely
    val hot = (1L to 20L).map(i => (i, "same boilerplate text repeated everywhere"))
      .toDF("doc_id", "text")
    val capped = Dedup.simHashDupPairs(hot, "doc_id", "text",
      prefixBits = 8, maxHamming = 0, maxBucket = 10)
    assert(capped.count() == 0)
    val uncapped = Dedup.simHashDupPairs(hot, "doc_id", "text",
      prefixBits = 8, maxHamming = 0, maxBucket = 1024)
    assert(uncapped.count() == 190) // 20 choose 2 — the join the cap avoids
  }

  test("simhash rotation probes: superset of single-probe pairs, hamming verified") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def pairs(rot: Int) = Dedup.simHashDupPairs(docs, "doc_id", "text",
      prefixBits = 12, maxHamming = 8, rotations = rot)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val single = pairs(1)
    val multi = pairs(4)
    assert(single.map(p => (p._1, p._2)).toSet.subsetOf(multi.map(p => (p._1, p._2)).toSet),
      "more probes must never lose pairs")
    assert(multi.forall(_._3 <= 8), "every emitted pair is hamming-verified")
    assert(multi.map(p => (p._1, p._2)).distinct.length == multi.length,
      "pairs found by several probes are deduplicated")
  }

  test("simhash dup pairs: recall vs brute-force exact hamming ground truth") {
    // Ground truth: the EXACT hamming-≤h pair sets over the corpus, from a
    // signature self-join (500 docs → 125k pairs — fine in a spec; the
    // operator under test exists precisely so production never does this).
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sigs = docs.select(col("doc_id").as("id"), Dedup.simHash(col("text")).as("sig"))
    val a = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
    def truthAt(h: Int): Set[(Long, Long)] = a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= h)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth8 = truthAt(8)
    val truth4 = truthAt(4)
    assert(truth8.size > 100 && truth4.nonEmpty,
      "corpus must contain hamming-close pairs to measure recall")
    def foundAt(rot: Int): Set[(Long, Long)] =
      Dedup.simHashDupPairs(docs, "doc_id", "text",
        prefixBits = 12, maxHamming = 8, rotations = rot)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(found: Set[(Long, Long)], truth: Set[(Long, Long)]): Double =
      (truth intersect found).size.toDouble / truth.size
    // single probe: the differing bits of a hamming-8 pair dodge ONE 12-bit
    // prefix window with probability ≈ (52/64)^8 ≈ 0.19 — measured 0.142
    val single = foundAt(1)
    assert(single.subsetOf(truth8), "every emitted pair must be a true hamming-≤8 pair")
    info(f"single-probe recall@8 = ${recall(single, truth8)}%.3f over ${truth8.size} true pairs")
    assert(recall(single, truth8) >= 0.10,
      s"single-probe recall regressed below its measured 0.142: ${recall(single, truth8)}")
    // dd02's production configuration (8 rotation probes): measured 0.891
    // on hamming-≤8, 1.0 on the genuine near-dups (hamming-≤4)
    val multi = foundAt(8)
    assert(multi.subsetOf(truth8))
    info(f"8-probe recall@8 = ${recall(multi, truth8)}%.3f, recall@4 = ${recall(multi, truth4)}%.3f")
    assert(recall(multi, truth8) >= 0.80,
      s"dd02's 8-probe recall regressed below its measured 0.891: ${recall(multi, truth8)}")
    assert(recall(multi, truth4) >= 0.95,
      s"8-probe recall on tight (hamming-≤4) pairs regressed below its measured 1.0")
  }

  test("connected components: chains merge, separate clusters stay apart") {
    val s = spark
    import s.implicits._
    // chain 1-2-3-4 (diameter 3, needs multiple rounds), pair 10-11,
    // self-loop 20-20
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (20L, 20L))
      .toDF("id_a", "id_b")
    val comp = graft.ops.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("IVF ANN recall vs brute force") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    def neighbors(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = neighbors(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5))
    val approx = neighbors(Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
      nCells = 16, nProbe = 8, quantizerKey = "recall-spec"))
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.85, s"IVF recall@5 with nProbe=8/16 regressed below its measured 0.9: $recall")
  }

  test("PQ ANN recall vs brute force: ADC alone ranks, exact re-rank recovers") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    def neighbors(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = neighbors(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5))
    def recallAt(shortlist: Int): Double = {
      val approx = neighbors(Similarity.pqTopK(emb, queries, "vec_id", "embedding", k = 5,
        m = 16, ksub = 16, shortlist = shortlist, quantizerKey = "pq-recall-spec"))
      (exact intersect approx).size.toDouble / exact.size
    }
    val adcOnly = recallAt(0)
    val reranked = recallAt(100)
    val composed = {
      val approx = neighbors(Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        k = 5, nCells = 16, nProbe = 12, m = 16, ksub = 16, shortlist = 100,
        quantizerKey = "pq-recall-spec"))
      (exact intersect approx).size.toDouble / exact.size
    }
    info(f"PQ recall@5: adc-only = $adcOnly%.3f, rerank-100 = $reranked%.3f, " +
      f"ivfpq p12-r100 = $composed%.3f")
    assert(composed >= 0.8,
      s"composed IVF-PQ recall regressed below its measured 0.9+: $composed")
    // near-random corpus (PQ's worst case); measured 0.42 / 0.98 at sf0.001
    assert(adcOnly >= 0.2, s"pure-ADC recall regressed below its measured 0.42: $adcOnly")
    assert(reranked >= 0.85, s"re-ranked recall regressed below its measured 0.98: $reranked")
    assert(reranked >= adcOnly, "exact re-rank must not lose recall vs pure ADC")
  }

  test("OPQ: learned rotation is orthogonal and beats plain PQ distortion " +
    "at identical settings on the anisotropic view") {
    val emb = graft.queries.PipelineQueries.anisoEmbeddings(spark, sf)
    val key = "opq-spec"
    val (rot, obooks) = Similarity.opqArtifacts(emb, "vec_id", "embedding",
      key, m = 16, ksub = 16, seed = 42L)
    val dim = rot.length
    // RᵀR = I to float tolerance — the Procrustes update must stay on
    // the orthogonal manifold
    for (i <- 0 until dim; j <- 0 until dim) {
      val v = (0 until dim).map(k => rot(k)(i) * rot(k)(j)).sum
      assert(math.abs(v - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"RtR[$i][$j] = $v drifted off orthogonality")
    }
    // corpus-wide quantization distortion strictly below plain PQ's —
    // the objective OPQ minimizes (measured ~25-35% below)
    val books = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      key, m = 16, ksub = 16, seed = 42L)
    val u = emb.select(col("embedding").as("v"))
      .withColumn("vn", Similarity.norm(col("v"))).filter(col("vn") > 0)
      .withColumn("u", org.apache.spark.sql.functions.transform(
        col("v"), x => x / col("vn")))
    val row = u.agg(
      org.apache.spark.sql.functions.avg(
        Similarity.quantDistortion(books, col("u"))).as("d_pq"),
      org.apache.spark.sql.functions.avg(
        Similarity.opqDistortion(rot, obooks, col("u"))).as("d_opq")).head()
    val (dPq, dOpq) = (row.getDouble(0), row.getDouble(1))
    info(f"quantization distortion: pq = $dPq%.5f, opq = $dOpq%.5f")
    assert(dOpq < dPq * 0.97,
      s"OPQ distortion $dOpq not >=3% below plain PQ's $dPq")
    // the query path produces well-formed deterministic top-k
    val queries = emb.filter(col("vec_id") < 5)
    val out = Similarity.opqTopK(emb, queries, "vec_id", "embedding",
      k = 3, m = 16, ksub = 16, shortlist = 0, quantizerKey = key)
      .collect()
    assert(out.nonEmpty && out.forall(_.getAs[Long]("rank") <= 3))
  }

  test("SQ8 ANN recall vs brute force: 8-bit codes rank, re-rank never loses") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    def neighbors(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = neighbors(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5))
    def recallAt(shortlist: Int): Double = {
      val approx = neighbors(Similarity.sqTopK(emb, queries, "vec_id", "embedding", k = 5,
        shortlist = shortlist, quantizerKey = "sq-recall-spec"))
      (exact intersect approx).size.toDouble / exact.size
    }
    val pure = recallAt(0)
    val reranked = recallAt(50)
    info(f"SQ8 recall@5: pure = $pure%.3f, rerank-50 = $reranked%.3f")
    // measured 1.0 / 1.0 at sf0.001 (0.96 / 1.0 at sf0.1) — 8 bits per
    // dim barely distorts cosine ranks on this corpus
    assert(pure >= 0.85, s"pure SQ8 recall regressed below its measured 1.0: $pure")
    assert(reranked >= 0.95, s"re-ranked SQ8 recall regressed: $reranked")
    assert(reranked >= pure, "exact re-rank must not lose recall vs pure SQ")
  }

  test("embedding dup pairs: finds near-dups; degenerate corpus is capped, not quadratic") {
    val s = spark
    import s.implicits._
    // distinct directions + two near-dup clusters
    val base = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.01f, 0.0f)),  // near dup of 0
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.02f)),  // near dup of 2
      (4L, Seq(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingDupPairs(base, "vec_id", "embedding",
      threshold = 0.99, nCells = 2, nProbe = 2, maxCell = 64,
      quantizerKey = "dup-spec")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) || pairs.contains((2L, 3L)),
      s"near-dup pair must be found within a probed cell, got $pairs")
    assert(!pairs.contains((0L, 4L)) && !pairs.contains((0L, 2L)),
      "orthogonal vectors must not pair")

    // degenerate corpus: every vector identical → ONE hot cell. The cap
    // must suppress the quadratic pair blow-up (exact dedup's job), and
    // the query must stay cheap: pair count is 0, not n²/2.
    val hot = (1L to 500L).map(i => (i, Seq(1.0f, 1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val capped = Similarity.embeddingDupPairs(hot, "vec_id", "embedding",
      threshold = 0.9, nCells = 4, nProbe = 2, maxCell = 100,
      quantizerKey = "dup-spec-hot")
    assert(capped.count() == 0, "hot cell above maxCell must be dropped")
  }

  test("cosine: orthogonal = 0, identical = 1") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0))).toDF("a", "b")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")).as("ortho"),
      Similarity.cosine(col("a"), col("a")).as("same")).head()
    assert(r.getDouble(0) == 0.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("brute-force topk ranks an exact duplicate vector first") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.01f, 0.0f)), // near dup of 0
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(corpus, corpus.filter($"vec_id" === 0),
      "vec_id", "embedding", k = 2).collect()
    assert(out.head.getAs[Long]("neighbor_id") == 1L)
    assert(out.head.getAs[Long]("rank") == 1L)
  }

  test("an08: centroids are bit-identical across partitionings (fixed-point claim)") {
    val s = spark
    import s.implicits._
    val emb = graft.model.Tables.embeddings(s, sf)
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.groupCentroids(df, "label", "embedding")
        .orderBy($"key", $"dim").collect().toSeq
    val a = run(emb.repartition(1))
    val b = run(emb.repartition(7, $"vec_id"))
    assert(a.nonEmpty && a == b,
      "mean_val differs across partitionings — exact fixed-point property broken")
  }

  test("stale index cache guard: in-place corpus overwrite fails loudly, " +
    "explicit quantizerKey opts out") {
    val s = spark
    import s.implicits._
    val dir = testDir("graft-stale-ivf")
    def writeCorpus(shift: Int): Unit =
      (0 until 300).map { i =>
        (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3 + shift) % 13).toFloat))
      }.toDF("id", "vec").write.mode("overwrite").parquet(dir)

    writeCorpus(0)
    val c1 = s.read.parquet(dir)
    // first use fits + memoizes the quantizer and records the file set
    assert(Similarity.ivfTopK(c1, c1.limit(3), "id", "vec", k = 2,
      nCells = 4).count() > 0)

    writeCorpus(1) // rewrite the SAME path: every cached artifact is stale
    val c2 = s.read.parquet(dir)
    val e = intercept[IllegalStateException] {
      Similarity.ivfTopK(c2, c2.limit(3), "id", "vec", k = 2, nCells = 4)
    }
    assert(e.getMessage.contains("Stale similarity index cache"),
      s"unexpected message: ${e.getMessage}")
    // the other artifact consumers guard the same corpus key
    intercept[IllegalStateException] {
      Similarity.sqTopK(c2, c2.limit(3), "id", "vec", k = 2)
    }
    intercept[IllegalStateException] {
      Similarity.embeddingDupPairs(c2, "id", "vec", threshold = 0.99)
    }
    // explicit quantizerKey = caller owns refresh: a fresh key refits fine
    assert(Similarity.ivfTopK(c2, c2.limit(3), "id", "vec", k = 2,
      nCells = 4, quantizerKey = s"refit-$dir").count() > 0)
  }

  test("dd08: banded levenshtein equals the full distance on every kept pair") {
    val s = spark
    import s.implicits._
    val docs = graft.model.Tables.documents(s, sf)
    val pairs = Dedup.editDistancePairs(docs, "doc_id", "text",
      shingleK = 4, maxDist = 64, maxDf = 16)
    val txt = docs.select($"doc_id", $"text")
    val checked = pairs
      .join(txt.select($"doc_id".as("id_a"), $"text".as("t_a")), "id_a")
      .join(txt.select($"doc_id".as("id_b"), $"text".as("t_b")), "id_b")
      .withColumn("full", levenshtein($"t_a", $"t_b").cast("long"))
    assert(checked.count() > 0, "no edit-distance pairs at this sf — vacuous")
    assert(checked.filter($"dist" =!= $"full" || $"dist" > 64).isEmpty,
      "banded distance diverges from the full DP inside the threshold")
  }

  test("connected components: a 500-link chain converges within the round budget") {
    // regression for two coupled failure modes the 4x dd19 fixture hit:
    // (1) min-propagation alone needs O(diameter) rounds, so a 500-deep
    //     chain (the bucket-capped near-dup graph's shape when caps slice
    //     dense clusters into overlapping runs) blows any fixed budget —
    //     pointer jumping makes it O(log diameter);
    // (2) the jump's self-join SQUARES Catalyst's carried sizeInBytes
    //     estimate each round; without the per-round stats reset the
    //     driver ends up multiplying million-digit BigIntegers and a
    //     10-round loop takes minutes. If either regresses, this test
    //     fails its round budget or times out loudly.
    val s = spark
    import s.implicits._
    val chain = (0L until 500L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = graft.ops.Dedup.connectedComponents(chain, maxRounds = 15)
    assert(comp.count() == 501)
    assert(comp.agg(max($"comp")).head().getLong(0) == 0L,
      "chain did not collapse to the single minimum label")
  }

  test("undirectedPairs ≡ swapped union (one-pass explode, r21)") {
    val s = spark
    import s.implicits._
    // duplicates and reversed inputs included: the equivalence claim is
    // MULTISET identity, not set identity
    val pairs = Seq((1L, 2L), (1L, 2L), (3L, 7L), (9L, 4L))
      .toDF("id_a", "id_b")
    val expected = pairs
      .unionByName(pairs.select($"id_b".as("id_a"), $"id_a".as("id_b")))
    val got = Dedup.undirectedPairs(pairs)
    assert(got.columns.toSeq == Seq("id_a", "id_b"))
    assert(graft.ops.Multiset.equal(got, expected),
      "explode form must be multiset-identical to the swapped union")
  }

  test("Lineage.cut honors spark.graft.checkpointDir (reliable-checkpoint seam)") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // default (conf unset): localCheckpoint — no reliable checkpoint files
    val local = graft.ops.Lineage.cut(df)
    assert(local.collect().length == 2)
    assert(local.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
    val ckpt = testDir("graft-ckpt-")
    try {
      s.conf.set(graft.ops.Lineage.CheckpointDirConf, ckpt)
      val reliable = graft.ops.Lineage.cut(df)
      assert(reliable.collect().toSet == df.collect().toSet)
      // the cut really landed under the configured root
      def anyFiles(f: java.io.File): Boolean =
        f.isFile || Option(f.listFiles()).getOrElse(Array.empty).exists(anyFiles)
      assert(anyFiles(new java.io.File(ckpt)),
        "reliable checkpoint must write blocks under the configured root")
    } finally s.conf.unset(graft.ops.Lineage.CheckpointDirConf)
  }

  test("minHashDupPairsWithIndex with a precomputed newBloom emits the " +
    "identical pair set (dd21's shared-Bloom probe)") {
    val s = spark
    import s.implicits._
    def txt(i: Long) = (0 until 12).map(j => s"w${j}q$i").mkString(" ")
    val hist = (0L until 200L).map(i => (i, txt(i))).toDF("doc_id", "text")
    val batch = Seq((9001L, txt(7)), (9002L, txt(777777L))).toDF("doc_id", "text")
    val index = Dedup.lshBandIndex(hist, "doc_id", "text",
      shingleK = 3, numBands = 8, rowsPerBand = 4)
    val newBands = Dedup.lshBandIndex(batch, "doc_id", "text",
      shingleK = 3, numBands = 8, rowsPerBand = 4).localCheckpoint()
    val summary @ (_, nB) = Dedup.bandSummary(newBands)
    val bloom = graft.ops.Sketches.bloomBytes(newBands, "band",
      expectedItems = nB, fpp = 0.01)
    def run(withBloom: Option[Array[Byte]]) =
      Dedup.minHashDupPairsWithIndex(batch, index, hist, "doc_id", "text",
          shingleK = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5,
          newBands = Some(newBands), newBandSummary = Some(summary),
          newBloom = withBloom)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dflt = run(None)
    assert(dflt == run(Some(bloom)),
      "precomputed-Bloom probe diverged from the default probe")
    assert(dflt.contains((7L, 9001L, 1.0)), s"probe lost the true pair: $dflt")
  }

  test("Actions.longs evaluates every scalar in one action with the same " +
    "values as individual counts") {
    val s = spark
    import s.implicits._
    val a = (0L until 37L).toDF("x")
    val b = (0L until 11L).toDF("x").filter($"x" % 2 === 0)
    val got = graft.ops.Actions.longs(
      graft.ops.Actions.countOf(a),
      graft.ops.Actions.countOf(b),
      a.agg(org.apache.spark.sql.functions.sum($"x")))
    assert(got == Seq(a.count(), b.count(), 36L * 37L / 2),
      s"merged scalars diverged: $got")
  }

  test("Actions.awaitAll lets every sibling finish before it rethrows the " +
    "first failure, with later failures suppressed") {
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val fast = new IllegalStateException("fails fast")
    val late = new IllegalArgumentException("fails late")
    val e = intercept[IllegalStateException] {
      graft.ops.Actions.awaitAll(Seq(
        () => throw fast,
        () => { Thread.sleep(500); siblingDone.set(true) },
        () => { Thread.sleep(100); throw late }))
    }
    assert(siblingDone.get(), "rethrown while a sibling was still running")
    assert(e eq fast, s"expected the failing job's exception, got $e")
    assert(e.getSuppressed.toSeq == Seq(late))
  }
}
