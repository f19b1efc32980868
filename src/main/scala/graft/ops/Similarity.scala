package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Lineage.LineageOps

/** Approximate-nearest-neighbor search over embedding columns
  * (`array<float>`).
  *
  *  - **Brute force** is the correctness baseline: broadcast the (small)
  *    query set against the corpus scan — the corpus is never shuffled,
  *    so this scales to any corpus size at O(corpus × queries) compute.
  *  - **IVF** is the scale path: a coarse k-means quantizer assigns every
  *    corpus vector to a cell (one pass); queries probe only the
  *    `nProbe` nearest cells, cutting compute by ~k/nProbe at the cost
  *    of recall. Cell assignment is itself distributed.
  *
  * The quantizer is an **index artifact, not a query cost**: it is fit on
  * a bounded deterministic sample (hash-selected, capped — never the full
  * corpus; at 100 TB a full-corpus fit per query is a non-starter), with
  * capped iterations, and memoized per (corpus, cells, seed) so every
  * query against the same corpus shares one index.
  *
  * Dot products use the native [[graft.functions.DotProduct]] codegen
  * expression (no UDF, one compiled loop per pair). Norms are precomputed
  * once per side.
  */
object Similarity {

  /** Dot product of two double arrays — native codegen expression (the
    * HOF formulation `aggregate(zip_with(a,b,_*_), 0.0, _+_)` evaluates
    * interpreted per element; see [[graft.functions.DotProduct]]).
    * Identical summation order, so scores are bit-equal to the HOF form. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (arrays cast to double upstream). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Rank scored candidates per query, keep top-k (shared by brute force
    * and IVF). Ties break by neighbor id — deterministic under replay. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Zero-norm vectors have no direction: their cosine is 0/0 = NaN, and
    * Spark sorts NaN ABOVE every real number, so one all-zero corpus row
    * would outrank every true neighbor. Excluded up front. */
  private def nonZeroNorm(df: DataFrame, normCol: String): DataFrame =
    df.filter(col(normCol) > 0.0)

  /** Exact top-k neighbors by cosine for each query vector.
    *
    * Queries and corpus must share one id space (self-matches are
    * excluded by id equality — a query whose id collides with an
    * UNRELATED corpus row would wrongly drop that row; keep ids disjoint
    * or make queries a subset of the corpus). Null ids never match.
    *
    * @param corpus  (idCol, vecCol) corpus — arbitrarily large
    * @param queries (idCol, vecCol) query set — small enough to broadcast
    * @return (query_id, rank, neighbor_id, cosine)
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = nonZeroNorm(corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cvec"))
      .withColumn("cnorm", norm(col("cvec"))), "cnorm")
    val q = nonZeroNorm(queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qvec"))
      .withColumn("qnorm", norm(col("qvec"))), "qnorm")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("cvec"), col("qvec")) / (col("cnorm") * col("qnorm"))).as("cosine"))
    topK(scored, k)
  }

  /** EXACT all-pairs cosine near-dup pairs — the O(n²) certification
    * baseline for [[embeddingDupPairs]], NOT a production operator: its
    * only job is to supply ground truth for a recall cert (dd10) the way
    * [[bruteForceTopK]] anchors the ANN tier (an03–an05/an09). One side
    * is broadcast, so run it only on corpora that fit a broadcast
    * (the testdata embeddings cap at 2 000 rows; a production recall
    * cert samples the probe side first — recall is a statistical
    * property, a fixed-size sample certifies it).
    *
    * @return (id_a, id_b) with id_a < id_b and cosine ≥ threshold
    */
  def allPairsCosine(corpus: DataFrame, idCol: String, vecCol: String,
                     threshold: Double): DataFrame = {
    val c = nonZeroNorm(corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("vec"))
      .withColumn("vnorm", norm(col("vec"))), "vnorm")
    val b = c.select(col("id").as("id_b"), col("vec").as("bvec"),
      col("vnorm").as("bnorm"))
    c.join(broadcast(b), col("id") < col("id_b"))
      .filter(dot(col("vec"), col("bvec")) / (col("vnorm") * col("bnorm"))
        >= threshold)
      .select(col("id").as("id_a"), col("id_b"))
  }

  /** [[allPairsCosine]] restricted to pairs touching a PROBE subset —
    * the sampled recall-cert regime for corpora past the full-cert
    * budget (the caveat on [[allPairsCosine]] made executable):
    * O(n·|probe|) with the probe side broadcast, never O(n²). Every
    * returned pair has ≥1 endpoint in `probeIds`, so for any doc IN the
    * probe set its full exact pair neighborhood is present — drop-side
    * membership restricted to the probe set is decided exactly, and a
    * recall measured over those drops is an unbiased estimate of the
    * full-corpus recall when the probe set is a deterministic hash
    * sample (st35's scale-cell cert mode). */
  def allPairsCosineProbed(corpus: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, probeIds: DataFrame): DataFrame = {
    val c = nonZeroNorm(corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("vec"))
      .withColumn("vnorm", norm(col("vec"))), "vnorm")
    val probe = c.join(probeIds.select(col(idCol).as("id")), Seq("id"), "left_semi")
      .select(col("id").as("id_p"), col("vec").as("pvec"), col("vnorm").as("pnorm"))
    c.join(broadcast(probe), col("id") =!= col("id_p"))
      .filter(dot(col("vec"), col("pvec")) / (col("vnorm") * col("pnorm"))
        >= threshold)
      .select(least(col("id"), col("id_p")).as("id_a"),
        greatest(col("id"), col("id_p")).as("id_b"))
      .distinct()
  }

  /** Full-cert budget for the exact-truth certificates of the semantic
    * dedup family (dd19, st35): at or below this many corpus rows the
    * O(n²) exact sweep runs in full — every driver-tested SF — so the
    * DuckDB oracles' truth counts are always full-corpus numbers where
    * the oracles run; the entries pin the regime via a `cert_sampled`
    * column. ONE constant for every entry so the switch can never
    * diverge between them. */
  val CertFullMax: Long = 4096L

  /** The sampled-cert probe set, or None for the full regime: past
    * [[CertFullMax]] corpus rows, the `sample` content-hash-smallest ids
    * (deterministic under repartitioning and replay — the quantizer-
    * sample selection rule) to feed [[allPairsCosineProbed]]. Owns the
    * regime rule so dd19 and st35 cannot silently diverge. */
  def certProbeIds(corpus: DataFrame, idCol: String,
                   sample: Int = 1024): Option[DataFrame] =
    if (corpus.count() <= CertFullMax) None
    else Some(corpus.select(col(idCol))
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(sample)
      .cutLineage())

  // ---------------------------------------------------------------- IVF —

  /** Memoized coarse quantizers: one index build per (corpus key, cells,
    * seed) per session, shared by every IVF query over that corpus.
    *
    * SESSION-SCOPED CACHE semantics: the default key is a fingerprint of
    * the corpus' logical plan, not its data. A GUARD protects the stale
    * mode: the file listing behind the corpus scan (path, length, mtime
    * per file) is recorded when an index artifact is fitted, and serving
    * any memoized artifact for a corpus whose file set has since changed
    * throws [[IllegalStateException]] — unless an explicit `quantizerKey`
    * was passed, which hands index-refresh lifecycle to the caller (the
    * same contract as any external index). Non-file corpora (in-memory
    * frames) have no listing to fingerprint; the guard is inert there. */
  private val quantizers = new ConcurrentHashMap[String, Array[Array[Double]]]()

  /** File-listing fingerprint recorded per corpus key at first index fit
    * (see [[checkFreshness]]). */
  private val corpusFileFp = new ConcurrentHashMap[String, String]()

  /** Bound on every memo map in this object (quantizers, fingerprints,
    * cell counts, PQ codebooks, SQ ranges, OPQ artifacts). A long-lived
    * driver that serves many distinct corpora would otherwise grow them
    * without limit — exactly the deployment the freshness guard targets.
    * When any map crosses the cap, ALL of them are cleared together:
    * artifacts and their fingerprints must drop as a unit (an artifact
    * surviving its fingerprint would dodge the staleness check; a
    * fingerprint surviving its artifact would fail a perfectly fresh
    * refit). Clearing is safe — these are memos, and the next call refits
    * from the current files.
    *
    * Concurrency contract: every public entry point runs its
    * fingerprint-record + artifact-fetch sequence under [[memoLock]]'s
    * READ lock (shared — concurrent index fits still overlap), and the
    * cap-triggered clear takes the WRITE lock, so a clear can never
    * interleave between a fingerprint record and its artifact insert
    * (which would leave an artifact without its fingerprint — the exact
    * staleness dodge clearing-as-a-unit exists to prevent). The bound
    * check runs at entry BEFORE the read lock is taken (on the explicit-
    * key path too — explicit-key artifacts count against the cap like any
    * other); nested entry points (ivfPqTopK → coarseQuantizer) skip the
    * re-check rather than deadlock on a read→write upgrade. */
  private val MemoCap = 256
  private val memoLock = new java.util.concurrent.locks.ReentrantReadWriteLock()
  private def allMemos: Seq[ConcurrentHashMap[String, _]] =
    Seq(quantizers, corpusFileFp, cellCounts, pqBooks, sqRanges, opqArts)
  private def boundMemos(): Unit = {
    if (memoLock.getReadHoldCount > 0) return // outer entry already bounded
    if (allMemos.exists(_.size > MemoCap)) {
      val w = memoLock.writeLock(); w.lock()
      try if (allMemos.exists(_.size > MemoCap)) allMemos.foreach(_.clear())
      finally w.unlock()
    }
  }
  /** Bound the memos, then run `f` under the shared artifact lock. */
  private def withArtifacts[T](f: => T): T = {
    boundMemos()
    val l = memoLock.readLock(); l.lock()
    try f finally l.unlock()
  }

  /** Fingerprint of every file-source leaf under `df`'s plan: sorted
    * (path, length, modificationTime) triples, hashed. Listings come from
    * the scan's own [[org.apache.spark.sql.execution.datasources.FileIndex]]
    * (cached at read time — no extra FS round-trips). Empty string when
    * the plan has no file sources. */
  private def fileFingerprint(df: DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val entries = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.listFiles(Nil, Nil).flatMap(_.files)
            .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}")
        case _ => Seq.empty[String]
      }
    }.flatten.sorted
    if (entries.isEmpty) ""
    else java.lang.Long.toHexString(
      entries.foldLeft(17L)((h, e) => h * 31 + e.hashCode))
  }

  /** The stale-index guard. Called by every entry point that consumes a
    * memoized index artifact, BEFORE the artifact is fetched: records the
    * corpus' file fingerprint under its memo key on first sight, and
    * fails loudly if the fingerprint has changed since — the files behind
    * the same logical corpus were rewritten mid-session, so every cached
    * quantizer/codebook/range for that key is stale. An explicit
    * `quantizerKey` opts out: the caller owns refresh (rotate the key
    * when the data rotates).
    *
    * KNOWN BLIND SPOTS (document, don't pretend): (1) a corpus DataFrame
    * CREATED BEFORE the files were overwritten keeps its cached
    * `FileIndex` listing, so its fingerprint still matches the stale
    * artifacts and the rewrite goes undetected — the guard sees file
    * identity as of the DataFrame's OWN read, not the filesystem's
    * present; re-`spark.read` after a rewrite (any fresh read trips the
    * guard). (2) only `LogicalRelation`/`HadoopFsRelation` scans are
    * fingerprinted; a DSv2 (`DataSourceV2Relation`) file scan yields an
    * empty fingerprint and the guard is inert — acceptable today because
    * every graft corpus reads through the v1 parquet path. */
  private def checkFreshness(key: String, corpus: DataFrame,
                             explicitKey: String): Unit = {
    if (explicitKey.nonEmpty) return
    val fp = fileFingerprint(corpus)
    if (fp.isEmpty) return
    val prev = corpusFileFp.putIfAbsent(key, fp)
    if (prev != null && prev != fp)
      throw new IllegalStateException(
        s"Stale similarity index cache for corpus key $key: the file set " +
          "behind the corpus changed since its index artifacts (quantizer/" +
          "codebooks/ranges) were fitted this session. Pass an explicit " +
          "quantizerKey (and rotate it when the data rotates) to manage " +
          "index lifecycle, or refit under a fresh key.")
  }

  /** Max rows the quantizer is ever fit on. Cell centroids are a coarse
    * partitioning device — a bounded sample fixes them as well as the full
    * corpus does. */
  private val QuantizerSampleCap = 4096

  /** Corpus-scaled cell count for [[embeddingDupPairs]]: target mean cell
    * ≈ maxCell/4, clamped to [16, [[QuantizerSampleCap]]/4] (a quantizer
    * can't have more centroids than its training sample). Reads the scan's
    * row-count statistic; falls back to a count only when stats are
    * unavailable.
    *
    * Under multi-probe assignment (st35: nProbe cells per vector) the
    * buckets see nProbe·n rows, so the mean PROBE-cell sits at
    * nProbe·maxCell/4 — at the cap when nProbe=4. Sizing cells up to
    * compensate was measured WORSE at 16× (the assignment expression is
    * a literal candidate cascade, cost ∝ nCells·dim per row: 500 cells
    * more than doubled the cell), so the n-based sizing stands and the
    * cap remains the documented skew guard. */
  private val cellCounts = new ConcurrentHashMap[String, Int]()

  def autoCells(corpus: DataFrame, maxCell: Int = 256,
                quantizerKey: String = ""): Int = withArtifacts {
    // plain parquet scans expose no rowCount statistic without CBO, so
    // the fallback is a count() — memoize it per corpus key (the explicit
    // quantizerKey when given, else the plan fingerprint — same scheme as
    // the quantizer memo) or the "auto" sizing costs a full scan on every
    // query over the same corpus
    checkFreshness(defaultKey(corpus, quantizerKey), corpus, quantizerKey)
    cellCounts.computeIfAbsent(s"${defaultKey(corpus, quantizerKey)}|$maxCell", _ => {
      val n = corpus.queryExecution.optimizedPlan.stats.rowCount
        .map(_.toLong).getOrElse(corpus.count())
      (4L * n / maxCell).max(16L).min(QuantizerSampleCap / 4L).toInt
    })
  }

  /** Memo key for a corpus' quantizer: the explicit key if given, else a
    * fingerprint of the corpus' *canonicalized logical plan* — content-
    * based, unlike `Object.hashCode` (two distinct corpora with colliding
    * identity hashes would silently share centroids; two DataFrame objects
    * over the same data would pointlessly re-fit). */
  private def defaultKey(corpus: DataFrame, explicit: String): String =
    if (explicit.nonEmpty) explicit
    else s"ivf-${corpus.queryExecution.analyzed.semanticHash()}"

  /** Fit (or fetch) the coarse quantizer for a corpus. The sample is
    * hash-selected on the id column — deterministic under repartitioning
    * and replay, unlike `df.sample` — and hard-capped. */
  def coarseQuantizer(corpus: DataFrame, idCol: String, vecCol: String,
                      key: String, nCells: Int, seed: Long): Array[Array[Double]] =
    withArtifacts { quantizers.computeIfAbsent(s"$key|$nCells|$seed", _ => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      // 1-in-N hash sample aiming at ~QuantizerSampleCap rows; the limit
      // is a hard cap for corpora whose size estimate is unavailable.
      val n = corpus.queryExecution.optimizedPlan.stats.rowCount
      val everyNth = n.map(c => (c.toLong / QuantizerSampleCap).max(1L)).getOrElse(1L)
      val sample = corpus
        .filter(pmod(xxhash64(col(idCol)), lit(everyNth)) === 0)
        .limit(QuantizerSampleCap)
        .select(array_to_vector(asDouble(col(vecCol))).as("features"))
      // random init + few iterations: the quantizer only partitions space
      // into cells — probe search tolerates coarse centroids, and the
      // k-means|| init alone costs more jobs than the whole refinement
      val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(5)
        .setInitMode("random")
        .setFeaturesCol("features").fit(sample)
      model.clusterCenters.map(_.toArray)
    }) }

  /** Literal `(cell, centroid)` array — broadcast via the plan. Centroids
    * are L2-normalized on the driver: cosine ORDER against a fixed vector
    * is invariant to scaling either side, so cell ranking needs only the
    * dot product with unit centers — no per-row, per-center norm
    * evaluation (those lambdas run interpreted). */
  private def centersCol(centers: Array[Array[Double]]): Column = {
    val unit = centers.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0) c else c.map(_ / n)
    }
    array(unit.indices.map(i =>
      struct(lit(i).as("cell"), typedlit(unit(i).toSeq).as("cvec"))): _*)
  }

  /** The `n` nearest cells of `vec` by cosine, best first. */
  private def nearestCells(centers: Array[Array[Double]], vec: Column, n: Int): Column = {
    val scored = transform(centersCol(centers), c =>
      struct(dot(vec, c.getField("cvec")).as("sim"), c.getField("cell").as("cell")))
    slice(reverse(array_sort(scored)), 1, n)
  }

  /** IVF (inverted-file) ANN: assign the corpus to quantizer cells, then
    * search only the `nProbe` cells nearest each query.
    *
    * @return (query_id, rank, neighbor_id, cosine) — approximate top-k
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
              seed: Long = 42L, quantizerKey: String = ""): DataFrame = withArtifacts {
    checkFreshness(defaultKey(corpus, quantizerKey), corpus, quantizerKey)
    val centers = coarseQuantizer(corpus, idCol, vecCol,
      defaultKey(corpus, quantizerKey), nCells, seed)
    val c = nonZeroNorm(corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cvec"))
      .withColumn("cell", nearestCells(centers, col("cvec"), 1).getItem(0).getField("cell"))
      .withColumn("cnorm", norm(col("cvec"))), "cnorm")
    val q = nonZeroNorm(queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qvec"))
      .withColumn("cells", transform(nearestCells(centers, col("qvec"), nProbe), x => x.getField("cell")))
      .withColumn("qnorm", norm(col("qvec"))), "qnorm")
      .select(col("query_id"), explode(col("cells")).as("cell"), col("qvec"), col("qnorm"))

    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("cvec"), col("qvec")) / (col("cnorm") * col("qnorm"))).as("cosine"))
    topK(scored, k)
  }

  /** IVF search driven by an EXPLICIT persisted index — reloaded
    * centroids plus a precomputed `(id, cell)` assignment table — instead
    * of the in-memory artifact cache. This is the restart path of a
    * production deployment: the index is built once, written to the
    * lake, and every later job reads it back rather than re-clustering.
    * Same probe/scoring arithmetic as [[ivfTopK]], so with a faithfully
    * persisted index the results are bit-identical (an12 certifies
    * exactly that). `assignments` must carry one row per corpus id with
    * columns (`idCol`, cell). */
  def ivfTopKWithIndex(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, centers: Array[Array[Double]],
                       assignments: DataFrame, nProbe: Int,
                       probeRows: Option[DataFrame] = None,
                       corpusSide: Option[DataFrame] = None): DataFrame = {
    val c = corpusSide.getOrElse(corpusNormed(corpus, idCol, vecCol))
      .join(assignments.select(col(idCol).as("neighbor_id"), col("cell")), Seq("neighbor_id"))
    val q = probeRows.getOrElse(ivfProbeRows(queries, idCol, vecCol, centers, nProbe))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("cvec"), col("qvec")) / (col("cnorm") * col("qnorm"))).as("cosine"))
    topK(scored, k)
  }

  /** The probe-side query frame of [[ivfTopKWithIndex]] — one
    * (query_id, cell, qvec, qnorm) row per probed cell, a pure function
    * of (queries, centers, nProbe). Exposed so a caller that runs
    * SEVERAL searches over the same queries/centers (an14 runs four
    * certified probes whose certified difference is the ASSIGNMENT
    * table) can build it once, materialize it, and stop re-planning the
    * literal-heavy nearest-cells cascade per search. Scoring arithmetic
    * is byte-identical to the inline construction. */
  def ivfProbeRows(queries: DataFrame, idCol: String, vecCol: String,
                   centers: Array[Array[Double]], nProbe: Int): DataFrame =
    nonZeroNorm(queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qvec"))
      .withColumn("cells", transform(nearestCells(centers, col("qvec"), nProbe), x => x.getField("cell")))
      .withColumn("qnorm", norm(col("qvec"))), "qnorm")
      .select(col("query_id"), explode(col("cells")).as("cell"), col("qvec"), col("qnorm"))

  /** The corpus side of an index-driven scan — (neighbor_id, cvec,
    * cnorm), zero-norm rows dropped. A pure function of the corpus;
    * exposed for the same multi-search reuse as [[ivfProbeRows]].
    * Filtering zero norms BEFORE the assignment join is result-identical
    * (cnorm is corpus-side, the join is an equi-join). */
  def corpusNormed(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    nonZeroNorm(corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cvec"))
      .withColumn("cnorm", norm(col("cvec"))), "cnorm")

  /** The `(id, cell)` assignment table [[ivfTopK]] computes inline —
    * exposed so an index build can PERSIST it (see [[ivfTopKWithIndex]]). */
  def ivfAssignments(corpus: DataFrame, idCol: String, vecCol: String,
                     centers: Array[Array[Double]]): DataFrame =
    corpus.select(col(idCol), asDouble(col(vecCol)).as("_v"))
      .withColumn("cell", nearestCells(centers, col("_v"), 1).getItem(0).getField("cell"))
      .select(col(idCol), col("cell"))

  // ----------------------------------------------------------------- PQ —

  /** Memoized PQ codebooks, keyed like [[quantizers]]. */
  private val pqBooks = new ConcurrentHashMap[String, Array[Array[Array[Double]]]]()

  /** Fit (or fetch) product-quantization codebooks: the corpus vector is
    * L2-normalized and split into `m` subspaces; each subspace gets its
    * own `ksub`-centroid codebook, so a 64-dim float vector compresses to
    * `m` 4-bit codes (ksub=16) — the memory tier that keeps a 100 TB
    * embedding corpus scannable (16 B/vector instead of 256 B, with the
    * float vectors left in cold storage for re-ranking only).
    *
    * The fit runs Lloyd's iterations ON THE DRIVER over the same bounded
    * hash-selected sample the IVF quantizer uses (≤ [[QuantizerSampleCap]]
    * rows ≈ 1 MB at dim 64) — codebooks are an index artifact, and m
    * distributed k-means jobs over a 4096-row sample would cost more in
    * scheduling than the arithmetic; the sample is sorted by (hash, id)
    * before the cap so the fit is deterministic under any partitioning. */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String, key: String,
                  m: Int, ksub: Int, seed: Long): Array[Array[Array[Double]]] =
    withArtifacts { pqBooks.computeIfAbsent(s"$key|pq|$m|$ksub|$seed", _ => {
      val n = corpus.queryExecution.optimizedPlan.stats.rowCount
      val everyNth = n.map(c => (c.toLong / QuantizerSampleCap).max(1L)).getOrElse(1L)
      val rows = corpus
        .filter(pmod(xxhash64(col(idCol)), lit(everyNth)) === 0)
        .orderBy(xxhash64(col(idCol)), col(idCol))
        .limit(QuantizerSampleCap)
        .select(asDouble(col(vecCol)).as("v"))
        .collect().map(_.getSeq[Double](0).toArray)
      val unit = rows.map { v =>
        val nm = math.sqrt(v.map(x => x * x).sum)
        if (nm == 0) v else v.map(_ / nm)
      }.filter(_.exists(_ != 0.0))
      val dim = unit.head.length
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      val dsub = dim / m
      Array.tabulate(m) { j =>
        val sub = unit.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
        lloyd(sub, ksub, seed + j, iters = 10)
      }
    }) }

  /** Plain Lloyd's k-means on a driver-side sample (see [[pqCodebooks]]
    * for why this is not a distributed fit): seeded-shuffle init,
    * nearest-center assignment with lowest-index tie-break, empty
    * clusters keep their previous center — fully deterministic. */
  private def lloyd(points: Array[Array[Double]], k: Int, seed: Long,
                    iters: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val centers = rnd.shuffle(points.toVector).take(k).map(_.clone).toArray
    val d = points.head.length
    for (_ <- 0 until iters) {
      val sums = Array.fill(centers.length)(new Array[Double](d))
      val counts = new Array[Long](centers.length)
      for (p <- points) {
        var best = 0; var bestD = Double.MaxValue
        for (c <- centers.indices) {
          var dist = 0.0; var i = 0
          while (i < d) { val t = p(i) - centers(c)(i); dist += t * t; i += 1 }
          if (dist < bestD) { bestD = dist; best = c }
        }
        var i = 0
        while (i < d) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      for (c <- centers.indices if counts(c) > 0; i <- 0 until d)
        centers(c)(i) = sums(c)(i) / counts(c)
    }
    centers
  }

  /** PQ codes (array<int>, length m) for a unit-normalized vector column.
    * Per subspace: argmin over the codebook of ||x_j − c||², computed as
    * ½||c||² − ⟨x_j, c⟩ (the ||x_j||² term is constant across c), with the
    * centroid index as tie-break — same array_min cascade as
    * [[nearestCells]]. */
  private def pqCodes(books: Array[Array[Array[Double]]], unitVec: Column): Column = {
    val dsub = books(0)(0).length
    array(books.indices.map { j =>
      val cands = array(books(j).indices.map { c =>
        val cent = books(j)(c)
        val halfSq = 0.5 * cent.map(x => x * x).sum
        struct((lit(halfSq) - dot(slice(unitVec, j * dsub + 1, dsub),
          typedlit(cent.toSeq))).as("d"), lit(c).as("idx"))
      }: _*)
      array_min(cands).getField("idx")
    }: _*)
  }

  /** Asymmetric-distance (ADC) score: Σ_j ⟨q_j, centroid(j, code_j)⟩ ≈
    * ⟨q, x/‖x‖⟩ — the query stays exact, only the corpus side is
    * quantized. m literal table lookups + m short dot products per pair,
    * no decode of the original vector. */
  private def adcScore(books: Array[Array[Array[Double]]], qvec: Column,
                       codes: Column): Column = {
    val dsub = books(0)(0).length
    books.indices.map { j =>
      val bookLit = typedlit(books(j).map(_.toSeq).toSeq)
      dot(slice(qvec, j * dsub + 1, dsub),
        element_at(bookLit, element_at(codes, j + 1) + 1))
    }.reduce(_ + _)
  }

  /** PQ ANN: score every (query, code) pair by ADC, keep an ADC shortlist
    * per query, then re-rank the shortlist with exact cosine. PQ is the
    * memory tier, not a candidate filter — the scan still touches every
    * code (compose with IVF cells to also cut candidates), but each pair
    * costs m lookups over 16 B instead of a 256 B float read, and only
    * `shortlist` full vectors per query are ever re-read.
    *
    * @param shortlist ADC candidates re-ranked exactly (0 = pure ADC:
    *                  rank directly by the quantized score)
    * @return (query_id, rank, neighbor_id, cosine) — cosine is exact for
    *         re-ranked results, the ADC approximation otherwise
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 16, ksub: Int = 16,
             shortlist: Int = 0, seed: Long = 42L,
             quantizerKey: String = ""): DataFrame = withArtifacts {
    checkFreshness(defaultKey(corpus, quantizerKey), corpus, quantizerKey)
    val books = pqCodebooks(corpus, idCol, vecCol,
      defaultKey(corpus, quantizerKey), m, ksub, seed)
    val c = nonZeroNorm(corpus.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("cvec"))
      .withColumn("cnorm", norm(col("cvec"))), "cnorm")
      .withColumn("codes", pqCodes(books,
        transform(col("cvec"), x => x / col("cnorm"))))
    val q = nonZeroNorm(queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qvec"))
      .withColumn("qnorm", norm(col("qvec"))), "qnorm")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cvec"), col("cnorm"),
        col("qvec"), col("qnorm"),
        (adcScore(books, col("qvec"), col("codes")) / col("qnorm")).as("adc"))
    rankAdc(scored, k, shortlist)
  }

  /** Shared ADC ranking tail: rank by the quantized score directly
    * (shortlist = 0), or keep an ADC shortlist per query and re-rank it
    * with the exact cosine recomputed from the full vectors. */
  private def rankAdc(scored: DataFrame, k: Int, shortlist: Int): DataFrame =
    if (shortlist <= 0) {
      topK(scored.withColumnRenamed("adc", "cosine"), k)
    } else {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc").desc, col("neighbor_id"))
      val short = scored.withColumn("arank", row_number().over(w))
        .filter(col("arank") <= shortlist)
      topK(short.select(col("query_id"), col("neighbor_id"),
        (dot(col("cvec"), col("qvec")) / (col("cnorm") * col("qnorm"))).as("cosine")), k)
    }

  /** IVF·PQ composed — the full inverted-file shape: the coarse quantizer
    * cuts CANDIDATES (each query probes only `nProbe` cells, an equi-join
    * on the cell id), PQ codes cut MEMORY (candidates are scored by ADC
    * over 16 B codes, not 256 B floats), and the exact re-rank of the ADC
    * shortlist restores precision reading ≤`shortlist` full vectors per
    * query. Both index artifacts are memoized per corpus under one
    * `quantizerKey` namespace (see [[coarseQuantizer]]/[[pqCodebooks]]).
    * Codes quantize the normalized vector directly (non-residual PQ —
    * simpler than FAISS's residual encoding; the recall cost is covered
    * by the certified bars in an05). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
                m: Int = 16, ksub: Int = 16, shortlist: Int = 0,
                seed: Long = 42L, quantizerKey: String = ""): DataFrame = withArtifacts {
    val key = defaultKey(corpus, quantizerKey)
    checkFreshness(key, corpus, quantizerKey)
    val centers = coarseQuantizer(corpus, idCol, vecCol, key, nCells, seed)
    val books = pqCodebooks(corpus, idCol, vecCol, key, m, ksub, seed)
    val c = nonZeroNorm(corpus.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("cvec"))
      .withColumn("cnorm", norm(col("cvec"))), "cnorm")
      .withColumn("cell", nearestCells(centers, col("cvec"), 1).getItem(0).getField("cell"))
      .withColumn("codes", pqCodes(books,
        transform(col("cvec"), x => x / col("cnorm"))))
    val q = nonZeroNorm(queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qvec"))
      .withColumn("qnorm", norm(col("qvec"))), "qnorm")
      .withColumn("cell", explode(transform(
        nearestCells(centers, col("qvec"), nProbe), x => x.getField("cell"))))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cvec"), col("cnorm"),
        col("qvec"), col("qnorm"),
        (adcScore(books, col("qvec"), col("codes")) / col("qnorm")).as("adc"))
    rankAdc(scored, k, shortlist)
  }

  // ----------------------------------------------------------------- OPQ —

  /** Memoized OPQ artifacts: the learned orthogonal rotation (row-major
    * dim×dim; `rotated_j = Σ_i v_i·R(i)(j)`) plus the codebooks fit in
    * the rotated space. Keyed like [[pqBooks]]. */
  private val opqArts =
    new ConcurrentHashMap[String, (Array[Array[Double]], Array[Array[Array[Double]]])]()

  /** Train OPQ (optimized product quantization, Ge et al. CVPR'13) on the
    * same bounded sorted sample as [[pqCodebooks]]:
    *
    *  1. **OPQ-NP init** — eigendecompose the sample covariance, then
    *     assign principal directions to the `m` subspaces by balanced
    *     log-eigenvalue products (the paper's eigenvalue allocation):
    *     every subspace carries ~equal variance, which minimizes the
    *     distortion bound (Π of subspace variances is fixed at det Σ, so
    *     balancing minimizes their Σ^(1/dsub) sum).
    *  2. **OPQ-P refinement** — alternate codebook fit in the rotated
    *     space with the orthogonal-Procrustes rotation update
    *     (R ← U·Vᵀ from svd(XᵀX̂)), each step non-increasing in
    *     ‖XR − X̂‖².
    *
    * Everything runs ON THE DRIVER over the ≤[[QuantizerSampleCap]]-row
    * sample (like [[pqCodebooks]]: rotations are index artifacts; a
    * 64×64 eig/svd per iteration is microseconds) and is fully
    * deterministic: sorted sample, seeded Lloyd, LAPACK eig/svd on
    * identical input. The ROTATION is the scale payoff: encoding a
    * 100 TB corpus applies one dim×dim matrix per row — a per-row cost —
    * while the quality gain (lower quantization distortion at identical
    * m/ksub/ADC cost) is decided here at fit time. */
  def opqArtifacts(corpus: DataFrame, idCol: String, vecCol: String,
                   key: String, m: Int, ksub: Int, seed: Long,
                   iters: Int = 6): (Array[Array[Double]], Array[Array[Array[Double]]]) =
    withArtifacts { opqArts.computeIfAbsent(s"$key|opq|$m|$ksub|$seed|$iters", _ => {
      import breeze.linalg.{DenseMatrix, eigSym, svd}
      val n = corpus.queryExecution.optimizedPlan.stats.rowCount
      val everyNth = n.map(c => (c.toLong / QuantizerSampleCap).max(1L)).getOrElse(1L)
      val unit = corpus
        .filter(pmod(xxhash64(col(idCol)), lit(everyNth)) === 0)
        .orderBy(xxhash64(col(idCol)), col(idCol))
        .limit(QuantizerSampleCap)
        .select(asDouble(col(vecCol)).as("v"))
        .collect().map(_.getSeq[Double](0).toArray)
        .map { v =>
          val nm = math.sqrt(v.map(x => x * x).sum)
          if (nm == 0) v else v.map(_ / nm)
        }.filter(_.exists(_ != 0.0))
      val dim = unit.head.length
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      val dsub = dim / m
      val rows = unit.length
      val X = DenseMatrix.tabulate(rows, dim)((i, j) => unit(i)(j))
      val mean = Array.tabulate(dim)(j => unit.map(_(j)).sum / rows)
      val Xc = DenseMatrix.tabulate(rows, dim)((i, j) => unit(i)(j) - mean(j))
      val cov = (Xc.t * Xc) / rows.toDouble
      val es = eigSym(cov) // eigenvalues ascending
      val order = (0 until dim).sortBy(d => -es.eigenvalues(d))
      // eigenvalue allocation: greedy balanced log-products
      val buckets = Array.fill(m)(List.empty[Int])
      val logs = new Array[Double](m)
      for (d <- order) {
        val j = (0 until m).filter(buckets(_).size < dsub)
          .minBy(j => (logs(j), j))
        buckets(j) = buckets(j) :+ d
        logs(j) += math.log(math.max(es.eigenvalues(d), 1e-12))
      }
      val perm = buckets.flatten
      var r = DenseMatrix.tabulate(dim, dim)((i, j) => es.eigenvectors(i, perm(j)))
      def fitBooks(v: DenseMatrix[Double]): Array[Array[Array[Double]]] =
        Array.tabulate(m) { j =>
          val sub = Array.tabulate(rows)(i =>
            Array.tabulate(dsub)(d => v(i, j * dsub + d)))
          lloyd(sub, ksub, seed + j, iters = 10)
        }
      def reconstruct(v: DenseMatrix[Double],
                      books: Array[Array[Array[Double]]]): DenseMatrix[Double] = {
        val out = DenseMatrix.zeros[Double](rows, dim)
        for (i <- 0 until rows; j <- 0 until m) {
          var best = 0; var bestD = Double.MaxValue
          for (c <- books(j).indices) {
            var dist = 0.0; var d = 0
            while (d < dsub) {
              val t = v(i, j * dsub + d) - books(j)(c)(d); dist += t * t; d += 1
            }
            if (dist < bestD) { bestD = dist; best = c }
          }
          var d = 0
          while (d < dsub) { out(i, j * dsub + d) = books(j)(best)(d); d += 1 }
        }
        out
      }
      for (_ <- 0 until iters) {
        val v = X * r
        val recon = reconstruct(v, fitBooks(v))
        val sv = svd(X.t * recon)
        r = sv.U * sv.Vt
      }
      val books = fitBooks(X * r)
      (Array.tabulate(dim, dim)((i, j) => r(i, j)), books)
    }) }

  /** Apply the learned rotation to a vector column: m·dim codegen dot
    * products against literal rotation columns — a per-row cost that is
    * part of ENCODING (at scale codes are computed once and stored; here
    * they are derived in the scan like [[pqTopK]]'s). */
  def rotate(r: Array[Array[Double]], vec: Column): Column = {
    val dim = r.length
    array((0 until dim).map { j =>
      dot(vec, typedlit(Array.tabulate(dim)(i => r(i)(j)).toSeq))
    }: _*)
  }

  /** Per-row PQ quantization distortion Σ_j min_c ‖x_j − c‖² — the
    * objective OPQ minimizes, exposed as a column so certificates can
    * compare rotated vs unrotated codebooks on the FULL corpus with one
    * aggregate. */
  def quantDistortion(books: Array[Array[Array[Double]]], unitVec: Column): Column = {
    val dsub = books(0)(0).length
    books.indices.map { j =>
      val sub = slice(unitVec, j * dsub + 1, dsub)
      val cands = array(books(j).map { cent =>
        val sq = cent.map(x => x * x).sum
        dot(sub, sub) - lit(2.0) * dot(sub, typedlit(cent.toSeq)) + lit(sq)
      }: _*)
      array_min(cands)
    }.reduce(_ + _)
  }

  /** Codebook centroids lifted back to INPUT space through the rotation:
    * entry (j)(c) is the dim-length vector R_j·c (R_j = the rotation's
    * j-th column block). ⟨x·R restricted to subspace j, c⟩ = ⟨x, R_j·c⟩,
    * so corpus-side code assignment and distortion need NO per-row
    * rotation — the rotation folds into the index artifact (the naive
    * rotate-every-row formulation additionally replicated the dim²
    * rotation subtree into all m·ksub candidate expressions: a 28 MB
    * task binary at dim 64). */
  private def liftBooks(r: Array[Array[Double]],
                        books: Array[Array[Array[Double]]]): Array[Array[Array[Double]]] = {
    val dim = r.length
    val dsub = books(0)(0).length
    Array.tabulate(books.length) { j =>
      Array.tabulate(books(j).length) { c =>
        val cent = books(j)(c)
        Array.tabulate(dim) { i =>
          var s = 0.0; var d = 0
          while (d < dsub) { s += r(i)(j * dsub + d) * cent(d); d += 1 }
          s
        }
      }
    }
  }

  /** PQ codes in the ROTATED space computed from the unrotated unit
    * vector via lifted centroids: argmin_c ½‖c‖² − ⟨u, R_j·c⟩ — the same
    * cascade as [[pqCodes]] (the dropped ‖v_j‖² term is constant per
    * subspace), with ‖c‖ taken from the rotated-space centroid (R_j has
    * orthonormal columns, so norms agree). */
  private def pqCodesLifted(lifted: Array[Array[Array[Double]]],
                            books: Array[Array[Array[Double]]],
                            unitVec: Column): Column =
    array(lifted.indices.map { j =>
      val cands = array(lifted(j).indices.map { c =>
        val halfSq = 0.5 * books(j)(c).map(x => x * x).sum
        struct((lit(halfSq) - dot(unitVec, typedlit(lifted(j)(c).toSeq))).as("d"),
          lit(c).as("idx"))
      }: _*)
      array_min(cands).getField("idx")
    }: _*)

  /** Corpus-wide OPQ distortion from the unrotated unit vector:
    * Σ_j min_c ‖v_j − c‖² = Σ_j ‖v_j‖² + Σ_j min_c (‖c‖² − 2⟨u, R_j·c⟩)
    * and Σ_j ‖v_j‖² = ‖u‖² = 1 exactly (orthogonal R, unit input). */
  def opqDistortion(r: Array[Array[Double]], books: Array[Array[Array[Double]]],
                    unitVec: Column): Column = {
    val lifted = liftBooks(r, books)
    lifted.indices.map { j =>
      val cands = array(lifted(j).indices.map { c =>
        val sq = books(j)(c).map(x => x * x).sum
        lit(sq) - lit(2.0) * dot(unitVec, typedlit(lifted(j)(c).toSeq))
      }: _*)
      array_min(cands)
    }.reduce(_ + _) + lit(1.0)
  }

  /** OPQ ANN: [[pqTopK]] with the learned rotation applied FAISS-style —
    * corpus codes assigned through lifted centroids (no per-row
    * rotation), the query rotated ONCE on the broadcast side, and ADC
    * scored in rotated space with the original [[adcScore]]: per-pair
    * cost identical to plain PQ at equal m/ksub. Exact re-rank scores
    * are unchanged (inner products and norms are rotation-invariant). */
  def opqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, m: Int = 16, ksub: Int = 16,
              shortlist: Int = 0, seed: Long = 42L,
              quantizerKey: String = ""): DataFrame = withArtifacts {
    checkFreshness(defaultKey(corpus, quantizerKey), corpus, quantizerKey)
    val (r, books) = opqArtifacts(corpus, idCol, vecCol,
      defaultKey(corpus, quantizerKey), m, ksub, seed)
    val lifted = liftBooks(r, books)
    val c = nonZeroNorm(corpus.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("cvec"))
      .withColumn("cnorm", norm(col("cvec"))), "cnorm")
      .withColumn("codes", pqCodesLifted(lifted, books,
        transform(col("cvec"), x => x / col("cnorm"))))
    val q = nonZeroNorm(queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qvec"))
      .withColumn("qnorm", norm(col("qvec"))), "qnorm")
      .withColumn("qrot", rotate(r, col("qvec")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cvec"), col("cnorm"),
        col("qvec"), col("qnorm"),
        (adcScore(books, col("qrot"), col("codes")) / col("qnorm")).as("adc"))
    rankAdc(scored, k, shortlist)
  }

  // --------------------------------------------- persisted PQ/OPQ index —

  /** The distributed half of a persisted PQ index: one (id, codes) row
    * per corpus vector (codes = array<int>, length m — 16 B of payload
    * per vector at m=16/ksub=16 against the 512 B float64 original). The
    * driver-side half is the codebooks; together they answer pure-ADC
    * searches WITHOUT touching the corpus table at all — the memory-tier
    * payoff a persisted PQ index exists for. Encoding is one pass over
    * the corpus (the 100 TB posture: encode once at ingest, store,
    * search forever — [[pqTopK]] re-derives codes in the scan and is the
    * no-index baseline). */
  def pqCodeTable(corpus: DataFrame, idCol: String, vecCol: String,
                  books: Array[Array[Array[Double]]]): DataFrame =
    nonZeroNorm(corpus.select(col(idCol),
        asDouble(col(vecCol)).as("cvec"))
      .withColumn("cnorm", norm(col("cvec"))), "cnorm")
      .select(col(idCol),
        pqCodes(books, transform(col("cvec"), x => x / col("cnorm"))).as("codes"))

  /** [[pqCodeTable]]'s OPQ twin: codes assigned in the ROTATED space via
    * lifted centroids, so encoding needs no per-row rotation (see
    * [[liftBooks]]). */
  def opqCodeTable(corpus: DataFrame, idCol: String, vecCol: String,
                   r: Array[Array[Double]],
                   books: Array[Array[Array[Double]]]): DataFrame = {
    val lifted = liftBooks(r, books)
    nonZeroNorm(corpus.select(col(idCol),
        asDouble(col(vecCol)).as("cvec"))
      .withColumn("cnorm", norm(col("cvec"))), "cnorm")
      .select(col(idCol),
        pqCodesLifted(lifted, books,
          transform(col("cvec"), x => x / col("cnorm"))).as("codes"))
  }

  /** Search FROM a persisted PQ index (a reloaded `books` artifact plus
    * the `codes` table): the ADC candidate pass scans the codes table
    * ALONE — the corpus is never touched for it — and only the
    * ≤`shortlist` rows per query surviving the ADC cut re-read full
    * vectors for the exact re-rank (`corpus` is untouched when
    * shortlist = 0). The scoring arithmetic is [[pqTopK]]'s verbatim, so
    * against codes produced by [[pqCodeTable]] under the same books the
    * result set is bit-identical to the fresh path (an13 certifies the
    * parquet round-trip of both halves). */
  def pqTopKWithIndex(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int,
                      books: Array[Array[Array[Double]]], codes: DataFrame,
                      shortlist: Int = 0): DataFrame = {
    val q = nonZeroNorm(queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qvec"))
      .withColumn("qnorm", norm(col("qvec"))), "qnorm")
    adcFromCodes(corpus, q, idCol, vecCol, k, shortlist, codes,
      adcScore(books, col("qvec"), col("codes")))
  }

  /** [[pqTopKWithIndex]]'s OPQ twin: the query is rotated ONCE on the
    * broadcast side with the reloaded rotation and ADC runs in rotated
    * space — per-pair cost identical to plain PQ ([[opqTopK]]'s
    * contract, served from the persisted artifact). */
  def opqTopKWithIndex(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, r: Array[Array[Double]],
                       books: Array[Array[Array[Double]]], codes: DataFrame,
                       shortlist: Int = 0): DataFrame = {
    val q = nonZeroNorm(queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qvec"))
      .withColumn("qnorm", norm(col("qvec"))), "qnorm")
      .withColumn("qrot", rotate(r, col("qvec")))
    adcFromCodes(corpus, q, idCol, vecCol, k, shortlist, codes,
      adcScore(books, col("qrot"), col("codes")))
  }

  /** Shared persisted-index ranking tail: broadcast the query frame
    * against the codes table, rank by ADC; with a shortlist, ONLY the
    * surviving (query, candidate) pairs join back to the corpus for the
    * exact re-rank — the re-read is shortlist-bounded by construction. */
  private def adcFromCodes(corpus: DataFrame, q: DataFrame, idCol: String,
                           vecCol: String, k: Int, shortlist: Int,
                           codes: DataFrame, adcExpr: Column): DataFrame = {
    val scored = codes.select(col(idCol).as("neighbor_id"), col("codes"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adcExpr / col("qnorm"))
    if (shortlist <= 0) {
      topK(scored.withColumnRenamed("adc", "cosine"), k)
    } else {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc").desc, col("neighbor_id"))
      val short = scored.withColumn("arank", row_number().over(w))
        .filter(col("arank") <= shortlist)
        .select(col("query_id"), col("neighbor_id"), col("qvec"), col("qnorm"))
      val cv = corpusNormed(corpus, idCol, vecCol)
      topK(short.join(cv, Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          (dot(col("cvec"), col("qvec")) / (col("cnorm") * col("qnorm")))
            .as("cosine")), k)
    }
  }

  // ------------------------------------------------- scalar quantization —

  /** Memoized per-dimension (min, max) ranges for scalar quantization —
    * ONE distributed aggregate over the corpus (posexplode + per-dim
    * min/max collapses map-side to `dims` rows per partition), collected
    * as a dims-length index artifact like the coarse quantizer. */
  private val sqRanges = new ConcurrentHashMap[String, (Array[Double], Array[Double])]()

  def sqRange(corpus: DataFrame, vecCol: String,
              key: String): (Array[Double], Array[Double]) =
    withArtifacts { sqRanges.computeIfAbsent(key, _ => {
      val rows = corpus
        .select(posexplode(asDouble(col(vecCol))).as(Seq("pos", "x")))
        .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .orderBy(col("pos"))
        .collect()
      (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
    }) }

  /** Asymmetric top-k under int8 scalar quantization: each corpus
    * dimension is affinely coded to 0..255 against the per-dimension
    * corpus range (4× memory cut vs float32, 8× vs this pipeline's
    * float64 scoring), queries stay exact, and ranking runs against the
    * DEQUANTIZED corpus vector — the standard SQ-ADC posture. Both the
    * range artifact and the code/reconstruct expression are
    * deterministic (min/max are order-independent, the affine map is
    * per-element), so recall against [[bruteForceTopK]] is a fixed
    * number per corpus. An optional exact re-rank shortlist mirrors
    * [[pqTopK]]'s production posture.
    *
    * The encode→decode roundtrip composes into ONE per-element affine
    * map, so this materializes reconstruction directly; a persisted
    * index would store `codes` (tinyint arrays) and decode at scan. */
  def sqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, shortlist: Int = 0,
             quantizerKey: String = ""): DataFrame = withArtifacts {
    checkFreshness(defaultKey(corpus, quantizerKey), corpus, quantizerKey)
    val key = s"sq-${defaultKey(corpus, quantizerKey)}"
    val (mins, maxs) = sqRange(corpus, vecCol, key)
    val mnLit = typedlit(mins.toSeq)
    val scLit = typedlit(mins.indices.map(i => (maxs(i) - mins(i)) / 255.0))
    // code = clamp(round((x-mn)/sc), 0..255); recon = mn + code*sc —
    // constant dims share mn exactly (sc=0 → code 0 → recon = mn)
    def recon(vec: Column): Column =
      zip_with(vec, sequence(lit(1), size(vec)), (x, i) => {
        val mn = element_at(mnLit, i)
        val sc = element_at(scLit, i)
        val code = when(sc === 0.0, lit(0.0))
          .otherwise(least(lit(255.0), greatest(lit(0.0), round((x - mn) / sc))))
        mn + code * sc
      })
    val c = nonZeroNorm(corpus.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("cvec"))
      .withColumn("cnorm", norm(col("cvec"))), "cnorm")
      .withColumn("sqvec", recon(col("cvec")))
      .withColumn("sqnorm", norm(col("sqvec")))
    val q = nonZeroNorm(queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qvec"))
      .withColumn("qnorm", norm(col("qvec"))), "qnorm")
    val scored = nonZeroNorm(c, "sqnorm")
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cvec"), col("cnorm"),
        col("qvec"), col("qnorm"),
        (dot(col("sqvec"), col("qvec")) / (col("sqnorm") * col("qnorm"))).as("adc"))
    rankAdc(scored, k, shortlist)
  }

  /** Probe-row expansion for the STREAMING semantic-dedup index (st35):
    * one `(id, vec, vnorm, cell)` row per probed cell of each non-zero
    * vector — [[embeddingDupPairs]]' candidate geometry (same multi-probe
    * blocking, same zero-norm drop) factored out so a streaming ingest
    * can persist the rows per cell and probe them incrementally under
    * PERSISTED centroids. The vector travels WITH the row, so pair
    * verification needs no corpus rejoin (the bucket-payload posture of
    * [[embeddingDupPairs]]). */
  private[graft] def dupProbeRows(df: DataFrame, idCol: String, vecCol: String,
                                  centers: Array[Array[Double]],
                                  nProbe: Int): DataFrame =
    nonZeroNorm(df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("vec"))
      .withColumn("vnorm", norm(col("vec"))), "vnorm")
      .withColumn("cell", explode(transform(
        nearestCells(centers, col("vec"), math.max(nProbe, 1)),
        x => x.getField("cell"))))

  /** Cell-blocked, exact-cosine-verified duplicate pairs over a
    * [[dupProbeRows]] frame carrying a `fresh` flag (1 = this batch).
    * The skew cap sees the FULL cell group — history and fresh rows
    * together — so it fires exactly as a one-shot run over the same
    * arrivals would. Returns `(id_a, id_b, fresh_a, fresh_b)` with
    * `id_a < id_b`, duplicates from multi-probe collapsed. */
  private[graft] def blockedDupPairs(rows: DataFrame, threshold: Double,
                                     maxCell: Int): DataFrame =
    Dedup.bucketPairs(rows, "cell",
        struct(col("id"), col("vec"), col("vnorm"), col("fresh")), maxCell)
      .filter(dot(col("p.a.vec"), col("p.b.vec")) /
        (col("p.a.vnorm") * col("p.b.vnorm")) >= threshold)
      .select(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"),
        col("p.a.fresh").as("fresh_a"), col("p.b.fresh").as("fresh_b"))
      .distinct()

  /** Embedding near-duplicate pairs: cosine ≥ threshold among vectors
    * sharing an IVF cell (approximate — same recall model as MinHash/LSH
    * banding).
    *
    * Pair generation goes through the capped-bucket skeleton
    * ([[Dedup.bucketPairs]]: cell = bucket) rather than a same-cell
    * self-join: a self-join is O(Σ cell²) with no bound — near-duplicate-
    * heavy corpora (the dedup use case!) concentrate into few cells, and
    * at scale one hot cell goes quadratic. Here a cell larger than
    * `maxCell` is dropped outright (the skew guard — exact dedup already
    * catches the identical-content blowups that create such cells), so
    * per-bucket work is bounded regardless of corpus size.
    *
    * Recall has two knobs: `nProbe` assigns each vector to its `nProbe`
    * nearest cells (a pair is caught if ANY cell is shared — multi-probe
    * compensates for pairs straddling a cell boundary), and `nCells`
    * scales with the corpus when left at 0 (target mean cell ≈ maxCell/4,
    * clamped to [16, [[QuantizerSampleCap]]/4] — a quantizer can't have
    * more centroids than its training sample).
    */
  def embeddingDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.95, nCells: Int = 0,
                        nProbe: Int = 2, maxCell: Int = 256,
                        seed: Long = 42L, quantizerKey: String = ""): DataFrame = withArtifacts {
    checkFreshness(defaultKey(corpus, quantizerKey), corpus, quantizerKey)
    val cells = if (nCells > 0) nCells else autoCells(corpus, maxCell, quantizerKey)
    val centers = coarseQuantizer(corpus, idCol, vecCol,
      defaultKey(corpus, quantizerKey), cells, seed)
    // zero-norm vectors compare NaN to everything (never >= threshold);
    // drop them up front rather than paying their pair generation
    val assigned = nonZeroNorm(corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("vec"))
      .withColumn("vnorm", norm(col("vec"))), "vnorm")
      .withColumn("cell", explode(transform(
        nearestCells(centers, col("vec"), math.max(nProbe, 1)),
        x => x.getField("cell"))))
    // vectors travel in the bucket payload, so verification needs no
    // rejoin; distinct collapses pairs caught by multiple probes
    Dedup.bucketPairs(assigned, "cell",
        struct(col("id"), col("vec"), col("vnorm")), maxCell)
      .select(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"),
        (dot(col("p.a.vec"), col("p.b.vec")) /
          (col("p.a.vnorm") * col("p.b.vnorm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .distinct()
  }

  /** Per-group element-wise vector mean (label centroids / mean pooling)
    * with EXACT distributed float semantics.
    *
    * A naive `avg` over exploded float components is order-dependent —
    * Spark's partial-aggregate tree and a sequential scan round
    * differently, so two runs (or two engines) disagree in the last ulp.
    * Here each component is quantized to fixed point FIRST
    * (`floor(x·10⁶)` — float→double is exact, the product is one IEEE
    * op, floor has no tie-breaking semantics), the quantized longs are
    * summed exactly in any order, and the mean is re-derived in a fixed
    * two-division sequence. Result: bit-identical on any partitioning,
    * any engine.
    *
    * Scale shape: `posexplode` widens n rows to n·dims, but each output
    * row is ~24 B and the aggregate is map-side combinable, so the
    * shuffle carries at most `groups × dims` partial rows per map task —
    * independent of corpus size. The per-row explode stays inside
    * WholeStageCodegen. (The array-at-a-time alternative — a typed
    * `Aggregator` zipping long arrays — shuffles the same bytes but
    * leaves codegen; flat rows win.)
    *
    * @return (key, dim, mean_val, n) — one row per group × dimension,
    *         `mean_val` = floor-quantized micro-unit mean
    */
  def groupCentroids(df: DataFrame, keyCol: String, vecCol: String): DataFrame =
    df.select(col(keyCol).cast("long").as("key"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("key"), col("dim"))
      .agg(sum(floor(col("x").cast("double") * 1000000.0)).as("micro"),
        count(lit(1)).as("n"))
      .select(col("key"), col("dim").cast("long").as("dim"),
        (col("micro").cast("double") / 1000000.0 / col("n")).as("mean_val"),
        col("n"))
}
