package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SimHash64
import Lineage.LineageOps

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB regime:
  *
  *  - **exact**: hash-groupBy on a 128-bit digest — shuffles 16 bytes + id
  *    per doc, never the text.
  *  - **MinHash + LSH**: per-doc signature (linear scan, no shuffle), then
  *    banding — only docs sharing a band bucket are joined, so the
  *    candidate join is |buckets|-bounded instead of O(n²). Hot buckets are
  *    capped (skew guard) and candidates are verified with exact Jaccard.
  *  - **SimHash**: 64-bit signature via a native codegen expression; docs
  *    within small Hamming distance of a shared prefix bucket are
  *    candidates.
  *  - **n-gram Jaccard**: exact verification primitive (array_intersect /
  *    array_union on distinct shingle sets).
  *
  * All randomness is seeded/deterministic (hash permutations are
  * `xxhash64(h, i)`), so results are stable under replay and partitioning.
  */
object Dedup {

  /** Distinct word k-shingles from a token-array column, each hashed to a
    * long — native one-pass [[graft.functions.ShingleHashes]] codegen
    * expression (the HOF formulation concat-and-hashes interpreted, per
    * window; bit-identical semantics, pinned by HashOpsSpec). Hashing
    * first keeps the shuffle rows narrow (8B per shingle). */
  def shingleHashes(toks: Column, k: Int): Column =
    array_distinct(graft.functions.ShingleHashes(toks, k))

  /** (id, shingles) projection with the token array materialized in its
    * own project (multiply-referenced non-trivial alias — CollapseProject
    * keeps it, so the split happens once per row). */
  private[graft] def shingled(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs
      .withColumn("_toks", TextOps.tokens(col(textCol)))
      .select(col(idCol).as("id"), shingleHashes(col("_toks"), k).as("shingles"))

  /** MinHash signature: `sig(i) = min over shingles of xxhash64(shingle, i)`
    * — an independent permutation per index, all indices in ONE pass over
    * the shingles via the native [[graft.functions.MinHashSig]] expression
    * (the HOF formulation traverses the array `numHashes` times,
    * interpreted; bit-identical output, pinned by HashOpsSpec). */
  def minHashSignature(shingles: Column, numHashes: Int): Column =
    graft.functions.MinHashSig(shingles, numHashes)

  /** LSH band keys for a signature: one 64-bit key per band of `rowsPerBand`
    * signature entries (docs agreeing on all rows of any band collide). */
  def bandKeys(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    array((0 until numBands).map { b =>
      xxhash64((lit(b) +: (0 until rowsPerBand).map(r =>
        element_at(sig, b * rowsPerBand + r + 1))): _*)
    }: _*)

  /** Exact Jaccard similarity of two (distinct-element) shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)) / size(array_union(a, b)).cast("double")

  /** Rejoin candidate id-pairs with their shingle sets and keep pairs at
    * or above the exact-Jaccard threshold (shared verification tail of
    * the MinHash and n-gram pipelines). */
  private def verifyPairs(cand: DataFrame, sh: DataFrame,
                          threshold: Double): DataFrame =
    cand
      .join(sh.select(col("id").as("id_a"), col("shingles").as("sa")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("sa"), col("sb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Candidate pairs from bucket membership — the shared LSH skeleton:
    * group rows by bucket, drop buckets larger than `maxBucket` (the skew
    * guard: one boilerplate-heavy bucket would otherwise go quadratic),
    * and emit each bucket's member pairs from its collected, sorted
    * member array.
    *
    * This is ONE hash aggregate on the bucket key — no bucket self-join.
    * A self-join duplicates the whole upstream plan on both sides and
    * shuffles it twice; collecting members is safe precisely *because* of
    * the cap: a bucket holds ≤ maxBucket entries, so a group row is
    * bounded regardless of corpus size.
    *
    * @param payload struct/column collected per row; must sort with the
    *                pair id as its leading field so `a < b` holds
    * @return one row per (bucket-local) pair, column `p` = struct(a, b)
    */
  private[ops] def bucketPairs(df: DataFrame, bucketCol: String, payload: Column,
                               maxBucket: Int): DataFrame =
    df.groupBy(col(bucketCol))
      .agg(array_sort(collect_list(payload)).as("xs"))
      .filter(size(col("xs")).between(2, maxBucket))
      // pairs stream through TWO chained generators (posexplode the
      // members, then explode each member's tail slice) instead of
      // flattening all B²/2 pair structs into one array value first: with
      // vector payloads (embeddingDupPairs carries 64-double vecs) a
      // flattened 1024-member bucket is a single ~500 MB row, and a few
      // concurrent tasks of those OOM the executor (the r18 16× failure).
      // Peak per-task memory is now one bucket array + one pair row;
      // the emitted pair set (and its order) is identical.
      .select(posexplode(col("xs")).as(Seq("i", "a")), col("xs"))
      .select(col("a"), explode(slice(col("xs"), col("i") + lit(2),
        size(col("xs")))).as("b"))
      .select(struct(col("a"), col("b")).as("p"))

  /** MinHash-LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * @param docs         input with `idCol` and `textCol`
    * @param shingleK     word-shingle width
    * @param numBands     LSH bands (numBands × rowsPerBand hashes)
    * @param rowsPerBand  signature rows per band
    * @param threshold    exact-Jaccard acceptance threshold
    * @param maxBucket    skew guard: band buckets larger than this are
    *                     dropped (at corpus scale a degenerate bucket —
    *                     e.g. boilerplate — would otherwise quadratically
    *                     dominate the join)
    * @return (id_a, id_b, jaccard) with id_a < id_b
    */
  def minHashDupPairs(docs: DataFrame, idCol: String, textCol: String,
                      shingleK: Int = 3, numBands: Int = 8, rowsPerBand: Int = 4,
                      threshold: Double = 0.7, maxBucket: Int = 64): DataFrame = {
    val sh = shingled(docs, idCol, textCol, shingleK)
    minHashDupPairsFrom(sh, bandedOf(sh, numBands, rowsPerBand),
      threshold, maxBucket)
  }

  /** The banded-signature projection of a [[shingled]] frame.
    * Candidate generation shuffles (band, id) only — 16 bytes a row; the
    * wide shingle arrays rejoin *after* the pair-level distinct. The
    * minhash signature (the expensive expression: bands×rows hashes per
    * shingle) is materialized as its own projection so the 32
    * `element_at(sig, …)` band references share ONE evaluation —
    * inlining it into bandKeys would copy the whole signature expression
    * into every band key (32× the work; CollapseProject keeps a
    * multiply-referenced non-trivial alias as a separate project). */
  private[graft] def bandedOf(sh: DataFrame, numBands: Int,
                              rowsPerBand: Int): DataFrame =
    sh.withColumn("sig", minHashSignature(col("shingles"), numBands * rowsPerBand))
      .select(col("id"), explode(bandKeys(col("sig"), numBands, rowsPerBand)).as("band"))

  /** [[minHashDupPairs]]'s candidate+verify tail over PRECOMPUTED
    * [[shingled]] / [[bandedOf]] frames — for callers that reuse one
    * shingle/signature pass across several pair computations (dd12 runs
    * the detector on a corpus, on a sub-corpus, and audits bucket
    * occupancy: one pass, three consumers, instead of three full
    * MinHash pipelines over overlapping inputs). */
  private[graft] def minHashDupPairsFrom(sh: DataFrame, banded: DataFrame,
                                         threshold: Double,
                                         maxBucket: Int): DataFrame = {
    val cand = bucketPairs(banded, "band", col("id"), maxBucket)
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()
    verifyPairs(cand, sh, threshold)
  }

  /** Partition count for the persisted band-index layout: band rows are
    * written under `band_bucket = pmod(hash(band), BandBuckets)` Hive
    * directories, so an incremental probe's partition-pruning filter
    * (`band_bucket IN fresh-set`) skips non-matching buckets at the SCAN
    * — the probe never even lists, let alone reads, index rows whose
    * band cannot collide with the new batch. 16 suits the test SFs; at
    * corpus scale the constant rises with the index (it is persisted in
    * the `_params` sidecar and asserted at load, like the band
    * parameters — a probe against a different bucketing would silently
    * skip the wrong partitions). */
  val BandBuckets = 16

  /** The bucket key of a band value under the persisted layout. */
  def bandBucket(band: Column): Column = pmod(hash(band), lit(BandBuckets))

  /** One aggregate job over a band frame: (touched bucket set — at most
    * [[BandBuckets]] groups — and total band-row count). Feeds both the
    * directory-level index skip and the Bloom sizing of
    * [[minHashDupPairsWithIndex]]. */
  def bandSummary(bands: DataFrame): (Seq[Int], Long) = {
    val rows = bands
      .groupBy(bandBucket(col("band")).as("bkt")).agg(count(lit(1)).as("n"))
      .collect()
    (rows.map(_.getInt(0)).toSeq.sorted, rows.map(_.getLong(1)).sum)
  }

  /** The PERSISTABLE LSH index artifact: the banded signature table —
    * one `(id, band)` row per band key of each document's MinHash
    * signature, ~`numBands`·16 B per doc. Written to parquet once when a
    * corpus is ingested, it lets every later incremental batch generate
    * its near-dup candidates WITHOUT re-reading (or re-shingling) the
    * history text — the artifact posture `Similarity.ivfAssignments`
    * gives the ANN tier (an12), here for the dedup tier (dd17). */
  def lshBandIndex(docs: DataFrame, idCol: String, textCol: String,
                   shingleK: Int = 3, numBands: Int = 8,
                   rowsPerBand: Int = 4): DataFrame =
    // delegate: the persisted-index and in-memory-probe band-key
    // formulations must be ONE definition — two copies could silently
    // diverge, exactly the positional-band-key corruption the _params
    // sidecar exists to prevent
    bandedOf(shingled(docs, idCol, textCol, shingleK), numBands, rowsPerBand)

  /** Persist an [[lshBandIndex]] WITH its band parameters: the band rows
    * go to `path/bands` (Hive-partitioned by [[bandBucket]] so probes
    * partition-prune), and a 1-row `path/_params` sidecar records
    * (shingle_k, num_bands, rows_per_band, band_buckets). Band keys are
    * positional and the bucket layout drives partition pruning — an
    * index probed under different parameters silently corrupts the
    * candidate set — so when the write and read sites live in different
    * jobs (the daily-crawl restart posture) the parameters must travel
    * WITH the artifact and be asserted at load, not re-supplied from
    * memory. [[readLshBandIndex]] is that assertion. */
  def writeLshBandIndex(docs: DataFrame, idCol: String, textCol: String,
                        path: String, shingleK: Int = 3, numBands: Int = 8,
                        rowsPerBand: Int = 4): Unit = {
    val s = docs.sparkSession
    // Hive-partitioned by band bucket so an incremental probe is a
    // scan-level SKIP of non-matching buckets, not a full-index read;
    // the repartition bounds the file count to one per bucket per write
    // (at corpus scale: per bucket per task wave — still bucket-local)
    lshBandIndex(docs, idCol, textCol, shingleK, numBands, rowsPerBand)
      .withColumn("band_bucket", bandBucket(col("band")))
      .repartition(BandBuckets, col("band_bucket"))
      .write.mode("overwrite").partitionBy("band_bucket")
      .parquet(s"$path/bands")
    import s.implicits._
    Seq((shingleK, numBands, rowsPerBand, BandBuckets))
      .toDF("shingle_k", "num_bands", "rows_per_band", "band_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_params")
  }

  /** Parameter-sidecar read memo: the `_params` assert is a 1-row Spark
    * job (~0.5 s of scheduler overhead at any SF, paid on every dd17
    * probe), but the sidecar is immutable once written, so one read
    * per DISTINCT ARTIFACT suffices. Keyed on the sidecar's
    * [[graft.model.Tables.fingerprint]], so a rewritten index rotates the
    * key. */
  private val lshParamsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int, Int, Int)]()

  /** Load a [[writeLshBandIndex]] artifact, FAILING LOUDLY if the
    * caller's expected band parameters differ from the ones the index
    * was built with (the silent-corruption precondition of
    * [[minHashDupPairsWithIndex]], turned into an assert). */
  def readLshBandIndex(s: org.apache.spark.sql.SparkSession, path: String,
                       shingleK: Int = 3, numBands: Int = 8,
                       rowsPerBand: Int = 4): DataFrame = {
    val (k, b, r, bb) = lshParamsMemo.computeIfAbsent(
      s"$path|${graft.model.Tables.fingerprint(s, s"$path/_params")}", _ => {
        val p = s.read.parquet(s"$path/_params").head()
        val buckets =
          if (p.schema.fieldNames.contains("band_buckets"))
            p.getAs[Int]("band_buckets")
          else -1 // pre-bucketing artifact: fails the require below
        (p.getAs[Int]("shingle_k"), p.getAs[Int]("num_bands"),
          p.getAs[Int]("rows_per_band"), buckets)
      })
    require(k == shingleK && b == numBands && r == rowsPerBand && bb == BandBuckets,
      s"LSH index at $path was built with (shingleK=$k, numBands=$b, " +
        s"rowsPerBand=$r, bandBuckets=$bb) but is being probed with " +
        s"(shingleK=$shingleK, numBands=$numBands, " +
        s"rowsPerBand=$rowsPerBand, bandBuckets=$BandBuckets) — band keys " +
        "are positional and the bucket layout drives partition pruning, " +
        "so a mismatched probe would silently corrupt the candidate set; " +
        "rebuild the index or match its parameters")
    // the partition column rides along so probes can partition-prune on it
    s.read.parquet(s"$path/bands")
  }

  /** The probe's index-prune stage, separated so specs can pin ITS plan
    * (the verify tail downstream is lineage-truncated, hiding this scan):
    * partition-level `band_bucket IN (touched buckets)` when the index
    * carries the persisted layout's partition column, then the map-side
    * Bloom over the batch's band keys. Both prune levels are
    * false-negative-free, so bucket membership for batch-touching bands
    * is exactly the full run's (see [[minHashDupPairsWithIndex]]). */
  private[graft] def pruneIndexToBatch(bandIndex: DataFrame, newBanded: DataFrame,
                                       buckets: Seq[Int], freshBands: Long,
                                       bloom: Option[Array[Byte]] = None): DataFrame = {
    val scanPruned =
      if (bandIndex.columns.contains("band_bucket"))
        bandIndex.filter(col("band_bucket").isin(buckets: _*)).drop("band_bucket")
      else bandIndex
    // job-free emptiness check (a known-empty local relation): the first
    // batch of a stream probes an empty index — skip the Bloom build (a
    // per-batch aggregate job) entirely
    val knownEmpty = scanPruned.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _ => false
    }
    if (knownEmpty) scanPruned
    else scanPruned.filter(Sketches.mightContain(
      bloom.getOrElse(Sketches.bloomBytes(newBanded, "band",
        expectedItems = freshBands, fpp = 0.01)), col("band")))
  }

  /** Incremental near-dup pairs of a NEW batch against (and within) a
    * corpus whose history side is represented by a persisted
    * [[lshBandIndex]]: only the new docs are shingled and signed; band
    * buckets union the index rows with the fresh rows (identical bucket
    * membership to a full-corpus run, so the capped-bucket candidate
    * set is exactly the full run's restricted to pairs touching the
    * batch); history-history pairs — already resolved when history was
    * ingested — are dropped by a flag carried ON the collected payload
    * (no join). Verification re-reads history TEXT only for candidate
    * partners (a left-semi prune ahead of shingling — the point-lookup
    * shape; the full history is never re-shingled).
    *
    * @param bandIndex the persisted `(id, band)` table from [[lshBandIndex]]
    * @param history   the history table (same `idCol`/`textCol`), touched
    *                  only to fetch candidate partners' text
    * @return (id_a, id_b, jaccard) with id_a < id_b, every pair touching
    *         the new batch
    *
    * PRECONDITIONS (caller-owned, like every artifact interface here):
    * (1) `newDocs` ids are DISJOINT from the indexed history's — an id
    * on both sides would pair with itself (the defensive `id_a != id_b`
    * filter below drops the degenerate self-pair, but the overlapping
    * doc's real partners would still be scored against a stale
    * signature); (2) `bandIndex` was built by [[lshBandIndex]] with the
    * SAME `shingleK`/`numBands`/`rowsPerBand` as this call — band keys
    * are positional, so mismatched parameters silently corrupt the
    * candidate set rather than fail. Persist the parameters alongside
    * the index (a 1-row `_params` sidecar) and assert them at load time
    * if the write and read sites ever live in different jobs; dd17 pins
    * both preconditions in its fixture.
    */
  def minHashDupPairsWithIndex(newDocs: DataFrame, bandIndex: DataFrame,
                               history: DataFrame, idCol: String, textCol: String,
                               shingleK: Int = 3, numBands: Int = 8,
                               rowsPerBand: Int = 4, threshold: Double = 0.7,
                               maxBucket: Int = 64,
                               newBands: Option[DataFrame] = None,
                               newBandSummary: Option[(Seq[Int], Long)] = None,
                               historyFor: Option[DataFrame => DataFrame] = None,
                               newBloom: Option[Array[Byte]] = None)
      : DataFrame = {
    val newSh = shingled(newDocs, idCol, textCol, shingleK)
    // the fresh band frame feeds the band summary, the Bloom build and
    // the probe union — persist it so the signature (the expensive
    // expression) is computed once, not once per consumer; the summary
    // aggregate below materializes the cache in the same job (one
    // cheaper than a dedicated checkpoint pass), and the blocks are
    // unpersisted eagerly once the candidate checkpoint — the last
    // consumer — materializes. Callers that already built the batch's band
    // table (st29 appends it to the index anyway) pass it in via
    // `newBands` and pay nothing extra.
    val newBanded = newBands.getOrElse(newSh
        .withColumn("sig", minHashSignature(col("shingles"), numBands * rowsPerBand))
        .select(col("id"), explode(bandKeys(col("sig"), numBands, rowsPerBand)).as("band"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // SCALE SHAPE — the index is pruned to the fresh batch's bands BEFORE
    // the bucket aggregate, so per-batch probe work is proportional to
    // the buckets the batch actually touches, not the total accumulated
    // index (which would make B batches quadratic in stream length).
    // The answer is provably unchanged: bucketPairs groups by band and
    // the fresh>=1 filter keeps only pairs with a fresh member, so a
    // band absent from the batch can emit nothing, while a band present
    // in the batch keeps ALL its index rows (the prunes below have no
    // false negatives, so the group survives intact — including its
    // size, so the maxBucket cap fires identically; a Bloom false
    // positive only admits a history-only band, which emits nothing).
    //  - partition-level: if the index carries the persisted layout's
    //    `band_bucket` column, a ≤BandBuckets-value IN filter prunes
    //    non-matching Hive partitions at the scan (a bounded driver pull
    //    — at most BandBuckets ints);
    //  - row-level: a Bloom over the batch's band keys, probed MAP-SIDE
    //    on the index scan (the dd18 runtime-filter posture). Unlike a
    //    semi join — whose sort-merge plan shuffle-writes the whole
    //    index before AQE can flip it to broadcast — the codegen
    //    might_contain literal never puts the index through an exchange:
    //    only surviving rows reach the bucket aggregate's shuffle.
    // ONE aggregate job over the (checkpointed) fresh bands yields both
    // the touched-bucket set (≤ BandBuckets groups) and the instance
    // count that sizes the Bloom (≥ distinct — an over-sized Bloom only
    // gains accuracy); callers that already computed it (st29 needs the
    // bucket set to list index directories BEFORE calling) pass it in
    val (buckets, freshBands) = newBandSummary.getOrElse(bandSummary(newBanded))
    // callers probing SEVERAL index states with one batch (dd21's
    // logical-then-post-purge probes) pass the batch's Bloom in, so the
    // build aggregate runs once per batch instead of once per probe
    val prunedIndex = pruneIndexToBatch(bandIndex, newBanded, buckets, freshBands,
      newBloom)
    val banded = prunedIndex.select(col("id"), col("band"), lit(0).as("fresh"))
      .unionByName(newBanded.select(col("id"), col("band"), lit(1).as("fresh")))
    // payload leads with id, so bucket pairs keep a < b on ids; pairs
    // with no fresh member are history-history — skipped before verify
    val cand = bucketPairs(banded, "band", struct(col("id"), col("fresh")), maxBucket)
      .filter(col("p.a.fresh") + col("p.b.fresh") >= 1)
      .select(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"))
      // defensive: a precondition-violating id overlap between newDocs
      // and the index would otherwise surface as a jaccard-1.0 self-pair
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
      // pair ids are consumed three times below (both verify joins + the
      // partner prune); truncate the lineage so the bucket aggregate
      // runs once, not three times
      .cutLineage()
    // every consumer of the fresh band frame has executed by the time the
    // eager checkpoint above returns (the summary aggregate, the Bloom
    // build inside pruneIndexToBatch, the probe union feeding cand), so
    // release the cached blocks NOW instead of leaving them to
    // ContextCleaner GC — repeated probes in one session would otherwise
    // accumulate storage-memory pressure. Caller-provided band frames
    // stay caller-owned (st29 appends its frame to the index afterwards).
    if (newBands.isEmpty) newBanded.unpersist(blocking = false)
    val partnerIds = cand.select(col("id_a").as("pid"))
      .unionByName(cand.select(col("id_b").as("pid"))).distinct()
    // history text is fetched ONLY for candidate partners. When the
    // caller owns a bucketed history artifact (st29's corpus dirs), the
    // `historyFor` point-lookup loader replaces the full-table semi join
    // — input: the partner-id frame (one `pid` long column); contract:
    // return (at least) those partners' (idCol, textCol) rows — so the
    // history SCAN, not just the join output, is proportional to the
    // candidates' buckets instead of the accumulated corpus.
    val histNeeded = historyFor match {
      case Some(load) => load(partnerIds)
      case None => history.join(partnerIds,
        history(idCol) === col("pid"), "left_semi")
    }
    verifyPairs(cand,
      newSh.unionByName(shingled(histNeeded, idCol, textCol, shingleK)), threshold)
  }

  /** Both orientations of a canonical `(id_a, id_b)` pair frame in ONE
    * pass: multiset-identical to
    * `pairs.unionByName(pairs.select(id_b as id_a, id_a as id_b))`, but
    * the upstream pair pipeline is evaluated exactly once — each row
    * explodes into its two orientations inside the same plan. The
    * swapped-UNION formulation evaluates the upstream once per branch,
    * and the r20 mitigation (checkpoint the pairs first) paid a
    * dedicated materialization job per call — per MICRO-BATCH in the
    * streaming ingest gates. This needs neither. */
  def undirectedPairs(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("id_a"), col("id_b")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b")))).as("_e"))
      .select(col("_e.id_a").as("id_a"), col("_e.id_b").as("id_b"))

  /** Per-doc 64-bit SimHash over token hashes (codegen end-to-end:
    * native per-token hashing + native bit-vote). */
  def simHash(text: Column): Column =
    SimHash64(graft.functions.XxHash64Array(TextOps.tokens(text)))

  /** SimHash near-duplicate pairs: bucket by the high `prefixBits` bits,
    * verify with full-signature Hamming distance ≤ `maxHamming`.
    *
    * A single prefix probe misses any near-pair whose differing bits fall
    * inside the prefix; `rotations` adds probes over bit-rotated
    * signatures (rotation step 64/rotations), multiplying candidate
    * coverage at linear cost. A pair is caught if ANY probe window is
    * clean of its differing bits.
    *
    * @param maxBucket skew guard: prefix buckets larger than this are
    *                  dropped — boilerplate-heavy corpora concentrate into
    *                  one prefix, whose pair blow-up would go quadratic
    */
  def simHashDupPairs(docs: DataFrame, idCol: String, textCol: String,
                      prefixBits: Int = 16, maxHamming: Int = 3,
                      maxBucket: Int = 1024, rotations: Int = 1): DataFrame = {
    val step = 64 / math.max(rotations, 1)
    def rotl(c: Column, r: Int): Column =
      if (r == 0) c else shiftleft(c, r).bitwiseOR(shiftrightunsigned(c, 64 - r))
    val sigs = docs.select(col(idCol).as("id"), simHash(col(textCol)).as("sig"))
      .select(col("id"), col("sig"), explode(array((0 until math.max(rotations, 1)).map { p =>
        // probe-tagged bucket: rotated prefix, offset so probes never collide
        shiftrightunsigned(rotl(col("sig"), p * step), 64 - prefixBits) +
          lit(p.toLong << prefixBits)
      }: _*)).as("bucket"))
    // signatures travel with the ids, so verification needs no rejoin;
    // distinct collapses pairs found by multiple probes
    bucketPairs(sigs, "bucket", struct(col("id"), col("sig")), maxBucket)
      .select(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"),
        bit_count(col("p.a.sig").bitwiseXOR(col("p.b.sig"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Duplicate-pair list → duplicate CLUSTERS (connected components):
    * the step every dedup pipeline needs after pair generation, because
    * keeper selection is per *group* (A~B, B~C ⇒ {A,B,C} keep one), not
    * per pair.
    *
    * Distributed min-label propagation: every node starts labeled with
    * its own id; each round takes the min label over itself and its
    * neighbors; fixpoint = components labeled by their min member. One
    * join + one aggregate per round, converging in O(component diameter)
    * rounds — dedup graphs are near-cliques (diameter ~1-2), so a handful
    * of rounds even at 100 TB. Lineage is truncated per round
    * (`localCheckpoint`), the standard guard for iterative DataFrame
    * algorithms. Throws if not converged within `maxRounds` (raise it for
    * pathological chain graphs).
    *
    * @param pairs (id_a, id_b) undirected duplicate pairs
    * @return (id, component) — component = min id in the node's component
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50,
                          checkpointDir: Option[String] = None): DataFrame = {
    def cut(df: DataFrame) = Lineage.truncate(df, checkpointDir)
    val spark = pairs.sparkSession
    // one evaluation of the caller's pair pipeline (dd05/dd11 feed full
    // near-dup detectors here) AND one materialization job: both edge
    // directions come from one explode pass, so the dedicated pair
    // checkpoint the r20 shape paid before the swapped union is gone
    val edges = cut(undirectedPairs(pairs)
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .distinct())
    var labels = cut(edges.select(col("u").as("id")).distinct()
      .withColumn("comp", col("id")))
    val labelSchema = labels.schema
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val nbrMin = edges
        .join(labels.select(col("id").as("v"), col("comp").as("vcomp")), Seq("v"))
        .groupBy(col("u")).agg(min(col("vcomp")).as("nmin"))
      // materialized before the self-join below, so the propagate join
      // runs once per round, not twice
      val prop = cut(labels
        .join(nbrMin.select(col("u").as("id"), col("nmin")), Seq("id"), "left")
        .select(col("id"), col("comp"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp2")))
      // pointer jumping: follow the propagated label one hop through the
      // label table itself (comp ← label(comp)), halving chain depth
      // every round — neighbor-min alone converges in O(diameter) rounds,
      // which a chain-shaped dup cluster (the crawl near-dup shape) blows
      // past at scale; with the jump, ~20 rounds already cover diameters
      // to ~2^20, and the default maxRounds=50 is pure headroom (fixpoint
      // detection exits early, so unused budget costs nothing — the
      // default exists only to turn a non-converging bug into a loud
      // error instead of an infinite loop). Labels only ever hold ids of
      // nodes INSIDE the component
      // (own id, a neighbor's label, or a member's label), so the jump
      // preserves the fixpoint argument: at convergence labels are
      // edge-constant and idempotent, hence the component minimum.
      val jumped = cut(prop
        .join(prop.select(col("id").as("comp2"), col("comp2").as("jmp")),
          Seq("comp2"), "left")
        .select(col("id"), col("comp"),
          least(col("comp2"), coalesce(col("jmp"), col("comp2"))).as("comp3")))
      converged = jumped.filter(col("comp3") < col("comp")).isEmpty
      // STATS RESET at the round boundary: localCheckpoint preserves the
      // ESTIMATED sizeInBytes of the plan it replaces, and Catalyst's
      // size-only visitor MULTIPLIES child estimates through joins — so
      // the self-join above SQUARES the carried BigInt estimate every
      // round. Left uncut, its digit count doubles per round and by
      // round ~25 the planner is multiplying million-digit BigIntegers
      // (minutes of driver CPU per round, unbounded growth). Rebuilding
      // the frame from the checkpointed RDD resets the estimate to the
      // session default constant, making per-round planning cost flat.
      // The loop's joins are label-table-sized and never want a
      // stats-driven broadcast, so nothing is lost.
      labels = spark.createDataFrame(
        jumped.select(col("id"), col("comp3").as("comp")).rdd, labelSchema)
      round += 1
    }
    require(converged, s"components did not converge in $maxRounds rounds")
    labels
  }

  /** Exact n-gram-Jaccard duplicate pairs via rare-shingle blocking: only
    * shingles whose document frequency ≤ `maxDf` generate candidates (a
    * shingle shared by half the corpus carries no signal but would
    * generate O(n²) candidates). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3, threshold: Double = 0.8,
                        maxDf: Int = 16): DataFrame = {
    val sh = shingled(docs, idCol, textCol, shingleK)
    val posting = sh.select(col("id"), explode(col("shingles")).as("shingle"))
    // rare-shingle blocking IS the bucket-pair skeleton: shingle = bucket,
    // df cap = skew guard; one aggregate, pairs from each posting list
    val cand = bucketPairs(posting, "shingle", col("id"), maxDf)
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()
    verifyPairs(cand, sh, threshold)
  }

  /** Shingle-containment pairs — the ASYMMETRIC complement of
    * [[ngramJaccardPairs]]: containment `|A∩B| / min(|A|,|B|)` scores
    * how fully the smaller shingle set sits inside the larger one, so it
    * catches quote/excerpt/superset relationships that symmetric Jaccard
    * dilutes (a short doc fully quoted inside a long one has tiny
    * Jaccard but containment 1.0). Same rare-shingle capped-bucket
    * candidate generation, then exact set arithmetic per candidate —
    * one division of exact integers, identical in any engine.
    *
    * @return (id_a, id_b, containment) with id_a < id_b,
    *         containment ≥ threshold
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleK: Int = 4, threshold: Double = 0.8,
                       maxDf: Int = 16): DataFrame = {
    val sh = shingled(docs, idCol, textCol, shingleK)
    val posting = sh.select(col("id"), explode(col("shingles")).as("shingle"))
    val cand = bucketPairs(posting, "shingle", col("id"), maxDf)
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()
    cand
      .join(sh.select(col("id").as("id_a"), col("shingles").as("sa")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          least(size(col("sa")), size(col("sb")))).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Edit-distance (Levenshtein) near-duplicate pairs — the exact
    * character-level complement of the token-level detectors above:
    * catches small in-word edits (typos, OCR noise, template fills) that
    * shingle Jaccard under-weighs.
    *
    * Same rare-shingle candidate generation as [[ngramJaccardPairs]]
    * (one capped-bucket aggregate, no self-join), then two verification
    * stages in strictly increasing cost order:
    *
    *  1. length band: `|len(a) − len(b)| ≤ maxDist` — a necessary
    *     condition for edit distance ≤ maxDist (each edit changes length
    *     by at most 1), evaluated on two already-joined strings for the
    *     price of two `length()` calls;
    *  2. banded Levenshtein via Spark's thresholded 3-arg `levenshtein`,
    *     which abandons a pair the moment the running minimum exceeds
    *     `maxDist` — O(maxDist·min(m,n)) instead of O(m·n), the
    *     difference between feasible and not on document-length strings.
    *
    * @param maxDist inclusive edit-distance acceptance threshold
    * @param maxDf   rare-shingle blocking cap (see [[ngramJaccardPairs]])
    * @return (id_a, id_b, dist) with id_a < id_b, dist ≤ maxDist
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 4, maxDist: Int = 64,
                        maxDf: Int = 16): DataFrame = {
    val sh = shingled(docs, idCol, textCol, shingleK)
    val posting = sh.select(col("id"), explode(col("shingles")).as("shingle"))
    val cand = bucketPairs(posting, "shingle", col("id"), maxDf)
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()
    val txt = docs.select(col(idCol).as("id"), col(textCol).as("t"))
    cand
      .join(txt.select(col("id").as("id_a"), col("t").as("t_a")), "id_a")
      .join(txt.select(col("id").as("id_b"), col("t").as("t_b")), "id_b")
      .filter(abs(length(col("t_a")) - length(col("t_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("t_a"), col("t_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
