package graft.ml

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.ml.clustering.{BisectingKMeansModel, KMeansModel}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.util.MLWritable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

/** Session-scoped registry of trained anomaly models: each `(algo, key)` is
  * trained **once**, persisted, re-loaded, calibrated, and memoized — the
  * reference's offline train job (`train.scala` / `trainBisecting.scala`)
  * feeding its online pipeline (`InvoicePipeline.scala:178-193`), collapsed
  * into one cached round-trip.
  *
  * This is the scale posture the round-1 bench lacked: model fitting is an
  * *index build*, not a per-query cost. A query that re-trains on every
  * invocation pays O(corpus × iterations) each time (68 s of round-1's
  * 127 s bench); a query that loads a persisted model pays an artifact read
  * once per session. The save→load leg is deliberately kept in the path
  * (not just an in-memory cache) so the persistence contract — S3/S6 model
  * dirs, S2/S7 threshold file — is exercised on every cold run.
  */
object ModelStore {

  /** Trained scoring artifact: centroid coordinates + anomaly threshold. */
  final case class AnomalyModel(centers: Seq[Seq[Double]], threshold: Double)

  private val cache = new ConcurrentHashMap[String, AnomalyModel]()

  /** Count of actual model fits this session (cache misses). Specs use it
    * to assert that an index build and its query resolve to the SAME memo
    * key — i.e. a query after its build is a pure probe, never a silent
    * retrain. */
  private[graft] val trains = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Hard cap on the training-sample size: a proportional 1-in-mod
    * sample is NOT bounded (1/4 of 100 TB is 25 TB); the modulus widens
    * with the corpus so the expected sample stays under this many rows.
    * Sized so the check-SF corpora keep their configured modulus
    * unchanged. */
  private val SampleCap = 65536L

  /** Bound the training set with a deterministic hash sample on the key
    * column (1 in `sampleMod`; ≤1 disables). The offline leg — fit +
    * threshold calibration — runs on the sample, the online leg scores
    * the full stream/corpus with the resulting artifact, exactly the
    * reference's train-job/pipeline split; at 100 TB the training frame
    * must be a bounded sample or the "index build" is a full corpus pass
    * per model. */
  private def sampled(feats: DataFrame, idCol: String, sampleMod: Int): DataFrame =
    if (sampleMod <= 1) feats
    else {
      // the count is one pass, paid once per model build (an index cost)
      val n = feats.count()
      val mod = math.max(sampleMod.toLong, (n + SampleCap - 1) / SampleCap).toInt
      // single-partition + total sort: KMeans/Bisecting float accumulation
      // (and sampling-based init) must see a fully deterministic row order
      // or the trained centers differ with the CLUSTER SIZE — verified by
      // running Verify under 4-way vs 7-way parallelism: without this,
      // ml02/ml04's entire anomaly set changes. Safe because the sample is
      // hard-capped above; the unsampled path (sampleMod <= 1) is the
      // caller's explicit full-frame choice and is left partitioned.
      Training.hashSample(feats, idCol, mod)
        .repartition(1).sortWithinPartitions(col(idCol))
    }

  /** Every parameter that changes the trained artifact participates in
    * the memo key AND the on-disk artifact name — distinct configurations
    * must never share a cache entry or a directory (two saves racing on
    * one dir can interleave). Feature columns are hashed for
    * filesystem-safety. */
  private def cacheKey(algo: String, key: String, featureCols: Seq[String],
                       idCol: String, sampleMod: Int, k: Int, seed: Long,
                       maxIter: Int, thresholdRank: Int): String =
    s"$algo|$key|${featureCols.mkString(",")}|$idCol|$sampleMod|$k|$seed|$maxIter|$thresholdRank"

  /** Package-visible so specs derive the expected on-disk directory
    * through the SAME naming scheme the store uses — never a hard-coded
    * string that silently rots when the scheme changes. */
  private[graft] def artifactName(algo: String, key: String, featureCols: Seq[String],
                                  idCol: String, sampleMod: Int, k: Int, seed: Long,
                                  maxIter: Int, thresholdRank: Int): String = {
    // MD5, not String.hashCode: the 32-bit hash collides two distinct
    // (featureCols, idCol) configurations into one on-disk directory —
    // exactly the racing-saves interleaving the name must prevent (the
    // in-memory cacheKey is complete, but separate JVMs share only the
    // directory)
    val featHash = java.security.MessageDigest.getInstance("MD5")
      .digest((featureCols.mkString(",") + "|" + idCol)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    s"$algo-$key-$featHash-$sampleMod-$k-$seed-$maxIter-$thresholdRank"
  }

  /** KMeans flavor (reference `train.scala:11-49`). */
  def kmeansAnomaly(key: String, feats: => DataFrame, featureCols: Seq[String],
                    idCol: String = "invoice_no", sampleMod: Int = 1,
                    k: Int = 4, seed: Long = 1L, maxIter: Int = 10,
                    thresholdRank: Int = 2000): AnomalyModel =
    anomaly("kmeans", key, feats, featureCols, idCol, sampleMod, k, seed, maxIter,
      thresholdRank)(
      Training.kMeansFit(seed, maxIter)(_, k)._1,
      KMeansModel.load(_).clusterCenters)

  /** BisectingKMeans flavor (reference `trainBisecting.scala:11-49`). */
  def bisectingAnomaly(key: String, feats: => DataFrame, featureCols: Seq[String],
                       idCol: String = "invoice_no", sampleMod: Int = 1,
                       k: Int = 4, seed: Long = 1L, maxIter: Int = 10,
                       thresholdRank: Int = 2000): AnomalyModel =
    anomaly("bisecting", key, feats, featureCols, idCol, sampleMod, k, seed, maxIter,
      thresholdRank)(
      Training.bisectingFit(seed, maxIter)(_, k)._1,
      BisectingKMeansModel.load(_).clusterCenters)

  /** Fit `algo` once per memo key on the idCol-sorted sample, save it,
    * load it back and calibrate the threshold from the loaded centers. */
  private def anomaly(algo: String, key: String, feats: => DataFrame,
                      featureCols: Seq[String], idCol: String, sampleMod: Int,
                      k: Int, seed: Long, maxIter: Int, thresholdRank: Int)(
                      fit: DataFrame => MLWritable,
                      loadCenters: String => Array[Vector]): AnomalyModel =
    cache.computeIfAbsent(cacheKey(algo, key, featureCols, idCol, sampleMod,
        k, seed, maxIter, thresholdRank), _ => {
      trains.incrementAndGet()
      val f = sampled(feats, idCol, sampleMod).cache()
      try {
        val dir = Persistence.artifactDir(artifactName(algo, key, featureCols,
          idCol, sampleMod, k, seed, maxIter, thresholdRank))
        fit(Training.assemble(f, featureCols)).write.overwrite().save(dir)
        calibrate(loadCenters(dir).map(_.toArray.toSeq).toSeq,
          dir, f, featureCols, thresholdRank)
      } finally f.unpersist()
    })

  /** Threshold = `rank`-th largest squared distance over the training set
    * (reference `train.scala:45-46`), persisted and re-read as the
    * reference's one-line artifact (`Clustering.scala:138-144`). */
  private def calibrate(centers: Seq[Seq[Double]], dir: String, feats: DataFrame,
                        featureCols: Seq[String], rank: Int): AnomalyModel = {
    val dists = Scoring.score(feats, featureCols, centers, threshold = 0.0)
    val thr = Training.threshold(dists, "dist", rank)
    Persistence.saveThreshold(s"$dir/threshold.txt", thr)
    AnomalyModel(centers, Persistence.loadThreshold(s"$dir/threshold.txt"))
  }
}
