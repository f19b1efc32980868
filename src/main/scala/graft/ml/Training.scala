package graft.ml

import org.apache.spark.ml.clustering.{BisectingKMeans, BisectingKMeansModel, KMeans, KMeansModel}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model training — the reference's k-sweep + elbow + threshold
  * calibration (reference `train.scala:54-66`, `Clustering.scala:125-144`)
  * on the modern `spark.ml` DataFrame API.
  */
object Training {

  /** Assemble feature columns into an ml `Vector` column `features`. */
  def assemble(df: DataFrame, featureCols: Seq[String]): DataFrame =
    df.withColumn("features",
      array_to_vector(array(featureCols.map(c => col(c).cast("double")): _*)))

  /** Deterministic 1-in-`mod` training sample, keyed on a content hash of
    * `idCol` — stable under repartitioning and replay, unlike
    * `df.sample`. The shared device behind every bounded fit (ModelStore,
    * ml01/ml03/ml05's sweeps); `mod <= 1` disables. */
  def hashSample(df: DataFrame, idCol: String, mod: Int): DataFrame =
    if (mod <= 1) df
    else df.filter(pmod(xxhash64(col(idCol)), lit(mod)) === 0)

  /** One fit at `k` on the sweep's laid-out frame: the model and its
    * cost, the within-set sum of squared distances
    * (`summary.trainingCost`, the `computeCost` equivalent). */
  type Fit[M] = (DataFrame, Int) => (M, Double)

  /** KMeans at k (reference A10, `train.scala:55-59`). */
  def kMeansFit(seed: Long = 1L, maxIter: Int = 20,
                initMode: String = "k-means||"): Fit[KMeansModel] = { (data, k) =>
    val m = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .setInitMode(initMode)
      .setFeaturesCol("features").fit(data)
    (m, m.summary.trainingCost)
  }

  /** BisectingKMeans at k (reference `trainBisecting.scala:55-59`). */
  def bisectingFit(seed: Long = 1L, maxIter: Int = 20): Fit[BisectingKMeansModel] = {
    (data, k) =>
      val m = new BisectingKMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
        .setFeaturesCol("features").fit(data)
      (m, m.summary.trainingCost)
  }

  /** Fit one model per k, in k order; returns (k, model, cost) for every
    * k fitted. The frame is laid out once as one partition sorted by the
    * feature vector: a fit reads only `features`, and equal vectors are
    * interchangeable, so every fit sees the same rows in the same order
    * however `df` was partitioned, and the result does not depend on
    * cluster size. Each fit is a chain of small driver-bound jobs, so the
    * fits run `width` at a time, one thread each; they are seeded and
    * independent, so running them together changes no result. After each
    * round of `width` fits, `done` sees every cost so far and may end the
    * sweep; by default every k runs, in one round. */
  private def sweep[M](df: DataFrame, ks: Seq[Int], width: Int = Int.MaxValue,
                       done: Seq[Double] => Boolean = _ => false)(
      fit: Fit[M]): Seq[(Int, M, Double)] = {
    val sorted = df.repartition(1)
      .sortWithinPartitions(vector_to_array(col("features"))).cache()
    sorted.count() // materialize once before concurrent fits
    try {
      val rounds = ks.grouped(width.min(ks.size).max(1))
      var fits = Vector.empty[(Int, M, Double)]
      while (rounds.hasNext && !done(fits.map(_._3)))
        fits ++= graft.ops.Actions.awaitAll(
          rounds.next().map(k => () => { val (m, cost) = fit(sorted, k); (k, m, cost) }))
      fits
    } finally sorted.unpersist(blocking = true): Unit
  }

  /** k-sweep KMeans training: fit one model per k, all at once, and
    * return (k, model, cost). */
  def kMeansSweep(df: DataFrame, ks: Seq[Int], seed: Long = 1L,
                  maxIter: Int = 20, initMode: String = "k-means||"): Seq[(Int, KMeansModel, Double)] =
    sweep(df, ks)(kMeansFit(seed, maxIter, initMode))

  /** BisectingKMeans twin of [[kMeansSweep]]. */
  def bisectingSweep(df: DataFrame, ks: Seq[Int], seed: Long = 1L,
                     maxIter: Int = 20): Seq[(Int, BisectingKMeansModel, Double)] =
    sweep(df, ks)(bisectingFit(seed, maxIter))

  /** The sweep up to the elbow: fit `ks` in increasing order, `width` at a
    * time (default: the session's parallelism), and stop after the first
    * round whose costs so far hold an elbow ([[firstElbow]]); with none,
    * every k is fitted. Returns the fits made, in k order, so
    * [[elbowSelection]] over their costs picks the k, model and cost it
    * picks over the full sweep: the elbow is the FIRST ratio above
    * `ratio`, so it reads only costs up to the elbow's k, and every fit
    * is seeded and independent, so which others run beside it changes
    * nothing. Fits past the round holding the elbow cannot change the
    * pick and are never made. */
  private[graft] def elbowSweep[M](df: DataFrame, ks: Seq[Int], ratio: Double)(fit: Fit[M],
      width: Int = df.sparkSession.sparkContext.defaultParallelism): Seq[(Int, M, Double)] = {
    require(ks == ks.sorted, s"the elbow sweep fits k in increasing order, got $ks")
    sweep(df, ks, width, costs => firstElbow(costs, ratio).isDefined)(fit)
  }

  /** The first index i (≥1) with `cost(i)/cost(i-1) > ratio`, if any. */
  def firstElbow(costs: Seq[Double], ratio: Double): Option[Int] =
    (1 until costs.size).find(i => costs(i) / costs(i - 1) > ratio)

  /** Elbow selection, *documented* semantics: [[firstElbow]], else the
    * last index. (The reference's implementation has an off-by-one — it
    * returns i+1 and then indexes models by it, `Clustering.scala:125-136`;
    * we deliberately implement the documented intent. Pinned in MlSpec.) */
  def elbowSelection(costs: Seq[Double], ratio: Double): Int =
    firstElbow(costs, ratio).getOrElse(costs.size - 1)

  /** Anomaly threshold: the `rank`-th largest squared distance to the
    * assigned centroid over the training set (reference A5,
    * `train.scala:45-46`). Exact top-k via TakeOrderedAndProject; at
    * calibration-set sizes beyond memory use `approxQuantile`.
    *
    * When the set holds FEWER than `rank` rows this degenerates to the
    * minimum distance — i.e. nearly everything scores as anomalous.
    * That is the reference's own `top(rank).last` behavior, kept for
    * fidelity, but it is almost never what a caller wants: size the
    * calibration set (or shrink `rank`) so `rows >= rank`. An empty set
    * is an error (there is nothing to calibrate on). */
  def threshold(distances: DataFrame, distCol: String, rank: Int): Double = {
    import distances.sparkSession.implicits._
    val top = distances.select(col(distCol).cast("double"))
      .orderBy(col(distCol).desc).limit(rank)
    val m = top.agg(min(col(distCol))).as[java.lang.Double].head()
    require(m != null, "cannot calibrate a threshold on an empty distance set")
    m.doubleValue()
  }
}
