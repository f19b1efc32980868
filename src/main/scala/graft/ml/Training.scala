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

  /** Fit one model per k. The frame is laid out once as one partition
    * sorted by the feature vector: a fit reads only `features`, and equal
    * vectors are interchangeable, so every fit sees the same rows in the
    * same order however `df` was partitioned, and the result does not
    * depend on cluster size. Each fit is a chain of small driver-bound
    * jobs, so all fits run at once, one thread each; they are seeded and
    * independent, so running them together changes no result. */
  private def sweep[M](df: DataFrame, ks: Seq[Int])(
      fit: (DataFrame, Int) => (M, Double)): Seq[(Int, M, Double)] = {
    val sorted = df.repartition(1)
      .sortWithinPartitions(vector_to_array(col("features"))).cache()
    sorted.count() // materialize once before concurrent fits
    try graft.ops.Actions.awaitAll(
      ks.map(k => () => { val (m, cost) = fit(sorted, k); (k, m, cost) }))
    finally sorted.unpersist(): Unit
  }

  /** k-sweep KMeans training (reference A10, `train.scala:55-59`): fit one
    * model per k, return (k, model, cost). Cost = within-set sum of squared
    * distances (`summary.trainingCost`, the `computeCost` equivalent). */
  def kMeansSweep(df: DataFrame, ks: Seq[Int], seed: Long = 1L,
                  maxIter: Int = 20, initMode: String = "k-means||"): Seq[(Int, KMeansModel, Double)] =
    sweep(df, ks) { (data, k) =>
      val m = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
        .setInitMode(initMode)
        .setFeaturesCol("features").fit(data)
      (m, m.summary.trainingCost)
    }

  /** BisectingKMeans twin (reference `trainBisecting.scala:55-59`). */
  def bisectingSweep(df: DataFrame, ks: Seq[Int], seed: Long = 1L,
                     maxIter: Int = 20): Seq[(Int, BisectingKMeansModel, Double)] =
    sweep(df, ks) { (data, k) =>
      val m = new BisectingKMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
        .setFeaturesCol("features").fit(data)
      (m, m.summary.trainingCost)
    }

  /** Elbow selection, *documented* semantics: smallest index i (≥1) with
    * `cost(i)/cost(i-1) > ratio`, else the last. (The reference's
    * implementation has an off-by-one — it returns i+1 and then indexes
    * models by it, `Clustering.scala:125-136`; we deliberately implement
    * the documented intent. Pinned in ElbowSpec.) */
  def elbowSelection(costs: Seq[Double], ratio: Double): Int = {
    val i = (1 until costs.size).find(i => costs(i) / costs(i - 1) > ratio)
    i.getOrElse(costs.size - 1)
  }

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
