package graft.apps

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.util.MLWritable
import org.apache.spark.sql.SparkSession

import graft.etl.InvoiceFeaturizer
import graft.ml.{Persistence, Scoring, Training}

/** The reference's offline training job (`KMeansClusterInvoices` /
  * `BisectingKMeansClusterInvoices`, `train.scala:11-49` /
  * `trainBisecting.scala:11-49`): featurize + validity-filter the invoice
  * data, sweep k with the elbow rule, persist the selected model and the
  * top-2000-distance anomaly threshold.
  *
  * The sweep fits k = 2..20 in increasing order, a round of the session's
  * parallelism at a time, and stops after the round that holds the elbow
  * ([[Training.elbowSweep]]). The elbow is the first k whose cost ratio
  * exceeds [[ElbowRatio]], so it depends only on the costs up to that k;
  * the fits skipped past it cannot change the pick, and the k, model and
  * threshold are those of the full sweep. With no elbow every k is fitted
  * and the last is kept, as before.
  *
  * Usage: `runMain graft.apps.Train <dataDir> <modelDir> <thresholdFile>
  * [kmeans|bisecting]` — dataDir is a testdata-layout directory
  * (lineitem/orders parquet standing in for the retail CSV, exactly as
  * the query catalog does).
  */
object Train {
  val ElbowRatio = 0.7
  val ThresholdRank = 2000

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Train <dataDir> <modelDir> <thresholdFile> [kmeans|bisecting]")
    val Array(dataDir, modelDir, thresholdFile) = args.take(3)
    val algo = args.lift(3).getOrElse("kmeans")
    requireAlgorithm(algo)

    val spark = graft.GraftSession(Some(s"graft-train-$algo"))
    spark.sparkContext.setLogLevel("WARN")
    run(spark, dataDir, modelDir, thresholdFile, algo)
    spark.stop()
  }

  private def requireAlgorithm(algo: String): Unit =
    require(algo == "kmeans" || algo == "bisecting",
      s"algorithm must be kmeans or bisecting, got '$algo'")

  /** Train + persist; returns (selected k, threshold). Factored out of
    * main so the end-to-end spec drives the same code. */
  def run(spark: SparkSession, dataDir: String, modelDir: String,
          thresholdFile: String, algo: String): (Int, Double) = {
    import org.apache.spark.sql.functions.col
    requireAlgorithm(algo)
    val feats = graft.queries.InvoiceQueries.invoiceFeatures(spark, dataDir)
      .filter(InvoiceFeaturizer.validInvoice(col("invoice_no")))
      .cache()
    try {
      feats.show(5) // the reference's sanity sample (train.scala:36)
      val assembled = Training.assemble(feats, InvoiceFeaturizer.FeatureCols)
      // reference sweeps k = 1..20 (RDD API); ml KMeans requires k ≥ 2
      val ks = 2 to 20
      // the two model types share no supertype that carries clusterCenters
      def elbowModel[M <: MLWritable](fit: Training.Fit[M])(
          clusterCenters: M => Array[Vector]): (Int, Seq[Seq[Double]], Int) = {
        val fits = Training.elbowSweep(assembled, ks, ElbowRatio)(fit)
        val (k, model, _) = fits(Training.elbowSelection(fits.map(_._3), ElbowRatio))
        model.write.overwrite().save(modelDir)
        (k, clusterCenters(model).map(_.toArray.toSeq).toSeq, fits.size)
      }
      val (selectedK, centers, fitted) =
        if (algo == "bisecting") elbowModel(Training.bisectingFit(seed = 1L))(_.clusterCenters)
        else elbowModel(Training.kMeansFit(seed = 1L))(_.clusterCenters)
      val scored = Scoring.score(feats, InvoiceFeaturizer.FeatureCols, centers, 0.0)
      val threshold = Training.threshold(scored, "dist", ThresholdRank)
      Persistence.saveThreshold(thresholdFile, threshold)
      println(s"[train] algo=$algo selectedK=$selectedK fits=$fitted/${ks.size} " +
        s"threshold=$threshold -> $modelDir, $thresholdFile")
      (selectedK, threshold)
    } finally feats.unpersist(blocking = true): Unit
  }
}
