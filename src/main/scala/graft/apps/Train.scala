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

    val spark = graft.GraftSession(Some(s"graft-train-$algo"))
    spark.sparkContext.setLogLevel("WARN")
    run(spark, dataDir, modelDir, thresholdFile, algo)
    spark.stop()
  }

  /** Train + persist; returns (selected k, threshold). Factored out of
    * main so the end-to-end spec drives the same code. */
  def run(spark: SparkSession, dataDir: String, modelDir: String,
          thresholdFile: String, algo: String): (Int, Double) = {
    import org.apache.spark.sql.functions.col
    val feats = graft.queries.InvoiceQueries.invoiceFeatures(spark, dataDir)
      .filter(InvoiceFeaturizer.validInvoice(col("invoice_no")))
      .cache()
    feats.show(5) // the reference's sanity sample (train.scala:36)
    val assembled = Training.assemble(feats, InvoiceFeaturizer.FeatureCols)
    // reference sweeps k = 1..20 (RDD API); ml KMeans requires k ≥ 2
    val ks = 2 to 20
    // the two model types share no supertype that carries clusterCenters
    def elbowModel[M <: MLWritable](sweep: Seq[(Int, M, Double)])(
        clusterCenters: M => Array[Vector]): (Int, Seq[Seq[Double]]) = {
      val (k, model, _) = sweep(Training.elbowSelection(sweep.map(_._3), ElbowRatio))
      model.write.overwrite().save(modelDir)
      (k, clusterCenters(model).map(_.toArray.toSeq).toSeq)
    }
    val (selectedK, centers) = algo match {
      case "bisecting" =>
        elbowModel(Training.bisectingSweep(assembled, ks, seed = 1L))(_.clusterCenters)
      case _ => elbowModel(Training.kMeansSweep(assembled, ks, seed = 1L))(_.clusterCenters)
    }
    val scored = Scoring.score(feats, InvoiceFeaturizer.FeatureCols, centers, 0.0)
    val threshold = Training.threshold(scored, "dist", ThresholdRank)
    Persistence.saveThreshold(thresholdFile, threshold)
    feats.unpersist()
    println(s"[train] algo=$algo selectedK=$selectedK threshold=$threshold -> $modelDir, $thresholdFile")
    (selectedK, threshold)
  }
}
