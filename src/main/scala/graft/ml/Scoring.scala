package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distance-to-centroid anomaly scoring (reference A7/F5,
  * `InvoicePipeline.scala:216-236` — four near-identical copies collapse
  * to one generic implementation here).
  *
  * Centers ride along as a plan reference object (equivalent to an
  * explicit broadcast: serialized once per executor, not per task like the
  * reference's closure capture). The min-sqdist kernel is the native
  * [[graft.functions.SqDistToNearest]] codegen expression — no UDF, one
  * compiled loop (bit-identical to the HOF formulation it replaced;
  * MlSpec pins the equivalence).
  */
object Scoring {

  /** Squared distance from a feature array to the nearest of `centers`. */
  def sqDistToNearest(features: Column, centers: Seq[Seq[Double]]): Column =
    graft.functions.SqDistToNearest(features, centers)

  /** Score a featurized frame: adds `dist` and `is_anomaly`. */
  def score(df: DataFrame, featureCols: Seq[String],
            centers: Seq[Seq[Double]], threshold: Double): DataFrame = {
    val features = array(featureCols.map(c => col(c).cast("double")): _*)
    df.withColumn("dist", sqDistToNearest(features, centers))
      .withColumn("is_anomaly", (col("dist") > threshold).cast("long"))
  }
}
