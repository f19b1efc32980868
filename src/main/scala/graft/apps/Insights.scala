package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Batch event-analytics application — the events-domain counterpart of
  * [[Curate]] (which composes the text tier): the four analyses a
  * product team runs over a 100 TB event log, composed as ONE job over
  * ONE scan family and written as a partitioned report a dashboard
  * reads.
  *
  *  1. sessionization — 30-minute-gap sessions per user (ev03's
  *     lag/cumsum construction);
  *  2. funnel — view → click → purchase stage per user with ordered
  *     timestamps (ev13);
  *  3. weekly cohort retention — first-active week × week offset
  *     (ev09);
  *  4. per-user value profile — event counts and exact money totals.
  *
  * Every stage is one of the catalog's oracle-certified constructions
  * (ev03/ev13/ev09 + the integer-cents money discipline) — the app adds
  * orchestration, not new semantics, and every output is deterministic
  * under any partitioning (integer math, explicit tie-breaks).
  *
  * Scale shape: each analysis shuffles once on `user_id` (the session
  * window, the funnel min-aggregates, the cohort aggregate, the value
  * profile) plus one small aggregate per report; nothing collects to
  * the driver beyond the summary counts.
  *
  * Usage: `runMain graft.apps.Insights <sfDir> <outDir>`
  */
object Insights {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Insights <sfDir> <outDir>")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    val report = run(spark, args(0), args(1))
    report.show(20, truncate = false)
    spark.stop()
  }

  /** Runs the analytics DAG; writes `outDir/{sessions,funnel,retention,
    * user_value}` and returns the one-row summary frame. */
  def run(spark: SparkSession, sfDir: String, outDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)

    // 1. sessionization (ev03): 30-minute-gap sessions
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val newSession =
      when($"prev_ts".isNull || $"ts" > $"prev_ts" + expr("INTERVAL 30 MINUTES"), 1L)
        .otherwise(0L)
    val sessions = ev
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("sess_id", sum(newSession).over(w))
      .groupBy($"user_id", $"sess_id")
      .agg(count(lit(1)).as("sess_events"),
        min($"ts").as("sess_start"), max($"ts").as("sess_end"))
    sessions.write.mode("overwrite").parquet(s"$outDir/sessions")

    // 2. funnel (ev13): ordered view → click → purchase per user
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t_view"))
    val c = ev.filter($"event_type" === "click").join(v, "user_id")
      .filter($"ts" >= $"t_view")
      .groupBy($"user_id").agg(min($"ts").as("t_click"))
    val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"ts" >= $"t_click")
      .groupBy($"user_id").agg(min($"ts").as("t_purchase"))
    val funnel = ev.select($"user_id").distinct()
      .join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select($"user_id",
        when($"t_purchase".isNotNull, 3L).when($"t_click".isNotNull, 2L)
          .when($"t_view".isNotNull, 1L).otherwise(0L).as("funnel_stage"))
    funnel.write.mode("overwrite").parquet(s"$outDir/funnel")

    // 3. weekly cohort retention (ev09)
    val cohort = ev.groupBy($"user_id")
      .agg(date_trunc("week", min($"ts")).as("cohort_week"))
    val active = ev.select($"user_id", date_trunc("week", $"ts").as("week")).distinct()
    val retention = cohort.join(active, "user_id")
      .groupBy($"cohort_week",
        floor(datediff($"week", $"cohort_week") / 7).cast("long").as("week_offset"))
      .agg(countDistinct($"user_id").as("n_users"))
    retention.write.mode("overwrite").parquet(s"$outDir/retention")

    // 4. per-user value profile (exact integer cents)
    val userValue = ev.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        sum(round($"value" * 100).cast("long")).as("value_cents"))
    userValue.write.mode("overwrite").parquet(s"$outDir/user_value")

    // one-row summary a scheduler logs per run
    val sess = spark.read.parquet(s"$outDir/sessions")
    val fun = spark.read.parquet(s"$outDir/funnel")
    Seq((
      ev.count(),
      sess.count(),
      sess.agg(sum($"sess_events")).head().getLong(0),
      fun.count(),
      fun.filter($"funnel_stage" >= 1).count(),
      fun.filter($"funnel_stage" >= 2).count(),
      fun.filter($"funnel_stage" === 3).count()))
      .toDF("n_events", "n_sessions", "n_session_events",
        "n_users", "n_viewers", "n_clickers", "n_purchasers")
  }
}
