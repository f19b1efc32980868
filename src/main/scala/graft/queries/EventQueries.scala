package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables
import QueryUtil._

/** Time-windowed surface over the `events` table — the batch twins of the
  * reference's streaming windows (A3 `reduceByKeyAndWindow` at
  * `InvoicePipeline.scala:72-80`) plus sessionization. The streaming
  * variants live in [[StreamQueries]] (`graft.stream`-backed, verified by
  * batch-equivalence); keeping the batch twin oracle-checked pins the
  * window semantics themselves.
  */
object EventQueries {

  /** One-time layout build: events rewritten date-partitioned
    * (`event_date=.../part-*.parquet`), built through [[Fixtures.memo]]. */
  private[graft] def ensurePartitionedEvents(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    Fixtures.memo(
        new java.io.File(
          s"target/partitioned/events_${dir.replaceAll("[^A-Za-z0-9]", "_")}").getAbsolutePath,
        Fixtures.source(s, dir, "events")) { out =>
      Tables.events(s, dir)
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(out)
    }

  val builds: Map[String, B] = Map(
    "build_partitioned_events" -> ((s, dir) => { ensurePartitionedEvents(s, dir); () }))

  /** ev08's per-user grid bound: 45 days of hourly points. Wider than the
    * testdata's whole 30-day span (the clamp never binds there), tight
    * enough that output size is a function of the CONFIG, not of outliers. */
  private[graft] val MaxResampleSpanHours: Int = 45 * 24

  /** Time-series resample + forward fill: an hourly grid per user over the
    * user's event span, each grid point carrying the latest event value at
    * or before it — the classic gap-filling op, composed from the as-of
    * join (grid = left side). Events are pre-collapsed to one row per
    * (user, ts) via max_by so the fill is deterministic.
    *
    * Output size is `users × min(span, maxSpanHours)/1h` rows — a resample
    * densifies by design, so the output IS a grid; the clamp keeps it a
    * bounded one. Each user's grid covers the `maxSpanHours` ending at
    * their NEWEST event, so one ancient stray event widens the span by
    * zero rows instead of inflating that user's grid a thousandfold
    * (points before the clamped start still forward-fill correctly — the
    * as-of match looks at all events, not just in-grid ones). */
  private[graft] def resampleFfill(ev: org.apache.spark.sql.DataFrame,
                                   maxSpanHours: Int): org.apache.spark.sql.DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val uniq = ev.groupBy($"user_id".as("u"), $"ts".as("ets"))
      .agg(max_by($"value", $"event_id").as("last_value"))
    val grid = ev.groupBy($"user_id")
      .agg(date_trunc("hour", min($"ts")).as("tmin"),
        date_trunc("hour", max($"ts")).as("t1"))
      .select($"user_id", $"t1",
        greatest($"tmin", $"t1" - expr(s"INTERVAL $maxSpanHours HOURS")).as("t0"))
      .select($"user_id",
        explode(sequence($"t0", $"t1", expr("INTERVAL 1 HOUR"))).as("g"))
    graft.ops.TemporalJoins.asOfJoin(grid, uniq, "user_id", "u", "g", "ets")
      .select($"user_id",
        date_format($"g", "yyyy-MM-dd HH:mm:ss").as("grid_ts"), $"last_value")
  }

  val queries: Map[String, Q] = Map(
    // Tumbling-window counts (window → one hash aggregate on trunc(ts)).
    "ev01_tumbling_hour_counts" -> { (s, dir) =>
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          $"event_type")
        .agg(count(lit(1)).as("n"), sumMoney($"value").as("sum_value"))
        .orderBy($"hour_start", $"event_type")
    },

    // Sliding-window counts — the A3 8-minute/1-minute window as a batch
    // query via `window()`. Each event lands in 8 windows (slide factor);
    // Spark expands then hash-aggregates, no per-window state kept.
    "ev02_sliding_window_counts" -> { (s, dir) =>
      import s.implicits._
      Tables.events(s, dir)
        .filter($"event_type" === "purchase")
        .groupBy(window($"ts", "8 minutes", "1 minute"))
        .agg(count(lit(1)).as("n"))
        .select(
          date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("w_start"),
          $"n")
        .orderBy($"w_start")
    },

    // Sessionization: 30-minute-gap sessions per user via lag + running
    // sum — one shuffle on user_id, everything else within partitions.
    "ev03_user_sessions" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val newSession =
        when($"prev_ts".isNull || $"ts" > $"prev_ts" + expr("INTERVAL 30 MINUTES"), 1L)
          .otherwise(0L)
      Tables.events(s, dir)
        .withColumn("prev_ts", lag($"ts", 1).over(w))
        .withColumn("sess_id", sum(newSession).over(w))
        .groupBy($"user_id", $"sess_id")
        .agg(count(lit(1)).as("sess_events"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_sessions"), max($"sess_events").as("max_session_events"))
        .orderBy($"user_id")
    },

    // Time-weighted average value (TWAP) per user — the time-series mean
    // that weights each observation by how long it was "current" (lead()
    // interval × value), the correct aggregate for irregularly-sampled
    // series where a plain avg over-weights bursts. All accumulation is
    // exact integer micros × cents (bounded far below Long overflow at
    // any realistic value·span product; DuckDB sums via int128 and casts
    // back); the single final division is guarded against zero spans so
    // both engines emit NULL rather than engine-specific Inf/NaN.
    "ev24_time_weighted_value" -> { (s, dir) =>
      import s.implicits._
      // ordering by epoch micros == ordering by ts (monotone bijection)
      val w = Window.partitionBy($"user_id").orderBy($"t_us", $"event_id")
      Tables.events(s, dir)
        .select($"user_id", $"event_id",
          cents($"value").as("vc"),
          unix_micros($"ts".cast("timestamp")).as("t_us"))
        .withColumn("next_us", lead($"t_us", 1).over(w))
        .filter($"next_us".isNotNull)
        .groupBy($"user_id")
        .agg(sum($"vc" * ($"next_us" - $"t_us")).as("weighted_cents_us"),
          sum($"next_us" - $"t_us").as("span_us"),
          count(lit(1)).as("n_intervals"))
        .withColumn("twap_cents",
          when($"span_us" > 0,
            $"weighted_cents_us".cast("double") / $"span_us"))
        .orderBy($"user_id")
    },

    // P3: the reference's decimal-hour projection (shared batch/stream
    // expression) aggregated per event type. The average is accumulated in
    // exact integer minutes-of-day (a float-accumulated avg is
    // summation-order-dependent and would flake the cross-engine hash
    // compare at higher partition counts), divided once at the end.
    "ev04_decimal_hour_profile" -> { (s, dir) =>
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"event_type")
        .agg(
          round(sum(hour($"ts") * 60 + minute($"ts")).cast("long")
            / count(lit(1)) / lit(60.0), 4).as("avg_hour"),
          count(lit(1)).as("n"))
        .orderBy($"event_type")
    },

    // Partition pruning: the 100 TB layout for time-series data is a
    // date-partitioned table — a day-filtered query must read 1/Nth of
    // the files, decided at PLANNING time from directory structure
    // (PartitionFilters in the scan node, asserted in PruningSpec), not
    // by scanning row groups. The partitioned rewrite is a one-time
    // layout build (build_partitioned_events).
    "ev07_partition_pruned_day" -> { (s, dir) =>
      import s.implicits._
      s.read.parquet(ensurePartitionedEvents(s, dir))
        .filter($"event_date" === lit("2024-01-05").cast("date"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sumMoney($"value").as("sum_value"))
        .orderBy($"event_type")
    },

    // As-of join: each event picks up its user's most recent order at or
    // before the event time (union + ordered window — one shuffle, no
    // replication; see TemporalJoins.asOfJoin). Orders are pre-collapsed
    // to one row per (custkey, orderdate) via max_by so the inclusive
    // as-of match is deterministic under same-day order ties.
    "ev05_asof_latest_order" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir).select($"event_id", $"user_id", $"ts")
      val latest = Tables.orders(s, dir)
        .groupBy($"o_custkey", $"o_orderdate")
        .agg(max($"o_orderkey").as("o_orderkey"),
          max_by($"o_totalprice", $"o_orderkey").as("o_totalprice"))
      graft.ops.TemporalJoins.asOfJoin(ev, latest,
          "user_id", "o_custkey", "ts", "o_orderdate")
        .select($"event_id", $"user_id", $"o_orderkey", $"o_totalprice")
        .orderBy($"event_id")
    },

    // Time-series resample + forward fill — see [[resampleFfill]].
    "ev08_resample_ffill" -> { (s, dir) =>
      import s.implicits._
      resampleFfill(Tables.events(s, dir), MaxResampleSpanHours)
        .orderBy($"user_id", $"grid_ts")
    },

    // Linear-interpolation gap fill — ev08's grid with the fill upgraded
    // from step (ffill) to linear: each hourly grid point takes
    // v0 + (v1−v0)·(g−t0)/(t1−t0) between its neighboring events, a
    // backfill before the first event and an ffill after the last (the
    // grid's edge cases). Both neighbors come from ONE as-of-join shape
    // each (backward + the new forward mirror, TemporalJoins
    // .asOfJoinForward) — two key-partitioned sort-window passes, no
    // inequality join, nothing replicated. The interpolation runs in
    // exact integer cents with an IEEE-identical floor((num::double)/den)
    // step, so both engines produce bit-equal doubles (num ≤ ~1e11 is
    // exactly representable; see the QueryUtil exactness rules).
    "ev25_linear_interp" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
      val uniq = ev.groupBy($"user_id".as("u"), $"ts".as("ets"))
        .agg(cents(max_by($"value", $"event_id")).as("vc"))
      val prev = uniq.select($"u", $"ets", $"vc".as("v0"),
        $"ets".cast("long").as("t0s"))
      val nxt = uniq.select($"u".as("u2"), $"ets".as("ets2"), $"vc".as("v1"),
        $"ets".cast("long").as("t1s"))
      val grid = ev.groupBy($"user_id")
        .agg(date_trunc("hour", min($"ts")).as("tmin"),
          date_trunc("hour", max($"ts")).as("tmax"))
        .select($"user_id", explode(sequence(
          greatest($"tmin", $"tmax" - expr(s"INTERVAL $MaxResampleSpanHours HOURS")),
          $"tmax", expr("INTERVAL 1 HOUR"))).as("g"))
      val withPrev = graft.ops.TemporalJoins.asOfJoin(
        grid, prev, "user_id", "u", "g", "ets")
      val both = graft.ops.TemporalJoins.asOfJoinForward(
        withPrev, nxt, "user_id", "u2", "g", "ets2")
      both.select($"user_id",
          date_format($"g", "yyyy-MM-dd HH:mm:ss").as("grid_ts"),
          (when($"t0s".isNull, $"v1")
            .when($"t1s".isNull, $"v0")
            .when($"t1s" === $"t0s", $"v0")
            .otherwise($"v0" + floor(
              (($"v1" - $"v0") * ($"g".cast("long") - $"t0s")).cast("double")
                / ($"t1s" - $"t0s")).cast("long"))
          ).cast("double").divide(lit(100.0)).as("interp_value"))
        .orderBy($"user_id", $"grid_ts")
    },

    // Weekly cohort retention: users grouped by first-active week, counted
    // per week-offset they return in — two aggregates and a join, no
    // iteration.
    "ev09_cohort_retention" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
      val cohort = ev.groupBy($"user_id")
        .agg(date_trunc("week", min($"ts")).as("cohort_week"))
      val active = ev.select($"user_id", date_trunc("week", $"ts").as("week")).distinct()
      cohort.join(active, "user_id")
        .groupBy($"cohort_week",
          floor(datediff($"week", $"cohort_week") / 7).cast("long").as("week_offset"))
        .agg(countDistinct($"user_id").as("n_users"))
        .select(date_format($"cohort_week", "yyyy-MM-dd").as("cohort_week"),
          $"week_offset", $"n_users")
        .orderBy($"cohort_week", $"week_offset")
    },

    // The Z-order (Morton) clustering key — certified bit-for-bit: the
    // oracle recomputes the interleave of (user_id, minute-of-day) with
    // plain shift/mask arithmetic over generate_series. The layout tool
    // built on it (rank-bucketize → interleave → range-partition+sort,
    // ops/Layout.zorderBy) is pinned in LayoutSpec: one sort order
    // serving predicates on either dimension is what replaces "keep two
    // sorted copies" at 100 TB.
    "ev10_zorder_curve" -> { (s, dir) =>
      import s.implicits._
      Tables.events(s, dir)
        .select($"event_id", $"user_id",
          (hour($"ts") * 60 + minute($"ts")).cast("long").as("minute_of_day"))
        .select($"event_id", $"user_id", $"minute_of_day",
          graft.functions.ZOrder64($"user_id", $"minute_of_day").as("z"))
        .orderBy($"event_id")
    },

    // Explicit ROWS-frame windows over each user's event stream: running
    // total plus a trailing 3-event rolling sum/max. One shuffle on
    // user_id; all three frames share one (partition, sort) pass. The
    // money sums run in exact integer cents inside the frame (order-
    // dependent float accumulation would flake the cross-engine hash at
    // higher partition counts), divided back to currency once per row.
    "ev11_rolling_user_value" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val roll3 = w.rowsBetween(-2, 0)
      Tables.events(s, dir)
        .withColumn("cum_value", sum(cents($"value")).over(cum) / 100.0)
        .withColumn("roll3_sum", sum(cents($"value")).over(roll3) / 100.0)
        .withColumn("roll3_max", max($"value").over(roll3))
        .select($"user_id", $"event_id", $"value",
          $"cum_value", $"roll3_sum", $"roll3_max")
        .orderBy($"user_id", $"event_id")
    },

    // Value-distribution histogram per event type: fixed-width 50-unit
    // buckets via floor(value/50) — one hash aggregate over (type,
    // bucket), the reporting shape that stays bounded at any row count
    // because cardinality is buckets × types, not rows. The bucket edge
    // divides a raw double by an exact constant (identical in both
    // engines) before floor.
    "ev15_value_histogram" -> { (s, dir) =>
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"event_type",
          (floor($"value" / 50.0) * 50).cast("long").as("bucket_lo"))
        .agg(count(lit(1)).as("n"), sumMoney($"value").as("sum_value"))
        .orderBy($"event_type", $"bucket_lo")
    },

    // Rolling active users (DAU / trailing-7-day WAU per day): rolling
    // COUNT DISTINCT is not a window aggregate, and the naive day-grid ⨯
    // daily-users range join is a nested-loop — the scale shape is a
    // bounded 7× MAP-SIDE fan-out instead: pre-shrink to distinct
    // (day, user), explode each pair onto the ≤7 report days it serves,
    // then one hash aggregate per report day. Volume entering the
    // shuffle is 7 × |distinct (day,user)|, independent of raw event
    // count; no nested-loop join anywhere.
    // Gaps-and-islands (consecutive-day activity streaks): the classic
    // sequential-SQL pattern done distributed — distinct (user, day),
    // one per-user window for row_number, and the island anchor
    // `day - rn` (consecutive days share it) turned into a plain hash
    // aggregate. One shuffle by user for the window, one by
    // (user, anchor) for the aggregate; date arithmetic is exact
    // integer, so streak bounds and lengths hash-match any engine.
    // Top-k by (length, user, start) is a deterministic total order.
    "ev19_activity_streaks" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"d")
      Tables.events(s, dir)
        .select($"user_id", to_date($"ts").as("d")).distinct()
        .withColumn("anchor", date_sub($"d", row_number().over(w)))
        .groupBy($"user_id", $"anchor")
        .agg(count(lit(1)).as("streak_days"),
          min($"d").as("s"), max($"d").as("e"))
        .select($"user_id", $"streak_days",
          date_format($"s", "yyyy-MM-dd").as("streak_start"),
          date_format($"e", "yyyy-MM-dd").as("streak_end"))
        .orderBy($"streak_days".desc, $"user_id", $"streak_start")
        .limit(100)
    },

    // Cumulative unique users (the growth-curve metric): running COUNT
    // DISTINCT is not a window aggregate, and re-scanning history per
    // day is quadratic — the scale shape is first-seen attribution: one
    // aggregate collapses each user to their first-activity day, a
    // second counts per-day debuts, and ONE ordered window over the
    // tiny per-day frame (≤ one row per day — the window input is
    // days, never events) accumulates the curve.
    "ev20_cumulative_uniques" -> { (s, dir) =>
      import s.implicits._
      val firstDay = Tables.events(s, dir)
        .groupBy($"user_id").agg(min(to_date($"ts")).as("d"))
      val w = Window.orderBy($"d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      firstDay.groupBy($"d").agg(count(lit(1)).as("new_users"))
        .withColumn("cum_users", sum($"new_users").over(w))
        .select(date_format($"d", "yyyy-MM-dd").as("day"),
          $"new_users", $"cum_users")
        .orderBy($"day")
    },

    // Run-length compression of per-user event-type runs (the telemetry
    // compression primitive): consecutive same-type events collapse to
    // (run, length) via the gaps-and-islands change-flag cumsum — one
    // key-partitioned window (single shuffle by user), then a hash
    // aggregate whose output cardinality is |event_type|, never rows.
    // The compression ratio is emitted in exact basis points (integer
    // floor-division), not a float.
    "ev21_event_runs" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val runs = Tables.events(s, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("chg",
          when(!(lag($"event_type", 1).over(w) <=> $"event_type"), 1L)
            .otherwise(0L))
        .withColumn("run_id", sum($"chg").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"run_id", $"event_type")
        .agg(count(lit(1)).as("len"))
      runs.groupBy($"event_type")
        .agg(sum($"len").as("n_events"), count(lit(1)).as("n_runs"),
          max($"len").as("max_run"))
        .withColumn("ratio_bp", expr("n_runs * 10000 div n_events"))
        .orderBy($"event_type")
    },

    // Majority-vote label aggregation (the RLHF/annotation-consolidation
    // shape): each user's noisy per-event "labels" collapse to the
    // modal event_type with an exact agreement score. ONE hash aggregate
    // over (user, label) — output cardinality |users|·|types| — then a
    // window over that aggregated frame picks the argmax (ties broken by
    // label value, a total order). Agreement in exact basis points.
    "ev22_majority_label" -> { (s, dir) =>
      import s.implicits._
      val votes = Tables.events(s, dir)
        .groupBy($"user_id", $"event_type")
        .agg(count(lit(1)).as("n_votes"))
      val w = Window.partitionBy($"user_id")
      votes
        .withColumn("n_total", sum($"n_votes").over(w))
        .withColumn("rn", row_number().over(
          w.orderBy($"n_votes".desc, $"event_type")))
        .filter($"rn" === 1)
        .select($"user_id", $"event_type".as("label"), $"n_votes",
          $"n_total", expr("n_votes * 10000 div n_total").as("agreement_bp"))
        .orderBy($"user_id")
    },

    "ev17_rolling_actives" -> { (s, dir) =>
      import s.implicits._
      val daily = Tables.events(s, dir)
        .select(to_date($"ts").as("d"), $"user_id").distinct()
      val grid = daily.select($"d").distinct()
      val fan = daily.select($"user_id", $"d",
        explode(expr("sequence(d, date_add(d, 6))")).as("rd"))
      val wau = fan.join(broadcast(grid.withColumnRenamed("d", "rd")), "rd")
        .groupBy($"rd")
        .agg(countDistinct($"user_id").as("wau"),
          countDistinct(when($"d" === $"rd", $"user_id")).as("dau"))
      wau.select(date_format($"rd", "yyyy-MM-dd").as("day"), $"dau", $"wau")
        .orderBy($"day")
    },

    // Interval RANGE window frame (the time-based sibling of ev11's ROWS
    // frames): per-user trailing-1-hour event count and exact money sum,
    // framed on truncated epoch seconds — rows at the same second share
    // a frame, so the result is tie-independent. One shuffle by user +
    // one sort, same as any per-user window.
    "ev18_range_frame_1h" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_sec")
        .rangeBetween(-3599, 0)
      Tables.events(s, dir)
        .select($"user_id", $"event_id", $"value",
          $"ts".cast("long").as("ts_sec"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_1h", (sum(cents($"value")).over(w) / 100.0))
        .select($"user_id", $"event_id", $"n_1h", $"sum_1h")
        .orderBy($"user_id", $"event_id")
    },

    // Behavioral transition matrix (first-order Markov counts): each
    // event paired with the user's previous event type via one lag
    // window, then a hash aggregate over (prev, curr) — output
    // cardinality is |types|², never rows. The transition share is
    // emitted in exact basis points (integer floor-division of two
    // longs, identical in both engines) rather than a float-divided
    // probability. The window shuffles by user once; at 100 TB that is
    // the same single exchange any per-user sequence analysis pays.
    "ev16_transition_matrix" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("prev_type", lag($"event_type", 1).over(w))
        .filter($"prev_type".isNotNull)
        .groupBy($"prev_type", $"event_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("share_bp",
          expr("n * 10000 div sum(n) over (partition by prev_type)"))
        .orderBy($"prev_type", $"event_type")
    },

    // Semi-structured property extraction: the JSON `props` payload
    // parsed per row (`get_json_object` stays in codegen; a malformed
    // document yields null, counted — never thrown), aggregated per
    // event type in exact integers. The 100 TB posture for JSON
    // columns: extract the needed keys at the scan and aggregate
    // narrow, never carry the raw string through a shuffle.
    "ev14_props_json" -> { (s, dir) =>
      import s.implicits._
      Tables.events(s, dir)
        .select($"event_type",
          get_json_object($"props", "$.k").cast("long").as("k"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"k").as("sum_k"),
          sum(when($"k".isNull, 1L).otherwise(0L)).as("n_unparsed"))
        .orderBy($"event_type")
    },

    // Funnel analysis (sequential pattern matching): per user, the
    // earliest view, the earliest click AT OR AFTER that view, and the
    // earliest purchase at or after that click — the order constraint is
    // what distinguishes a funnel from three independent mins. Each
    // stage is one key-partitioned aggregate over a filtered scan joined
    // to the previous stage's frame; no per-user event sorting, no
    // window state — the shape that holds when one stage's survivors are
    // a tiny fraction of the event volume.
    "ev13_funnel_stages" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("t_view"))
      val c = ev.filter($"event_type" === "click").join(v, "user_id")
        .filter($"ts" >= $"t_view")
        .groupBy($"user_id").agg(min($"ts").as("t_click"))
      val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
        .filter($"ts" >= $"t_click")
        .groupBy($"user_id").agg(min($"ts").as("t_purchase"))
      ev.select($"user_id").distinct()
        .join(v, Seq("user_id"), "left")
        .join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select($"user_id",
          when($"t_purchase".isNotNull, 3L).when($"t_click".isNotNull, 2L)
            .when($"t_view".isNotNull, 1L).otherwise(0L).as("funnel_stage"),
          date_format($"t_view", "yyyy-MM-dd HH:mm:ss").as("view_ts"),
          date_format($"t_click", "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          date_format($"t_purchase", "yyyy-MM-dd HH:mm:ss").as("purchase_ts"))
        .orderBy($"user_id")
    },

    // Rolling z-score anomaly detection: each event scored against its
    // user's trailing 25-event frame. The mean/variance come from exact
    // integer-cents sums (S, S², n) inside the frame, composed into
    // doubles only at the end — every float op (two divisions, one
    // subtraction, one sqrt) is exactly rounded over identical operands,
    // so the UNROUNDED z-score is bit-identical across engines.
    // Zero-variance frames (n=1 or constant values) score 0 by the
    // integer-exact guard, never NaN/inf.
    "ev12_rolling_zscore" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(-24, 0)
      val base = Tables.events(s, dir).withColumn("xc", cents($"value"))
        .withColumn("s", sum($"xc").over(w))
        .withColumn("s2", sum($"xc" * $"xc").over(w))
        .withColumn("n", count(lit(1)).over(w))
      base.select($"user_id", $"event_id", $"value",
          when($"n" * $"s2" - $"s" * $"s" > 0,
            ($"xc" - $"s".cast("double") / $"n") /
              sqrt(($"n" * $"s2" - $"s" * $"s").cast("double") / ($"n" * $"n")))
            .otherwise(0.0).as("z"))
        .orderBy($"user_id", $"event_id")
    },

    // Range join via binning: events attributed to the 1-hour window
    // opened by each purchase of the same user — an equi-join on
    // (user, hour-bin) instead of the nested loop a raw inequality join
    // plans (see TemporalJoins.rangeJoin).
    "ev06_purchase_attribution" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir).select($"user_id", $"ts")
      val windows = Tables.events(s, dir).filter($"event_type" === "purchase")
        .select($"event_id".as("purchase_id"), $"user_id".as("p_user"),
          $"ts".as("w_start"), ($"ts" + expr("INTERVAL 1 HOUR")).as("w_end"))
      graft.ops.TemporalJoins.rangeJoin(ev, windows,
          "user_id", "p_user", "ts", "w_start", "w_end", binSeconds = 3600)
        .groupBy($"purchase_id").agg(count(lit(1)).as("n_events"))
        .orderBy($"purchase_id")
    },

    // MULTI-TOUCH linear attribution — ev06's inverse direction and the
    // credit-splitting semantic last-touch misses: every click in the
    // hour BEFORE a purchase shares that purchase's value equally. The
    // touch set comes from the same binned range join (equi-join on
    // (user, hour-bin), never a nested loop); the per-purchase touch
    // count is a key-partitioned window (bounded by one purchase's
    // touches); the split is integer floor division — cents div
    // n_touches, remainder credited to no one — so credit sums are
    // exact in both engines, no float shares.
    "ev23_linear_attribution" -> { (s, dir) =>
      import s.implicits._
      val clicks = Tables.events(s, dir).filter($"event_type" === "click")
        .select($"event_id".as("click_id"), $"user_id", $"ts")
      val purchases = Tables.events(s, dir).filter($"event_type" === "purchase")
        .select($"event_id".as("purchase_id"), $"user_id".as("p_user"),
          cents($"value").as("p_cents"),
          ($"ts" - expr("INTERVAL 1 HOUR")).as("w_start"), $"ts".as("w_end"))
      val touches = graft.ops.TemporalJoins.rangeJoin(clicks, purchases,
          "user_id", "p_user", "ts", "w_start", "w_end", binSeconds = 3600)
        .withColumn("n_touches",
          count(lit(1)).over(Window.partitionBy($"purchase_id")))
      touches.groupBy($"user_id")
        .agg(countDistinct($"purchase_id").as("n_purchases_touched"),
          count(lit(1)).as("n_touches"),
          sum(expr("p_cents div n_touches")).as("credit_cents"))
        .orderBy($"user_id")
    })

  val oracles: Map[String, String] = Map(
    "ev01_tumbling_hour_counts" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
         |  event_type,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  ${sqlSumMoney("value")} AS sum_value
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY hour_start, event_type""".stripMargin,

    "ev02_sliding_window_counts" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS w_start, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT unnest(generate_series(date_trunc('minute', ts) - INTERVAL 7 MINUTE,
        |                                    date_trunc('minute', ts),
        |                                    INTERVAL 1 MINUTE)) AS ws
        |      FROM events WHERE event_type = 'purchase')
        |GROUP BY ws
        |ORDER BY w_start""".stripMargin,

    "ev03_user_sessions" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id,
        |         SUM(CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
        |                  THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess_id
        |  FROM g),
        |c AS (SELECT user_id, sess_id, COUNT(*) AS sess_events FROM s GROUP BY user_id, sess_id)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |       CAST(MAX(sess_events) AS BIGINT) AS max_session_events
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ev24_time_weighted_value" ->
      """WITH g AS (
        |  SELECT user_id,
        |         CAST(round(value * 100) AS BIGINT) AS vc,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
        |         lead(epoch_us(CAST(ts AS TIMESTAMP)))
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
        |  FROM events)
        |SELECT user_id,
        |  CAST(SUM(vc * (next_us - t_us)) AS BIGINT) AS weighted_cents_us,
        |  CAST(SUM(next_us - t_us) AS BIGINT) AS span_us,
        |  CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |  CASE WHEN SUM(next_us - t_us) > 0
        |       THEN CAST(SUM(vc * (next_us - t_us)) AS DOUBLE)
        |            / CAST(SUM(next_us - t_us) AS BIGINT)
        |       END AS twap_cents
        |FROM g WHERE next_us IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ev04_decimal_hour_profile" ->
      """SELECT event_type,
        |  round(CAST(SUM(hour(ts)*60 + minute(ts)) AS BIGINT) / COUNT(*) / 60.0, 4) AS avg_hour,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "ev07_partition_pruned_day" ->
      s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${sqlSumMoney("value")} AS sum_value
         |FROM events
         |WHERE CAST(ts AS DATE) = DATE '2024-01-05'
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin,

    // the greatest() clamp interpolates MaxResampleSpanHours (45 days) so
    // the Spark and oracle clamps cannot silently diverge
    "ev08_resample_ffill" ->
      s"""WITH uniq AS (
        |  SELECT user_id AS u, ts AS ets, max_by(value, event_id) AS last_value
        |  FROM events GROUP BY 1, 2),
        |span AS (
        |  SELECT user_id,
        |         greatest(date_trunc('hour', min(ts)),
        |                  date_trunc('hour', max(ts)) - INTERVAL $MaxResampleSpanHours HOUR) AS t0,
        |         date_trunc('hour', max(ts)) AS t1
        |  FROM events GROUP BY 1),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS g
        |  FROM span)
        |SELECT grid.user_id,
        |       strftime(grid.g, '%Y-%m-%d %H:%M:%S') AS grid_ts,
        |       uniq.last_value
        |FROM grid ASOF LEFT JOIN uniq
        |  ON grid.user_id = uniq.u AND grid.g >= uniq.ets
        |ORDER BY user_id, grid_ts""".stripMargin,

    // Both neighbors via DuckDB's native ASOF (backward `>=`, forward
    // `<=`); interpolation replayed in the identical integer-cents +
    // IEEE-floor arithmetic. The clamp interpolates MaxResampleSpanHours.
    "ev25_linear_interp" ->
      s"""WITH uniq AS (
        |  SELECT user_id AS u, ts AS ets,
        |         CAST(round(max_by(value, event_id)*100) AS BIGINT) AS vc
        |  FROM events GROUP BY 1, 2),
        |span AS (
        |  SELECT user_id,
        |         greatest(date_trunc('hour', min(ts)),
        |                  date_trunc('hour', max(ts)) - INTERVAL $MaxResampleSpanHours HOUR) AS t0,
        |         date_trunc('hour', max(ts)) AS t1
        |  FROM events GROUP BY 1),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS g
        |  FROM span),
        |p AS (
        |  SELECT grid.user_id, grid.g, uniq.vc AS v0,
        |         CAST(floor(epoch(uniq.ets)) AS BIGINT) AS t0s
        |  FROM grid ASOF LEFT JOIN uniq
        |    ON grid.user_id = uniq.u AND grid.g >= uniq.ets),
        |n AS (
        |  SELECT grid.user_id, grid.g, uniq.vc AS v1,
        |         CAST(floor(epoch(uniq.ets)) AS BIGINT) AS t1s
        |  FROM grid ASOF LEFT JOIN uniq
        |    ON grid.user_id = uniq.u AND grid.g <= uniq.ets)
        |SELECT p.user_id, strftime(p.g, '%Y-%m-%d %H:%M:%S') AS grid_ts,
        |  CAST(CASE WHEN t0s IS NULL THEN v1
        |       WHEN t1s IS NULL THEN v0
        |       WHEN t1s = t0s THEN v0
        |       ELSE v0 + CAST(floor(
        |         CAST((v1 - v0) * (CAST(floor(epoch(p.g)) AS BIGINT) - t0s) AS DOUBLE)
        |           / (t1s - t0s)) AS BIGINT) END AS DOUBLE) / 100.0 AS interp_value
        |FROM p JOIN n ON p.user_id = n.user_id AND p.g = n.g
        |ORDER BY p.user_id, grid_ts""".stripMargin,

    "ev09_cohort_retention" ->
      """WITH cohort AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cw FROM events GROUP BY 1),
        |active AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
        |SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
        |       CAST(date_diff('day', cw, w) // 7 AS BIGINT) AS week_offset,
        |       CAST(COUNT(DISTINCT cohort.user_id) AS BIGINT) AS n_users
        |FROM cohort JOIN active ON cohort.user_id = active.user_id
        |GROUP BY 1, 2
        |ORDER BY cohort_week, week_offset""".stripMargin,

    // Independent recompute of the Morton interleave: per-bit shift/mask
    // arithmetic summed over generate_series — no shared code with the
    // Scala bit-spread, so a hash match certifies the key bit-for-bit.
    "ev10_zorder_curve" ->
      """SELECT event_id, user_id,
        |  CAST(hour(ts)*60 + minute(ts) AS BIGINT) AS minute_of_day,
        |  CAST((SELECT SUM((((user_id >> t.i) & 1) << (2*t.i))
        |              + ((((hour(ts)*60 + minute(ts)) >> t.i) & 1) << (2*t.i + 1)))
        |        FROM generate_series(0, 31) t(i)) AS BIGINT) AS z
        |FROM events
        |ORDER BY event_id""".stripMargin,

    // DuckDB's native ASOF JOIN checks the window-based implementation
    // against an independent one.
    "ev05_asof_latest_order" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderdate,
        |         CAST(max(o_orderkey) AS BIGINT) AS o_orderkey,
        |         max_by(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, r.o_orderkey, r.o_totalprice
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    // the raw inequality join, the identical window count, and the same
    // integer floor-division credit split
    "ev23_linear_attribution" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user,
        |        CAST(round(value*100) AS BIGINT) AS p_cents, ts AS p_ts
        |      FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT c.user_id, c.click_id, p.purchase_id, p.p_cents,
        |        COUNT(*) OVER (PARTITION BY p.purchase_id) AS n_touches
        |      FROM c JOIN p ON c.user_id = p.p_user
        |        AND c.ts >= p.p_ts - INTERVAL 1 HOUR AND c.ts < p.p_ts)
        |SELECT user_id,
        |  CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases_touched,
        |  CAST(COUNT(*) AS BIGINT) AS n_touches,
        |  CAST(SUM(p_cents // n_touches) AS BIGINT) AS credit_cents
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,

    // The oracle runs the raw inequality join the binned implementation
    // replaces.
    "ev06_purchase_attribution" ->
      """WITH w AS (SELECT event_id AS purchase_id, user_id AS p_user,
        |                  ts AS w_start, ts + INTERVAL 1 HOUR AS w_end
        |           FROM events WHERE event_type = 'purchase')
        |SELECT w.purchase_id, CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM w JOIN events e
        |  ON e.user_id = w.p_user AND e.ts >= w.w_start AND e.ts < w.w_end
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "ev15_value_histogram" ->
      s"""SELECT event_type,
         |  CAST(floor(value/50.0) * 50 AS BIGINT) AS bucket_lo,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  ${sqlSumMoney("value")} AS sum_value
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY event_type, bucket_lo""".stripMargin,

    // same islands sequentially: row_number per user over distinct
    // days, `d - rn` anchor, aggregate per island
    "ev19_activity_streaks" ->
      """WITH daily AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |isl AS (
        |  SELECT user_id, d,
        |    d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
        |             AS INTEGER) AS anchor
        |  FROM daily)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak_days,
        |  strftime(MIN(d), '%Y-%m-%d') AS streak_start,
        |  strftime(MAX(d), '%Y-%m-%d') AS streak_end
        |FROM isl GROUP BY user_id, anchor
        |ORDER BY streak_days DESC, user_id, streak_start
        |LIMIT 100""".stripMargin,

    // first-seen attribution replayed sequentially; the running sum is
    // exact integers
    "ev20_cumulative_uniques" ->
      """WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS d
        |           FROM events GROUP BY 1),
        |n AS (SELECT d, COUNT(*) AS new_users FROM f GROUP BY 1)
        |SELECT strftime(d, '%Y-%m-%d') AS day,
        |  CAST(new_users AS BIGINT) AS new_users,
        |  CAST(SUM(new_users) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM n ORDER BY day""".stripMargin,

    // same islands cumsum sequentially; IS DISTINCT FROM mirrors Spark's
    // null-safe <=> on the first row of each user
    "ev21_event_runs" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id)
        |      IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_type,
        |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM x),
        |g AS (SELECT user_id, run_id, event_type, COUNT(*) AS len
        |      FROM r GROUP BY 1, 2, 3)
        |SELECT event_type, CAST(SUM(len) AS BIGINT) AS n_events,
        |  CAST(COUNT(*) AS BIGINT) AS n_runs,
        |  CAST(MAX(len) AS BIGINT) AS max_run,
        |  CAST((COUNT(*) * 10000) // CAST(SUM(len) AS BIGINT) AS BIGINT)
        |    AS ratio_bp
        |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin,

    // identical argmax over the aggregated votes, ties by label value
    "ev22_majority_label" ->
      """WITH v AS (SELECT user_id, event_type, COUNT(*) AS n_votes
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, event_type, n_votes,
        |    SUM(n_votes) OVER (PARTITION BY user_id) AS n_total,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY n_votes DESC, event_type) AS rn
        |  FROM v)
        |SELECT user_id, event_type AS label, CAST(n_votes AS BIGINT) AS n_votes,
        |  CAST(n_total AS BIGINT) AS n_total,
        |  CAST((n_votes * 10000) // CAST(n_total AS BIGINT) AS BIGINT)
        |    AS agreement_bp
        |FROM t WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "ev17_rolling_actives" ->
      """WITH daily AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |grid AS (SELECT DISTINCT d FROM daily)
        |SELECT strftime(g.d, '%Y-%m-%d') AS day,
        |  CAST(COUNT(DISTINCT CASE WHEN dy.d = g.d THEN dy.user_id END)
        |    AS BIGINT) AS dau,
        |  CAST(COUNT(DISTINCT dy.user_id) AS BIGINT) AS wau
        |FROM grid g JOIN daily dy ON dy.d BETWEEN g.d - 6 AND g.d
        |GROUP BY 1 ORDER BY day""".stripMargin,

    "ev18_range_frame_1h" ->
      """SELECT user_id, event_id,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(SUM(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT)/100.0
        |    AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "ev16_transition_matrix" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events),
        |t AS (
        |  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, event_type, n,
        |  CAST((n * 10000) // CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT)
        |    AS BIGINT) AS share_bp
        |FROM t ORDER BY prev_type, event_type""".stripMargin,

    "ev14_props_json" ->
      """SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(SUM(CASE WHEN json_extract(props, '$.k') IS NULL
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_unparsed
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "ev13_funnel_stages" ->
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click
        |      FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts >= v.t_view GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
        |      FROM events e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts >= c.t_click GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
        |            WHEN t_click IS NOT NULL THEN 2
        |            WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS funnel_stage,
        |  strftime(t_view, '%Y-%m-%d %H:%M:%S') AS view_ts,
        |  strftime(t_click, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |  strftime(t_purchase, '%Y-%m-%d %H:%M:%S') AS purchase_ts
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |       LEFT JOIN p USING (user_id)
        |ORDER BY u.user_id""".stripMargin,

    // DuckDB's SUM(BIGINT) is int128; the > 0 guard compares exact
    // integers and the casts to DOUBLE are exact (all magnitudes < 2^53)
    "ev12_rolling_zscore" ->
      """WITH b AS (SELECT user_id, event_id, ts, value,
        |                  CAST(round(value*100) AS BIGINT) AS xc FROM events),
        |f AS (SELECT user_id, event_id, value, xc,
        |        SUM(xc) OVER w AS s, SUM(xc*xc) OVER w AS s2,
        |        COUNT(*) OVER w AS n
        |      FROM b
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN 24 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, value,
        |  CASE WHEN n*s2 - s*s > 0
        |       THEN (xc - CAST(s AS DOUBLE)/n)
        |            / sqrt(CAST(n*s2 - s*s AS DOUBLE)/(n*n))
        |       ELSE 0.0 END AS z
        |FROM f
        |ORDER BY user_id, event_id""".stripMargin,

    "ev11_rolling_user_value" ->
      """SELECT user_id, event_id, value,
        |  CAST(SUM(CAST(round(value*100) AS BIGINT)) OVER
        |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)/100.0
        |    AS cum_value,
        |  CAST(SUM(CAST(round(value*100) AS BIGINT)) OVER
        |    (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)/100.0
        |    AS roll3_sum,
        |  MAX(value) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll3_max
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin)
}
