package graft

import org.apache.spark.sql.functions._
import graft.ops.RelationalOps

/** Time-window aggregation over the `events` fixture (SURVEY.md §2.8).
  * Batch-first: `window($"ts", ...)` is a plain expression, so the same
  * logic runs under Structured Streaming with a watermark (see
  * [[graft.streaming.StreamingWindows]]); the batch form is what the
  * DuckDB oracle checks. Window starts are emitted as epoch seconds —
  * never raw timestamps — for cross-engine parity.
  */
object WindowQueries {

  val all: Seq[GQuery] = Seq(

    // ---- tumbling 1h window --------------------------------------------
    GQuery("q27_window_tumbling",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100, 0).cast("long")).as("sum_value_cents"))
        .select(unix_timestamp(col("w.start")).as("w_start"),
          col("event_type"), col("n"), col("sum_value_cents"))
        .orderBy("w_start", "event_type"),
      Some("""SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS w_start,
             |  event_type, count(*) AS n,
             |  CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS sum_value_cents
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "tumbling window; streaming-ready (same expr under readStream+watermark)"),

    // ---- sliding 1h window, 30min slide ---------------------------------
    GQuery("q28_window_sliding",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("w.start")).as("w_start"), col("n"))
        .orderBy("w_start"),
      // each event belongs to 2 sliding windows: starts at
      // floor(t/1800)*1800 and that minus 1800 — replicated via unnest
      Some("""SELECT w_start, count(*) AS n FROM (
             |  SELECT CAST(floor(epoch(ts)/1800)*1800 - off AS BIGINT) AS w_start
             |  FROM events, (SELECT unnest([0, 1800]) AS off))
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "sliding window: Spark window(ts,'1 hour','30 minutes'); oracle expands the 2 covering windows"),

    // ---- session-less per-user hourly activity (fact for streaming spec)
    GQuery("q29_user_hourly",
      (s, d) => Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("user_id"),
          date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_timestamp(col("h")).as("h_epoch"),
          col("n_events"))
        .orderBy("user_id", "h_epoch"),
      Some("""SELECT user_id,
             |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h_epoch,
             |  count(*) AS n_events
             |FROM events WHERE event_type IN ('click', 'purchase')
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "per-key windowed agg — the mapGroupsWithState-shaped workload, batch-checked"),

    // ---- session windows (30 min inactivity gap) ------------------------
    GQuery("q53_session_window",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100, 0).cast("long")).as("sum_value_cents"))
        .select(col("user_id"),
          unix_timestamp(col("w.start")).as("s_start"),
          col("n_events"), col("sum_value_cents"))
        .orderBy("user_id", "s_start"),
      // oracle: classic gaps-and-islands — a new session starts when the
      // gap from the previous event reaches the 30 min timeout (Spark
      // merges only strictly-overlapping [start, last+gap) windows)
      Some("""WITH e AS (SELECT user_id, epoch(ts) AS t, value FROM events),
             |l AS (SELECT user_id, t, value,
             |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
             |               >= 1800 OR
             |             lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
             |        THEN 1 ELSE 0 END AS new_s
             |      FROM e),
             |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY t
             |        ROWS UNBOUNDED PRECEDING) AS sid
             |      FROM l)
             |SELECT user_id, CAST(floor(min(t)) AS BIGINT) AS s_start,
             |  count(*) AS n_events,
             |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_value_cents
             |FROM s GROUP BY user_id, sid ORDER BY 1, 2""".stripMargin),
      doc = "session_window(ts, 30 min) — state-merging session agg, partitioned by user (streaming-ready); oracle via gaps-and-islands"),

    // ---- rolling window frame (per-user moving average) -----------------
    GQuery("q54_rolling_avg",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-2, Window.currentRow)
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            unix_timestamp(col("ts")).as("t"),
            round(avg(col("value")).over(w), 4).as("rolling_avg"))
          .orderBy("user_id", "t", "event_id")
      },
      Some("""SELECT user_id, event_id,
             |  CAST(floor(epoch(ts)) AS BIGINT) AS t,
             |  round(avg(value) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
             |    AS rolling_avg
             |FROM events ORDER BY user_id, t, event_id""".stripMargin),
      doc = "per-user rolling-3 moving average — PARTITIONED window frame (shuffle on user_id only, no global sort)"),

    // ---- as-of join: latest prior view per click -------------------------
    GQuery("q65_asof_join",
      (s, d) => {
        val e = Tables.events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts", "value")
        // unique per (key, time): required for a deterministic match
        val views = e.filter(col("event_type") === "view")
          .groupBy("user_id", "ts").agg(max("value").as("vval"))
        RelationalOps.asOfJoin(clicks, views, "user_id", "ts")
          .select(col("event_id"),
            round(col("value") * 100, 0).cast("long").as("click_cents"),
            round(coalesce(col("asof.vval"), lit(0.0)) * 100, 0).cast("long")
              .as("view_cents"),
            coalesce(unix_timestamp(col("asof.ts")), lit(-1L)).as("view_epoch"))
          .orderBy("event_id")
      },
      Some("""WITH clicks AS (SELECT event_id, user_id, ts, value FROM events
             |                WHERE event_type = 'click'),
             |views AS (SELECT user_id, ts, max(value) AS vval FROM events
             |          WHERE event_type = 'view' GROUP BY 1, 2)
             |SELECT c.event_id,
             |  CAST(round(c.value*100, 0) AS BIGINT) AS click_cents,
             |  CAST(round(coalesce(v.vval, 0)*100, 0) AS BIGINT) AS view_cents,
             |  coalesce(CAST(floor(epoch(v.ts)) AS BIGINT), -1) AS view_epoch
             |FROM clicks c ASOF LEFT JOIN views v
             |  ON c.user_id = v.user_id AND c.ts >= v.ts
             |ORDER BY event_id""".stripMargin),
      doc = "as-of join (each click ↦ latest prior view per user): union + one running last() window per key — single shuffle, no range-join explosion; oracle uses DuckDB's native ASOF LEFT JOIN"),

    // ---- band (interval) join: views within 60s before any click ---------
    GQuery("q67_band_join",
      (s, d) => {
        val e = Tables.events(s, d)
        // no equi key on purpose — this is the pure interval-overlap case
        // (cross-user attribution window). Times at second granularity so
        // both engines compare identical integers (nanos-era fixtures:
        // Spark truncates to micros while DuckDB keeps ns — flooring to
        // epoch seconds removes any cross-engine sub-second skew; a
        // no-op relabel on the current micros fixtures).
        val clicks = e.filter(col("event_type") === "click")
          .select(col("event_id").as("c_id"),
            unix_timestamp(col("ts")).as("c_sec"))
        val views = e.filter(col("event_type") === "view")
          .select(col("event_id").as("v_id"),
            unix_timestamp(col("ts")).as("v_sec"))
        RelationalOps.bandJoin(clicks, views, "c_sec", "v_sec", 60L)
          .select(col("c_id"), col("v_id"),
            (col("c_sec") - col("v_sec")).as("lag_sec"))
          .orderBy("c_id", "v_id")
      },
      Some("""WITH c AS (SELECT event_id AS c_id,
             |             CAST(floor(epoch(ts)) AS BIGINT) AS c_sec
             |           FROM events WHERE event_type = 'click'),
             |v AS (SELECT event_id AS v_id,
             |        CAST(floor(epoch(ts)) AS BIGINT) AS v_sec
             |      FROM events WHERE event_type = 'view')
             |SELECT c_id, v_id, c_sec - v_sec AS lag_sec
             |FROM c JOIN v ON v_sec BETWEEN c_sec - 60 AND c_sec
             |ORDER BY c_id, v_id""".stripMargin),
      doc = "band/interval join with no equi key (views ≤60s before each click): div-bucketed equi join + exact filter — fixed 2× replication instead of the O(n·m) crossJoin, one shuffle on the bucket key"),

    // ---- analytic window-function suite ----------------------------------
    GQuery("q74_window_analytics",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // the full §2.5 analytic family over ONE partitioned window:
        // a single shuffle on user_id serves lag/lead/ntile/percent_rank/
        // cume_dist/running-sum together (Spark fuses same-window
        // functions into one WindowExec pass — never one shuffle each)
        val e = Tables.events(s, d).select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("t"),
          round(col("value") * 100, 0).cast("long").as("cents"))
        val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
        e.select(col("event_id"), col("user_id"),
            lag("cents", 1).over(w).as("prev_cents"),
            lead("cents", 1).over(w).as("next_cents"),
            ntile(4).over(w).cast("long").as("quartile"),
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"),
            sum("cents").over(w).as("run_cents"))
          .orderBy("user_id", "t", "event_id")
      },
      Some("""SELECT event_id, user_id,
             |  lag(cents, 1) OVER w AS prev_cents,
             |  lead(cents, 1) OVER w AS next_cents,
             |  ntile(4) OVER w AS quartile,
             |  round(percent_rank() OVER w, 6) AS pr,
             |  round(cume_dist() OVER w, 6) AS cd,
             |  CAST(sum(cents) OVER w AS BIGINT) AS run_cents
             |FROM (SELECT event_id, user_id,
             |        CAST(floor(epoch(ts)) AS BIGINT) AS t,
             |        CAST(round(value * 100, 0) AS BIGINT) AS cents
             |      FROM events)
             |WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
             |ORDER BY user_id, t, event_id""".stripMargin),
      doc = "analytic window family (lag/lead/ntile/percent_rank/cume_dist/running sum) fused into ONE WindowExec pass — a single user_id shuffle serves all six, no global sort"),

    // ---- streaming-in-the-oracle-gate (a REAL readStream run) ------------
    GQuery("q106_stream_batch_parity",
      (s, d) => {
        // The r20 streaming promotion: every prior round proved
        // batch/stream agreement only in env-gated suites — this entry
        // runs the ACTUAL Structured Streaming pipeline (readStream →
        // watermark → tumbling agg → Append memory sink) to completion
        // under Trigger.AvailableNow, so the driver's DuckDB gate
        // value-checks a real streaming execution every round. Append
        // emits exactly the windows whose end the final watermark
        // passed: watermark = max event time (ms, floored) − 2h,
        // boundary INCLUSIVE — pinned empirically by StreamParitySpec's
        // crafted-tie fixture and encoded as the oracle's inequality.
        // Sink names are per-invocation (the memory sink registers a
        // temp view; bench runs fn repeatedly). The sink rows are
        // ALREADY driver-resident (that is what a memory sink is), so
        // the view is collected into a LocalRelation and dropped —
        // repeated runs leak neither catalog entries nor sink copies.
        // Bounded await: a wedged stream must read as a loud per-query
        // error in errors.json, never an indefinite gate hang.
        val sink = s"q106_sink_${System.nanoTime()}"
        // state-sized cloned session (StreamingWindows.StateShufflePartitions):
        // one state store — and one delta-file commit per microbatch — per
        // shuffle partition, so the stream's partitioning follows its
        // ~dozens-of-keys state cardinality instead of the session's
        // core-derived default. The memory-sink view registers in the
        // clone's catalog; the result rows are re-anchored on the caller's
        // session below, so nothing else changes hands. Values are
        // partition-count-independent (integer-cents sums, watermark-
        // determined window set) — oracle-checked as always.
        val ss = graft.streaming.StreamingWindows.stateSizedSession(s)
        val q = graft.streaming.StreamingWindows
          .runTumblingAvailableNow(ss, d, sink)
        // the sink view is dropped in the FINALLY (guarded — it may not
        // exist if the stream died before its first commit): on a failed
        // or timed-out run the uniquely-named view and its
        // driver-resident rows would otherwise accumulate across bench
        // re-runs of a failing query (ADVICE r20)
        try {
          if (!q.awaitTermination(600000L))
            throw new IllegalStateException(
              "q106: streaming run did not terminate within 10 minutes")
          val sinkDf = ss.table(sink)
          s.createDataFrame(sinkDf.collectAsList(), sinkDf.schema)
            .orderBy("w_start", "event_type")
        } finally {
          try q.stop()
          finally {
            try ss.catalog.dropTempView(sink)
            catch { case _: Throwable => () }
          }
        }
      },
      Some("""WITH wm AS (SELECT CAST(epoch_ms(max(ts)) AS BIGINT)
             |              - 7200000 AS wm_ms FROM events),
             |b AS (SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
             |        AS w_start, event_type,
             |        CAST(count(*) AS BIGINT) AS n,
             |        CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
             |             AS BIGINT) AS sum_value_cents
             |      FROM events GROUP BY 1, 2)
             |SELECT b.* FROM b, wm
             |WHERE (b.w_start + 3600) * 1000 <= wm.wm_ms
             |ORDER BY w_start, event_type""".stripMargin),
      doc = "streaming brought INTO the oracle gate: a real readStream -> watermark -> tumbling-agg -> Append-sink pipeline runs to completion (Trigger.AvailableNow, watermark-flush batch included) and its emitted closed-window set is value-checked against DuckDB's batch recomputation restricted by the exact eviction inequality (window end <= max-event-time-ms - 2h, boundary inclusive — pinned by StreamParitySpec)")
  )
}
