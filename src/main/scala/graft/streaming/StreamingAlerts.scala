package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.{Materialize, Q, Tables}
import graft.llm.{Curation, Dedup, Similarity}
import graft.pipeline.Telemetry
import graft.queries.Sketches

/** Structured Streaming variant of the alerting pipeline (SURVEY §2.10:
  * the reference's "deployment" is a batch job simulating daily cadence,
  * /root/reference/scripts/06_deployment_code.py:7-15 — this is the
  * true streaming shape it simulates).
  *
  * Two stream operators:
  *  - `dailyAlertCounts`: watermarked tumbling 1-day window aggregation
  *    (late data beyond 1 day dropped; state bounded by watermark).
  *  - `rollingAlerts`: per-user rolling 7-observation mean via
  *    `flatMapGroupsWithState` — the incremental form of the batch
  *    window `rowsBetween(-6, 0)`; state is a bounded ring of the last
  *    6 values per user, so executor state is O(users · 6), not
  *    O(history). Within a trigger the group's rows are sorted by
  *    (ts, event_id), matching the batch window's total order.
  *
  * Parity with the batch path is asserted in StreamingSpec (single
  * batch through MemoryStream == Telemetry.features/scored output).
  */
object StreamingAlerts {

  /** `events` as an unbounded source: same ts normalization as the
    * batch loader (`Tables.events` — nanos-as-long OR TIMESTAMP_NTZ,
    * whichever this testdata generation shipped), but through
    * `readStream` — parquet streaming sources need an explicit schema,
    * taken from the schema resolver (`Tables.parquet`: one footer read
    * per file listing, no inference pass over the data). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.parquet(spark, s"$dir/events.parquet").schema
    // the table is a single parquet FILE; the streaming file source
    // requires a directory or a glob pattern (a bare file path makes it
    // derive basePath = the file and fail), so address it as a glob —
    // the source then lists the parent dir and matches the one file
    Tables.normalizeTs(spark.readStream.schema(schema).parquet(s"$dir/events.*"))
  }

  /** The streaming path as a DRIVER-DECLARED query: the tumbling-window
    * aggregation runs through the real Structured Streaming engine
    * (StateStore, watermark, micro-batch planner) under
    * `Trigger.AvailableNow` into a memory sink, then the finished table
    * is returned as the batch result. Complete mode because the finite
    * replay must emit every window, including the last still-open one.
    * On an unbounded source the same plan runs in append mode with the
    * watermark closing windows — StreamingSpec covers that shape; this
    * query proves the streaming engine computes the batch-identical
    * answer (same oracle a batch GROUP BY day would use). */
  val defs: Seq[Q] = Seq(
    Q("streaming_daily_counts",
      s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         |       COUNT(*) AS n_obs,
         |       CAST(SUM(CASE WHEN value >= ${Telemetry.Tau} THEN 1 ELSE 0 END) AS BIGINT) AS n_alerts,
         |       CAST(SUM(CASE WHEN event_type = '${Telemetry.FailureType}' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val name = "stream_daily_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = dailyAlertCounts(eventsStream(s, dir), tau = Telemetry.Tau)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy(col("day"))
    },

    // HOPPING (sliding) windows (r10 s4): 1-hour windows every 15
    // minutes — each event lands in EXACTLY 4 overlapping windows
    // (slide divides length; Spark plans this as a 4-row explode
    // before the window-keyed aggregate, and the oracle replays that
    // same decomposition arithmetically: window starts are the 4
    // slide-slots at or before the event). Watermarked APPEND mode —
    // a window emits once the watermark passes its end, so the finite
    // replay yields windows with end ≤ max ts − 1 day (the same
    // finalization contract the session-window query pins). The oracle
    // ms-truncates the cutoff because Spark's event-time watermark is
    // millisecond-floored (EventTimeWatermark tracks ms longs) — the
    // same form the left-join oracle below uses. State is
    // |open windows| = 4/slide × horizon, independent of data rate.
    Q("streaming_hopping_counts",
      """WITH k AS (SELECT unnest([0, 1, 2, 3]) AS k),
        |w AS (
        |  SELECT ((epoch_us(ts) // 900000000) - k.k) * 900000000 AS ws_us,
        |         value
        |  FROM events CROSS JOIN k),
        |wm AS (SELECT ((epoch_us(MAX(ts)) // 1000) - 86400000) * 1000 AS w_us FROM events)
        |SELECT make_timestamp(ws_us) AS w_start,
        |       make_timestamp(ws_us + 3600000000) AS w_end,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
        |FROM w CROSS JOIN wm
        |WHERE ws_us + 3600000000 <= wm.w_us
        |GROUP BY ws_us
        |ORDER BY w_start""".stripMargin) { (s, dir) =>
      val name = "stream_hop_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = eventsStream(s, dir)
        .select(col("ts"), col("value"))
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(col("value").cast("decimal(30,6)")).cast("double").as("total_value"))
        .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
          col("n_events"), col("total_value"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy(col("w_start"))
    },

    // The STATEFUL streaming path under the oracle: the
    // flatMapGroupsWithState incremental rolling mean (bounded ring of
    // 6 values per user) replayed over the finite source must
    // hash-match the BATCH window pipeline's oracle SQL — same
    // filtered timeline, same (ts, event_id) order, same in-order
    // mean accumulation, same 6-dp HALF_UP rounding before the
    // threshold compare. This is the strongest equivalence claim in
    // the module: two entirely different execution engines (WindowExec
    // vs per-group state machine) pinned to one answer by the driver's
    // cross-engine hash.
    Q("streaming_rolling_scores",
      s"${Telemetry.scoredSql()} " +
        "SELECT event_id, user_id, value, value_mean_7, alert FROM scored " +
        "ORDER BY event_id") { (s, dir) =>
      val name = "stream_roll_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = rollingAlerts(s, eventsStream(s, dir), Telemetry.Tau)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy(col("event_id"))
    },

    // STREAM-STATIC enrichment join under the oracle (round 7): the
    // standard serving-time shape — an unbounded stream joined per
    // micro-batch to a bounded dimension (here a per-user profile
    // aggregated in batch; at scale the static side broadcasts, and
    // the stream side never shuffles on a stream-static equi-join).
    // The finite replay must hash-match the batch join.
    Q("streaming_enrich_join",
      """WITH prof AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_obs,
        |         ROUND(AVG(value), 6) + 0 AS user_avg
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.user_id, p.n_obs, p.user_avg,
        |       CASE WHEN e.value > p.user_avg THEN 1 ELSE 0 END AS above_avg
        |FROM events e JOIN prof p USING (user_id)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val static = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_obs"),
          (round(avg(col("value")), 6) + lit(0.0)).as("user_avg"))
      val name = "stream_enrich_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = eventsStream(s, dir)
        .select(col("event_id"), col("user_id"), col("value"))
        .join(static, "user_id")
        .select(col("event_id"), col("user_id"), col("n_obs"), col("user_avg"),
          when(col("value") > col("user_avg"), 1).otherwise(0).as("above_avg"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy(col("event_id"))
    },

    // STREAM-STREAM interval join under the oracle (round 7): two
    // unbounded sides — per-user raw-threshold alerts joined to the
    // error events that follow within 1 day. Both sides watermarked so
    // the join state ages out (bounded by rate × horizon); inner
    // matches emit as they occur, so the finite replay equals the
    // batch interval join the oracle runs. The half-open bound
    // (>) / (<=) is pinned on both engines.
    Q("streaming_alert_error_join",
      s"""WITH a AS (
         |  SELECT user_id, event_id AS alert_id, ts AS alert_ts
         |  FROM events WHERE value >= ${Telemetry.Tau}),
         |e AS (
         |  SELECT user_id, event_id AS error_id, ts AS error_ts
         |  FROM events WHERE event_type = '${Telemetry.FailureType}')
         |SELECT a.user_id, a.alert_id, e.error_id
         |FROM a JOIN e ON a.user_id = e.user_id
         | AND e.error_ts > a.alert_ts
         | AND e.error_ts <= a.alert_ts + INTERVAL 1 DAY
         |ORDER BY alert_id, error_id""".stripMargin) { (s, dir) =>
      val alerts = eventsStream(s, dir)
        .filter(col("value") >= Telemetry.Tau)
        .select(col("user_id"), col("event_id").as("alert_id"), col("ts").as("alert_ts"))
        .withWatermark("alert_ts", "1 day")
      val errors = eventsStream(s, dir)
        .filter(col("event_type") === Telemetry.FailureType)
        .select(col("user_id").as("e_user_id"), col("event_id").as("error_id"),
          col("ts").as("error_ts"))
        .withWatermark("error_ts", "1 day")
      val name = "stream_ss_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = alerts.join(errors,
          col("user_id") === col("e_user_id") &&
            col("error_ts") > col("alert_ts") &&
            col("error_ts") <= col("alert_ts") + expr("INTERVAL 1 DAY"))
        .select(col("user_id"), col("alert_id"), col("error_id"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy(col("alert_id"), col("error_id"))
    },

    // Stream-stream LEFT OUTER interval join (r10 s4): the alert keeps
    // flowing even when NO error follows it — the semantics the inner
    // form can't express. Matched pairs emit as they occur (inner
    // behavior); an UNMATCHED alert emits null-extended only when the
    // watermark proves no future match is possible (its whole match
    // window alert_ts + 1 day lies behind the watermark) — Spark runs
    // the no-data batch after the last data batch precisely so this
    // final eviction happens under AvailableNow. The oracle replays
    // both populations: all matched pairs, plus unmatched alerts whose
    // window closed against the final GLOBAL watermark — and that
    // watermark is min over the two streams' watermark NODES, which
    // sit AFTER their filters, so each side's max is the max of the
    // FILTERED rows (the first draft used the raw events max and
    // over-emitted exactly the alerts between the two cutoffs —
    // empirically pinned: cutoff = min(max alert_ts, max error_ts)
    // − 2 days, ms-truncated like the engine's watermark).
    // error_id is COALESCEd to −1 on both sides (a NULL→NaN column can
    // never hash-match — the verify-skill gotcha). State is the
    // in-window alert/error rows, watermark-bounded.
    Q("streaming_alert_error_left_join",
      s"""WITH a AS (
         |  SELECT user_id, event_id AS alert_id, ts AS alert_ts
         |  FROM events WHERE value >= ${Telemetry.Tau}),
         |e AS (
         |  SELECT user_id, event_id AS error_id, ts AS error_ts
         |  FROM events WHERE event_type = '${Telemetry.FailureType}'),
         |wm AS (
         |  SELECT ((least((SELECT epoch_us(MAX(alert_ts)) FROM a),
         |                 (SELECT epoch_us(MAX(error_ts)) FROM e))
         |           // 1000) - 86400000) * 1000 AS w_us)
         |SELECT a.user_id, a.alert_id, e.error_id
         |FROM a JOIN e ON a.user_id = e.user_id
         | AND e.error_ts > a.alert_ts
         | AND e.error_ts <= a.alert_ts + INTERVAL 1 DAY
         |UNION ALL
         |SELECT a.user_id, a.alert_id, -1 AS error_id
         |FROM a CROSS JOIN wm
         |WHERE NOT EXISTS (
         |    SELECT 1 FROM e
         |    WHERE e.user_id = a.user_id
         |      AND e.error_ts > a.alert_ts
         |      AND e.error_ts <= a.alert_ts + INTERVAL 1 DAY)
         |  AND epoch_us(a.alert_ts) + 86400000000 < wm.w_us
         |ORDER BY alert_id, error_id""".stripMargin) { (s, dir) =>
      val alerts = eventsStream(s, dir)
        .filter(col("value") >= Telemetry.Tau)
        .select(col("user_id"), col("event_id").as("alert_id"), col("ts").as("alert_ts"))
        .withWatermark("alert_ts", "1 day")
      val errors = eventsStream(s, dir)
        .filter(col("event_type") === Telemetry.FailureType)
        .select(col("user_id").as("e_user_id"), col("event_id").as("error_id"),
          col("ts").as("error_ts"))
        .withWatermark("error_ts", "1 day")
      val name = "stream_lsj_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = alerts.join(errors,
          col("user_id") === col("e_user_id") &&
            col("error_ts") > col("alert_ts") &&
            col("error_ts") <= col("alert_ts") + expr("INTERVAL 1 DAY"),
          "left_outer")
        .select(col("user_id"), col("alert_id"),
          coalesce(col("error_id"), lit(-1L)).as("error_id"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy(col("alert_id"), col("error_id"))
    },

    // STREAMING DEDUP under the oracle: dropDuplicatesWithinWatermark
    // keyed (user_id, day) through the real streaming engine (state one
    // entry per in-horizon key, emitted on first sight — append mode
    // needs no window close). WHICH physical row survives a key is
    // arrival-order-dependent, so the declared result is the
    // arrival-independent projection: surviving rows per day ≡ batch
    // COUNT(DISTINCT user_id) per day — the same determinism discipline
    // that keeps `streamingDedup` (md5-keyed doc dedup, same operator
    // class) as a tested library function rather than a declared query.
    // STREAMING SESSIONIZATION under the oracle: the stateful form of
    // the batch gap rule (`operators.Sessionize`, 30-min gap) through
    // flatMapGroupsWithState — per-user state is ONE open session
    // (start/end/count/sum), so executor state is O(users), never
    // O(history). A session is emitted the moment a gap-exceeding
    // event closes it; the user's final session stays open at the end
    // of the finite replay (on an unbounded stream it would close via
    // event-time timeout), so the declared result — and the oracle —
    // is the CLOSED sessions: every per-user session but the last.
    // Same 1800 s strict-gt gap, same (ts, event_id) order, same
    // decimal-sum convention as the batch `sessionize_rollup`, so the
    // two engines must hash-match window for window.
    Q("streaming_sessionize",
      """WITH e AS (SELECT event_id, ts, user_id, value FROM events),
        |s AS (
        |  SELECT *,
        |         CAST(SUM(CASE WHEN prev_ts IS NULL
        |                         OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000 THEN 1
        |                       ELSE 0 END)
        |                OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS BIGINT) AS session_id
        |  FROM (SELECT *, LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |        FROM e)),
        |r AS (
        |  SELECT user_id, session_id,
        |         COUNT(*) AS n_events,
        |         MIN(ts) AS session_start,
        |         MAX(ts) AS session_end,
        |         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS session_value
        |  FROM s GROUP BY user_id, session_id)
        |SELECT r.user_id, r.session_id, r.n_events,
        |       r.session_start, r.session_end, r.session_value
        |FROM r
        |WHERE r.session_id < (SELECT MAX(session_id) FROM r r2 WHERE r2.user_id = r.user_id)
        |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
      val name = "stream_sess_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = streamingSessions(s, eventsStream(s, dir), gapSeconds = 1800L)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name)
        .select(col("user_id"), col("session_id"), col("n_events"),
          timestamp_micros(col("start_us")).as("session_start"),
          timestamp_micros(col("end_us")).as("session_end"),
          col("session_value"))
        .orderBy(col("user_id"), col("session_id"))
    },

    // NATIVE session windows (r10 s4): the same gap-sessionization as
    // `streaming_sessionize`, but through Spark's built-in
    // `session_window` aggregate instead of flatMapGroupsWithState —
    // the engine merges/extends window state internally and APPEND
    // mode emits a session only once the event-time watermark passes
    // its end (no more merges possible: any future event lies > gap
    // past the last one). The split rule is diff > gap — an event
    // EXACTLY at the merge horizon still extends the session
    // (StreamingSpec pins this empirically), identical to the
    // custom-state form's strict-gt rule; the one semantic difference
    // the oracle replays is the window END: last-event + gap (the
    // merge horizon), not the last event itself. The
    // finite replay emits sessions with end ≤ final watermark
    // (ms-truncated max ts − 1 day — Spark's watermark is a
    // millisecond-floored long, so the oracle floors before
    // subtracting the delay); the last day's sessions stay in state —
    // exactly what an unbounded run would hold open, so the oracle
    // applies the same cutoff. Scale: state is per-OPEN-session (not
    // per-event), keyed by user — the watermark bounds it.
    Q("streaming_session_window",
      """WITH e AS (SELECT event_id, ts, user_id, value FROM events),
        |s AS (
        |  SELECT *,
        |         CAST(SUM(CASE WHEN prev_ts IS NULL
        |                         OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000 THEN 1
        |                       ELSE 0 END)
        |                OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS BIGINT) AS session_id
        |  FROM (SELECT *, LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |        FROM e)),
        |r AS (
        |  SELECT user_id,
        |         CAST(COUNT(*) AS BIGINT) AS n_events,
        |         MIN(ts) AS session_start,
        |         MAX(ts) + INTERVAL 1800 SECONDS AS session_end,
        |         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS session_value
        |  FROM s GROUP BY user_id, session_id),
        |wm AS (SELECT make_timestamp(((epoch_us(MAX(ts)) // 1000) - 86400000) * 1000) AS w FROM events)
        |SELECT r.user_id, r.n_events, r.session_start, r.session_end,
        |       r.session_value
        |FROM r CROSS JOIN wm
        |WHERE r.session_end <= wm.w
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      val name = "stream_sw_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = eventsStream(s, dir)
        .select(col("ts"), col("user_id"), col("value"))
        .withWatermark("ts", "1 day")
        .groupBy(col("user_id"), session_window(col("ts"), "1800 seconds").as("sw"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(col("value").cast("decimal(30,6)")).cast("double").as("session_value"))
        .select(col("user_id"), col("n_events"),
          col("sw.start").as("session_start"), col("sw.end").as("session_end"),
          col("session_value"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy(col("user_id"), col("session_start"))
    },

    Q("streaming_dedup_daily",
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |       COUNT(DISTINCT user_id) AS n_unique_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val name = "stream_dedup_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = eventsStream(s, dir)
        .select(col("ts"), col("user_id"), to_date(col("ts")).as("day"))
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark("user_id", "day")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).groupBy(col("day"))
        .agg(count(lit(1)).as("n_unique_users"))
        .orderBy(col("day"))
    },

    // STREAMING rolling 7-day distinct actives (round 9): rolling
    // DISTINCT has no distributive window form — and in streaming it
    // has no watermark-friendly form either, until the same
    // contribute-forward rewrite the batch query uses turns it into a
    // STATELESS ×7 explode (each activity day contributes to report
    // days d..d+6) plus ONE keyed dedup, the only stateful operator.
    // The watermark must cover the contribution span (7 days ≥ the
    // 6-day forward fan-out), or late contributions would be dropped
    // as duplicates-expired state. Same oracle as the batch query
    // `events_rolling_active`; report days restricted to observed
    // activity days batch-side on the sink table.
    Q("streaming_rolling_active",
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |c AS (SELECT DISTINCT user_id, day + CAST(o AS INTEGER) AS day
        |      FROM act, (SELECT unnest(range(0, 7)) AS o)),
        |d AS (SELECT DISTINCT day FROM act)
        |SELECT c.day, CAST(COUNT(*) AS BIGINT) AS n_active
        |FROM c JOIN d USING (day)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val name = "stream_wau_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = eventsStream(s, dir)
        .select(col("ts"), col("user_id"), to_date(col("ts")).as("day"))
        .select(col("ts"), col("user_id"),
          explode(sequence(lit(0), lit(6))).as("o"), col("day"))
        .select(col("ts"), col("user_id"), date_add(col("day"), col("o")).as("day"))
        .withWatermark("ts", "7 days")
        .dropDuplicatesWithinWatermark("user_id", "day")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val observed = Tables.events(s, dir).select(to_date(col("ts")).as("day")).distinct()
      s.table(name)
        .join(observed, Seq("day"), "left_semi")
        .groupBy(col("day"))
        .agg(count(lit(1)).cast("long").as("n_active"))
        .orderBy(col("day"))
    },

    // STREAMING KMV cardinality (round 10): per-day distinct
    // (user, event_type) estimate where the state store holds exactly
    // the 64-long bottom-k sketch per day — the `bottom_k`
    // TypedImperativeAggregate through the real streaming engine.
    // This is the op's reason to exist: an exact streaming distinct
    // keeps EVERY key in state (unbounded); the sketch state is O(k)
    // per group forever, and the estimate is still deterministic
    // enough to share the batch oracle (same md5 hashes, same
    // bottom-k, same IEEE estimator arithmetic — micro-batch arrival
    // order cannot change a bottom-k set). Complete mode because the
    // finite replay emits the final table; unbounded, the same plan
    // runs in update mode emitting refined estimates per trigger.
    Q("streaming_kmv_distinct",
      """WITH hd AS (
        |  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
        |         CAST(concat('0x', substr(md5('kmv:' || CAST(user_id AS VARCHAR) || ':' || event_type), 1, 12)) AS BIGINT) AS h
        |  FROM events),
        |sk AS (
        |  SELECT day, h FROM (
        |    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
        |    FROM hd) t WHERE rn <= 64),
        |est AS (SELECT day, COUNT(*) AS cnt, MAX(h) AS hk FROM sk GROUP BY day)
        |SELECT day,
        |  CASE WHEN cnt < 64 THEN CAST(cnt AS DOUBLE)
        |       ELSE ROUND(CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
        |                  / CAST(hk AS DOUBLE), 6) + 0 END AS kmv_est,
        |  CAST(cnt AS BIGINT) AS n_sketch
        |FROM est ORDER BY day""".stripMargin) { (s, dir) =>
      val name = "stream_kmv_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val h = conv(substring(md5(concat(lit("kmv:"),
        col("user_id").cast("string"), lit(":"), col("event_type"))), 1, 12), 16, 10)
        .cast("long")
      val q = eventsStream(s, dir)
        .select(to_date(col("ts")).as("day"), h.as("h"))
        .groupBy(col("day"))
        .agg(graft.functions.bottom_k(col("h"), 64).as("sk"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name)
        .select(col("day"), size(col("sk")).cast("long").as("cnt"),
          element_at(col("sk"), -1).as("hk")) // ascending sketch: last = k-th min
        .withColumn("kmv_est",
          when(col("cnt") < 64, col("cnt").cast("double"))
            .otherwise(round(
              lit(63.0) * lit(281474976710656.0) / col("hk").cast("double"), 6) + lit(0.0)))
        .select(col("day"), col("kmv_est"), col("cnt").as("n_sketch"))
        .orderBy(col("day"))
    },

    // STREAMING HLL (round 12): the register table as a complete-mode
    // streaming aggregate — state is ≤ 256 slots per day REGARDLESS
    // of stream length, the third bounded-state sketch alongside
    // bottom-k and the CMS counters. max(rho) is arrival-order-
    // invariant, so the deterministic batch oracle pins the streaming
    // build; the estimate is read batch-side from the live register
    // table via the SAME Sketches.hllEstimate the batch query uses —
    // merge and estimator identical by construction, which is HLL's
    // deployment story (per-partition registers, slot-wise max, one
    // read). On an unbounded stream the same plan runs in update mode
    // with a day watermark.
    Q("streaming_hll_distinct",
      s"""WITH h AS (
         |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         |         CAST(concat('0x', substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
         |  FROM events),
         |r AS (
         |  SELECT day, h % ${Sketches.HllM} AS j,
         |         CASE WHEN h // ${Sketches.HllM} = 0 THEN ${Sketches.HllRhoMax}
         |              ELSE ${Sketches.HllRhoMax} - length(bin(h // ${Sketches.HllM})) END AS rho
         |  FROM h),
         |regs AS (SELECT day, j, MAX(rho) AS m_j FROM r GROUP BY day, j),
         |grid AS (
         |  SELECT d.day, t.range AS j
         |  FROM (SELECT DISTINCT day FROM regs) d CROSS JOIN range(${Sketches.HllM}) t),
         |filled AS (
         |  SELECT grid.day, grid.j, COALESCE(regs.m_j, 0) AS m_j
         |  FROM grid LEFT JOIN regs ON regs.day = grid.day AND regs.j = grid.j),
         |s AS (
         |  SELECT day,
         |         CAST(SUM(CAST(1 AS BIGINT) << (${Sketches.HllRhoMax} - m_j)) AS BIGINT) AS s_scaled,
         |         CAST(SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_regs
         |  FROM filled GROUP BY day)
         |SELECT day,
         |       ROUND(((CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(${Sketches.HllM} AS DOUBLE)))
         |               * CAST(${Sketches.HllM * Sketches.HllM} AS DOUBLE) * CAST(${1L << Sketches.HllRhoMax} AS DOUBLE))
         |             / CAST(s_scaled AS DOUBLE), 6) + 0 AS hll_est,
         |       n_zero_regs
         |FROM s ORDER BY day""".stripMargin) { (s, dir) =>
      val name = "stream_hll_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = Sketches.hllRowRegisters(
          eventsStream(s, dir).select(to_date(col("ts")).as("day"), col("user_id")),
          "day", "user_id")
        .groupBy(col("grp"), col("j")).agg(max(col("rho")).as("m_j"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // materialized: hllEstimate self-joins its input (grid fill),
      // and joining a memory-sink VIEW against itself resolves both
      // sides to the SAME attribute ids → analyzer INTERNAL_ERROR
      // (conflicting references); checkpointing the ≤ days·m register
      // table gives the join fresh ids. Bounded by construction.
      Sketches.hllEstimate(Materialize(s.table(name)))
        .select(col("grp").as("day"), col("hll_est"), col("n_zero_regs"))
        .orderBy(col("day"))
    },

    // STREAMING CMS watchlist monitor (round 10): the count-min
    // counter table as a complete-mode streaming aggregate — state is
    // the d·w = 2048 cells REGARDLESS of stream length (the other
    // bounded-state sketch, pairing with streaming_kmv_distinct's
    // bottom-k) — probed batch-side for a fixed watchlist's estimated
    // frequencies. Cell-wise counts are arrival-order-invariant, so
    // the streaming build shares the deterministic batch oracle; the
    // exact counts ride along as the audit columns. On an unbounded
    // stream the same plan runs in update mode and the probe reads
    // the live counter table — a constant-memory frequency monitor.
    Q("streaming_cms_watchlist",
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
        |counters AS (
        |  SELECT r,
        |         CAST(concat('0x', substr(md5(tok), 1 + 8 * r, 8)) AS BIGINT) % 512 AS b,
        |         COUNT(*) AS c
        |  FROM toks, rs GROUP BY 1, 2),
        |watch AS (SELECT unnest(['the', 'a', 'of', 'and', 'to',
        |                         'in', 'is', 'on', 'for', 'with']) AS tok),
        |probes AS (
        |  SELECT w.tok, r.r,
        |         CAST(concat('0x', substr(md5(w.tok), 1 + 8 * r.r, 8)) AS BIGINT) % 512 AS b
        |  FROM watch w, rs r),
        |exact AS (
        |  SELECT w.tok, COUNT(t.tok) AS n_exact
        |  FROM watch w LEFT JOIN toks t ON t.tok = w.tok GROUP BY w.tok)
        |SELECT p.tok, CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS cms_est,
        |       CAST(x.n_exact AS BIGINT) AS n_exact
        |FROM probes p
        |LEFT JOIN counters c ON c.r = p.r AND c.b = p.b
        |JOIN exact x ON x.tok = p.tok
        |GROUP BY p.tok, x.n_exact
        |ORDER BY p.tok""".stripMargin) { (s, dir) =>
      val name = "stream_cms_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = docsStream(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .select(md5(col("tok")).as("m"),
          explode(array((0 until 4).map(lit): _*)).as("r"))
        .select(col("r"),
          pmod(conv(expr("substring(m, 1 + 8*r, 8)"), 16, 10).cast("long"), lit(512L)).as("b"))
        .groupBy(col("r"), col("b")).agg(count(lit(1)).as("c"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      import s.implicits._
      val watch = Seq("the", "a", "of", "and", "to",
        "in", "is", "on", "for", "with").toDF("tok")
      val probes = watch
        .select(col("tok"), md5(col("tok")).as("m"),
          explode(array((0 until 4).map(lit): _*)).as("r"))
        .withColumn("b",
          pmod(conv(expr("substring(m, 1 + 8*r, 8)"), 16, 10).cast("long"), lit(512L)))
      // right join against the watchlist so a token with ZERO
      // occurrences still reports (n_exact 0), mirroring the oracle's
      // LEFT JOIN + COUNT(t.tok); the presence column makes the
      // zero-count arithmetic explicit
      val exact = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"), lit(1L).as("one"))
        .join(watch, Seq("tok"), "right_outer")
        .groupBy(col("tok")).agg(sum(coalesce(col("one"), lit(0L))).as("n_exact"))
      probes.join(s.table(name), Seq("r", "b"), "left_outer")
        .groupBy(col("tok"))
        .agg(min(coalesce(col("c"), lit(0L))).as("cms_est"))
        .join(exact, Seq("tok"))
        .select(col("tok"), col("cms_est"), col("n_exact").cast("long").as("n_exact"))
        .orderBy(col("tok"))
    },

    // STREAMING last-touch attribution (round 9) under the SAME
    // oracle as the batch window query: the per-user 2-long state
    // machine replayed through the real engine must hash-match the
    // batch IGNORE NULLS window — the online serving form of the
    // funnel-credit question.
    Q("streaming_attribution",
      graft.queries.EventAnalytics.attributionOracleSql) { (s, dir) =>
      val name = "stream_attr_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = streamingAttribution(s, eventsStream(s, dir))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy(col("conv_id"))
    },

    // STREAMING sequence mining (round 9) under the batch oracle: the
    // double-lead window as a 2-string state machine; trigrams stream
    // out, the bounded types³ count runs batch-side on the sink.
    Q("streaming_frequent_sequences",
      """WITH t AS (
        |  SELECT event_type,
        |         LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
        |         LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
        |  FROM events)
        |SELECT event_type || '>' || t2 || '>' || t3 AS seq3,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM t WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, seq3 LIMIT 20""".stripMargin) { (s, dir) =>
      val name = "stream_seq_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = streamingSequences(s, eventsStream(s, dir))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name)
        .groupBy(col("value").as("seq3"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("n").desc, col("seq3"))
        .limit(20)
    },

    // STREAMING windowed funnel (r10) under the SAME oracle as the
    // batch `events_funnel_windowed` — the driver certifies the state
    // machine and the chained-min joins hash-identical (the
    // tierAgreement discipline). Advances stream out per stage
    // reached; the steps-bounded rollup runs batch-side on the sink.
    Q("streaming_windowed_funnel",
      graft.queries.EventAnalytics.funnelWindowedOracleSql) { (s, dir) =>
      val steps = Seq("signup", "view", "click", "purchase")
      val name = "stream_wfun_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = streamingWindowedFunnel(s, eventsStream(s, dir),
          steps, 72L * 3600 * 1000000)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val mx = s.table(name).groupBy(col("user_id"))
        .agg(max(col("stage")).as("mx"))
      val reached = steps.indices.map(i =>
        coalesce(sum((col("mx") >= i + 1).cast("long")), lit(0L)).as(s"n$i"))
      val wide = mx.agg(reached.head, reached.tail: _*)
      val stacked = steps.indices.map(i => s"'${i + 1}:${steps(i)}', `n$i`").mkString(", ")
      wide.select(expr(s"stack(${steps.size}, $stacked) AS (step, n_users)"),
          col("n0").as("base"))
        .withColumn("conversion",
          when(col("base") > 0,
            round(col("n_users") * lit(1.0) / col("base"), 6) + lit(0.0))
            .otherwise(lit(-1.0)))
        .drop("base")
        .orderBy(col("step"))
    },

    // STREAMING DECONTAMINATION under the batch oracle (round 8): the
    // arrival-time form of `Curation.decontaminate` — train docs
    // arrive as a stream and are probed against the STATIC eval-gram
    // set (the bounded curated benchmark; it broadcasts at scale).
    // Gram hashing is ROW-LOCAL (each doc's distinct 60-bit gram keys
    // are built inside its own row before the explode — no stateful
    // streaming distinct), the probe is a stateless stream-static
    // left join, and only the per-doc count aggregate holds state.
    // Complete mode because the finite replay must emit the whole
    // table; on an unbounded corpus the same plan runs in update mode
    // — each doc lands in exactly one micro-batch, so its aggregate
    // finalizes immediately. Must hash-match the batch pipeline's
    // oracle exactly (same keys, same distinct-gram counts).
    Q("streaming_decontam", Curation.decontamOracleSql) { (s, dir) =>
      val ev = Tables.documents(s, dir).filter(col("doc_id") % 7 === 0)
        .select(graft.functions.ngram_hashes(col("text"), 8, 15).as(Seq("p", "gram_h")))
        .select(col("gram_h")).distinct()
      val name = "stream_decontam_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = streamingDecontam(
          docsStream(s, dir).filter(col("doc_id") % 7 =!= 0), ev)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).filter(col("n_contam") > 0).orderBy(col("doc_id"))
    },

    // STREAMING ANN PROBE (round 8): probe vectors arrive as a stream;
    // the SRP band expansion is a map-only projection per row and the
    // candidate join is a stateless stream-static equi-join against
    // the corpus band table (broadcast at scale) — the streaming
    // kernel is candidate GENERATION, fully stateless. Exact-cosine
    // verify + per-probe rank run batch-side over the sunk candidate
    // pairs (`Similarity.verifyAndRank` — rank windows aren't
    // streaming-expressible, and verification naturally batches per
    // serving window). Same oracle as embed_ann_join: identical
    // answer by construction.
    // STREAMING CDC MERGE (round 9): audit_merge_upsert's delta
    // ARRIVES AS A STREAM, and every micro-batch MERGEs into the
    // evolving snapshot via foreachBatch — the production
    // continuous-ingest loop (CDC stream → MERGE INTO table). The
    // delta derivation is map-only on the stream; per-batch merges of
    // key-disjoint delta slices compose to the whole-delta merge
    // (each delta key arrives exactly once), so the final snapshot is
    // identical to the batch query — certified by the SAME oracle.
    // The snapshot checkpoints per batch: bounded lineage no
    // matter how many batches arrive (the role a table format's
    // commit plays in a real sink).
    Q("streaming_merge_upsert", graft.queries.Audit.mergeUpsertOracleSql) { (s, dir) =>
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .withColumn("merge_action", lit("kept"))
      @volatile var snapshot = Materialize(base)
      val ord = ordersStream(s, dir)
      val delta = ord.filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") * 2).as("o_totalprice"),
          lit("updated").as("merge_action"))
        .unionByName(ord.filter(col("o_orderkey") % 17 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), lit("inserted").as("merge_action")))
      val q = delta.writeStream
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
          snapshot = Materialize(graft.queries.Audit
            .mergeUpsert(snapshot, Materialize(batch), "o_orderkey"))
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      snapshot.orderBy(col("o_orderkey"))
    },

    // The static side is the PERSISTED bucketed SRP index
    // (Similarity.buildSrpIndex) — the artifact an at-scale gate
    // maintains — not a per-run re-derivation of the corpus bands:
    // each micro-batch reads the bucket files in place (r15, aligning
    // this gate with streaming_neardup_probe's r14 discipline).
    Q("streaming_ann_probe", Similarity.annJoinOracleSql) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val tbl = "stream_ann_idx_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val path = java.nio.file.Files.createTempDirectory("graft_stream_ann").toString
      Similarity.buildSrpIndex(emb, s, tbl, s"$path/$tbl")
      try {
        val staticBands = s.table(s"${tbl}_bands")
          .select(col("vec_id").as("cand_id"), col("band_idx"), col("band_sig"))
        val name = "stream_ann_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val q = Similarity.srpBanded(embStream(s, dir).filter(col("vec_id") < 8))
          .join(staticBands, Seq("band_idx", "band_sig"))
          .filter(col("vec_id") =!= col("cand_id"))
          .select(col("vec_id").as("probe_id"), col("cand_id"))
          .writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        Similarity.verifyAndRank(Materialize(s.table(name)), emb, k = 3)
          .orderBy(col("probe_id"), col("rank"))
      } finally {
        s.sql(s"DROP TABLE IF EXISTS ${tbl}_bands")
        s.sql(s"DROP TABLE IF EXISTS ${tbl}_vecs")
        graft.Bench.deleteRecursively(path)
      }
    },

    // STREAMING NEAR-DUP INGEST GATE (r14): the online form of
    // dedup_incremental_near — new documents arrive as a stream, are
    // minhash-banded MAP-SIDE (`Dedup.tokenBanded` is one fused
    // stateless projection, so the streaming plan needs no state
    // store or watermark), and probe the STATIC corpus band index via
    // a stream-static join: only the arriving batch's band keys cross
    // the wire, the corpus index reads in place — the at-ingest dedup
    // shape a 100 TB pipeline runs so duplicates never reach storage.
    // The exact-Jaccard verify and the deterministic min-id victor
    // need corpus-wide candidate visibility, so they run batch-side
    // over the sunk candidate pairs (the verifyAndRank convention via
    // `Dedup.nearDupVerdictFrom`, which also dedups pairs emitted by
    // several agreeing bands). Shares dedup_incremental_near's oracle
    // and delta fixture VERBATIM — the driver certifies
    // stream ≡ batch hash-identical (the tierAgreement discipline).
    Q("streaming_neardup_probe", Dedup.incrementalNearOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // the static side is the PERSISTED bucketed band index — the
      // artifact an at-scale gate maintains (Dedup.buildBandIndex) —
      // not a per-run re-derivation of the corpus bands: each
      // micro-batch reads the bucket files in place
      val tbl = "stream_ndp_idx_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val path = java.nio.file.Files.createTempDirectory("graft_stream_ndp").toString
      Dedup.buildBandIndex(docs, s, tbl, s"$path/$tbl")
      try {
        // FILE sink, not the memory sink (r20 — the driver-budget gate
        // caught the memory sink collecting the whole corpus-dependent
        // hit stream into driver memory: 112k rows at sf0.001, 5.4M at
        // sf0.1; the production at-ingest gate sinks to storage, so the
        // oracle-replay form now does too and the driver holds nothing)
        val q = Dedup.tokenBanded(
            Dedup.incrementalNearDelta(docsStream(s, dir).select(col("doc_id"), col("text"))))
          .join(s.table(s"${tbl}_bands"), Seq("band_idx", "band_hash"))
          .select(col("doc_id").as("delta_id"), col("corpus_id"))
          .writeStream.format("parquet")
          .option("path", s"$path/sink")
          .option("checkpointLocation", s"$path/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        Materialize(Dedup.nearDupVerdictFrom(
            Materialize(Tables.parquet(s, s"$path/sink")),
            docs, Dedup.incrementalNearDelta(docs))
          .orderBy(col("doc_id")))
      } finally {
        s.sql(s"DROP TABLE IF EXISTS ${tbl}_bands")
        s.sql(s"DROP TABLE IF EXISTS ${tbl}_toks")
        graft.Bench.deleteRecursively(path)
      }
    },

    // STREAMING SEMANTIC DEDUP INGEST GATE (r16): the online form of
    // dedup_semantic_incremental — new embeddings arrive as a stream,
    // each is assigned its pinned quantizer cell MAP-SIDE
    // (`pinnedAssignExpr`: the bounded seed set rides as array
    // literals, so the streaming plan needs no state store — the
    // aggregate assignment form would have planned one), and probes
    // the STATIC persisted cluster-partitioned assignment
    // (buildIvfIndexPinned — the artifact an at-scale gate maintains
    // and appendIvfIndexPinned keeps fresh) via a stream-static join
    // on the cell: only the arriving batch crosses the wire. The
    // exact-cosine verify and min-id victor need corpus-wide candidate
    // visibility, so they run batch-side over the sunk same-cell pairs
    // (`semVerdictFrom`, the verifyAndRank convention). Shares
    // dedup_semantic_incremental's oracle and delta fixture VERBATIM —
    // the driver certifies stream ≡ batch hash-identical.
    Q("streaming_semdedup_probe", Similarity.incrementalSemOracleSql) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val path = java.nio.file.Files.createTempDirectory("graft_stream_sdp").toString
      Similarity.buildIvfIndexPinned(emb, path)
      try {
        val seeds = Similarity.pinnedSeeds(s, path)
        val assignedStatic = s.table(Similarity.ivfPinnedTable(path))
          .select(col("vec_id").as("corpus_id"), col("cluster"))
        // file sink (r20): same driver-budget fix as
        // streaming_neardup_probe — the same-cell candidate stream is
        // corpus-dependent, so it sinks to storage, never the driver
        val q = Similarity.semDeDupDelta(
            embStream(s, dir).select(col("vec_id"), col("embedding")))
          .withColumn("cluster", Similarity.pinnedAssignExpr(seeds, col("v")))
          .join(assignedStatic, Seq("cluster"))
          .select(col("vec_id").as("delta_id"), col("corpus_id"))
          .writeStream.format("parquet")
          .option("path", s"$path/probe_sink")
          .option("checkpointLocation", s"$path/probe_ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        Materialize(Similarity.semVerdictFrom(
            Materialize(Tables.parquet(s, s"$path/probe_sink")),
            emb, Similarity.semDeDupDelta(emb)))
      } finally Similarity.dropIvfIndexPinned(s, path)
    },

    // STREAMING INCREMENTAL REFRESH GATE (r16): the online form of the
    // corpus_incremental_refresh capstone — ONE streaming query, two
    // stream sources (documents + their embeddings riding the shared
    // id space), four stateless map-side probe branches unioned into
    // one tier-tagged hit stream:
    //   'x' md5(text) against the PERSISTED content-hash index,
    //   'n' fused minhash bands against the PERSISTED band index,
    //   's' pinned-cell assignment (seeds as array literals — no state
    //       store) against the PERSISTED cluster-partitioned assignment,
    //   'c' fused 8-gram keys against the eval-gram set (eval-slice-
    //       sized: the broadcast-class static side).
    // Every branch is a stream-static join — only the arriving batch
    // crosses the wire; no state store, no watermark (append mode with
    // no aggregate or stream-stream join plans none — and StreamingSpec
    // pins stream ≡ batch frame equality). The Jaccard / cosine verifies and
    // min-id victors need corpus-wide candidate visibility, so they
    // run batch-side over the sunk hits, feeding the SAME
    // `Curation.refreshCascade` the batch capstone uses — and the
    // query shares the capstone's oracle VERBATIM, so the driver
    // certifies stream ≡ batch hash-identical from the raw hit stream
    // through the cascade (the tierAgreement discipline, now for the
    // whole multi-tier gate at once).
    Q("streaming_refresh_probe", Curation.incrementalRefreshOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val emb = Tables.embeddings(s, dir)
      val uid = java.util.UUID.randomUUID().toString.replace("-", "")
      val hashTbl = s"stream_rfr_hash_$uid"
      val bandTbl = s"stream_rfr_band_$uid"
      val path = java.nio.file.Files.createTempDirectory("graft_stream_rfr").toString
      Dedup.buildHashIndex(docs, s, hashTbl, s"$path/$hashTbl")
      Dedup.buildBandIndex(docs, s, bandTbl, s"$path/$bandTbl")
      Similarity.buildIvfIndexPinned(emb, s"$path/ivf")
      try {
        val seeds = Similarity.pinnedSeeds(s, s"$path/ivf")
        val assignedStatic = s.table(Similarity.ivfPinnedTable(s"$path/ivf"))
          .select(col("vec_id").as("corpus_id"), col("cluster"))
        val evG = Curation.evalGrams(docs, col("doc_id") % 7 === 0)
        // stateful in-stream dedup CHOSEN BY MEASUREMENT (VERDICT r16
        // task 3; PLANS.md "Round 17", sink-volume table): the n tier
        // emits one row per agreeing band and the c tier one per
        // matching gram, so the pre-distinct hit stream sank 10.1M
        // rows in ~48 s at sf0.1
        // (the 233 s Verify class) vs 5.4M rows in ~13 s with
        // dropDuplicates — the state store absorbs the duplicate keys
        // for a 3.6× wall win, and the verdict is identical by
        // construction (every batch-side verdict builder re-distincts
        // the sunk hits). On an unbounded source the production form
        // is dropDuplicatesWithinWatermark; under AvailableNow the
        // state is bounded by the distinct hit set. FILE sink (r20):
        // even deduped, the hit stream is corpus-dependent (5.4M rows
        // at sf0.1) — the driver-budget gate caught the memory sink
        // holding it all in driver memory; the gate's production shape
        // sinks hits to storage, so the oracle-replay form now does too.
        val q = refreshHitStream(s, dir, docs, hashTbl, bandTbl, seeds,
            assignedStatic, evG)
          .dropDuplicates("delta_id", "tier", "cand_id")
          .writeStream.format("parquet")
          .option("path", s"$path/hit_sink")
          .option("checkpointLocation", s"$path/hit_ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val hits = Materialize(Tables.parquet(s, s"$path/hit_sink"))
        val delta = Curation.refreshDeltaDocs(docs)
        val ex = hits.filter(col("tier") === "x")
          .select(col("delta_id"), col("cand_id").as("dup_of"))
        val nr = Dedup.nearDupHitsFrom(
          hits.filter(col("tier") === "n")
            .select(col("delta_id"), col("cand_id").as("corpus_id")),
          docs, delta)
        val se = Similarity.semHitsFrom(
          hits.filter(col("tier") === "s")
            .select(col("delta_id"), col("cand_id").as("corpus_id")),
          emb, Curation.refreshDeltaEmb(emb))
        val contamIds = hits.filter(col("tier") === "c")
          .select(col("delta_id").as("doc_id"))
        Materialize(Curation.refreshCascade(delta, ex, nr, se, contamIds, minTokens = 5))
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $hashTbl")
        s.sql(s"DROP TABLE IF EXISTS ${bandTbl}_bands")
        s.sql(s"DROP TABLE IF EXISTS ${bandTbl}_toks")
        Similarity.dropIvfIndexPinned(s, s"$path/ivf")
        graft.Bench.deleteRecursively(path)
      }
    },

    // STREAMING PEAK DETECTION (r10): the online form of
    // events_peak_detection (see streamingPeaks' scaladoc — a strict
    // peak is decidable one event after it happens, so state is a
    // 2-observation ring per user and peaks stream out with one-event
    // latency). The per-user rollup (count / max / first-max time)
    // needs the whole day's peaks, so it runs batch-side over the
    // sunk peak rows (the verifyAndRank convention). Shares the
    // batch query's oracle VERBATIM — the driver certifies
    // stream ≡ batch hash-identical (tierAgreement discipline).
    Q("streaming_peak_detection", graft.queries.TimeSeries.peakDetectionOracleSql) {
      (s, dir) =>
        val name = "stream_peak_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val q = streamingPeaks(s, eventsStream(s, dir))
          .writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val peaks = Materialize(s.table(name))
          .select(col("user_id"), timestamp_micros(col("ts")).as("ts"), col("value"))
        peaks
          .withColumn("mx", max(col("value")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_peaks"),
            max(col("value")).as("max_peak"),
            min(when(col("value") === col("mx"), col("ts"))).as("first_max_at"))
          .orderBy(col("user_id"))
    },

    // STREAMING CDC CHUNKING (r10): documents arrive as a stream and
    // are content-defined-chunked by the ROW-LOCAL kernel
    // (`Dedup.contentChunkRows` — the cut rule computed entirely
    // inside each row with HOFs), so the streaming plan is a pure
    // STATELESS projection in append mode: no watermark, no state
    // store, unbounded-safe by construction — the measured form of
    // "CDC chunking is embarrassingly parallel". Cross-doc sharing
    // counts need corpus-wide visibility, so they run batch-side
    // over the sunk chunk rows (the verifyAndRank convention: the
    // serving window naturally batches). Shares the batch query's
    // oracle VERBATIM — the driver certifies stream ≡ batch
    // hash-identical (the tierAgreement discipline); StreamingSpec
    // additionally pins the streaming kernel stateless in-plan.
    Q("streaming_cdc_chunks", Dedup.cdcChunksOracleSql) { (s, dir) =>
      val name = "stream_cdc_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = Dedup.contentChunkRows(
          docsStream(s, dir).select(col("doc_id"), col("text")))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // materialized: the memory-sink view is not re-instantiable
      // under a self-join (MemoryPlan leaf — conflicting attr ids);
      // the checkpointed RDD leaf is
      val rows = Materialize(s.table(name))
      val sharing = rows.groupBy(col("chunk_fp"))
        .agg(countDistinct(col("doc_id")).as("n_docs_sharing"))
      rows.join(sharing, Seq("chunk_fp"))
        .select(col("doc_id"), col("chunk_idx"), col("start_pos"),
          col("n_tokens"), col("chunk_fp"), col("n_docs_sharing"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // STREAMING log-bucket histogram (r10 s3): the third bounded-state
    // sketch, pairing with bottom-k (KMV) and the CMS counter table —
    // state is the BUCKET GRID (≤ 90 cells/decade) regardless of
    // stream length, because the (lo, w) key is a pure stateless
    // projection of the value (integer digit-count arithmetic, no
    // window, no lookup) and the count per cell is
    // arrival-order-invariant. The oracle is the identical batch
    // histogram; on an unbounded stream the same plan runs in update
    // mode and quantile reads probe the live grid (the batch
    // `sketch_log_histogram_quantiles` shows that read).
    Q("streaming_log_histogram",
      """WITH v AS (
        |  SELECT CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS vi
        |  FROM events),
        |b AS (
        |  SELECT vi,
        |         CASE WHEN length(CAST(vi AS VARCHAR)) = 1 THEN 1
        |              ELSE CAST('1' || repeat('0', length(CAST(vi AS VARCHAR)) - 2)
        |                        AS BIGINT) END AS w
        |  FROM v)
        |SELECT (vi // w) * w AS lo_us, CAST(w AS BIGINT) AS width_us,
        |       CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM b GROUP BY 1, 2 ORDER BY lo_us""".stripMargin) { (s, dir) =>
      val name = "stream_loghist_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val vi = (col("value").cast("decimal(20,6)") * lit(1000000)).cast("long")
      val q = eventsStream(s, dir)
        .select(vi.as("vi"))
        .withColumn("w",
          when(length(col("vi").cast("string")) === 1, lit(1L))
            .otherwise(expr(
              "cast(concat('1', repeat('0', length(cast(vi as string)) - 2)) as bigint)")))
        .groupBy(expr("(vi div w) * w").as("lo_us"), col("w").as("width_us"))
        .agg(count(lit(1)).as("cnt"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name)
        .select(col("lo_us"), col("width_us"), col("cnt").cast("long").as("cnt"))
        .orderBy(col("lo_us"))
    })

  /** `orders` as an unbounded source (same glob-addressing trick as
    * `eventsStream`; schema from the schema resolver). */
  def ordersStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = Tables.parquet(spark, s"$dir/orders.parquet").schema
    spark.readStream.schema(schema).parquet(s"$dir/orders.*")
  }

  /** The streaming refresh gate's four stateless probe branches —
    * x (content hash) ∪ n (minhash bands) ∪ c (eval 8-grams) ∪ s
    * (pinned cell) — over the declared delta fixture, unioned into
    * one tier-tagged hit stream. Every branch is a stream-static
    * join, so only the arriving batch crosses the wire. The r16
    * sink-volume trade (pre-distinct hits vs stateful dropDuplicates,
    * VERDICT r16 task 3) was measured on this exact production
    * stream; the numbers are in PLANS.md "Round 17".
    * NOTE: the hit stream is sunk PRE-distinct by default — the
    * batch-side verdicts re-distinct anyway, so a consumer may
    * insert `dropDuplicates(delta_id, tier, cand_id)` (or, on an
    * unbounded source, dropDuplicatesWithinWatermark) without
    * changing any verdict; see PLANS.md's measured table for when
    * the state store beats the sink volume. */
  private[graft] def refreshHitStream(
      s: SparkSession, dir: String, docs: DataFrame,
      hashTbl: String, bandTbl: String,
      seeds: Seq[(Long, Seq[Double])], assignedStatic: DataFrame,
      evG: DataFrame): DataFrame = {
    // the delta stream: the eval-leak slice's text comes from the
    // STATIC table (evalFrom) — the stream never self-joins
    val dStream = Curation.refreshDeltaDocs(
      docsStream(s, dir).select(col("doc_id"), col("text")), docs)
    // probe-side key encoding follows the TABLE (Dedup.keyEncoderFor):
    // binary for r21 indexes, hex for standing pre-r21 ones
    val x = dStream.select(col("doc_id"),
        Dedup.keyEncoderFor(s.table(hashTbl))(col("text")).as("h"))
      .join(s.table(hashTbl), Seq("h"))
      .select(col("doc_id").as("delta_id"), lit("x").as("tier"),
        col("keep_id").as("cand_id"))
    val n = Dedup.tokenBanded(dStream)
      .join(s.table(s"${bandTbl}_bands"), Seq("band_idx", "band_hash"))
      .select(col("doc_id").as("delta_id"), lit("n").as("tier"),
        col("corpus_id").as("cand_id"))
    val c = dStream.select(col("doc_id"),
        graft.functions.ngram_hashes(col("text"), 8, 15).as(Seq("pos", "gram_h")))
      .join(evG, Seq("gram_h"))
      .select(col("doc_id").as("delta_id"), lit("c").as("tier"),
        lit(-1L).as("cand_id"))
    val sm = Curation.refreshDeltaEmb(
        embStream(s, dir).select(col("vec_id"), col("embedding")))
      .withColumn("cluster", Similarity.pinnedAssignExpr(seeds, col("v")))
      .join(assignedStatic, Seq("cluster"))
      .select(col("vec_id").as("delta_id"), lit("s").as("tier"),
        col("corpus_id").as("cand_id"))
    x.unionByName(n).unionByName(c).unionByName(sm)
  }

  /** `documents` as an unbounded source (same glob-addressing trick as
    * `eventsStream`; schema from the schema resolver). */
  def docsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = Tables.parquet(spark, s"$dir/documents.parquet").schema
    spark.readStream.schema(schema).parquet(s"$dir/documents.*")
  }

  /** `embeddings` as an unbounded source (same glob trick; schema
    * from the schema resolver). */
  def embStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = Tables.parquet(spark, s"$dir/embeddings.parquet").schema
    spark.readStream.schema(schema).parquet(s"$dir/embeddings.*")
  }

  /** Streaming train/eval decontamination: per arriving doc, the
    * distinct 8-gram 60-bit keys are computed row-locally (HOF slice +
    * md5 — bit-identical to the batch generator's keys), exploded,
    * LEFT-joined to the static `evalGrams` (gram_h) set, and counted
    * per doc: (doc_id, n_grams, n_contam). Everything before the
    * final per-doc aggregate is stateless. */
  def streamingDecontam(docs: DataFrame, evalGrams: DataFrame, n: Int = 8): DataFrame = {
    val l = split(col("text"), " ")
    val starts = when(size(l) >= n, sequence(lit(0), size(l) - n))
      .otherwise(array().cast("array<int>"))
    val gramArr = array_distinct(transform(starts, i =>
      conv(substring(md5(concat_ws(" ", slice(l, i + lit(1), lit(n)))), 1, 15), 16, 10)
        .cast("long")))
    docs
      .select(col("doc_id"), explode(gramArr).as("gram_h"))
      .join(evalGrams.withColumn("hit", lit(1)), Seq("gram_h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_contam"))
  }

  /** Watermarked tumbling daily aggregate: events/day + raw-threshold
    * alerts/day (the streaming analog of Telemetry.daily's A2 rollup). */
  def dailyAlertCounts(events: DataFrame, tau: Double): DataFrame =
    events
      .select(col("ts"), col("user_id"), col("value"),
        when(col("event_type") === Telemetry.FailureType, 1).otherwise(0).as("is_error"))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(
        count(lit(1)).as("n_obs"),
        sum(when(col("value") >= tau, 1).otherwise(0)).cast("long").as("n_alerts"),
        sum(col("is_error")).cast("long").as("n_errors"))
      .select(to_date(col("w.start")).as("day"),
        col("n_obs"), col("n_alerts"), col("n_errors"))

  /** Streaming exact dedup — the streaming form of the corpus-curation
    * `dedup_exact` (first occurrence of each content hash wins). State
    * is one entry per distinct key *within the watermark horizon*:
    * `dropDuplicatesWithinWatermark` ages keys out once the event-time
    * watermark passes them, so state is bounded by arrival-rate ×
    * horizon, never by corpus size — the only dedup form that survives
    * an unbounded stream. Emits the deduplicated stream itself
    * (Append mode), ready to feed the same downstream curation ops as
    * the batch path. */
  def streamingDedup(docs: DataFrame, horizon: String = "1 day"): DataFrame =
    docs
      .withColumn("content_hash", md5(lower(col("text"))))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("content_hash")

  /** One closed session (streaming output row; micros timestamps so
    * the row stays a flat primitive tuple through the state encoder). */
  final case class ClosedSession(
      user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, end_us: Long, session_value: Double)

  /** Bounded per-user sessionization state: the single OPEN session
    * (first/last event-time, count, 6-dp-scaled decimal sum carried as
    * unscaled long — exact, order-independent addition matching the
    * batch `sum(cast(decimal(30,6)))` convention) plus how many
    * sessions this user has closed so far (the next session_id). */
  final case class SessState(
      startUs: Long, lastUs: Long, n: Long, sumMicro: Long, closed: Long)

  /** Gap-rule sessionization as a stream: the stateful incremental form
    * of `operators.Sessionize.withSessionIds` + its rollup. State per
    * user is one open session — O(users) total, aged by the data
    * itself (each event either extends or closes it), never by
    * history. Emits a session exactly when an over-gap event closes
    * it; the final open session per user is never emitted on a finite
    * replay (the declared query's oracle excludes it too). Within a
    * trigger the group's rows are sorted by (ts, event_id), the batch
    * window's total order. */
  def streamingSessions(
      spark: SparkSession, events: DataFrame,
      gapSeconds: Long): Dataset[ClosedSession] = {
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    val base = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts"),
        col("value"))
      .as[(Long, Long, Long, Double)]

    def micro(v: Double): Long =
      java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()

    base.groupByKey(_._1)
      .flatMapGroupsWithState[SessState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId: Long, rows: Iterator[(Long, Long, Long, Double)],
            state: GroupState[SessState]) =>
          val sorted = rows.map { case (_, id, ts, v) => Obs(id, ts, v) }
            .toSeq.sortBy(o => (o.ts, o.event_id))
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
          sorted.foreach { o =>
            if (st == null) {
              st = SessState(o.ts, o.ts, 1L, micro(o.value), 0L)
            } else if (o.ts - st.lastUs > gapUs) {
              out += ClosedSession(userId, st.closed + 1L, st.n,
                st.startUs, st.lastUs, st.sumMicro / 1e6)
              st = SessState(o.ts, o.ts, 1L, micro(o.value), st.closed + 1L)
            } else {
              st = st.copy(lastUs = o.ts, n = st.n + 1L,
                sumMicro = st.sumMicro + micro(o.value))
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** One attributed conversion (streaming output row). */
  final case class AttrOut(
      conv_id: Long, user_id: Long, attr_event: Long, latency_us: Long)

  /** Per-user running state: the latest touch seen so far (−1 none). */
  final case class TouchState(lastTouchId: Long, lastTouchTs: Long)

  /** Streaming last-touch attribution — the batch IGNORE NULLS window
    * (`EventAnalytics.lastTouchAttribution`) re-expressed as the
    * per-user state machine it secretly is: keep the latest touch
    * (2 longs of state — bounded, no timeline buffering), emit an
    * attributed row the moment a conversion arrives. This is the
    * ONLINE form: the batch window needs the day's events at rest;
    * this one answers during ingestion with O(1) state per user.
    * Within a trigger, rows replay in the batch window's (ts,
    * event_id) order, so a same-timestamp touch with a smaller id
    * still gets credit — the exact frame-boundary semantics of ROWS
    * … 1 PRECEDING. */
  def streamingAttribution(
      spark: SparkSession, events: DataFrame,
      touch: String = "view", conv: String = "purchase"): Dataset[AttrOut] = {
    import spark.implicits._
    val base = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts"),
        col("event_type"))
      .as[(Long, Long, Long, String)]
    base.groupByKey(_._1)
      .flatMapGroupsWithState[TouchState, AttrOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId: Long, rows: Iterator[(Long, Long, Long, String)],
            state: GroupState[TouchState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
          var st = state.getOption.getOrElse(TouchState(-1L, -1L))
          val out = scala.collection.mutable.ArrayBuffer.empty[AttrOut]
          sorted.foreach { case (_, id, ts, typ) =>
            if (typ == conv) {
              out += AttrOut(id, userId, st.lastTouchId,
                if (st.lastTouchId == -1L) -1L else ts - st.lastTouchTs)
            }
            if (typ == touch) st = TouchState(id, ts)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Per-user last-two-events state for streaming sequence mining
    * ("" = not yet seen). */
  final case class SeqState(t1: String, t2: String)

  /** Streaming trigram emission — the batch double-lead window
    * (`EventAnalytics.frequentSequences`) as a per-user state machine:
    * TWO STRINGS of state (the last two event types), one trigram
    * emitted per event once warm. The counting/top-k stays batch-side
    * on the sink table; what streams is exactly the part that needs
    * the timeline — same split as the other state machines here. */
  def streamingSequences(spark: SparkSession, events: DataFrame): Dataset[String] = {
    import spark.implicits._
    val base = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts"),
        col("event_type"))
      .as[(Long, Long, Long, String)]
    base.groupByKey(_._1)
      .flatMapGroupsWithState[SeqState, String](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_: Long, rows: Iterator[(Long, Long, Long, String)],
            state: GroupState[SeqState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
          var st = state.getOption.getOrElse(SeqState("", ""))
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          sorted.foreach { case (_, _, _, typ) =>
            if (st.t1.nonEmpty && st.t2.nonEmpty) out += s"${st.t1}>${st.t2}>$typ"
            st = SeqState(st.t2, typ)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Per-user windowed-funnel state: matched step timestamps (−1 =
    * unmatched) + the anchor deadline. Fixed-size regardless of
    * timeline length — the state machine never buffers events. */
  final case class FunnelState(matched: Seq[Long], deadline: Long)

  /** One funnel advance (user reached 1-based `stage`). */
  final case class FunnelAdvance(user_id: Long, stage: Int)

  /** STREAMING windowed funnel — `EventAnalytics.windowedFunnel` as a
    * per-user state machine: the anchor (first step-0) fixes the
    * deadline, each later step matches the first qualifying event
    * (after the matched predecessor, before the deadline), and an
    * advance row streams out the moment a stage is reached — the
    * online "who just converted" feed. Greedy-earliest is exactly the
    * batch chain (deadline fixed ⇒ greedy optimal), so the sink
    * rollup shares the batch oracle verbatim. State is steps+1 longs
    * per user, forever. */
  def streamingWindowedFunnel(
      spark: SparkSession, events: DataFrame,
      steps: Seq[String], windowUs: Long): Dataset[FunnelAdvance] = {
    require(steps.size >= 2 && steps.distinct.size == steps.size,
      "streamingWindowedFunnel: need >= 2 distinct steps")
    import spark.implicits._
    val base = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts"),
        col("event_type"))
      .as[(Long, Long, Long, String)]
    base.groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelAdvance](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId: Long, rows: Iterator[(Long, Long, Long, String)],
            state: GroupState[FunnelState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
          var st = state.getOption.getOrElse(
            FunnelState(Seq.fill(steps.size)(-1L), -1L))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelAdvance]
          sorted.foreach { case (_, _, ts, typ) =>
            val i = steps.indexOf(typ)
            if (i == 0 && st.matched.head == -1L) {
              st = FunnelState(st.matched.updated(0, ts), ts + windowUs)
              out += FunnelAdvance(userId, 1)
            } else if (i > 0 && st.matched(i) == -1L && st.matched(i - 1) != -1L &&
                ts >= st.matched(i - 1) && ts <= st.deadline) {
              st = st.copy(matched = st.matched.updated(i, ts))
              out += FunnelAdvance(userId, i + 1)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** One scored observation (streaming output row). */
  final case class ScoredObs(
      event_id: Long, user_id: Long, value: Double,
      value_mean_7: Double, alert: Int)

  private final case class Obs(event_id: Long, ts: Long, value: Double)

  /** Bounded per-user state: the last up-to-6 non-error observations. */
  final case class RollState(recent: Seq[Double])

  /** Emitted online peak: the user's observation at `ts` (unix µs)
    * was strictly above both neighbors. */
  final case class PeakRow(user_id: Long, ts: Long, value: Double)

  /** Two-observation lookbehind per user: (event_id, ts µs, value)
    * of the last two arrivals in (ts, event_id) order. */
  final case class PeakState(last2: Seq[(Long, Long, Double)])

  /** Online strict-peak detector — the streaming form of
    * [[graft.queries.TimeSeries.peakDetection]]: a peak is decidable
    * the moment its SUCCESSOR arrives (strict > on both neighbors
    * needs exactly one lookahead), so the state is a bounded
    * two-observation ring per user and each peak streams out one
    * event after it happens — the online "the metric just spiked"
    * feed. Within a trigger the group's rows sort by (ts, event_id),
    * the batch window's total order; across triggers the ring
    * carries the boundary, so a peak whose neighbors straddle
    * micro-batches still emits (pinned in StreamingSpec). Endpoint
    * semantics match batch by construction: the first observation
    * has no predecessor and the last never gets a successor. */
  def streamingPeaks(
      spark: SparkSession, events: DataFrame): Dataset[PeakRow] = {
    import spark.implicits._
    val base = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts"),
        col("value"))
      .as[(Long, Long, Long, Double)]
    base.groupByKey(_._1)
      .flatMapGroupsWithState[PeakState, PeakRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId: Long, rows: Iterator[(Long, Long, Long, Double)],
            state: GroupState[PeakState]) =>
          val sorted = rows.map { case (_, id, ts, v) => (id, ts, v) }
            .toSeq.sortBy(t => (t._2, t._1))
          var last = state.getOption.map(_.last2).getOrElse(Seq.empty)
          val out = Seq.newBuilder[PeakRow]
          sorted.foreach { e =>
            if (last.size == 2) {
              val prev = last.head; val curr = last(1)
              if (curr._3 > prev._3 && curr._3 > e._3)
                out += PeakRow(userId, curr._2, curr._3)
            }
            last = (last :+ e).takeRight(2)
          }
          state.update(PeakState(last))
          out.result().iterator
      }
  }

  /** Incremental per-user rolling mean-7 + threshold alert, mirroring
    * the batch `features → scored` path on the FILTERED (non-error)
    * timeline. */
  def rollingAlerts(spark: SparkSession, events: DataFrame, tau: Double): Dataset[ScoredObs] = {
    import spark.implicits._
    // null-safe non-error filter: batch `when(type === error, 1).otherwise(0)`
    // keeps null-typed rows as non-errors — so must we
    val base = events
      .filter(col("event_type").isNull || col("event_type") =!= Telemetry.FailureType)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts"),
        col("value"))
      .as[(Long, Long, Long, Double)]

    base.groupByKey(_._1)
      .flatMapGroupsWithState[RollState, ScoredObs](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId: Long, rows: Iterator[(Long, Long, Long, Double)],
            state: GroupState[RollState]) =>
          // within-trigger total order = the batch window's (ts, event_id)
          val sorted = rows.map { case (_, id, ts, v) => Obs(id, ts, v) }
            .toSeq.sortBy(o => (o.ts, o.event_id))
          var recent = state.getOption.map(_.recent).getOrElse(Seq.empty)
          val out = sorted.map { o =>
            val frame = (recent :+ o.value).takeRight(7)
            // same 6-dp HALF_UP rounding as the batch r6() BEFORE the
            // threshold compare — otherwise alerts diverge at the tau
            // boundary where batch rounds up and raw mean sits below
            val mean = java.math.BigDecimal.valueOf(frame.sum / frame.size)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            recent = frame.takeRight(6)
            ScoredObs(o.event_id, userId, o.value, mean,
              if (mean >= tau) 1 else 0)
          }
          state.update(RollState(recent))
          out.iterator
      }
  }
}
