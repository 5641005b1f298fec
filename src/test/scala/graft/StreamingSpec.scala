package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.pipeline.Telemetry
import graft.streaming.StreamingAlerts

/** Streaming/batch parity: the incremental operators must reproduce
  * the batch pipeline's results when fed the same data. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def eventRows = Tables.events(spark, sf("sf0.001"))
    .select("event_id", "ts", "user_id", "event_type", "value", "props")
    .as[(Long, java.sql.Timestamp, Long, String, Double, String)]
    .collect().toSeq

  test("flatMapGroupsWithState rolling mean == batch window rolling mean") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val scored = StreamingAlerts.rollingAlerts(spark, streamDf, Telemetry.Tau)
    val query = scored.writeStream
      .format("memory").queryName("rolling_alerts").outputMode("append").start()
    try {
      mem.addData(eventRows)
      query.processAllAvailable()
      val got = spark.table("rolling_alerts")
        .select("event_id", "value_mean_7", "alert")
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
      val want = Telemetry.scored(Tables.events(spark, sf("sf0.001")))
        .select("event_id", "value_mean_7", "alert")
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
      assert(got.keySet === want.keySet)
      val meanMismatch = want.count { case (id, (m, _)) =>
        math.abs(got(id)._1 - m) > 1e-6
      }
      assert(meanMismatch === 0, s"$meanMismatch rolling means diverge")
      val alertMismatch = want.count { case (id, (_, a)) => got(id)._2 != a }
      assert(alertMismatch === 0, s"$alertMismatch alerts diverge")
    } finally query.stop()
  }

  test("streaming sessionization across TWO micro-batches == batch closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val query = StreamingAlerts.streamingSessions(spark, streamDf, gapSeconds = 1800L)
      .writeStream
      .format("memory").queryName("stream_sessions").outputMode("append").start()
    try {
      // split at the global median event time: per-user event order is
      // preserved across the batch boundary, so open sessions must carry
      // through the state store and close in the later trigger
      val rows = eventRows
      val cut = rows.map(_._2.getTime).sorted.apply(rows.size / 2)
      mem.addData(rows.filter(_._2.getTime <= cut))
      query.processAllAvailable()
      mem.addData(rows.filter(_._2.getTime > cut))
      query.processAllAvailable()
      val got = spark.table("stream_sessions")
        .select("user_id", "session_id", "n_events", "session_value")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
      // batch reference: every per-user session except the last (open) one
      val e = Tables.events(spark, sf("sf0.001")).select("event_id", "ts", "user_id", "value")
      val all = graft.operators.Sessionize.withSessionIds(e, gapSeconds = 1800L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(30,6)")).cast("double").as("session_value"))
      val lastSid = all.groupBy(col("user_id"))
        .agg(max(col("session_id")).as("last_sid"))
      val want = all.join(lastSid, "user_id")
        .filter(col("session_id") < col("last_sid"))
        .select("user_id", "session_id", "n_events", "session_value")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
      assert(want.nonEmpty, "fixture produced no closed sessions — test is vacuous")
      assert(got.keySet === want.keySet)
      val diverged = want.count { case (k, (n, v)) =>
        got(k)._1 != n || math.abs(got(k)._2 - v) > 1e-9
      }
      assert(diverged === 0, s"$diverged sessions diverge from the batch rollup")
    } finally query.stop()
  }

  test("native session_window: merge under gap, split AT the gap, end = last + gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def ts(sec: Long) = new java.sql.Timestamp(1704067200000L + sec * 1000L) // 2024-01-01 UTC
    val streamDf = mem.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "1 day")
      .groupBy(col("user_id"), session_window(col("ts"), "1800 seconds").as("sw"))
      .agg(count(lit(1)).cast("long").as("n"))
      .select(col("user_id"), col("sw.start").as("s"), col("sw.end").as("e"), col("n"))
    val q = streamDf.writeStream.format("memory").queryName("sw_sem")
      .outputMode("append").start()
    try {
      // diff 1799 s merges; an event EXACTLY at the merge horizon
      // (prev + 1800 s) ALSO merges — the split rule is strictly
      // greater than the gap, so only the +1801 s event opens a new
      // session. The +3.5 d event only advances the watermark so the
      // earlier sessions finalize.
      mem.addData(Seq((1L, ts(0), 1.0), (1L, ts(1799), 1.0),
        (1L, ts(1799 + 1800), 1.0), (1L, ts(1799 + 1800 + 1801), 1.0),
        (9L, ts(300000), 1.0)))
      q.processAllAvailable()
      val got = spark.table("sw_sem")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .toSet
      assert(got === Set(
        (1L, ts(0), ts(3599 + 1800), 3L),       // horizon event merged; end = last + gap
        (1L, ts(5400), ts(5400 + 1800), 1L)),   // gap-exceeding event = new session
        s"got $got")
    } finally q.stop()
  }

  test("streaming parquet file sink with checkpoint delivers every scored row") {
    implicit val sqlCtx = spark.sqlContext
    val out = tempDir("graft_stream_out")
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val query = StreamingAlerts.rollingAlerts(spark, streamDf, Telemetry.Tau)
      .writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .outputMode("append")
      .start()
    try {
      mem.addData(eventRows)
      query.processAllAvailable()
      val written = spark.read.parquet(s"$out/data")
      val expected = Telemetry.scored(Tables.events(spark, sf("sf0.001"))).count()
      assert(written.count() === expected)
      assert(written.columns.toSet ===
        Set("event_id", "user_id", "value", "value_mean_7", "alert"))
    } finally query.stop()
  }

  test("checkpoint resume: a restarted query processes ONLY new files, no reprocessing") {
    val base = tempDir("graft_resume")
    val srcDir = s"$base/src"
    val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    new java.io.File(srcDir).mkdirs()
    import spark.implicits._
    def run(): Unit = {
      val q = spark.readStream
        .schema("id LONG, v DOUBLE")
        .parquet(srcDir)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 1: append part-files directly into the source dir (a nested
    // directory per batch would be invisible to the file-stream listing)
    (1L to 50L).map(i => (i, i * 1.5)).toDF("id", "v")
      .write.mode("append").parquet(srcDir)
    run()
    assert(spark.read.parquet(outDir).count() === 50)
    // batch 2: NEW files arrive; the restarted query must emit only
    // their rows — the checkpoint's file-source log makes replay
    // exactly-once across process restarts
    (100L to 119L).map(i => (i, i * 1.5)).toDF("id", "v")
      .write.mode("append").parquet(srcDir)
    run()
    val ids = spark.read.parquet(outDir).select("id").as[Long].collect().sorted
    assert(ids.length === 70, s"expected 50 + 20 rows, got ${ids.length} (reprocessing?)")
    assert(ids.toSet === ((1L to 50L) ++ (100L to 119L)).toSet)
  }

  test("session_window across a kill/restart: straddling sessions merge through state") {
    // The native session-window analog of the interval-join resume
    // test: two AvailableNow runs on ONE checkpoint, time-cut at the
    // median event, so sessions whose events straddle the restart must
    // merge inside the state store and emit ONCE with the full count.
    // The union of both runs' emissions must equal the batch gap-rule
    // truth under the final watermark cutoff (end ≤ max ts − 1 day,
    // ms-truncated) — no duplicates, no loss, no split sessions.
    val base = tempDir("graft_sw_resume")
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(srcDir).mkdirs()
    val events = Tables.events(spark, sf("sf0.001"))
      .select("event_id", "ts", "user_id", "value")
    def runOnce(): Unit = {
      val schema = "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE"
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .withWatermark("ts", "1 day")
        .groupBy(col("user_id"), session_window(col("ts"), "1800 seconds").as("sw"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(col("value").cast("decimal(30,6)")).cast("double").as("session_value"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"), col("session_value"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // place the cut INSIDE a real multi-event session (at sf0.001 the
    // mean inter-event gap dwarfs the 30-min session gap, so sessions
    // are mostly singletons and a median-time cut never straddles one):
    // first event of the session goes to run 1, the rest to run 2
    val sess = graft.operators.Sessionize.withSessionIds(
        events.select("event_id", "ts", "user_id", "value"), gapSeconds = 1800L)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(unix_millis(col("ts"))).as("s_ms"),
        max(unix_millis(col("ts"))).as("e_ms"), count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("e_ms") > col("s_ms"))
      .orderBy(col("s_ms")).collect()
    assert(sess.nonEmpty, "fixture has no multi-event session to straddle")
    val cutMs = sess(sess.length / 2).getLong(2)
    events.filter(unix_millis(col("ts")) <= cutMs)
      .write.mode("append").parquet(srcDir)
    runOnce()
    events.filter(unix_millis(col("ts")) > cutMs)
      .write.mode("append").parquet(srcDir)
    runOnce()
    val got = spark.read.parquet(outDir)
      .select(col("user_id"), unix_micros(col("session_start")),
        unix_micros(col("session_end")), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length === got.distinct.length, "duplicate session emissions")
    // batch truth: strict-gt gap sessions, end = last + gap, kept when
    // end ≤ ms-truncated final watermark
    val maxUs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val wmUs = (maxUs / 1000L - 86400000L) * 1000L
    val want = graft.operators.Sessionize.withSessionIds(
        events.select("event_id", "ts", "user_id", "value"), gapSeconds = 1800L)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(unix_micros(col("ts"))).as("s"),
        (max(unix_micros(col("ts"))) + 1800L * 1000000L).as("e"),
        count(lit(1)).as("n"))
      .filter(col("e") <= wmUs)
      .select(col("user_id"), col("s"), col("e"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(want.nonEmpty, "fixture yields no finalized sessions — vacuous")
    assert(got.toSet === want.toSet,
      s"streaming∪restart (${got.length}) != batch truth (${want.length})")
    // non-vacuous: at least one emitted session's events straddle the
    // cut (ms granularity — the cut itself is a ms-floored timestamp)
    assert(got.exists(s => s._2 / 1000L <= cutMs && (s._3 - 1800L * 1000000L) / 1000L > cutMs),
      "no session straddles the restart — the merge path went untested")
  }

  test("interval join across a kill/restart: exactly-once, cross-boundary matches survive") {
    // VERDICT r7 task 8: streaming_alert_error_join's state is watermark-
    // bounded, but only the dedup query had a checkpoint-resume test. Replay
    // the SAME interval join across two processes (AvailableNow run, stop,
    // new files, new query on the same checkpoint) and pin the union of the
    // emitted batches to the batch interval join: no duplicates, no loss —
    // including alert→error matches that STRADDLE the restart (alert in run
    // 1, error in run 2, joined out of retained state).
    val base = tempDir("graft_ssj_resume")
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(srcDir).mkdirs()
    val events = Tables.events(spark, sf("sf0.001"))
      .select("event_id", "ts", "user_id", "event_type", "value")
    // compute the batch truth first, then place the time cut ON a real
    // pair's alert timestamp: run 2's files are strictly newer than run 1's
    // (no late data), and at least one alert→error match is GUARANTEED to
    // straddle the restart (alert at the cut, its error after)
    val a0 = events.filter(col("value") >= Telemetry.Tau)
      .select(col("user_id"), col("event_id").as("alert_id"), col("ts").as("alert_ts"))
    val e0 = events.filter(col("event_type") === Telemetry.FailureType)
      .select(col("user_id").as("e_user_id"), col("event_id").as("error_id"),
        col("ts").as("error_ts"))
    val pairs = a0.join(e0,
        col("user_id") === col("e_user_id") &&
          col("error_ts") > col("alert_ts") &&
          col("error_ts") <= col("alert_ts") + expr("INTERVAL 1 DAY"))
      .select(col("alert_id"), col("error_id"), col("alert_ts"))
      .collect()
    assert(pairs.nonEmpty, "fixture yields no interval-join matches at all")
    val cut = pairs.map(_.getTimestamp(2)).sorted(
      Ordering.by((t: java.sql.Timestamp) => t.getTime)).apply(pairs.length / 2)
    def runOnce(): Unit = {
      val schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
      def src = spark.readStream.schema(schema).parquet(srcDir)
      val alerts = src.filter(col("value") >= Telemetry.Tau)
        .select(col("user_id"), col("event_id").as("alert_id"), col("ts").as("alert_ts"))
        .withWatermark("alert_ts", "1 day")
      val errors = src.filter(col("event_type") === Telemetry.FailureType)
        .select(col("user_id").as("e_user_id"), col("event_id").as("error_id"),
          col("ts").as("error_ts"))
        .withWatermark("error_ts", "1 day")
      val q = alerts.join(errors,
          col("user_id") === col("e_user_id") &&
            col("error_ts") > col("alert_ts") &&
            col("error_ts") <= col("alert_ts") + expr("INTERVAL 1 DAY"))
        .select(col("user_id"), col("alert_id"), col("error_id"))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    events.filter(col("ts") <= lit(cut)).write.mode("append").parquet(srcDir)
    runOnce()
    val afterRun1 = spark.read.parquet(outDir).count()
    events.filter(col("ts") > lit(cut)).write.mode("append").parquet(srcDir)
    runOnce()
    val got = spark.read.parquet(outDir)
      .select("alert_id", "error_id").as[(Long, Long)].collect().toSeq
    assert(got.size === got.distinct.size, "restart produced duplicate join matches")
    val want = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.toSet === want, "restarted stream diverges from the batch interval join")
    // the restart actually exercised state: run 2 emitted something, and at
    // least one match straddles the cut (alert before, error after)
    assert(afterRun1 < got.size, "run 2 emitted nothing — restart not exercised")
    val tsById = events.select("event_id", "ts")
      .as[(Long, java.sql.Timestamp)].collect().toMap
    val straddling = want.count { case (alertId, errorId) =>
      !tsById(alertId).after(cut) && tsById(errorId).after(cut)
    }
    assert(straddling > 0, "fixture has no cross-restart matches — weaken the cut")
  }

  test("hopping windows across a kill/restart: straddling windows merge through state") {
    // VERDICT r10 task 4: the r10 window forms had no checkpoint-restart
    // coverage. Same two-AvailableNow-runs-on-one-checkpoint pattern as
    // the session-window test, time-cut at the median event: a 1-hour
    // window whose events land on both sides of the cut must accumulate
    // across the restart inside the state store and emit ONCE with the
    // full count/sum when the watermark passes its end.
    val base = tempDir("graft_hop_resume")
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(srcDir).mkdirs()
    val events = Tables.events(spark, sf("sf0.001")).select("ts", "value")
    def runOnce(): Unit = {
      val q = spark.readStream.schema("ts TIMESTAMP, value DOUBLE").parquet(srcDir)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(col("value").cast("decimal(30,6)")).cast("double").as("total_value"))
        .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
          col("n_events"), col("total_value"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // place the cut INSIDE a real multi-event finalized window (at
    // sf0.001 events are sparse — a median-time cut lands in a
    // single-event window and the merge path goes untested): the
    // window's first event goes to run 1, the rest to run 2
    val maxUs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val wmUs = (maxUs / 1000L - 86400000L) * 1000L
    val winStats = events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(min(unix_millis(col("ts"))).as("first_ms"),
        max(unix_millis(col("ts"))).as("last_ms"), count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("last_ms") > col("first_ms") &&
        unix_micros(col("w.end")) <= wmUs)
      .select(unix_micros(col("w.start")).as("ws"), col("first_ms"), col("n"))
      .orderBy(col("first_ms")).collect()
    assert(winStats.nonEmpty, "no multi-event finalized window to straddle")
    val pick = winStats(winStats.length / 2)
    val cutMs = pick.getAs[Long]("first_ms")
    events.filter(unix_millis(col("ts")) <= cutMs)
      .write.mode("append").parquet(srcDir)
    runOnce()
    val afterRun1 = spark.read.parquet(outDir).count()
    events.filter(unix_millis(col("ts")) > cutMs)
      .write.mode("append").parquet(srcDir)
    runOnce()
    val got = spark.read.parquet(outDir)
      .select(unix_micros(col("w_start")), col("n_events"), col("total_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === got.distinct.length, "duplicate window emissions")
    // batch truth: the same 4-per-event hopping decomposition, windows
    // finalized against the ms-truncated final watermark (max ts − 1 day);
    // decimal sums are order-free so cross-restart partials merge exactly
    val want = events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("total_value"))
      .filter(unix_micros(col("w.end")) <= wmUs)
      .select(unix_micros(col("w.start")), col("n_events"), col("total_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(want.nonEmpty, "fixture yields no finalized windows — vacuous")
    assert(got.toSet === want.toSet,
      s"streaming∪restart (${got.length}) != batch truth (${want.length})")
    assert(afterRun1 < got.length, "run 2 emitted nothing — restart not exercised")
    // non-vacuous by construction: the picked window's first event went
    // to run 1 and its later events to run 2, and it must still emit
    // exactly once with the FULL merged count
    assert(got.exists { case (ws, n, _) =>
      ws == pick.getAs[Long]("ws") && n == pick.getAs[Long]("n")
    }, "the straddling window did not emit once with its merged count")
  }

  test("stream-stream LEFT OUTER join across a kill/restart: null emissions exactly once") {
    // VERDICT r10 task 4, the half with real restart risk: an unmatched
    // alert's null-extended row is emitted by state EVICTION when the
    // watermark proves no match can come — exactly the state a restart
    // could perturb (evict twice → duplicate -1 row; lose the row →
    // silent drop; evict early → a -1 row for an alert whose error
    // arrives in run 2). Two AvailableNow runs on one checkpoint, cut at
    // a median matched alert so matches straddle the restart; the union
    // of emissions must equal the batch truth: matched pairs ∪ unmatched
    // alerts whose window closed against the FINAL global watermark
    // (min of the two filtered streams' maxes, ms-truncated, − 1 day).
    val base = tempDir("graft_loj_resume")
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(srcDir).mkdirs()
    val events = Tables.events(spark, sf("sf0.001"))
      .select("event_id", "ts", "user_id", "event_type", "value")
    val a0 = events.filter(col("value") >= Telemetry.Tau)
      .select(col("user_id"), col("event_id").as("alert_id"), col("ts").as("alert_ts"))
    val e0 = events.filter(col("event_type") === Telemetry.FailureType)
      .select(col("user_id").as("e_user_id"), col("event_id").as("error_id"),
        col("ts").as("error_ts"))
    val matched = a0.join(e0,
        col("user_id") === col("e_user_id") &&
          col("error_ts") > col("alert_ts") &&
          col("error_ts") <= col("alert_ts") + expr("INTERVAL 1 DAY"))
      .select(col("alert_id"), col("error_id"), col("alert_ts")).collect()
    assert(matched.nonEmpty, "fixture yields no matches at all")
    val cut = matched.map(_.getTimestamp(2)).sorted(
      Ordering.by((t: java.sql.Timestamp) => t.getTime)).apply(matched.length / 2)
    def runOnce(): Unit = {
      val schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
      def src = spark.readStream.schema(schema).parquet(srcDir)
      val alerts = src.filter(col("value") >= Telemetry.Tau)
        .select(col("user_id"), col("event_id").as("alert_id"), col("ts").as("alert_ts"))
        .withWatermark("alert_ts", "1 day")
      val errors = src.filter(col("event_type") === Telemetry.FailureType)
        .select(col("user_id").as("e_user_id"), col("event_id").as("error_id"),
          col("ts").as("error_ts"))
        .withWatermark("error_ts", "1 day")
      val q = alerts.join(errors,
          col("user_id") === col("e_user_id") &&
            col("error_ts") > col("alert_ts") &&
            col("error_ts") <= col("alert_ts") + expr("INTERVAL 1 DAY"),
          "left_outer")
        .select(col("user_id"), col("alert_id"),
          coalesce(col("error_id"), lit(-1L)).as("error_id"))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    events.filter(col("ts") <= lit(cut)).write.mode("append").parquet(srcDir)
    runOnce()
    val nullsAfterRun1 = spark.read.parquet(outDir)
      .filter(col("error_id") === -1L).count()
    events.filter(col("ts") > lit(cut)).write.mode("append").parquet(srcDir)
    runOnce()
    val got = spark.read.parquet(outDir)
      .select("alert_id", "error_id").as[(Long, Long)].collect().toSeq
    assert(got.size === got.distinct.size,
      "restart produced duplicate emissions (a double-evicted null row?)")
    // batch truth under the final global watermark (the declared query's
    // empirically-pinned emission contract)
    val maxAlertUs = a0.agg(max(unix_micros(col("alert_ts")))).head().getLong(0)
    val maxErrorUs = e0.agg(max(unix_micros(col("error_ts")))).head().getLong(0)
    val wmUs = (math.min(maxAlertUs, maxErrorUs) / 1000L - 86400000L) * 1000L
    val matchedSet = matched.map(r => (r.getLong(0), r.getLong(1))).toSet
    val unmatchedSet = a0
      .join(e0, col("user_id") === col("e_user_id") &&
        col("error_ts") > col("alert_ts") &&
        col("error_ts") <= col("alert_ts") + expr("INTERVAL 1 DAY"), "left_anti")
      .filter(unix_micros(col("alert_ts")) + 86400000000L < wmUs)
      .select(col("alert_id")).as[Long].collect().map(id => (id, -1L)).toSet
    assert(unmatchedSet.nonEmpty, "fixture yields no null-extended rows — vacuous")
    assert(got.toSet === (matchedSet ++ unmatchedSet),
      s"streaming∪restart (${got.size}) != matched (${matchedSet.size}) " +
        s"∪ unmatched (${unmatchedSet.size})")
    // the restart exercised both populations: a match straddles the cut
    // (alert in run 1, error in run 2, joined out of restored state) and
    // at least one null eviction happened in run 2
    val tsById = events.select("event_id", "ts")
      .as[(Long, java.sql.Timestamp)].collect().toMap
    assert(matchedSet.exists { case (aId, eId) =>
      !tsById(aId).after(cut) && tsById(eId).after(cut)
    }, "no match straddles the restart — state restoration went untested")
    assert(nullsAfterRun1 < unmatchedSet.size,
      "every null row emitted in run 1 — run 2's eviction path went untested")
  }

  test("watermarked tumbling daily aggregate == batch per-day counts") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val daily = StreamingAlerts.dailyAlertCounts(streamDf, tau = 100.0)
    val query = daily.writeStream
      .format("memory").queryName("daily_alerts").outputMode("complete").start()
    try {
      mem.addData(eventRows)
      query.processAllAvailable()
      val got = spark.table("daily_alerts")
        .select("day", "n_obs", "n_errors")
        .collect().map(r => r.getDate(0).toString -> ((r.getLong(1), r.getLong(2)))).toMap
      val want = Tables.events(spark, sf("sf0.001"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_obs"),
          sum(when(col("event_type") === Telemetry.FailureType, 1).otherwise(0))
            .cast("long").as("n_errors"))
        .collect().map(r => r.getDate(0).toString -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got === want)
    } finally query.stop()
  }

  test("streaming exact dedup keeps first occurrence per content hash within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val streamDf = mem.toDF().toDF("doc_id", "ts", "text")
    val deduped = StreamingAlerts.streamingDedup(streamDf)
    val query = deduped.writeStream
      .format("memory").queryName("stream_dedup").outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      def t(mins: Int) = new java.sql.Timestamp(t0.getTime + mins * 60000L)
      mem.addData(Seq(
        (1L, t(0), "alpha beta"),
        (2L, t(1), "ALPHA BETA"),   // same lowercased content -> dup of 1
        (3L, t(2), "gamma delta"),
        (4L, t(3), "alpha beta")))  // dup of 1
      query.processAllAvailable()
      mem.addData(Seq(
        (5L, t(4), "gamma delta"),  // dup of 3 (state retained within horizon)
        (6L, t(5), "epsilon")))
      query.processAllAvailable()
      val ids = spark.table("stream_dedup").select("doc_id").as[Long].collect().toSet
      assert(ids === Set(1L, 3L, 6L),
        s"expected first-occurrence survivors, got $ids")
      // streaming survivors == batch dedup_exact victor rule applied to
      // the same rows (first by ts per content hash)
      val batch = Seq((1L, t(0), "alpha beta"), (2L, t(1), "ALPHA BETA"),
        (3L, t(2), "gamma delta"), (4L, t(3), "alpha beta"),
        (5L, t(4), "gamma delta"), (6L, t(5), "epsilon"))
        .toDF("doc_id", "ts", "text")
        .withColumn("content_hash", md5(lower(col("text"))))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("content_hash")).orderBy(col("ts"), col("doc_id"))))
        .filter(col("rn") === 1).select("doc_id").as[Long].collect().toSet
      assert(ids === batch)
    } finally query.stop()
  }

  test("streaming dedup across a kill/restart: seen-hash state survives, no re-emission") {
    // r13: the dedup tier's restart-perturbable state — the seen
    // content-hash set behind dropDuplicatesWithinWatermark. A lost
    // state row re-emits a duplicate doc into the training corpus
    // (silent data poisoning); a replayed source file re-emits the
    // SAME doc twice. Two AvailableNow runs on one checkpoint: run-2
    // duplicates of run-1 content must stay suppressed (state
    // restored), and nothing already emitted may re-emit.
    val base = tempDir("graft_dedup_resume")
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(srcDir).mkdirs()
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(mins: Int) = new java.sql.Timestamp(t0.getTime + mins * 60000L)
    def run(): Unit = {
      val src = spark.readStream
        .schema("doc_id LONG, ts TIMESTAMP, text STRING").parquet(srcDir)
      val q = StreamingAlerts.streamingDedup(src)
        .select("doc_id")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    Seq((1L, t(0), "alpha beta"), (2L, t(1), "gamma"), (3L, t(2), "ALPHA BETA"))
      .toDF("doc_id", "ts", "text").write.mode("append").parquet(srcDir)
    run()
    // within ONE micro-batch dropDuplicatesWithinWatermark keeps the
    // first row PROCESSED, not the first by event time — the winner
    // between same-content 1 and 3 is partition-order-dependent, so
    // assert per CONTENT: exactly one of {1, 3} plus 2
    val afterRun1 = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
    assert(afterRun1.size === 2 && afterRun1.contains(2L) &&
      (afterRun1 - 2L).subsetOf(Set(1L, 3L)),
      s"run 1 must emit one alpha-beta winner and gamma, got $afterRun1")
    Seq((4L, t(3), "alpha beta"), // CROSS-RESTART dup — restored state must suppress
      (5L, t(4), "delta"),        // genuinely new content
      (6L, t(5), "Gamma"))        // cross-restart dup of 2 (case-folded)
      .toDF("doc_id", "ts", "text").write.mode("append").parquet(srcDir)
    run()
    val got = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSeq
    assert(got.size === got.distinct.size, s"restart re-emitted a row: $got")
    assert(got.toSet === afterRun1 + 5L,
      s"expected cross-restart dups 4/6 suppressed and 5 emitted: " +
        s"run1=$afterRun1 final=${got.toSet}")
  }

  test("streaming decontamination over two micro-batches == batch decontaminate") {
    implicit val sqlCtx = spark.sqlContext
    val evalText = "e1 e2 e3 e4 e5 e6 e7 e8 e9" // 9 tokens → 2 grams
    val clean = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    val partial = "p1 p2 e1 e2 e3 e4 e5 e6 e7 e8 p3" // carries eval gram e1..e8
    val evalDocs = Seq((100L, evalText)).toDF("doc_id", "text")
    val ev = evalDocs
      .select(graft.functions.ngram_hashes(col("text"), 8, 15).as(Seq("p", "gram_h")))
      .select("gram_h").distinct()
    val mem = MemoryStream[(Long, String)]
    val out = StreamingAlerts.streamingDecontam(mem.toDF().toDF("doc_id", "text"), ev)
    val query = out.writeStream
      .format("memory").queryName("stream_decontam_spec").outputMode("complete").start()
    try {
      mem.addData(Seq((1L, partial), (2L, clean)))
      query.processAllAvailable()
      mem.addData(Seq((3L, evalText))) // a verbatim eval copy in batch 2
      query.processAllAvailable()
      val got = spark.table("stream_decontam_spec")
        .filter(col("n_contam") > 0)
        .select("doc_id", "n_grams", "n_contam")
        .as[(Long, Long, Long)].collect().toSet
      // doc 1: 4 distinct grams, 1 contaminated; doc 3: both grams hit
      assert(got === Set((1L, 4L, 1L), (3L, 2L, 2L)), s"got $got")
      // the batch operator on the union of both micro-batches + the
      // eval slice must agree row for row
      val batchDocs = Seq((1L, partial), (2L, clean), (3L, evalText))
        .toDF("doc_id", "text").unionByName(evalDocs)
      val batch = graft.llm.Curation
        .decontaminate(batchDocs, col("doc_id") === 100L)
        .select("doc_id", "n_grams", "n_contam")
        .as[(Long, Long, Long)].collect().toSet
      assert(got === batch, s"stream $got != batch $batch")
    } finally query.stop()
  }

  test("streaming peaks: a peak whose neighbors straddle micro-batches still emits") {
    implicit val sqlCtx = spark.sqlContext
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(m: Int) = new java.sql.Timestamp(ts0.getTime + m * 60000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val out = StreamingAlerts.streamingPeaks(spark,
      mem.toDF().toDF("event_id", "ts", "user_id", "value"))
    val query = out.writeStream
      .format("memory").queryName("stream_peak_spec").outputMode("append").start()
    try {
      // batch 1 ends right AT the peak: its successor hasn't arrived
      mem.addData(Seq((1L, t(0), 1L, 1.0), (2L, t(1), 1L, 9.0)))
      query.processAllAvailable()
      assert(spark.table("stream_peak_spec").count() === 0,
        "peak must not emit before its successor arrives")
      // batch 2 delivers the successor → the straddling peak emits;
      // a later equal-value plateau never does
      mem.addData(Seq((3L, t(2), 1L, 2.0), (4L, t(3), 1L, 5.0), (5L, t(4), 1L, 5.0)))
      query.processAllAvailable()
      val got = spark.table("stream_peak_spec")
        .as[(Long, Long, Double)].collect().toSet
      assert(got === Set((1L, t(1).getTime * 1000L, 9.0)),
        s"expected exactly the straddling strict peak, got $got")
    } finally query.stop()
  }

  test("streaming CDC chunking is stateless and chunk-identical to the batch pipeline") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, (0 until 60).map(i => s"q${(i * 13) % 47}z$i").mkString(" ")),
      (2L, (0 until 30).map(i => s"r$i").mkString(" ")),
      (3L, "tiny doc")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val out = llm.Dedup.contentChunkRows(mem.toDF().toDF("doc_id", "text"))
    val query = out.writeStream
      .format("memory").queryName("stream_cdc_spec").outputMode("append").start()
    try {
      mem.addData(Seq((1L, docs.collect()(0).getString(1))))
      query.processAllAvailable()
      mem.addData(Seq((2L, docs.collect()(1).getString(1)),
        (3L, docs.collect()(2).getString(1))))
      query.processAllAvailable()
      // stateless: the row-local kernel holds NO streaming state
      assert(query.lastProgress.stateOperators.isEmpty,
        s"CDC chunking should plan no state operators: ${query.lastProgress}")
      val got = spark.table("stream_cdc_spec")
        .select("doc_id", "chunk_idx", "start_pos", "n_tokens", "chunk_fp")
        .as[(Long, Int, Int, Int, Long)].collect().toSet
      // the window-based batch pipeline over the same docs must agree
      // chunk for chunk (fingerprints included)
      val batch = llm.Dedup.contentChunks(docs)
        .select("doc_id", "chunk_idx", "start_pos", "n_tokens", "chunk_fp")
        .as[(Long, Int, Int, Int, Long)].collect().toSet
      assert(got === batch, s"stream $got != batch $batch")
      assert(got.exists(_._1 == 3L), "short doc must still yield its single chunk")
    } finally query.stop()
  }

  test("streaming near-dup probe: stateless band join, verdict == batch incremental near-dedup") {
    // r14: the at-ingest minhash gate (streaming_neardup_probe). The
    // streaming half is a map-side banding + STREAM-STATIC join — no
    // watermark, no state store (pinned below) — and the batch-side
    // verdict must equal the one-shot incrementalNearDedup on the same
    // frames, including when an exact copy's pairs are emitted once
    // per agreeing band (the verdict's distinct dedups them).
    implicit val sqlCtx = spark.sqlContext
    val w40 = (0 until 40).map(i => s"w${(i * 7) % 53}x$i")
    val corpus = Seq(
      (1L, w40.mkString(" ")),
      (2L, (0 until 40).map(i => s"k$i").mkString(" ")),
      (3L, "standalone short corpus doc")).toDF("doc_id", "text")
    val delta = Seq(
      (101L, w40.mkString(" ")),                          // exact copy of 1
      (102L, ((0 until 40).map(i => s"k$i") :+ "rev").mkString(" ")), // J=40/41
      (103L, "completely unrelated novel payload words")) // new
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val staticBands = llm.Dedup.tokenBanded(corpus)
      .select(col("doc_id").as("corpus_id"), col("band_idx"), col("band_hash"))
    val out = llm.Dedup.tokenBanded(mem.toDF().toDF("doc_id", "text"))
      .join(staticBands, Seq("band_idx", "band_hash"))
      .select(col("doc_id").as("delta_id"), col("corpus_id"))
    val query = out.writeStream
      .format("memory").queryName("stream_ndp_spec").outputMode("append").start()
    try {
      mem.addData(Seq((101L, delta.collect()(0).getString(1))))
      query.processAllAvailable()
      mem.addData(Seq((102L, delta.collect()(1).getString(1)),
        (103L, delta.collect()(2).getString(1))))
      query.processAllAvailable()
      assert(query.lastProgress.stateOperators.isEmpty,
        s"band probe should plan no state operators: ${query.lastProgress}")
      val sunk = spark.table("stream_ndp_spec").localCheckpoint()
      // an exact copy agrees in EVERY band → its pair emits multiple times
      assert(sunk.filter(col("delta_id") === 101L && col("corpus_id") === 1L)
        .count() > 1, "exact copy should collide in more than one band")
      val got = llm.Dedup.nearDupVerdictFrom(sunk, corpus, delta)
        .as[(Long, String, Long)].collect().toSet
      val want = llm.Dedup.incrementalNearDedup(corpus, delta)
        .as[(Long, String, Long)].collect().toSet
      assert(got === want, s"stream verdict $got != batch $want")
      assert(got.contains((101L, "near_dup", 1L)), "exact copy must flag near_dup")
      assert(got.contains((103L, "new", -1L)), "novel doc must pass as new")
    } finally query.stop()
  }

  test("streaming semantic gate: stateless map-side assignment, verdict == batch incremental") {
    // r16: the embedding ingest gate (streaming_semdedup_probe's
    // dynamics on an in-memory fixture). pinnedAssignExpr keeps the
    // plan state-free (the aggregate assignment would plan a state
    // store), and the sunk same-cell pairs verified batch-side must
    // equal the one-shot incrementalSemDedup on the same frames.
    implicit val sqlCtx = spark.sqlContext
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(llm.Similarity.Dim)(r.nextGaussian().toFloat)
    }
    val corpus = (0L until 40L).map(i => (i, vec(i.toInt), 0)).toDF("vec_id", "embedding", "label")
    val delta = llm.Similarity.semDeDupDelta(corpus) // copies of %5, rotations of %11
    val path = tempDir("graft_stream_sem_idx")
    llm.Similarity.buildIvfIndexPinned(corpus, path)
    val seeds = spark.read.parquet(s"$path/seeds").collect()
      .map(r => (r.getLong(r.fieldIndex("seed_id")),
        r.getSeq[Double](r.fieldIndex("sv")).toSeq)).toSeq
    val assignedStatic = spark.read.parquet(s"$path/assigned")
      .select(col("vec_id").as("corpus_id"), col("cluster"))
    val mem = MemoryStream[(Long, Seq[Double])]
    val gate = mem.toDF().toDF("vec_id", "v")
      .withColumn("cluster", llm.Similarity.pinnedAssignExpr(seeds, col("v")))
      .join(assignedStatic, Seq("cluster"))
      .select(col("vec_id").as("delta_id"), col("corpus_id"))
    val q = gate.writeStream
      .format("memory").queryName("stream_sem_spec").outputMode("append").start()
    try {
      val deltaRows = delta.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      mem.addData(deltaRows.take(5).toSeq)
      q.processAllAvailable()
      mem.addData(deltaRows.drop(5).toSeq)
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty,
        s"semantic gate should plan no state operators: ${q.lastProgress}")
      val got = llm.Similarity.semVerdictFrom(
          spark.table("stream_sem_spec").localCheckpoint(), corpus, delta)
        .as[(Long, String, Long)].collect().toSet
      val want = llm.Similarity.incrementalSemDedup(corpus, delta)
        .as[(Long, String, Long)].collect().toSet
      assert(got === want, s"stream verdict $got != batch $want")
      assert(got.exists { case (id, s, d) => s == "near_dup" && d == id - 1000000L },
        "an exact copy must flag near_dup of its source")
      assert(got.exists { case (id, s, _) => id >= 3000000L && s == "new" },
        "a rotated vector must pass as new")
    } finally q.stop()
  }

  test("streaming refresh gate == batch capstone, verdict for verdict") {
    // The whole multi-tier ingest gate at once: the four sunk probe
    // branches, re-verified and cascaded batch-side, must reproduce the
    // batch capstone row-for-row (the driver additionally certifies
    // both against ONE oracle — this pins the equality locally and
    // earlier, at sf0.001). Every verdict class must appear, or the
    // equality is vacuous for the missing tier.
    val got = SparkEntry.queries("streaming_refresh_probe")(spark, sf("sf0.001"))
      .as[(Long, String, Long)].collect().toSet
    val want = SparkEntry.queries("corpus_incremental_refresh")(spark, sf("sf0.001"))
      .as[(Long, String, Long)].collect().toSet
    assert(got === want, "streaming refresh gate diverges from the batch capstone")
    val classes = got.map(_._2)
    assert(Set("exact_dup", "near_dup", "sem_dup", "contaminated",
      "low_quality", "train").subsetOf(classes),
      s"fixture no longer exercises every verdict class: $classes")
  }

  test("two-batch ingest loop: batch 2 sees batch 1's admissions (foreachBatch probe+admit)") {
    // The ONLINE admission loop (streaming_merge_upsert's foreachBatch
    // discipline applied to the refresh gate): per micro-batch, the
    // served cascade probes the standing indexes, verdicts sink, and
    // the batch's 'train' survivors are ADMITTED before the next
    // trigger — so a duplicate arriving one batch later reads as a dup
    // OF THE ADMITTED DOC, not as fresh content. This is the property
    // that makes dedup-at-ingest converge: the corpus the gate defends
    // includes everything the gate already admitted.
    import graft.llm.Curation
    implicit val sqlCtx = spark.sqlContext
    val corpusDocs = (0L until 24L).map { i =>
      (i, (0 until 12).map(k => s"c${i}w$k").mkString(" "), "en", "src", 60L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    def vec(i: Long): Seq[Double] =
      Seq.tabulate(8)(d => if (d == (i % 8).toInt) 1.0 else 0.02 * ((i + d) % 2))
    val corpusEmb = (0L until 24L).map(i => (i, vec(i), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val hashTbl = s"ingest_loop_hash_$uid"
    val bandTbl = s"ingest_loop_band_$uid"
    val path = tempDir("ingest_loop")
    llm.Dedup.buildHashIndex(corpusDocs, spark, hashTbl, s"$path/$hashTbl")
    llm.Dedup.buildBandIndex(corpusDocs, spark, bandTbl, s"$path/$bandTbl")
    llm.Similarity.buildIvfIndexPinned(corpusEmb, s"$path/ivf")
    try {
      val evG = Curation.evalGrams(corpusDocs, col("doc_id") % 7 === 0).localCheckpoint()
      val docA = (0 until 12).map(k => s"a100x$k").mkString(" ")
      val docB = (0 until 12).map(k => s"b101y$k").mkString(" ")
      val docC = (0 until 12).map(k => s"c102z$k").mkString(" ")
      val vA = Seq.tabulate(8)(d => if (d % 2 == 0) 0.4 else -0.4)
      val vB = Seq.tabulate(8)(d => 0.2 + 0.07 * d)
      val vC = Seq.tabulate(8)(d => if (d < 4) 0.5 else -0.1)
      val mem = MemoryStream[(Long, String, Seq[Double])]
      val verdictLog = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Long)]
      // ONE long-running query (a second query would replay the
      // MemoryStream from offset 0 and re-probe batch 1 post-admission),
      // through the GateOps API — this test IS refreshIngestGate's pin
      val q = streaming.GateOps.refreshIngestGate(
        mem.toDF().toDF("doc_id", "text", "v"), spark,
        hashTbl, bandTbl, s"$path/ivf", evG,
        onVerdicts = (verdicts, id) => verdictLog.synchronized {
          verdictLog ++= verdicts.collect().map(r =>
            (id, r.getLong(0), r.getString(1), r.getLong(2)))
        })
      try {
        // batch 1: two novel docs — both admitted
        mem.addData(Seq((100L, docA, vA), (101L, docB, vB)))
        q.processAllAvailable()
        // r21: the index stores the 16-byte BINARY content key — probe
        // with the table's own encoder, not a hex literal
        val hashed = spark.table(hashTbl)
          .filter(col("h") ===
            llm.Dedup.keyEncoderFor(spark.table(hashTbl))(lit(docA))).count()
        assert(hashed === 1L, s"batch-1 admission missing from the hash table ($hashed)")
        // batch 2: an exact copy of doc 100 (admitted LAST batch, never
        // in the base corpus), a paraphrase of 101 (same vector, novel
        // text), and one genuinely new doc
        mem.addData(Seq(
          (200L, docA, vA),
          (201L, (0 until 12).map(k => s"p201q$k").mkString(" "), vB),
          (202L, docC, vC)))
        q.processAllAvailable()
      } finally q.stop()
      val byId = verdictLog.map(v => v._2 -> ((v._3, v._4))).toMap
      assert(byId(100L) === (("train", -1L)), s"batch-1 novel doc: ${byId(100L)}")
      assert(byId(101L) === (("train", -1L)))
      assert(byId(200L) === (("exact_dup", 100L)),
        s"batch-2 copy must dup against batch-1's ADMITTED doc: ${byId(200L)}")
      assert(byId(201L) === (("sem_dup", 101L)),
        s"batch-2 paraphrase must sem-dup against batch-1's admitted vector: ${byId(201L)}")
      assert(byId(202L) === (("train", -1L)), s"batch-2 novel doc: ${byId(202L)}")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $hashTbl")
      spark.sql(s"DROP TABLE IF EXISTS ${bandTbl}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${bandTbl}_toks")
    }
  }

  test("group-label lifecycle under sustained streaming appends: mid-flight refit, idempotent redelivery, lease-deferred sweep (r20)") {
    // VERDICT r19 task 6: appendGroupLabels / refitGroupLabels / the
    // sidecar protocol were each tested in isolation — this runs them
    // as ONE multi-batch streaming sequence with a refit swap going
    // mid-flight between triggers, and pins three operational truths:
    //  (1) an append landing AFTER the refit's graph snapshot but
    //      BEFORE its swap is silently absent from the swapped table —
    //      the snapshot race is real — and the heal is exactly one
    //      idempotent redelivery of that delta (the anti-join absorbs
    //      everything the snapshot did include);
    //  (2) a second refit killed mid-swap plus catalog loss boots back
    //      to the committed predecessor while the r20 writer lease
    //      DEFERS the candidate sweep (fresh lease = possibly live
    //      writer), and appends keep working against the re-attach;
    //  (3) once the dead writer's lease ages out, the next boot
    //      reclaims the candidate directory — recovery is delayed,
    //      never lost.
    implicit val sqlCtx = spark.sqlContext
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val tbl = s"glbl_live_$uid"
    val path = tempDir("glbl_live")
    llm.Dedup.buildGroupLabels(
      Seq(1L, 2L, 3L, 4L).toDF("id"), Seq((1L, 2L), (3L, 4L)).toDF("a", "b"),
      spark, tbl, s"$path/$tbl")
    try {
      def labels(): Map[Long, Long] = spark.table(tbl).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val mem = MemoryStream[(Long, Long, Long)]
      val pendings = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = mem.toDF().toDF("id", "a", "b").writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val b = batch.localCheckpoint()
          val p = llm.Dedup.appendGroupLabels(
            b.select(col("id")).distinct(), b.select(col("a"), col("b")), spark, tbl)
          pendings.synchronized { pendings += p; () }
        }.start()
      try {
        // batch 1: clean attach — 5 joins {3,4}
        mem.addData(Seq((5L, 4L, 5L))); q.processAllAvailable()
        assert(labels()(5L) === 3L && pendings.toSeq === Seq(0L))
        // batch 2: bridge — 10 touches both groups, pending merge
        mem.addData(Seq((10L, 2L, 10L), (10L, 3L, 10L))); q.processAllAvailable()
        assert(pendings.toSeq === Seq(0L, 1L) && labels()(10L) === 1L)
        // the pending merge triggers a refit; its WRITE step lands
        // (graph snapshot = everything through batch 2) but the swap
        // is still mid-flight when the next trigger fires
        val oldLoc = new org.apache.hadoop.fs.Path(
          spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location).toString
        val snapNodes = Seq(1L, 2L, 3L, 4L, 5L, 10L).toDF("id")
        val snapEdges = Seq((1L, 2L), (3L, 4L), (4L, 5L), (2L, 10L), (3L, 10L))
          .toDF("a", "b")
        llm.Dedup.connectedComponentsStar(snapNodes, snapEdges)
          .write.mode("overwrite").bucketBy(8, "id").sortBy("id")
          .option("path", s"$path/refit1").saveAsTable(s"${tbl}_compacting")
        llm.Dedup.writeSpecSidecar(spark, s"$path/refit1", 8, Seq("id"), Seq("id"),
          epoch = llm.Dedup.sidecarEpoch(spark, oldLoc) + 1L, committed = false)
        // batch 3 arrives WHILE the swap is mid-flight: the append
        // targets the still-committed table and must succeed
        mem.addData(Seq((6L, 1L, 6L))); q.processAllAvailable()
        assert(labels()(6L) === 1L, "append during a mid-flight refit must land")
        // the swap completes (refitGroupLabels's own commit order)
        llm.Dedup.fenceSwapCandidate(spark, s"$path/refit1")
        spark.sql(s"DROP TABLE $tbl")
        spark.sql(s"ALTER TABLE ${tbl}_compacting RENAME TO $tbl")
        llm.Dedup.commitSpecSidecar(spark, s"$path/refit1")
        llm.Dedup.deleteTableLocation(spark, new java.net.URI(oldLoc))
        // (1) the snapshot race: batch 3's attach is NOT in the refit
        assert(!labels().contains(6L),
          "fixture: the refit snapshot must predate batch 3 (the race is real)")
        // ...and ONE idempotent redelivery heals it — batch 4 replays
        // the same delta through the same gate
        mem.addData(Seq((6L, 1L, 6L))); q.processAllAvailable()
        assert(labels()(6L) === 1L, "redelivery after the swap must re-attach")
        assert(pendings.toSeq === Seq(0L, 1L, 0L, 0L))
        // the refit merged the bridge: one group everywhere
        assert(labels().values.toSet === Set(1L), s"post-refit: ${labels()}")
      } finally q.stop()
      // (2) a SECOND refit dies mid-swap, then catalog loss: the boot
      // resolves the committed predecessor and — r20 — DEFERS sweeping
      // the fresh-leased candidate (a live writer would look identical)
      llm.Dedup.connectedComponentsStar(
          Seq(1L, 2L, 3L, 4L, 5L, 6L, 10L).toDF("id"),
          Seq((1L, 2L), (3L, 4L), (4L, 5L), (2L, 10L), (3L, 10L), (1L, 6L))
            .toDF("a", "b"))
        .write.mode("overwrite").bucketBy(8, "id").sortBy("id")
        .option("path", s"$path/refit2").saveAsTable(s"${tbl}_compacting")
      llm.Dedup.writeSpecSidecar(spark, s"$path/refit2", 8, Seq("id"), Seq("id"),
        epoch = llm.Dedup.sidecarEpoch(spark, s"$path/refit1") + 1L, committed = false)
      spark.sql(s"DROP TABLE $tbl")
      spark.sql(s"DROP TABLE ${tbl}_compacting") // crash + catalog loss
      assert(llm.Dedup.resolveCommittedCandidate(
        spark, Seq(s"$path/refit1", s"$path/refit2")) === Some(s"$path/refit1"))
      assert(new java.io.File(s"$path/refit2").exists(),
        "a fresh-leased mid-swap candidate must survive the boot sweep")
      assert(llm.Dedup.reattachBucketedTable(spark, tbl, s"$path/refit1"))
      // appends keep working against the re-attached predecessor
      val p7 = llm.Dedup.appendGroupLabels(
        Seq(7L).toDF("id"), Seq((5L, 7L)).toDF("a", "b"), spark, tbl)
      assert(p7 === 0L && labels()(7L) === 1L,
        "append must work against the crash-recovered table")
      // (3) the dead writer's lease ages out — the next boot reclaims
      val lf = new java.io.File(s"$path/refit2", llm.Dedup.LeaseSidecar)
      assert(lf.setLastModified(
        System.currentTimeMillis() - 2L * llm.Dedup.SweepLeaseTtlDefaultMs))
      assert(llm.Dedup.resolveCommittedCandidate(
        spark, Seq(s"$path/refit1", s"$path/refit2")) === Some(s"$path/refit1"))
      assert(!new java.io.File(s"$path/refit2").exists(),
        "a stale-leased candidate must be reclaimed by the next boot")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_compacting")
    }
  }

  test("stream-static gate vs appendBandIndex: mid-stream append visibility is pinned") {
    // r15 (append-maintenance operational contract): the standing gate
    // joins micro-batches against the PERSISTED band index. When
    // appendBandIndex lands new bucket files mid-stream, does a later
    // micro-batch see them, or is the static side's file listing
    // frozen at query start? Whichever Spark does, the gate's refresh
    // discipline depends on it — so this test PINS the behavior
    // instead of letting a Spark upgrade silently change the gate's
    // semantics.
    implicit val sqlCtx = spark.sqlContext
    val w40 = (0 until 40).map(i => s"s${(i * 11) % 59}y$i")
    val docA = w40.mkString(" ")
    val docB = (0 until 40).map(i => s"q${i}z").mkString(" ")
    val corpusA = Seq((1L, docA)).toDF("doc_id", "text")
    val corpusB = Seq((2L, docB)).toDF("doc_id", "text")
    val tbl = "stream_app_idx_spec"
    val path = tempDir("graft_stream_app_idx")
    llm.Dedup.buildBandIndex(corpusA, spark, tbl, s"$path/$tbl")
    val mem = MemoryStream[(Long, String)]
    def gate() = llm.Dedup.tokenBanded(mem.toDF().toDF("doc_id", "text"))
      .join(spark.table(s"${tbl}_bands"), Seq("band_idx", "band_hash"))
      .select(col("doc_id").as("delta_id"), col("corpus_id"))
    val q1 = gate().writeStream
      .format("memory").queryName("stream_app_run1").outputMode("append").start()
    try {
      try {
        mem.addData(Seq((101L, docA)))
        q1.processAllAvailable()
        val hitsA = spark.table("stream_app_run1")
          .filter(col("delta_id") === 101L && col("corpus_id") === 1L).count()
        assert(hitsA > 0, "probe against the built index must hit corpus doc 1")
        // append corpus doc B mid-stream, then probe for it
        llm.Dedup.appendBandIndex(corpusB, spark, tbl)
        mem.addData(Seq((102L, docB)))
        q1.processAllAvailable()
        val midStreamHitsB = spark.table("stream_app_run1")
          .filter(col("delta_id") === 102L && col("corpus_id") === 2L).count()
        // PINNED: the running query's static side re-plans per
        // micro-batch from the catalog relation, so appended bucket
        // files ARE visible to later batches (Spark 4 behavior). If
        // this ever starts failing, the gate's refresh discipline
        // changed: appends then require a query restart, and the
        // ingest pipeline must bounce the gate after each index
        // maintenance window.
        assert(midStreamHitsB > 0,
          "mid-stream append no longer visible to later micro-batches — " +
            "stream-static listing semantics changed; gate now needs a restart per append")
      } finally q1.stop()
      // restart path must see the appended rows regardless
      val q2 = gate().writeStream
        .format("memory").queryName("stream_app_run2").outputMode("append").start()
      try {
        mem.addData(Seq((103L, docB)))
        q2.processAllAvailable()
        assert(spark.table("stream_app_run2")
          .filter(col("delta_id") === 103L && col("corpus_id") === 2L).count() > 0,
          "restarted gate must see the appended index rows")
      } finally q2.stop()
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_toks")
    }
  }

  test("stream-static gate vs compactIndex: needs-gate-bounce is pinned") {
    // VERDICT r15 task 3 (the append pin's harder sibling): compaction
    // DROPs and RENAMEs the very table a running gate's stream-static
    // join reads, and now also DELETES the superseded location's
    // files. MEASURED Spark 4 behavior, pinned here: the static side
    // refreshes its FILE LISTING per micro-batch (which is why appends
    // become visible — the r15 pin above) but holds the RELATION — and
    // its location — resolved at query START. A swap landing even
    // cleanly BETWEEN triggers therefore breaks the running gate: the
    // next micro-batch lists the OLD location and fails loudly with
    // FAILED_READ_FILE (and without the r16 old-location cleanup it
    // would be worse: silently serving the superseded index forever).
    // Operational rule (compactIndex scaladoc + PLANS.md lifecycle):
    // compaction requires a gate BOUNCE — stop, compact, restart —
    // not merely avoiding the drop→rename window.
    implicit val sqlCtx = spark.sqlContext
    val w40 = (0 until 40).map(i => s"c${(i * 13) % 61}v$i")
    val docA = w40.mkString(" ")
    val docB = (0 until 40).map(i => s"m${i}n").mkString(" ")
    val tbl = "stream_compact_idx_spec"
    val path = tempDir("graft_stream_compact_idx")
    // build + append so the pre-compaction table holds >1 file set
    llm.Dedup.buildBandIndex(Seq((1L, docA)).toDF("doc_id", "text"),
      spark, tbl, s"$path/$tbl")
    llm.Dedup.appendBandIndex(Seq((2L, docB)).toDF("doc_id", "text"), spark, tbl)
    val mem = MemoryStream[(Long, String)]
    // def, not val: each (re)start must re-resolve the catalog table
    def gate() = llm.Dedup.tokenBanded(mem.toDF().toDF("doc_id", "text"))
      .join(spark.table(s"${tbl}_bands"), Seq("band_idx", "band_hash"))
      .select(col("doc_id").as("delta_id"), col("corpus_id"))
    val q1 = gate().writeStream
      .format("memory").queryName("stream_compact_run1").outputMode("append").start()
    try {
      try {
        mem.addData(Seq((101L, docA)))
        q1.processAllAvailable()
        assert(spark.table("stream_compact_run1")
          .filter(col("delta_id") === 101L && col("corpus_id") === 1L).count() > 0,
          "pre-compaction probe must hit corpus doc 1")
        // the whole swap lands cleanly between triggers: write, drop,
        // rename, delete the old location's files
        llm.Dedup.compactIndex(spark, s"${tbl}_bands", s"$path/${tbl}_c2")
        mem.addData(Seq((102L, docB)))
        val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q1.processAllAvailable()
        }
        // PINNED: the running gate reads the start-time location, which
        // the swap retired — fail-stop, not a quiet re-resolve. If this
        // assertion ever fails the other way (the batch succeeds), the
        // static side started re-resolving the RELATION per batch and
        // the bounce rule can relax to quiesce-across-the-window only.
        def chain(t: Throwable): Seq[Throwable] =
          Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
        assert(chain(ex).exists(t => Option(t.getMessage).exists(m =>
          m.contains("FAILED_READ_FILE") || m.contains("does not exist"))),
          s"expected the old-location read to fail loudly, got: $ex")
      } finally q1.stop()
      // the BOUNCED gate re-resolves the renamed table at its new
      // location and answers identically over the compacted index
      // (the fresh query replays the MemoryStream from offset 0)
      val q2 = gate().writeStream
        .format("memory").queryName("stream_compact_run2").outputMode("append").start()
      try {
        mem.addData(Seq((103L, docA)))
        q2.processAllAvailable()
        val sunk = spark.table("stream_compact_run2")
        assert(sunk.filter(col("delta_id") === 102L && col("corpus_id") === 2L).count() > 0,
          "bounced gate must serve the batch that failed mid-swap")
        assert(sunk.filter(col("delta_id") === 103L && col("corpus_id") === 1L).count() > 0,
          "bounced gate must hit the original corpus rows in the compacted index")
      } finally q2.stop()
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_bands_compacting")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_toks")
    }
  }

  test("GateOps.compactUnderGate: the bounce as code — no failed trigger, compacted files, identical verdicts") {
    // PLANS.md r17 note 2 pulled forward: the needs-gate-bounce pin
    // above proves WHY the bounce is needed (a swap under a live gate
    // fail-stops the next trigger); this proves the orchestration
    // helper executes the stop → compact → restart sequence so that NO
    // trigger ever observes the swap: the restarted gate answers over
    // the compacted index for both pre- and post-bounce corpus rows,
    // and the compaction actually collapsed the appended file sets.
    implicit val sqlCtx = spark.sqlContext
    val w40 = (0 until 40).map(i => s"g${(i * 17) % 67}b$i")
    val docA = w40.mkString(" ")
    val docB = (0 until 40).map(i => s"h${i}k").mkString(" ")
    val tbl = "gateops_compact_spec"
    val path = tempDir("graft_gateops_compact")
    llm.Dedup.buildBandIndex(Seq((1L, docA)).toDF("doc_id", "text"),
      spark, tbl, s"$path/$tbl")
    llm.Dedup.appendBandIndex(Seq((2L, docB)).toDF("doc_id", "text"), spark, tbl)
    val preFiles = spark.table(s"${tbl}_bands").inputFiles.length
    val mem = MemoryStream[(Long, String)]
    def gate() = llm.Dedup.tokenBanded(mem.toDF().toDF("doc_id", "text"))
      .join(spark.table(s"${tbl}_bands"), Seq("band_idx", "band_hash"))
      .select(col("doc_id").as("delta_id"), col("corpus_id"))
    def start(name: String) = gate().writeStream
      .format("memory").queryName(name).outputMode("append").start()
    val q1 = start("gateops_run1")
    var q2: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      mem.addData(Seq((101L, docA)))
      q1.processAllAvailable()
      assert(spark.table("gateops_run1")
        .filter(col("delta_id") === 101L && col("corpus_id") === 1L).count() > 0,
        "pre-bounce probe must hit corpus doc 1")
      q2 = streaming.GateOps.compactUnderGate(
        spark, s"${tbl}_bands", s"$path/${tbl}_c2", q1, () => start("gateops_run2"))
      // the bounced gate replays the MemoryStream from offset 0 and
      // takes new data — every trigger lands on the compacted table
      mem.addData(Seq((102L, docB)))
      q2.processAllAvailable()
      assert(q2.exception.isEmpty, s"bounced gate must not fail: ${q2.exception}")
      val sunk = spark.table("gateops_run2")
      assert(sunk.filter(col("delta_id") === 101L && col("corpus_id") === 1L).count() > 0,
        "bounced gate must hit the pre-bounce corpus row in the compacted index")
      assert(sunk.filter(col("delta_id") === 102L && col("corpus_id") === 2L).count() > 0,
        "bounced gate must hit the appended corpus row in the compacted index")
      // compaction really happened: the catalog table now lives at the
      // compacted path (file-count collapse itself is LlmSpec's pin —
      // at this fixture size each bucket may already hold one file)
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${tbl}_bands")).location
      assert(java.nio.file.Paths.get(loc).toString ==
        java.nio.file.Paths.get(s"$path/${tbl}_c2").toString,
        s"table must resolve to the compacted location, got $loc")
      assert(spark.table(s"${tbl}_bands").inputFiles.length <= preFiles,
        "compaction must never grow the file count")
    } finally {
      q1.stop(); if (q2 != null) q2.stop()
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_bands_compacting")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_toks")
    }
  }

  test("GateOps.bootGate: recoverable-by-construction boot completes a crashed swap before the gate resolves") {
    // The unhappy half of the lifecycle pair: a process died between
    // compactWrite's commit and the RENAME (the (absent, _compacting)
    // crash state LlmSpec constructs for recoverCompact) — the next
    // boot must finish the swap FIRST, then start the gate, which then
    // serves the compacted index as if the crash never happened. Also
    // pins the clean-boot path (action "noop") and the loud
    // (false, false) refusal.
    implicit val sqlCtx = spark.sqlContext
    val w40 = (0 until 40).map(i => s"r${(i * 19) % 71}d$i")
    val docA = w40.mkString(" ")
    val tbl = "gateops_boot_spec"
    val path = tempDir("graft_gateops_boot")
    llm.Dedup.buildBandIndex(Seq((1L, docA)).toDF("doc_id", "text"),
      spark, tbl, s"$path/$tbl")
    val mem = MemoryStream[(Long, String)]
    def gate() = llm.Dedup.tokenBanded(mem.toDF().toDF("doc_id", "text"))
      .join(spark.table(s"${tbl}_bands"), Seq("band_idx", "band_hash"))
      .select(col("doc_id").as("delta_id"), col("corpus_id"))
    // BOTH IVF families crashed mid-swap alongside the band-table
    // crash, in the same state (compacted write committed, DROP
    // issued, RENAME never ran): the pinned and k-means `assigned`
    // tables are bucketed catalog tables like the band table, so the
    // one boot heals all three artifacts the same way before the gate
    // starts.
    val embCorpus = (0L until 20L)
      .map(i => (i, Seq.tabulate(8)(d => if (d == (i % 8).toInt) 1.0 else 0.0), 0))
      .toDF("vec_id", "embedding", "label")
    llm.Similarity.buildIvfIndexPinned(embCorpus, s"$path/ivf")
    val pinnedTbl = llm.Similarity.ivfPinnedTable(s"$path/ivf")
    llm.Dedup.compactWrite(spark, pinnedTbl, s"$path/ivf/assigned_c2")
    spark.sql(s"DROP TABLE $pinnedTbl")
    llm.Similarity.buildIvfIndex(embCorpus, s"$path/kmeans", nClusters = 4)
    val kmeansTbl = llm.Similarity.ivfPinnedTable(s"$path/kmeans")
    llm.Dedup.compactWrite(spark, kmeansTbl, s"$path/kmeans/assigned_c2")
    spark.sql(s"DROP TABLE $kmeansTbl")
    try {
      // construct the crash: compacted write committed, old table
      // dropped, RENAME never issued
      llm.Dedup.compactWrite(spark, s"${tbl}_bands", s"$path/${tbl}_c2")
      spark.sql(s"DROP TABLE ${tbl}_bands")
      val (actions, q) = streaming.GateOps.bootGate(
        spark, Map(s"${tbl}_bands" -> Nil), Seq(s"$path/ivf", s"$path/kmeans")) {
        () => gate().writeStream
          .format("memory").queryName("gateops_boot_run").outputMode("append").start()
      }
      try {
        assert(actions(s"${tbl}_bands") === "renamed",
          s"boot must finish the interrupted swap, got $actions")
        assert(actions(s"$path/ivf") === "renamed",
          s"boot must heal the pinned (catalog) IVF swap too, got $actions")
        assert(actions(s"$path/kmeans") === "renamed",
          s"boot must heal the k-means IVF swap too, got $actions")
        assert(spark.table(pinnedTbl).count() === 20L,
          "recovered pinned assigned table must serve the full corpus")
        assert(spark.table(kmeansTbl).count() === 20L,
          "recovered k-means assigned table must serve the full corpus")
        mem.addData(Seq((201L, docA)))
        q.processAllAvailable()
        assert(spark.table("gateops_boot_run")
          .filter(col("delta_id") === 201L && col("corpus_id") === 1L).count() > 0,
          "booted gate must serve the recovered (compacted) index")
      } finally q.stop()
      // clean re-boot is a noop recovery
      val (actions2, q2) = streaming.GateOps.bootGate(spark, Map(s"${tbl}_bands" -> Nil)) {
        () => gate().writeStream
          .format("memory").queryName("gateops_boot_run2").outputMode("append").start()
      }
      try assert(actions2(s"${tbl}_bands") === "noop") finally q2.stop()
      // a table whose compacted write never committed refuses the boot
      intercept[IllegalStateException] {
        streaming.GateOps.bootGate(spark, Map("gateops_absent_tbl" -> Nil)) {
          () => fail("start must not run when recovery refuses"): org.apache.spark.sql.streaming.StreamingQuery
        }
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_bands_compacting")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_toks")
      for (t <- Seq(pinnedTbl, kmeansTbl)) {
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.sql(s"DROP TABLE IF EXISTS ${t}_compacting")
      }
    }
  }

  test("GateOps.bootGate: a FRESH catalog heals every index family from paths alone (r18)") {
    // VERDICT r17 task 3's done condition: build all four catalog-
    // backed families (hash / band pair / gram / pinned IVF), REFIT
    // the pinned index so its data lives at an assigned_refit_* dir
    // (the discovery case), record every probe answer, then DROP all
    // catalog entries — externally-located tables keep their files,
    // which is exactly the state a brand-new process with an
    // in-memory metastore sees. The path-only boot must re-attach
    // each table from its location + bucket-spec sidecar and every
    // probe must answer identically.
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), col("text"))
    val delta = llm.Dedup.incrementalNearDelta(corpus)
    val path = tempDir("graft_boot_fresh")
    val hashTbl = "bootfresh_hash"
    val bandTbl = "bootfresh_band"
    val gramTbl = "bootfresh_gram"
    llm.Dedup.buildHashIndex(corpus, spark, hashTbl, s"$path/hash")
    llm.Dedup.buildBandIndex(corpus, spark, bandTbl, s"$path/band")
    llm.Dedup.buildGramIndex(corpus, spark, gramTbl, s"$path/gram")
    val embCorpus = (0L until 24L)
      .map(i => (i, Seq.tabulate(8)(d => if (d == (i % 8).toInt) 1.0 else 0.0), 0))
      .toDF("vec_id", "embedding", "label")
    llm.Similarity.buildIvfIndexPinned(embCorpus, s"$path/ivf", nCells = 8)
    llm.Similarity.refitIvfIndexPinned(spark, s"$path/ivf", nCells = 8)
    val pinnedTbl = llm.Similarity.ivfPinnedTable(s"$path/ivf")
    // fifth family: the SRP ANN serving pair (bands + vecs tables)
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val srpTbl = "bootfresh_srp"
    llm.Similarity.buildSrpIndex(emb, spark, srpTbl, s"$path/srp")
    def probes(): Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      llm.Dedup.probeHashIndex(delta, spark, hashTbl).orderBy("doc_id").collect().toSeq,
      llm.Dedup.probeBandIndex(delta, spark, bandTbl).orderBy("doc_id").collect().toSeq,
      llm.Dedup.probeGramIndex(delta, spark, gramTbl).orderBy("doc_id").collect().toSeq,
      llm.Similarity.ivfSearchPinned(spark, s"$path/ivf", probeId = 3L, k = 4)
        .collect().toSeq,
      llm.Similarity.probeSrpIndex(emb.filter(col("vec_id") < 8), spark, srpTbl, k = 3)
        .orderBy("probe_id", "rank").collect().toSeq)
    try {
      val before = probes()
      assert(before.forall(_.nonEmpty), "fixture must produce probe hits")
      // the refit moved the pinned data off <path>/ivf/assigned
      assert(!new java.io.File(s"$path/ivf/assigned").exists(),
        "refit must have swapped in an assigned_refit_* dir")
      // catalog loss: drop every entry; external files stay on disk
      for (t <- Seq(hashTbl, s"${bandTbl}_bands", s"${bandTbl}_toks", gramTbl,
          s"${srpTbl}_bands", s"${srpTbl}_vecs", pinnedTbl))
        spark.sql(s"DROP TABLE $t")
      // every probe now fails — the catalog really knows nothing
      intercept[Exception](llm.Dedup.probeHashIndex(delta, spark, hashTbl).count())
      val mem = MemoryStream[(Long, String)]
      val (actions, q) = streaming.GateOps.bootGate(
        spark,
        Map(hashTbl -> Seq(s"$path/hash"),
          s"${bandTbl}_bands" -> Seq(s"$path/band/bands"),
          s"${bandTbl}_toks" -> Seq(s"$path/band/toks"),
          gramTbl -> Seq(s"$path/gram"),
          s"${srpTbl}_bands" -> Seq(s"$path/srp/bands"),
          s"${srpTbl}_vecs" -> Seq(s"$path/srp/vecs")),
        Seq(s"$path/ivf")) {
        () => llm.Dedup.tokenBanded(mem.toDF().toDF("doc_id", "text"))
          .join(spark.table(s"${bandTbl}_bands"), Seq("band_idx", "band_hash"))
          .select(col("doc_id").as("delta_id"), col("corpus_id"))
          .writeStream.format("memory")
          .queryName("bootfresh_run").outputMode("append").start()
      }
      try {
        for (t <- Seq(hashTbl, s"${bandTbl}_bands", s"${bandTbl}_toks", gramTbl,
            s"${srpTbl}_bands", s"${srpTbl}_vecs"))
          assert(actions(t) === "attached+noop",
            s"$t must re-attach from its sidecar, got $actions")
        assert(actions(s"$path/ivf") === "attached+noop",
          s"pinned IVF must re-attach from its refit dir, got $actions")
        // the re-attached tables carry the original bucket specs
        val spec = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(s"${bandTbl}_bands")).bucketSpec
        assert(spec.exists(s => s.numBuckets == 8 &&
          s.bucketColumnNames == Seq("band_idx", "band_hash")),
          s"re-attached band table lost its bucket spec: $spec")
        // and every family answers exactly as before the catalog loss
        val after = probes()
        assert(after === before, "probe answers diverged after path-only re-attach")
        // the re-attached spec must be EFFECTIVE, not just recorded:
        // with broadcast disabled the hash probe still shuffles only
        // the delta side — the bucketed index scan reads co-located
        // (the point of carrying the spec through the sidecar)
        val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val served = llm.Dedup.probeHashIndex(delta, spark, hashTbl)
          served.count()
          val shuffles = collectPlan(served.queryExecution.executedPlan).count(
            _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
          assert(shuffles === 1,
            s"re-attached index must probe co-located (one delta-side exchange):\n" +
              served.queryExecution.executedPlan)
        } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      } finally q.stop()
    } finally {
      for (t <- Seq(hashTbl, s"${bandTbl}_bands", s"${bandTbl}_toks", gramTbl,
          s"${srpTbl}_bands", s"${srpTbl}_vecs",
          pinnedTbl, s"${pinnedTbl}_compacting"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("GateOps.bootGate: crash INSIDE a swap plus catalog loss heals every family automatically (r19)") {
    // VERDICT r18 task 1's done condition: kill a swap mid-flight,
    // drop the catalog, boot fresh, and probe every index family
    // identically — with the superseded/mid-swap candidate dirs
    // provably removed. Three distinct crash phases are constructed:
    //  - hash: killed MID-swap (candidate committed to disk, catalog
    //    swap unfinished) → the boot ROLLS BACK to the committed
    //    predecessor and deletes the mid-swap candidate;
    //  - gram: killed AFTER the sidecar flip but BEFORE the
    //    predecessor cleanup → the boot ROLLS FORWARD to the newer
    //    committed epoch and deletes the superseded predecessor;
    //  - pinned IVF: a refit killed mid-swap → rolls back to the
    //    build's `assigned` dir, refit candidate deleted;
    //  - band pair: clean files, catalog loss only (the r18 path).
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), col("text"))
    val delta = llm.Dedup.incrementalNearDelta(corpus)
    val path = tempDir("graft_boot_crash")
    val hashTbl = "bootcrash_hash"
    val bandTbl = "bootcrash_band"
    val gramTbl = "bootcrash_gram"
    llm.Dedup.buildHashIndex(corpus, spark, hashTbl, s"$path/hash_v1")
    llm.Dedup.buildBandIndex(corpus, spark, bandTbl, s"$path/band")
    llm.Dedup.buildGramIndex(corpus, spark, gramTbl, s"$path/gram_v1")
    val embCorpus = (0L until 24L)
      .map(i => (i, Seq.tabulate(8)(d => if (d == (i % 8).toInt) 1.0 else 0.0), 0))
      .toDF("vec_id", "embedding", "label")
    llm.Similarity.buildIvfIndexPinned(embCorpus, s"$path/ivf", nCells = 8)
    val pinnedTbl = llm.Similarity.ivfPinnedTable(s"$path/ivf")
    def probes(): Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      llm.Dedup.probeHashIndex(delta, spark, hashTbl).orderBy("doc_id").collect().toSeq,
      llm.Dedup.probeBandIndex(delta, spark, bandTbl).orderBy("doc_id").collect().toSeq,
      llm.Dedup.probeGramIndex(delta, spark, gramTbl).orderBy("doc_id").collect().toSeq,
      llm.Similarity.ivfSearchPinned(spark, s"$path/ivf", probeId = 3L, k = 4)
        .collect().toSeq)
    def tableLoc(t: String): String = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
      .location.toString
    try {
      val before = probes()
      assert(before.forall(_.nonEmpty), "fixture must produce probe hits")
      // hash — killed mid-swap, then catalog loss: on disk v1 is the
      // committed epoch 0, v2 the mid-swap epoch 1
      llm.Dedup.compactWrite(spark, hashTbl, s"$path/hash_v2")
      spark.sql(s"DROP TABLE $hashTbl")
      spark.sql(s"DROP TABLE ${hashTbl}_compacting")
      // gram — swap fully flipped, predecessor cleanup never ran, then
      // catalog loss: v1 committed epoch 0, v2 committed epoch 1
      llm.Dedup.compactWrite(spark, gramTbl, s"$path/gram_v2")
      spark.sql(s"DROP TABLE $gramTbl")
      spark.sql(s"ALTER TABLE ${gramTbl}_compacting RENAME TO $gramTbl")
      llm.Dedup.commitSpecSidecar(spark, s"$path/gram_v2")
      spark.sql(s"DROP TABLE $gramTbl")
      // pinned IVF — refit killed mid-swap (candidate on disk,
      // uncommitted), then catalog loss
      llm.Dedup.compactWrite(spark, pinnedTbl, s"$path/ivf/assigned_refit_crash")
      spark.sql(s"DROP TABLE $pinnedTbl")
      spark.sql(s"DROP TABLE ${pinnedTbl}_compacting")
      // band pair — catalog loss only
      spark.sql(s"DROP TABLE ${bandTbl}_bands")
      spark.sql(s"DROP TABLE ${bandTbl}_toks")
      // the killed writers are DEAD — by boot time their writer leases
      // (r20, ADVICE r19) have aged past the sweep TTL; back-date them
      // so the boot reclaims the mid-swap dirs instead of deferring
      for (d <- Seq(s"$path/hash_v2", s"$path/ivf/assigned_refit_crash")) {
        val lf = new java.io.File(d, llm.Dedup.LeaseSidecar)
        assert(lf.exists(), s"fixture: expected a writer lease at $d")
        assert(lf.setLastModified(
          System.currentTimeMillis() - 2L * llm.Dedup.SweepLeaseTtlDefaultMs))
      }
      val mem = MemoryStream[(Long, String)]
      val (actions, q) = streaming.GateOps.bootGate(
        spark,
        Map(hashTbl -> Seq(s"$path/hash_v1", s"$path/hash_v2"),
          s"${bandTbl}_bands" -> Seq(s"$path/band/bands"),
          s"${bandTbl}_toks" -> Seq(s"$path/band/toks"),
          gramTbl -> Seq(s"$path/gram_v1", s"$path/gram_v2")),
        Seq(s"$path/ivf")) {
        () => llm.Dedup.tokenBanded(mem.toDF().toDF("doc_id", "text"))
          .join(spark.table(s"${bandTbl}_bands"), Seq("band_idx", "band_hash"))
          .select(col("doc_id").as("delta_id"), col("corpus_id"))
          .writeStream.format("memory")
          .queryName("bootcrash_run").outputMode("append").start()
      }
      try {
        for ((t, want) <- Seq(hashTbl -> "hash_v1", gramTbl -> "gram_v2")) {
          assert(actions(t) === "attached+noop", s"$t: $actions")
          assert(tableLoc(t).endsWith(want),
            s"$t must serve the resolved committed candidate, got ${tableLoc(t)}")
        }
        // mid-swap candidate rolled BACK and deleted
        assert(!new java.io.File(s"$path/hash_v2").exists(),
          "the hash mid-swap candidate must be deleted")
        // superseded predecessor rolled FORWARD over and deleted
        assert(!new java.io.File(s"$path/gram_v1").exists(),
          "the gram superseded predecessor must be deleted")
        // refit candidate rolled back and deleted; the build serves
        assert(actions(s"$path/ivf") === "attached+noop", s"$actions")
        assert(!new java.io.File(s"$path/ivf/assigned_refit_crash").exists(),
          "the pinned mid-swap refit dir must be deleted")
        assert(tableLoc(pinnedTbl).endsWith("assigned"),
          s"pinned must roll back to the build dir, got ${tableLoc(pinnedTbl)}")
        assert(actions(s"${bandTbl}_bands") === "attached+noop", s"$actions")
        // every family answers exactly as before the crash
        assert(probes() === before,
          "probe answers must survive crash-inside-swap × catalog loss")
      } finally q.stop()
      // a table with NO sidecar-bearing candidate refuses the boot —
      // nothing provably safe exists to serve
      intercept[IllegalStateException] {
        streaming.GateOps.bootGate(
          spark, Map("bootcrash_ghost" -> Seq(s"$path/nothing"))) {
          () => fail("start must not run when resolution refuses"): org.apache.spark.sql.streaming.StreamingQuery
        }
      }
    } finally {
      for (t <- Seq(hashTbl, s"${hashTbl}_compacting", s"${bandTbl}_bands",
          s"${bandTbl}_toks", gramTbl, s"${gramTbl}_compacting",
          pinnedTbl, s"${pinnedTbl}_compacting"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("GateOps.bootGate: a pinned index compacted outside its root boots on a fresh catalog") {
    // The ingest gate compacts the pinned `assigned` table to
    // <dir>/<table>_c<n>, outside the index root, and the swap then
    // deletes <root>/assigned: the root alone no longer holds a
    // candidate. The boot names the root (for the seeds check and the
    // action) together with the table's compaction target, and serves
    // the compacted data. A root-only boot finds no candidate and
    // fails loudly, naming the table.
    implicit val sqlCtx = spark.sqlContext
    val path = tempDir("graft_boot_outside")
    val root = s"$path/ivf"
    val embCorpus = (0L until 24L)
      .map(i => (i, Seq.tabulate(8)(d => if (d == (i % 8).toInt) 1.0 else 0.0), 0))
      .toDF("vec_id", "embedding", "label")
    llm.Similarity.buildIvfIndexPinned(embCorpus, root, nCells = 8)
    val t = llm.Similarity.ivfPinnedTable(root)
    val target = s"$path/${t}_c1"
    def probe() = llm.Similarity.ivfSearchPinned(spark, root, probeId = 3L, k = 4)
      .collect().toSeq
    try {
      val before = probe()
      assert(before.nonEmpty, "fixture must produce probe hits")
      llm.Dedup.compactIndex(spark, t, target)
      assert(!new java.io.File(s"$root/assigned").exists(),
        "fixture: the compaction must have moved the data out of the root")
      spark.sql(s"DROP TABLE $t") // catalog loss
      val refused = intercept[IllegalStateException] {
        streaming.GateOps.bootGate(spark, Map.empty, Seq(root)) {
          () => fail("start must not run when no candidate exists"): org.apache.spark.sql.streaming.StreamingQuery
        }
      }
      assert(refused.getMessage.contains(t), refused.getMessage)
      val mem = MemoryStream[Long]
      val (actions, q) = streaming.GateOps.bootGate(spark, Map(t -> Seq(target)), Seq(root)) {
        () => mem.toDF().writeStream.format("memory")
          .queryName("bootoutside_run").outputMode("append").start()
      }
      try {
        assert(actions === Map(root -> "attached+noop"), s"$actions")
        assert(probe() === before, "the booted index must answer as before the catalog loss")
      } finally q.stop()
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("dropDuplicatesWithinWatermark: the unbounded-source dedup form keeps state only inside the watermark (r17)") {
    // The sink-dedup measurement (SinkVolumeProbe / VERDICT r16 task 3)
    // chose stateful in-stream dedup for the refresh gate, with
    // dropDuplicatesWithinWatermark named as the production form on an
    // UNBOUNDED source — this pins the semantics that make its state
    // bounded: a duplicate key arriving while its first occurrence is
    // inside the watermark is dropped; once the watermark passes the
    // first occurrence's event time + delay the key's state evicts,
    // and a LATER re-arrival emits again (at-most-once only within the
    // watermark window — exactly the contract the gate needs, since a
    // re-arrival after eviction re-probes the standing indexes where
    // its admitted first copy now lives).
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val name = "wm_dedup_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = mem.toDF().toDF("k", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    def out(): Seq[(Long, java.sql.Timestamp)] =
      spark.table(name).collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
    try {
      mem.addData(Seq((1L, ts(0)))); q.processAllAvailable()
      assert(out().map(_._1) === Seq(1L), "first arrival must emit")
      // duplicate INSIDE the watermark window: dropped
      mem.addData(Seq((1L, ts(1)), (2L, ts(2)))); q.processAllAvailable()
      assert(out().map(_._1).sorted === Seq(1L, 2L),
        "within-watermark duplicate must be dropped")
      // advance event time far past k=1's expiry (10:00 + 10 min):
      // the watermark sweep evicts its state
      mem.addData(Seq((3L, ts(50)))); q.processAllAvailable()
      // a re-arrival AFTER eviction emits again — bounded state, not
      // forever-dedup (the plain dropDuplicates difference)
      mem.addData(Seq((1L, ts(51)))); q.processAllAvailable()
      val ks = out().map(_._1)
      assert(ks.count(_ == 1L) === 2,
        s"post-eviction re-arrival must emit again, got $ks")
      assert(ks.sorted === Seq(1L, 1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming CDC merge: per-batch merges compose to the one-shot whole-delta merge") {
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.Audit
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
    // delta split across TWO micro-batches with disjoint keys — the
    // composition property the declared query's single-file source
    // can't exercise (it arrives as one batch)
    val b1 = Seq((2L, "B2"), (5L, "e"))  // update + insert
    val b2 = Seq((4L, "D2"), (6L, "f"))  // update + insert
    @volatile var snapshot = base.localCheckpoint()
    val mem = MemoryStream[(Long, String)]
    val query = mem.toDF().toDF("k", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        snapshot = Audit.mergeUpsert(snapshot, batch.localCheckpoint(), "k")
          .localCheckpoint()
        ()
      }.start()
    try {
      mem.addData(b1); query.processAllAvailable()
      mem.addData(b2); query.processAllAvailable()
      val streamed = snapshot.as[(Long, String)].collect().toSet
      val oneShot = Audit.mergeUpsert(base, (b1 ++ b2).toDF("k", "v"), "k")
        .as[(Long, String)].collect().toSet
      assert(streamed === oneShot, s"stream $streamed != one-shot $oneShot")
      assert(streamed === Set((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "D2"),
        (5L, "e"), (6L, "f")))
    } finally query.stop()
  }

  test("streaming attribution: state survives the micro-batch boundary, matches batch window") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    val streamed = StreamingAlerts.streamingAttribution(
      spark, mem.toDF().toDF("event_id", "user_id", "ts", "event_type"))
    val name = "attr_test_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val query = streamed.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // batch 1: the touch; batch 2: the conversion — credit must
      // cross the boundary through state
      mem.addData((1L, 1L, ts("2024-01-01 10:00:00"), "view"))
      query.processAllAvailable()
      mem.addData(
        (2L, 1L, ts("2024-01-01 10:00:07"), "purchase"),
        (3L, 2L, ts("2024-01-01 11:00:00"), "purchase")) // user 2: no touch ever
      query.processAllAvailable()
      val got = spark.table(name)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
      assert(got === Set((2L, 1L, 7000000L), (3L, -1L, -1L)))
    } finally query.stop()
  }

  test("streaming sequences: a trigram spanning the micro-batch boundary still emits") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    val streamed = StreamingAlerts.streamingSequences(
      spark, mem.toDF().toDF("event_id", "user_id", "ts", "event_type"))
    val name = "seq_test_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val query = streamed.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, 1L, ts("2024-01-01 10:00:00"), "a"),
        (2L, 1L, ts("2024-01-01 10:01:00"), "b"))
      query.processAllAvailable() // state warm, nothing emitted yet
      assert(spark.table(name).count() === 0L)
      mem.addData((3L, 1L, ts("2024-01-01 10:02:00"), "c"))
      query.processAllAvailable()
      val got = spark.table(name).collect().map(_.getString(0)).toSeq
      assert(got === Seq("a>b>c"))
    } finally query.stop()
  }

  test("streaming windowed funnel: chain and deadline survive the micro-batch boundary") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    val streamed = StreamingAlerts.streamingWindowedFunnel(
      spark, mem.toDF().toDF("event_id", "user_id", "ts", "event_type"),
      Seq("signup", "view", "purchase"), 6L * 3600 * 1000000) // 6 h window
    val name = "wfun_test_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val query = streamed.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // batch 1: user 1 anchors and views; user 2 anchors
      mem.addData(
        (1L, 1L, ts("2024-01-01 00:00:00"), "signup"),
        (2L, 1L, ts("2024-01-01 02:00:00"), "view"),
        (3L, 2L, ts("2024-01-01 00:00:00"), "signup"))
      query.processAllAvailable()
      // batch 2: user 1 purchases INSIDE the deadline (stage 3 crosses
      // the boundary through state); user 2 views OUTSIDE it — the
      // deadline must also survive the boundary and reject it
      mem.addData(
        (4L, 1L, ts("2024-01-01 05:00:00"), "purchase"),
        (5L, 2L, ts("2024-01-01 07:00:00"), "view"))
      query.processAllAvailable()
      val got = spark.table(name)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got === Set((1L, 1), (1L, 2), (1L, 3), (2L, 1)),
        s"got=$got — user 1 must reach stage 3 across the boundary, user 2 must stay at 1")
    } finally query.stop()
  }

  test("streaming rolling 7-day distinct actives == batch contribute-forward rewrite") {
    val dir = sf("sf0.001")
    val streamed = SparkEntry.queries("streaming_rolling_active")(spark, dir)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    val batch = graft.queries.EventAnalytics
      .rollingActiveUsers(Tables.events(spark, dir), 7)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming log histogram: state rows equal the bucket grid, counts merge across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Double]
    val vi = (col("value").cast("decimal(20,6)") * lit(1000000)).cast("long")
    val out = mem.toDF().toDF("value")
      .select(vi.as("vi"))
      .withColumn("w",
        when(length(col("vi").cast("string")) === 1, lit(1L))
          .otherwise(expr(
            "cast(concat('1', repeat('0', length(cast(vi as string)) - 2)) as bigint)")))
      .groupBy(expr("(vi div w) * w").as("lo_us"), col("w").as("width_us"))
      .agg(count(lit(1)).as("cnt"))
    val query = out.writeStream.format("memory").queryName("stream_loghist_spec")
      .outputMode("complete").start()
    try {
      // two batches hitting the SAME bucket (1.0 and 1.05 both land in
      // [1000000, 1100000)) plus distinct ones — counts must merge
      mem.addData(Seq(1.0, 0.000005, 25.0))
      query.processAllAvailable()
      mem.addData(Seq(1.05, 25.5, 990.0))
      query.processAllAvailable()
      val got = spark.table("stream_loghist_spec")
        .as[(Long, Long, Long)].collect().toSet
      assert(got === Set(
        (5L, 1L, 1L),                    // 0.000005 → vi=5, width 1
        (1000000L, 100000L, 2L),         // 1.0 and 1.05 merged
        (25000000L, 1000000L, 2L),       // 25.0 and 25.5 merged
        (990000000L, 10000000L, 1L)))
      // bounded state: exactly one state row per occupied bucket
      val st = query.lastProgress.stateOperators
      assert(st.nonEmpty && st.head.numRowsTotal === 4L,
        s"state should be the 4-cell bucket grid: ${query.lastProgress}")
    } finally query.stop()
  }

  test("streaming HLL: registers merge across batches, state bounded by occupied slots") {
    import graft.queries.Sketches
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val rows = Sketches.hllRowRegisters(
      mem.toDF().toDF("k").withColumn("g", lit("x")), "g", "k")
    val query = rows.groupBy(col("grp"), col("j")).agg(max(col("rho")).as("m_j"))
      .writeStream.format("memory").queryName("stream_hll_spec")
      .outputMode("complete").start()
    try {
      // two batches with overlapping keys: the register table must
      // equal the batch build over the union (max is order- and
      // duplication-invariant — the sketch's merge law)
      mem.addData(1L to 400L)
      query.processAllAvailable()
      mem.addData(201L to 600L)
      query.processAllAvailable()
      val streamed = spark.table("stream_hll_spec")
        .as[(String, Long, Int)].collect().toSet
      val batch = Sketches.hllRowRegisters(
          (1L to 600L).toDF("k").withColumn("g", lit("x")), "g", "k")
        .groupBy(col("grp"), col("j")).agg(max(col("rho")).as("m_j"))
        .as[(String, Long, Int)].collect().toSet
      assert(streamed === batch, "streaming registers != batch registers")
      // bounded state: one row per occupied register, ≤ m regardless
      // of stream length
      assert(streamed.size <= Sketches.HllM)
      val st = query.lastProgress.stateOperators
      assert(st.nonEmpty && st.head.numRowsTotal === streamed.size.toLong)
      // and the shared estimator over those registers is in regime for
      // n = 600 (≈ 2.3·m: upper edge of the biased zone — generous band)
      val est = Sketches.hllEstimate(spark.table("stream_hll_spec").localCheckpoint())
        .head().getAs[Double]("hll_est")
      assert(est > 300 && est < 1200, s"estimate $est wildly out of regime for n=600")
    } finally query.stop()
  }
}
