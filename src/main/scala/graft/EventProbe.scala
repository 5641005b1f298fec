package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev harness (VERDICT r9 #6): empirical 10× points for the three
  * event-analytics shapes whose growth axis was pinned but unmeasured —
  * the contribute-forward explodes (`events_rolling_active` ×7,
  * `events_survival_curve` ×≤31) and the sweep-line two-phase prefix
  * sum (`events_concurrency_peak`).
  *
  * Scaling axis: k disjoint USER replicas of the sf0.1 events table
  * (user_id + r·10⁹, event_id + r·10¹², timestamps untouched). Per-user
  * structure is identical in every replica, so activity rows, explode
  * work, session boundaries all scale exactly k× — while the
  * concurrency op's hour-bucket grid (the frame of its ONE
  * unpartitioned window) must stay CONSTANT: that invariant is the
  * 100 TB claim the two-phase prefix sum exists for. PLANS.md records
  * the output. (`sbt "runMain graft.EventProbe [sfDir] [m] [reps]"`) */
object EventProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val m = args.lift(1).map(_.toInt).getOrElse(10)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def timeMin(df: => DataFrame): Double = {
      df.count()
      (1 to reps).map { _ =>
        val t0 = System.nanoTime(); df.count(); (System.nanoTime() - t0) / 1e9
      }.min
    }

    val base = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    for (k <- Seq(1, m)) {
      val ev = Materialize(base.withColumn("_r", explode(sequence(lit(0), lit(k - 1))))
        .select(
          (col("event_id") + col("_r") * 1000000000000L).as("event_id"),
          col("ts"),
          (col("user_id") + col("_r") * 1000000000L).as("user_id"),
          col("event_type"), col("value"))) // materialize: probe the ops, not the replica explode
      val nEv = ev.count()

      // rolling actives: work = the ×7 contribute explode of the
      // distinct (user, day) activity frame (pre-dedup row count)
      val act = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val actRows = act.count()
      val contribRows = actRows * 7 // exact: explode(sequence(0,6)) per activity row
      val tRoll = timeMin(queries.EventAnalytics.rollingActiveUsers(ev, 7))

      // survival: work = Σ_u (min(span, 30) + 1) contribute rows
      val spans = ev.select(col("user_id"), to_date(col("ts")).as("day"))
        .groupBy(col("user_id"))
        .agg(datediff(max(col("day")), min(col("day"))).as("span"))
      val nUsers = spans.count()
      val survRows = spans
        .agg(sum(least(col("span"), lit(30)) + 1).cast("long")).head().getLong(0)
      val tSurv = timeMin(queries.EventAnalytics.survivalCurve(ev, 30))

      // concurrency: work = session boundary rows (2 per session);
      // grid = distinct hour buckets — MUST stay flat as k grows
      val sess = operators.Sessionize
        .withSessionIds(ev.select(col("event_id"), col("ts"), col("user_id")), 1800L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
      val nSess = sess.count()
      val grid = ev.select(date_trunc("hour", col("ts"))).distinct().count()
      val tConc = timeMin(queries.TimeSeries.concurrencyPeak(ev, 1800L))

      // windowed funnel (r10): work = step-filtered event rows (the one
      // shuffled side); chain rounds = |steps| regardless of data
      val funnelSteps = Seq("signup", "view", "click", "purchase")
      val funnelRows = ev.filter(col("event_type").isin(funnelSteps: _*)).count()
      val tFun = timeMin(queries.EventAnalytics.windowedFunnel(
        ev, funnelSteps, 72L * 3600 * 1000000))

      println(f"EVPROBE x$k%-3d events=$nEv%-9d actRows=$actRows%-8d " +
        f"rollContrib=$contribRows%-9d roll_s=$tRoll%6.2f " +
        f"users=$nUsers%-8d survContrib=$survRows%-9d surv_s=$tSurv%6.2f " +
        f"sessions=$nSess%-8d boundaries=${2 * nSess}%-9d hourGrid=$grid%-6d conc_s=$tConc%6.2f " +
        f"funnelRows=$funnelRows%-9d funnel_s=$tFun%6.2f")
    }
    spark.stop()
  }
}
