package graft.perfbench

import scala.collection.mutable

import org.apache.spark.BusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import graft.SparkEntry

/** `telemetry` and `curation`: closed-loop passes over a list of declared
  * queries (`SparkEntry.queries`). One untimed warm-up pass, then passes
  * until `seconds` have elapsed and at least `min_passes` ran; each
  * query's output is written once afterwards for the oracle check. */
final class Queries(spark: SparkSession, a: Main.Args, cores: Int) extends Workload {
  private val dir = a("data")
  private val names = a.list("queries")
  private val trace = a("trace") == "1"
  private val queries = names.map(n => n -> SparkEntry.queries(n))

  def run(result: mutable.Map[String, Any]): Unit = {
    val tracer = new Tracer
    val rec = new Recorder
    val digests = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer.empty[String]): _*)
    val errors = mutable.ArrayBuffer.empty[String]
    val units = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0

    /** Runs one query: construct, plan, execute. Returns the four span
      * boundaries (start, constructed, planned, executed) and the
      * executed digest frame. */
    def once(name: String, q: (SparkSession, String) => DataFrame): (Seq[Double], DataFrame) = {
      val t0 = tracer.now
      val df = q(spark, dir)
      val t1 = tracer.now
      val forced = Main.digestFrame(df)
      forced.queryExecution.executedPlan
      val t2 = tracer.now
      val row = forced.collect().head
      val t3 = tracer.now
      digests.synchronized(digests(name) += s"${row.getLong(0)}:${row.get(1)}:${row.get(2)}")
      (Seq(t0, t1, t2, t3), forced)
    }

    result("session_s") = (tracer.now - a("launch_ms").toDouble) / 1000.0
    // warm-up pass, untimed: the queries run concurrently (codegen and
    // JIT compilation are what it is for; they do not depend on order)
    val warm = Main.concurrently(queries.map { case (n, q) => () =>
      try { val (b, _) = once(n, q); n -> (b(3) - b(0)) / 1000.0 }
      catch { case e: Throwable => errors.synchronized(errors += s"warm-up $n: ${msg(e)}"); n -> -1.0 }
    }, queries.size)
    result("warm_up") = warm.toMap
    result("warm_concurrent_s") = (tracer.now - a("launch_ms").toDouble) / 1000.0
    for ((n, q) <- queries) // and once more in pass order, so JIT settles
      try once(n, q) catch { case e: Throwable => errors += s"warm-up $n: ${msg(e)}" }
    val start = tracer.now
    result("jvm_setup_s") = (start - a("launch_ms").toDouble) / 1000.0

    val minPasses = if (trace) 2 else Queries.MinPasses
    var p = 0
    def kinds(traced: Boolean) = units.count(_("traced") == traced)
    while (kinds(false) < minPasses || (trace && kinds(true) < minPasses) ||
        tracer.now - start < a.int("seconds") * 1000.0) {
      val traced = trace && p % 2 == 1
      if (traced) spark.sparkContext.addSparkListener(rec)
      val ps = tracer.now
      val lat = mutable.LinkedHashMap.empty[String, Double]
      val qspans = mutable.ArrayBuffer.empty[(String, (Double, Double), Seq[Double], DataFrame)]
      for ((n, q) <- queries) {
        attempted += 1
        try {
          // the query span reads the clock itself, around the phases and
          // the digest bookkeeping, so untimed work shows as its self time
          val qs = tracer.now
          val (b, forced) = once(n, q)
          val qe = tracer.now
          lat(n) = (b(3) - b(0)) / 1000.0
          if (traced) qspans += ((n, (qs, qe), b, forced))
        } catch { case e: Throwable => errors += s"pass $p $n: ${msg(e)}" }
      }
      val pe = tracer.now
      val unit = mutable.LinkedHashMap[String, Any](
        "traced" -> traced, "counted" -> (traced && kinds(true) == 0),
        "wall_s" -> (pe - ps) / 1000.0, "ops" -> lat)
      if (traced) {
        BusAccess.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(rec)
        unit("layers") = Main.unitLayers(rec, ps, pe, cores) ++ queryLayers(tracer, rec, p, ps, pe, qspans.toSeq)
      }
      units += unit.toMap
      p += 1
    }

    val out = a("out")
    val oracle = mutable.LinkedHashMap.empty[String, String]
    for ((n, q) <- queries) {
      try {
        q(spark, dir).write.mode("overwrite").parquet(s"$out/$n")
        SparkEntry.oracleSql.get(n).foreach(sql => oracle(n) = sql)
      } catch { case e: Throwable => errors += s"write $n: ${msg(e)}" }
    }
    result("units") = units
    result("digests") = digests
    result("oracle") = oracle
    result("errors") = errors
    result("attempted") = attempted
    result("spans") = tracer.spans.map(s => Seq(s.id, s.parent, s.unit, s.name, s.start, s.end))
  }

  /** Query-boundary and Catalyst metrics of one traced pass, plus the
    * layer-accounting check (the pass span is covered by its query spans,
    * each query span by construct + plan + execute; every job nests in
    * its query span). */
  private def queryLayers(
      tracer: Tracer, rec: Recorder, pass: Int, ps: Double, pe: Double,
      qs: Seq[(String, (Double, Double), Seq[Double], DataFrame)]): Map[String, Double] = {
    val passId = tracer.record(-1, pass, "pass", ps, pe)
    var construct, plan, execute, gap, constructJobs = 0.0
    var analysis, optimization, planning, exchanges, broadcasts = 0.0
    var accountingErr, unnested = 0.0
    for ((n, (qs0, qe0), b, forced) <- qs) {
      val qid = tracer.record(passId, pass, s"query:$n", qs0, qe0)
      tracer.record(qid, pass, "construct", b(0), b(1))
      tracer.record(qid, pass, "plan", b(1), b(2))
      tracer.record(qid, pass, "execute", b(2), b(3))
      construct += b(1) - b(0); plan += b(2) - b(1); execute += b(3) - b(2)
      accountingErr = math.max(accountingErr,
        tracer.selfTime(tracer.spans.find(_.id == qid).get))
      val js = rec.jobsIn(qs0, qe0)
      js.foreach(j => tracer.record(qid, pass, s"job:${j.id}:${j.module}", j.start.toDouble,
        math.max(j.start, j.end).toDouble))
      gap += tracer.uncovered(qs0, qe0, js.map(j => (j.start.toDouble, j.end.toDouble)))
      constructJobs += rec.jobsIn(b(0), b(1)).size
      unnested += Main.unnested(rec, qs0, qe0)
      val ph = forced.queryExecution.tracker.phases
      def phase(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      analysis += phase(QueryPlanningTracker.ANALYSIS)
      optimization += phase(QueryPlanningTracker.OPTIMIZATION)
      planning += phase(QueryPlanningTracker.PLANNING)
      val plan0 = forced.queryExecution.executedPlan
      exchanges += Main.Plans.collect(plan0) { case e: ShuffleExchangeLike => e }.size
      broadcasts += Main.Plans.collect(plan0) { case e: BroadcastExchangeLike => e }.size
    }
    accountingErr = math.max(accountingErr,
      tracer.selfTime(tracer.spans.find(_.id == passId).get))
    Map(
      "query.construct_s" -> construct / 1000.0,
      "query.construct_jobs" -> constructJobs,
      "query.plan_s" -> plan / 1000.0,
      "query.execute_s" -> execute / 1000.0,
      "query.driver_gap_s" -> gap / 1000.0,
      "catalyst.analysis_ms" -> analysis,
      "catalyst.optimization_ms" -> optimization,
      "catalyst.planning_ms" -> planning,
      "catalyst.exchanges" -> exchanges,
      "catalyst.broadcasts" -> broadcasts,
      "check.accounting_max_ms" -> accountingErr,
      "check.unnested_jobs" -> unnested)
  }

  private def msg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}

object Queries {
  /** Passes an untraced run always times, however short `seconds` is. */
  val MinPasses = 5
}
