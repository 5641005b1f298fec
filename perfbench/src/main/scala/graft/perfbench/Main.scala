package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Benchmark process: runs one workload over inputs generated by
  * `gen.py` and writes a result file that `run.py` checks and reports.
  *
  * Arguments are `key=value` pairs (see `run.py`). With `trace=0` no
  * listener is attached. With `trace=1` traced and untraced units
  * alternate, the traced ones under a [[Recorder]] and spans. */
object Main {

  /** Program source files named by the per-module metrics: the files
    * the workloads' jobs start in. Jobs whose call site names another
    * file count under `other`. */
  val Modules: Seq[String] = Seq("Tables", "Telemetry", "Relational", "EventAnalytics",
    "Dedup", "Curation", "Similarity", "perfbench", "other")

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k"))
    def int(k: String): Int = apply(k).toInt
    def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap)
    val cores = a.int("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", a("tmp"))
      .config("spark.sql.warehouse.dir", a("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val result = mutable.LinkedHashMap[String, Any]()
    try {
      val w = a("workload") match {
        case "ingest" => new Ingest(spark, a, cores)
        case _ => new Queries(spark, a, cores)
      }
      w.run(result)
    } finally {
      result("peak_rss_mb") = peakRssMb()
      val f = new java.io.PrintWriter(a("result"), "UTF-8")
      try f.write(Json(result)) finally f.close()
      spark.stop()
    }
  }

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  /** Runs `tasks` on `threads` threads; results in task order. */
  def concurrently[T](tasks: Seq[() => T], threads: Int): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(() => t())).map(_.get())
    finally pool.shutdown()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Consumer that computes every output column and returns an
    * order-independent digest of the rows: count, xor and a bounded sum
    * of one xxhash64 per row. */
  def digestFrame(df: DataFrame): DataFrame = {
    val h = xxhash64(df.columns.toIndexedSeq.map(c => df.col(s"`$c`")): _*)
    df.select(h.as("h")).agg(count(lit(1)).as("n"), bit_xor(col("h")).as("x"),
      sum(pmod(col("h"), lit(1000003L))).as("s"))
  }

  object Plans extends AdaptiveSparkPlanHelper

  /** Layer metrics of one unit of work from the jobs that started in it. */
  def unitLayers(rec: Recorder, start: Double, end: Double, cores: Int): Map[String, Double] = {
    val js = rec.jobsIn(start, end)
    val resolve = js.filter(j => Seq("parquet at ", "load at ", "table at ")
      .exists(j.stageName.startsWith))
    val wall = (end - start) / 1000.0
    val run = js.map(_.runMs).sum / 1000.0
    val blocks = rec.blocksIn(start, end)
    val perModule = Modules.flatMap { m =>
      val mj = js.filter(j => j.module == m || (m == "other" && !Modules.contains(j.module)))
      Seq(s"module.$m.jobs" -> mj.size.toDouble, s"module.$m.job_s" -> mj.map(_.dur).sum / 1000.0)
    }
    Map(
      "Tables.resolve_jobs" -> resolve.size.toDouble,
      "Tables.resolve_s" -> resolve.map(_.dur).sum / 1000.0,
      "scheduler.jobs" -> js.size.toDouble,
      "scheduler.stages" -> js.map(_.stages).sum.toDouble,
      "scheduler.tasks" -> js.map(_.tasks).sum.toDouble,
      "scheduler.delay_s" -> js.map(_.delayMs).sum / 1000.0,
      "scheduler.task_failures" -> js.map(_.taskFailures).sum.toDouble,
      "executor.run_s" -> run,
      "executor.cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "executor.gc_s" -> js.map(_.gcMs).sum / 1000.0,
      "executor.busy_frac" -> run / (cores * wall),
      "shuffle.write_bytes" -> js.map(_.shufWrite).sum.toDouble,
      "shuffle.read_bytes" -> js.map(_.shufRead).sum.toDouble,
      "shuffle.fetch_wait_s" -> js.map(_.fetchWaitMs).sum / 1000.0,
      "shuffle.write_s" -> js.map(_.shufWriteNs).sum / 1e9,
      "shuffle.spill_bytes" -> js.map(_.spill).sum.toDouble,
      "blocks.rdd_blocks" -> blocks.size.toDouble,
      "blocks.rdd_bytes" -> blocks.map(_._2).sum.toDouble) ++ perModule
  }

  /** Rows per second of the `functions` kernels over the corpus in `dir`,
    * each into a noop sink (median of three after a warm-up). */
  def kernels(spark: SparkSession, dir: String): Map[String, Double] = {
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text").localCheckpoint()
    val n = docs.count().toDouble
    def rate(f: => DataFrame): Double = {
      def go(): Double = {
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      go()
      n / Main.median(Seq(go(), go(), go()))
    }
    Map(
      "functions.minhash_rows_per_s" -> rate(graft.llm.Dedup.signatures(graft.llm.Dedup.tokenized(docs))),
      "functions.simhash_rows_per_s" -> rate(graft.llm.Dedup.simhashed(docs)),
      "functions.cdc_rows_per_s" -> rate(graft.llm.Dedup.contentChunks(docs)),
      "functions.ngram_rows_per_s" -> rate(graft.llm.Curation.ngramRows(docs)))
  }

  /** Successful jobs whose interval does not nest in [start, end] (ms
    * resolution: listener times are whole milliseconds). A cancelled job
    * (AQE drops stages it no longer needs) may end after its span. */
  def unnested(rec: Recorder, start: Double, end: Double): Int =
    rec.jobsIn(start, end).count(j => !j.failed && (j.end < 0 || j.end > math.ceil(end) + 1))
}

/** One workload: fills the result map. */
trait Workload {
  def run(result: mutable.Map[String, Any]): Unit
}
