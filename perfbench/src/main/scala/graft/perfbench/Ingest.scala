package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.llm.{Curation, Dedup, Similarity}
import graft.streaming.GateOps

/** `ingest`: the standing refresh gate. Set-up builds the serving
  * indexes over the corpus; then seeded delta batches run one by one
  * (closed loop). Per batch: any compaction `GateOps.compactionDue`
  * (its default policy) flagged after the previous batch, the served probe
  * (`Curation.incrementalRefreshServed`), and admission
  * (`Curation.admitRefreshBatch`). Checks outside the timed window: one
  * batch's served verdicts against the in-query `Curation.incrementalRefresh`
  * over corpus + admitted docs, and one batch probed both before and
  * after a compaction. */
final class Ingest(spark: SparkSession, a: Main.Args, cores: Int) extends Workload {
  private val dir = a("data")
  private val idx = a("index_dir")
  private val trace = a("trace") == "1"
  private val hashT = "gate_hash"
  private val bandT = "gate_band"
  private val ivf = s"$idx/ivf"
  private val evalPred = col("doc_id") % a.int("eval_mod") === 0 &&
    col("doc_id") < a("batch_id_base").toLong
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("v", ArrayType(DoubleType))))

  private def batch(b: Int): (DataFrame, DataFrame) = {
    val p = f"$dir/batches/b$b%04d"
    (spark.read.schema(docSchema).parquet(s"$p/docs.parquet"),
      spark.read.schema(embSchema).parquet(s"$p/emb.parquet"))
  }

  private def probe(bd: DataFrame, be: DataFrame, evG: DataFrame): DataFrame =
    Curation.incrementalRefreshServed(bd, be, spark, hashT, bandT, ivf, evG).localCheckpoint()

  private def rows(v: DataFrame): Seq[(Long, String, Long)] =
    v.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sortBy(_._1)

  /** Serving tables the gate maintains, each with its bucket count. */
  private def tables: Seq[String] =
    Seq(hashT, s"${bandT}_bands", s"${bandT}_toks", Similarity.ivfPinnedTable(ivf))

  private def filesPerBucket(t: String): Double = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(loc).count(_.getPath.getName.startsWith("part-")).toDouble /
      meta.bucketSpec.map(_.numBuckets).getOrElse(1)
  }

  /** Every data file under the index root, path -> bytes. */
  private def indexFiles(): Map[String, Long] = {
    val root = java.nio.file.Paths.get(idx)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      finally s.close()
    }
  }

  def run(result: mutable.Map[String, Any]): Unit = {
    val tracer = new Tracer
    val rec = new Recorder
    val errors = mutable.ArrayBuffer.empty[String]
    val launch = a("launch_ms").toDouble

    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, dir)
    val corpusDocs = a("corpus_rows").toLong
    val b0 = tracer.now
    // the four serving artifacts are independent: build them concurrently
    val evG = Main.concurrently[Option[DataFrame]](Seq(
      () => { Dedup.buildHashIndex(docs, spark, hashT, s"$idx/$hashT"); None },
      () => { Dedup.buildBandIndex(docs, spark, bandT, s"$idx/$bandT"); None },
      () => { Similarity.buildIvfIndexPinned(emb, ivf); None },
      () => Some(Curation.evalGrams(docs, evalPred).localCheckpoint())), cores).flatten.head
    result("session_s") = (b0 - launch) / 1000.0
    result("index_build_s") = (tracer.now - b0) / 1000.0
    var seen = indexFiles()
    var written = 0L
    var admittedDocs = 0L
    var attemptedDocs = 0L
    var compactions = 0
    val perTable = mutable.Map.empty[String, Int].withDefaultValue(0)
    var compactionsInCount = 0
    var fpbMaxInCount = 0.0
    var pending = Seq.empty[String]
    var preCompaction: Option[(Int, Seq[(Long, String, Long)])] = None
    val admittedRows = mutable.ArrayBuffer.empty[(Long, String)]
    val admittedVecs = mutable.ArrayBuffer.empty[(Long, Seq[Double])]
    /** Keep the admitted docs and vectors for the in-query check. */
    def trackAdmitted(bd: DataFrame, be: DataFrame, vr: Seq[(Long, String, Long)]): Unit = {
      val ids = vr.filter(_._2 == "train").map(_._1)
      val d = bd.filter(col("doc_id").isin(ids: _*)).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val v = be.filter(col("vec_id").isin(ids: _*)).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      admittedRows ++= d
      admittedVecs ++= v
    }
    val verdicts = mutable.LinkedHashMap.empty[String, Seq[(Long, String, Long)]]
    val units = mutable.ArrayBuffer.empty[Map[String, Any]]
    val compactS = mutable.ArrayBuffer.empty[Double]
    var inQueryCheck: Map[String, Any] = Map.empty
    var compactionCheck: Map[String, Any] = Map.empty

    // warm-up, untimed: batch 0 is probed and admitted; its verdicts
    // are checked too
    val (wd, we) = batch(0)
    val (wbd, wbe) = (wd.localCheckpoint(), we.localCheckpoint())
    val wv = probe(wbd, wbe, evG)
    val wr = rows(wv)
    Curation.admitRefreshBatch(wv, wbd, wbe, spark, hashT, bandT, ivf)
    pending = tables.filter(t => GateOps.compactionDue(spark, t))

    verdicts("b0000") = wr
    admittedDocs += wr.count(_._2 == "train")
    attemptedDocs += wr.size
    trackAdmitted(wbd, wbe, wr)

    seen = indexFiles()
    val nBatches = a.int("batches")
    val start = tracer.now
    result("jvm_setup_s") = (start - launch) / 1000.0
    var b = 1
    try {
      def cycles = perTable.values.maxOption.getOrElse(0)
      while (b < nBatches && (b <= Ingest.CountBatches || cycles < Ingest.MinCycles ||
          tracer.now - start < a.int("seconds") * 1000.0)) {
        val counted = b <= Ingest.CountBatches
        val traced = trace && b % 2 == 0
        if (traced) spark.sparkContext.addSparkListener(rec)
        val (rd, re) = batch(b)
        // every span below reads the clock itself, so time between the
        // children shows as the batch span's self time
        val us = tracer.now
        val compactSpans = pending.map { t =>
          val cs = tracer.now
          compactions += 1
          perTable(t) += 1
          if (counted) compactionsInCount += 1
          Dedup.compactIndex(spark, t, s"$idx/${t}_c$compactions")
          val ce = tracer.now
          compactS += (ce - cs) / 1000.0
          (cs, ce)
        }
        pending = Nil
        val ps = tracer.now
        val bd = rd.localCheckpoint()
        val be = re.localCheckpoint()
        val v = probe(bd, be, evG)
        val vr = rows(v)
        val pe = tracer.now
        val as = tracer.now
        val admitted = Curation.admitRefreshBatch(v, bd, be, spark, hashT, bandT, ivf)
        pending = tables.filter(t => GateOps.compactionDue(spark, t))
        val ae = tracer.now
        val ue = tracer.now

        val fpb = tables.map(filesPerBucket)
        val unit = mutable.LinkedHashMap[String, Any](
          "traced" -> traced, "counted" -> counted, "wall_s" -> (ue - us) / 1000.0,
          "ops" -> Map("probe" -> (pe - ps) / 1000.0, "admit" -> (ae - as) / 1000.0),
          "compactions" -> compactSpans.size, "files_per_bucket" -> fpb)
        if (traced) {
          BusAccess.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(rec)
          val uid = tracer.record(-1, b, "batch", us, ue)
          compactSpans.foreach { case (cs, ce) => tracer.record(uid, b, "compact", cs, ce) }
          tracer.record(uid, b, "probe", ps, pe)
          tracer.record(uid, b, "admit", as, ae)
          val accounting = tracer.selfTime(tracer.spans.find(_.id == uid).get)
          rec.jobsIn(us, ue).foreach(j => tracer.record(uid, b, s"job:${j.id}:${j.module}",
            j.start.toDouble, math.max(j.start, j.end).toDouble))
          unit("layers") = Main.unitLayers(rec, us, ue, cores) ++ Map(
            "ingest.probe_jobs" -> rec.jobsIn(ps, pe).size.toDouble,
            "ingest.admit_jobs" -> rec.jobsIn(as, ae).size.toDouble,
            "check.accounting_max_ms" -> accounting,
            "check.unnested_jobs" -> Main.unnested(rec, us, ue).toDouble)
        }
        units += unit.toMap

        // ---- outside the timed window
        val label = f"b$b%04d"
        verdicts(label) = vr
        preCompaction.foreach { case (pb, pre) =>
          if (pb == b) {
            compactionCheck = Map("batch" -> label, "equal" -> (pre == vr))
            preCompaction = None
          }
        }
        attemptedDocs += vr.size
        admittedDocs += admitted
        if (b == Ingest.CheckBatch) {
          // served verdicts == in-query cascade over corpus + docs admitted so far
          import spark.implicits._
          val allDocs = docs.unionByName(admittedRows.toSeq.toDF("doc_id", "text"))
          val allEmb = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
            .unionByName(admittedVecs.toSeq.toDF("vec_id", "embedding"))
          val inQ = rows(Curation.incrementalRefresh(allDocs, allEmb, bd,
            be.select(col("vec_id"), col("v")), evalPred))
          inQueryCheck = Map("batch" -> label, "equal" -> (inQ == vr),
            "diff" -> (inQ.diff(vr) ++ vr.diff(inQ)).take(10))
        }
        if (b < Ingest.CheckBatch) trackAdmitted(bd, be, vr)
        if (pending.nonEmpty && compactionCheck.isEmpty && preCompaction.isEmpty && b + 1 < nBatches) {
          val (nd, ne) = batch(b + 1)
          preCompaction = Some((b + 1, rows(probe(nd.localCheckpoint(), ne.localCheckpoint(), evG))))
        }
        val now = indexFiles()
        written += now.collect { case (p, s) if !seen.contains(p) => s }.sum
        seen = now
        if (counted)
          fpbMaxInCount = math.max(fpbMaxInCount, fpb.max)
        b += 1
      }
    } catch {
      case e: Throwable =>
        errors += s"batch $b: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        b += 1
    }
    val finalFiles = indexFiles()
    if (trace) result("kernels") = Main.kernels(spark, dir)
    result("units") = units
    result("verdicts") = verdicts.map { case (k, v) => k -> v.map(t => Seq(t._1, t._2, t._3)) }
    result("in_query_check") = inQueryCheck
    result("compaction_check") = compactionCheck
    result("errors") = errors
    result("attempted") = b - 1
    result("ingest") = Map(
      "batches" -> (b - 1),
      "compactions" -> compactions,
      "compact_s" -> compactS,
      "count_compactions" -> compactionsInCount,
      "files_per_bucket_max" -> fpbMaxInCount,
      "index_bytes" -> finalFiles.values.sum,
      "indexed_docs" -> (corpusDocs + admittedDocs),
      "written_bytes" -> written,
      "admitted_docs" -> admittedDocs,
      "attempted_docs" -> attemptedDocs)
    result("spans") = tracer.spans.map(s => Seq(s.id, s.parent, s.unit, s.name, s.start, s.end))
  }
}

object Ingest {
  /** Batches always run, and the window the exact counts cover. With the
    * gate's default policy (compact a table when it holds more than 8
    * files a bucket) the band table is compacted every third batch, so
    * 9 batches hold three of its compaction cycles. */
  val CountBatches = 9
  /** Compactions of one table a run must reach, however long it takes. */
  val MinCycles = 3
  /** The batch whose served verdicts are checked against the in-query
    * cascade over corpus + admitted docs. */
  val CheckBatch = 1
}
