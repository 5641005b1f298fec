package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev harness: empirical 10× point for the content-defined chunking
  * pipeline (`dedup_cdc_chunks`). Scaling axis: k doc replicas
  * (doc_id + r·10⁶, text untouched), so boundary decisions are
  * identical per replica — cut rows and chunk rows must scale exactly
  * k×. Replicated text also makes every chunk k-ways shared, so the
  * fingerprint aggregate runs under maximal duplication (the workload
  * CDC exists for) rather than the no-dup easy case. Wall time is
  * min-of-`reps` of the declared pipeline (un-checkpointed core, over
  * a materialized replica frame). PLANS.md records the output.
  *
  * The scales arg takes a comma list (VERDICT r10 task 5: the 100×
  * point): `10,100` probes 1×/10×/100× in one run — at sf0.01 base
  * that is a compound two-decade span of the replica axis, checking
  * that the 10× linearity isn't a scheduling-floor artifact.
  * (`sbt "runMain graft.CdcProbe [sfDir] [scales] [reps]"`) */
object CdcProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scales = args.lift(1).map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(10))
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

    val docs0 = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    for (k <- (1 +: scales).distinct) {
      // probe the op, not the replica explode
      val docs = Materialize(docs0.withColumn("_r", explode(sequence(lit(0), lit(k - 1))))
        .select((col("doc_id") + col("_r") * 1000000L).as("doc_id"), col("text")))
      val nDocs = docs.count()
      val base = docs
        .select(col("doc_id"), col("text"), split(col("text"), " ").as("toks"))
        .withColumn("len", size(col("toks")))
      Materialize.using(base) {
        // the two work drivers: rolling-hash cut rows and chunk rows
        val cuts = base
          .select(col("doc_id"), col("len"),
            graft.functions.ngram_hashes(col("text"), 4, 15).as(Seq("pos", "gram_h")))
          .filter(pmod(col("gram_h"), lit(16)) === 0 && col("pos") + 4 < col("len"))
          .count()
        val out = llm.Dedup.contentChunksComposedFrom(base, 4, 16)
        val chunkRows = out.count()
        val maxShare = out.agg(max(col("n_docs_sharing"))).head().getLong(0)
        val t = timeMin(llm.Dedup.contentChunksComposedFrom(base, 4, 16))
        // native generator head-to-head (un-checkpointed core, same shape
        // as the declared query's pipeline)
        val tNative = timeMin {
          val rows = docs.select(col("doc_id"),
            graft.functions.cdc_chunks(col("text"), 4, 16)
              .as(Seq("chunk_idx", "start_pos", "n_tokens", "chunk_fp")))
          val sharing = rows.groupBy(col("chunk_fp"))
            .agg(countDistinct(col("doc_id")).as("n_docs_sharing"))
          rows.join(sharing, Seq("chunk_fp"))
        }
        println(f"CDCPROBE k=$k%-3d docs=$nDocs%-7d cutRows=$cuts%-8d " +
          f"chunkRows=$chunkRows%-8d maxShare=$maxShare%-4d " +
          f"composed=$t%.3fs native=$tNative%.3fs speedup=${t / tNative}%.2fx")
      }
    }
    spark.stop()
  }
}
