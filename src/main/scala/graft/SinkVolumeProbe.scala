package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.llm.{Curation, Dedup, Similarity}
import graft.streaming.StreamingAlerts

/** Dev harness (VERDICT r16 task 3): the streaming refresh probe's
  * SINK-VOLUME trade, measured on the EXACT production hit stream
  * (`StreamingAlerts.refreshHitStream` — the same code the declared
  * `streaming_refresh_probe` runs).
  *
  * The gate sinks its four probe branches PRE-distinct: the n tier
  * emits one row per AGREEING BAND of a (delta, corpus) pair and the
  * c tier one row per matching 8-gram — on the vocabulary-dense raw
  * corpus at sf0.1 that is the 233 s Verify cost the r17 notes
  * flagged. The alternative is a stateful in-stream
  * `dropDuplicates(delta_id, tier, cand_id)`: the state store absorbs
  * the duplicate keys and the sink receives only the distinct hit
  * set — verdict-identical by construction, because the batch-side
  * verdict builders re-distinct the sunk hits anyway (semVerdictFrom
  * / nearDupVerdictFrom / the contamination distinct). The trade is
  * executor state (distributed, spillable at scale) vs sink volume
  * (the memory sink here is driver-resident; a real sink pays the
  * write amplification instead).
  *
  * `sbt "runMain graft.SinkVolumeProbe [sfDir] [reps]"`; results
  * table in PLANS.md. On an unbounded source the production form is
  * dropDuplicatesWithinWatermark (bounding the state by event time);
  * AvailableNow one-shot state is bounded by the distinct hit set.
  */
object SinkVolumeProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, sfDir)
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val hashTbl = s"svp_hash_$uid"
    val bandTbl = s"svp_band_$uid"
    val path = java.nio.file.Files.createTempDirectory("graft_svp").toString
    Dedup.buildHashIndex(docs, spark, hashTbl, s"$path/$hashTbl")
    Dedup.buildBandIndex(docs, spark, bandTbl, s"$path/$bandTbl")
    Similarity.buildIvfIndexPinned(emb, s"$path/ivf")
    try {
      val seeds = Similarity.pinnedSeeds(spark, s"$path/ivf")
      val assignedStatic = spark.table(Similarity.ivfPinnedTable(s"$path/ivf"))
        .select(col("vec_id").as("corpus_id"), col("cluster"))
      val evG = Materialize(Curation.evalGrams(docs, col("doc_id") % 7 === 0))

      def run(variant: String): (Long, Double) = {
        val hits = StreamingAlerts.refreshHitStream(
          spark, sfDir, docs, hashTbl, bandTbl, seeds, assignedStatic, evG)
        val sunk =
          if (variant == "dedup") hits.dropDuplicates("delta_id", "tier", "cand_id")
          else hits
        val name = s"svp_${variant}_${java.util.UUID.randomUUID().toString.take(8)}"
        val t0 = System.nanoTime()
        val q = sunk.writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val secs = (System.nanoTime() - t0) / 1e9
        val rows = spark.table(name).count()
        spark.sql(s"DROP VIEW IF EXISTS $name") // memory sink registers a temp view
        (rows, secs)
      }

      for (variant <- Seq("plain", "dedup"); r <- 1 to reps) {
        val (rows, secs) = run(variant)
        println(f"SINKVOL[$variant%-5s] rep=$r sunk_rows=$rows%-9d wall=$secs%7.2f s sf=$sfDir")
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $hashTbl")
      spark.sql(s"DROP TABLE IF EXISTS ${bandTbl}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${bandTbl}_toks")
      Similarity.dropIvfIndexPinned(spark, s"$path/ivf")
      graft.Bench.deleteRecursively(path)
    }
    spark.stop()
  }
}
