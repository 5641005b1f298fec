package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** Dev harness (VERDICT r12 task 7): Dedup.scala's header documents
  * "a hot bucket degrades to quadratic within that bucket only —
  * mitigate with more bands/rows"; this probe demonstrates the
  * ROWS-PER-BAND half of that lever on a planted pathology instead of
  * asserting it.
  *
  * Fixture: Bench's salted LSH corpus (unrelated docs, pairwise J=0)
  * plus ONE planted cluster of `clusterSize` docs built from a shared
  * 60-token pool where member i keeps a deterministic ~`keep`/10
  * subset — pairwise Jaccard concentrates near f/(2−f) (≈0.67 at
  * f=0.8): SIMILAR BUT BELOW the 0.9 dedup threshold, i.e. the
  * "loosely similar blob" that floods LSH with candidates which exact
  * verify then rejects. True near-dup clusters (J ≥ threshold) are
  * quadratic in EVERY geometry — their pairs are real output; the
  * geometry lever is about not paying quadratic verify work for
  * sub-threshold clusters.
  *
  * For each (bands b × rows r) geometry at the SAME hash budget
  * k = b·r = 12, reports Σ C(n,2) over band buckets (the self-join's
  * output rows — the verify stage's input) and the distinct candidate
  * pair count. Per-band collision for a pair at Jaccard J is J^r, so
  * raising r sharpens the s-curve: the probe's pass criterion is the
  * candidate count FALLING as r grows, flattening the hot-bucket
  * blow-up at unchanged recall for true dups (1−(1−J^r)^b stays ≈1
  * above the threshold).
  *
  * `sbt "runMain graft.HotBucketProbe [sfDir] [clusterSize] [keep10]"`.
  */
object HotBucketProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val clusterSize = args.lift(1).map(_.toInt).getOrElse(500)
    val keep10 = args.lift(2).map(_.toInt).getOrElse(8)
    require(clusterSize >= 2, s"clusterSize must be >= 2 to form pairs, got $clusterSize")
    require(keep10 >= 1 && keep10 <= 10, s"keep10 must be in [1, 10], got $keep10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // planted cluster: member i keeps pool token j iff a fixed integer
    // mix of (i, j) lands under keep10/10 — deterministic, no RNG
    val PoolSize = 60
    def keeps(i: Int, j: Int): Boolean =
      ((j * 31 + i * 17 + (i * j) % 13) % 10) < keep10
    val cluster = (0 until clusterSize).map { i =>
      val toks = (0 until PoolSize).filter(j => keeps(i, j)).map(j => s"hotpool$j")
      (900000000L + i, toks.mkString(" "))
    }
    // exact pairwise-J stats of the planted cluster (driver-side over
    // the bounded token-subset model, for the report header)
    val sets = (0 until clusterSize).map(i =>
      (0 until PoolSize).filter(j => keeps(i, j)).toSet)
    val js = for {
      a <- sets.indices; b <- (a + 1) until sets.size
    } yield sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
    println(f"cluster n=$clusterSize pairs=${js.size} " +
      f"J min=${js.min}%.3f mean=${js.sum / js.size}%.3f max=${js.max}%.3f " +
      f"(dedup threshold ${Dedup.JaccardThreshold})")

    val fixtureDir = Bench.lshFixture(spark, sfDir)
    val corpus = Tables.documents(spark, fixtureDir)
      .select(col("doc_id"), col("text"))
      .unionByName(cluster.toDF("doc_id", "text"))
    Materialize.using(corpus) {
      val n = corpus.count()

      println(f"${"geometry"}%12s ${"bucket_pair_work"}%17s ${"distinct_cands"}%15s ${"p_collide(J=.67)"}%17s")
      val k = 12
      for ((b, r) <- Seq((12, 1), (6, 2), (4, 3), (2, 6), (1, 12))) {
        require(b * r == k, "constant hash budget")
        val banded = corpus.select(col("doc_id"),
          posexplode(graft.functions.minhash_band_hashes(
            col("text"), 1, "mh:",
            (0 until k).map(i => Dedup.mhA("mh", i)),
            (0 until k).map(i => Dedup.mhB("mh", i)),
            Dedup.MinHashPrime, r)).as(Seq("band_idx", "band_hash")))
        Materialize.using(banded) {
          val work = banded.groupBy(col("band_idx"), col("band_hash"))
            .agg(count(lit(1)).as("n"))
            .agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L)).cast("long"))
            .head().getLong(0)
          val cands = banded.as("a").join(banded.as("b"),
              col("a.band_idx") === col("b.band_idx") &&
                col("a.band_hash") === col("b.band_hash") &&
                col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
          val pc = 1.0 - math.pow(1.0 - math.pow(0.67, r), b)
          println(f"${s"${b}x$r"}%12s $work%17d $cands%15d $pc%17.4f")
        }
      }
      println(s"corpus rows (fixture + cluster): $n")
    }
    Bench.deleteRecursively(fixtureDir)
    spark.stop()
  }
}
