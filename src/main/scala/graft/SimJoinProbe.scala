package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev harness: growth probe for the exact set-similarity tier
  * (`Dedup.jaccardExactJoin`), two replica axes that separate
  * SEMANTIC output growth from ENGINE plan growth:
  *
  *  - DUPLICATION replicas (doc_id shifted, text untouched): every
  *    replica pair of the same doc is a true J=1 pair, so the OUTPUT
  *    itself is quadratic in k — and so is Σdf² (each gram's df
  *    scales ×k). Quadratic wall growth here is the operator's
  *    semantics, not plan waste.
  *  - DISJOINT replicas (every token prefixed r⟨r⟩·): vocabularies
  *    never collide across replicas, so true pairs and Σdf² both
  *    scale ×k — the engine must scale linearly.
  *
  * `sbt "runMain graft.SimJoinProbe [sfDir]"`; min-of-3 warm walls.
  */
object SimJoinProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))

    def dupReplicas(k: Int): DataFrame =
      (0 until k).map(r => docs.select((col("doc_id") + lit(r * 1000000L)).as("doc_id"),
        col("text"))).reduce(_ unionByName _)

    def disjointReplicas(k: Int): DataFrame =
      (0 until k).map(r => docs.select(
        (col("doc_id") + lit(r * 1000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(lit(s"r${r}x"), t)), " ").as("text")))
        .reduce(_ unionByName _)

    def run(tag: String, df: DataFrame): Unit = {
      val g = graft.llm.Dedup.bigramSets(df)
        .withColumn("sz", size(col("grams")).cast("long"))
      Materialize.using(g) {
        val cooc = g.select(col("doc_id"), explode(col("grams")).as("gram"))
          .groupBy(col("gram")).agg(count(lit(1)).as("df"))
          .agg(sum(col("df") * col("df"))).head().getLong(0)
        val walls = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          val n = graft.llm.Dedup.jaccardExactJoinPlan(g).count()
          (n, (System.nanoTime() - t0) / 1e9)
        }
        println(f"PROBE $tag pairs=${walls.head._1} sumdf2=$cooc " +
          f"wall=${walls.map(_._2).min}%.2f")
      }
    }

    for (k <- Seq(1, 2, 3)) run(s"dup k=$k", dupReplicas(k))
    for (k <- Seq(1, 2, 3)) run(s"disjoint k=$k", disjointReplicas(k))
    spark.stop()
  }
}
