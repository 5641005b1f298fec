package graft

import org.apache.spark.sql.functions._

/** The materialization policy's release contract: whatever
  * [[Materialize.using]] caches is released when its body returns or
  * throws, so no query leaves entries in the session `CacheManager`
  * that later queries' plans would silently read. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("Materialize.using releases its inputs when the body throws, and the exception propagates") {
    spark.catalog.clearCache()
    def persistent = spark.sparkContext.getPersistentRDDs.keySet
    val before = persistent
    var cachedInBody = Set.empty[Int]
    val a = spark.range(0, 100).toDF("id")
    val b = a.select((col("id") * 2).as("id"))
    val ex = intercept[IllegalStateException] {
      Materialize.using(a, b) {
        assert(!cacheEmpty, "inputs must be cached inside the body")
        assert(b.count() === 100L)
        cachedInBody = (persistent -- before).toSet
        throw new IllegalStateException("body failed")
      }
    }
    assert(ex.getMessage === "body failed")
    assert(cacheEmpty, "a failing body must release every cached input")
    assert(cachedInBody.nonEmpty)
    assert((persistent intersect cachedInBody).isEmpty,
      "the release must drop the cached blocks, not only the CacheManager entries")
  }

  test("Materialize.using materializes a returned frame once; an existing checkpoint is returned as it is") {
    spark.catalog.clearCache()
    val in = (1L to 50L).toDF("id")
    val out = Materialize.using(in)(in.filter(col("id") % 2 === 0))
    assert(cacheEmpty)
    assert(out.rdd.toDebugString.contains("LocalCheckpointRDD"),
      "a frame returned by the body must be materialized before its inputs are released")
    assert(out.count() === 25L)
    assert(Materialize(out) eq out, "a checkpointed frame must not be checkpointed again")
    assert(Materialize.using(in)(out) eq out)
  }

  // The declared queries that reach operators which cached an input
  // and never released it (kmvDistinct, cmsTopTokens, kmvSetOps,
  // hllDistinct, nearDupPairs, labelDrift, the SCD2 as-of snapshot):
  // each consumed at sf0.01 must leave the session cache empty.
  test("declared queries over the cached-input operators leave the CacheManager empty") {
    val dir = sf("sf0.01")
    for (name <- Seq("sketch_kmv_distinct", "sketch_kmv_setops", "sketch_cms_topk",
        "sketch_hll_distinct", "agg_approx_distinct_pinned", "dedup_minhash_pairs",
        "dedup_source_matrix", "dedup_tier_agreement", "curation_split_leakage",
        "embed_label_drift", "audit_scd2_asof")) {
      spark.catalog.clearCache()
      SparkEntry.queries(name)(spark, dir).collect()
      assert(cacheEmpty, s"$name left cached frames in the session CacheManager")
    }
    spark.catalog.clearCache()
    graft.llm.TextAnalysis.sourceDrift(Tables.documents(spark, dir)).collect()
    assert(cacheEmpty, "sourceDrift left cached frames in the session CacheManager")
  }
}
