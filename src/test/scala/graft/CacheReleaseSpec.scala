package graft

/** The no-leak property behind round 5's bench stabilization: after a
  * family's release fires, NOTHING that family persisted stays in the
  * storage tier. Pinned via SparkContext's persistent-RDD registry
  * (suites run sequentially in one forked JVM, so the counts are
  * race-free; baseline is taken after a full release because earlier
  * suites may legitimately hold memoized registry frames). */
class CacheReleaseSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def persisted = spark.sparkContext.getPersistentRDDs.size

  test("releaseAll drops every frame the query families persisted") {
    Caches.releaseAll(spark)
    val base = persisted
    // populate all five families, incl. every round-15 TextMining
    // cache (source-grams, split-length, source-terms), q57's
    // connected-components frame (with the label RDD it reads) and a
    // q160 query-scoped histogram frame
    SparkEntry.queries("q41_dedup_minhash_lsh")(spark, dir).count()
    SparkEntry.queries("q57_dedup_clusters")(spark, dir).count()
    SparkEntry.queries("q43_ann_cosine_topk")(spark, dir).count()
    SparkEntry.queries("q32_registry_trial")(spark, dir).count()
    SparkEntry.queries("q109_pagerank")(spark, dir).count()
    SparkEntry.queries("q110_pmi_bigrams")(spark, dir).count()
    SparkEntry.queries("q156_source_overlap")(spark, dir).count()
    SparkEntry.queries("q158_ks_split_drift")(spark, dir).count()
    SparkEntry.queries("q159_source_terms")(spark, dir).count()
    SparkEntry.queries("q160_quality_blend")(spark, dir).count()
    SparkEntry.queries("q191_langid_kappa")(spark, dir).count()
    assert(persisted > base, "families did not persist anything — consumers changed?")
    Caches.releaseAll(spark)
    assert(persisted <= base,
      s"release leaked: $persisted persistent RDDs remain (baseline $base)")
  }

  test("released families recompute transparently on the next call") {
    Caches.releaseAll(spark)
    val again = SparkEntry.queries("q41_dedup_minhash_lsh")(spark, dir).count()
    assert(again > 0)
    Caches.releaseAll(spark)
  }
}
