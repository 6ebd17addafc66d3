package graft.registry

import graft.{Caches, SparkSpec}
import org.apache.spark.sql.Row

/** `Registry.release` drops the registry's storage for good: the views
  * are rooted at the merged frame's cache leaf, so a handle used after
  * the release would otherwise rebuild and re-persist the buffers where
  * no registry tracks them. Counted through SparkContext's persistent-
  * RDD registry against a baseline taken after a full release (suites
  * run sequentially in one forked JVM; see CacheReleaseSpec). */
class RegistryReleaseSpec extends SparkSpec {

  private def persisted = spark.sparkContext.getPersistentRDDs.size
  private val q37 = Search.Query(
    trial = Some("overall_status <> 'completed'"), location = Some("location = 'Germany'"))

  private def answers(t: RegistryTables): (Seq[Long], Seq[Row]) = (
    Seq(t.trials.count(), t.imp.count(), t.sponsor.count(), t.location.count()),
    Search.export(t, q37, Seq("official_title")).collect().toSeq)

  test("load, release, stale use and re-load leave no untracked persisted RDD") {
    Caches.releaseAll(spark)
    val base = persisted
    val t = Registry.load(spark, SyntheticCorpus.ensure())
    val before = answers(t)
    assert(before._1 == Seq(3L, 3L, 4L, 6L))
    assert(before._2.map(_.getString(0)) == Seq("2004-000001-11"))
    assert(persisted == base + 1, "the merged root is the registry's one persisted RDD")

    Registry.release(spark)
    assert(persisted == base, "release left a persisted RDD behind")

    // stale use fails loudly and rebuilds nothing
    Seq[() => Any](() => t.merged, () => t.trials.count(), () => t.location,
        () => Search.export(t, q37, Seq("official_title")).collect(),
        () => Search.search(t, Search.Query()).count()).foreach { use =>
      val e = intercept[IllegalStateException](use())
      assert(e.getMessage.contains("registry released; call Registry.load"), e.getMessage)
    }
    assert(persisted == base, "a stale handle re-persisted the merged buffers")

    // re-load: fresh tables, same answers
    val fresh = Registry.load(spark, SyntheticCorpus.ensure())
    assert(fresh ne t)
    assert(answers(fresh) == before)
    assert(persisted == base + 1)
    Registry.release(spark)
    assert(persisted == base)
  }
}
