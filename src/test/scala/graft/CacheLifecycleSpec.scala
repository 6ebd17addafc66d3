package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The query-scoped cache lifecycle over a Verify-ordered sweep at
  * sf0.001: every registered query is built with `q.run`, written to
  * the noop sink and followed by its release hooks, as graft.Verify
  * does. The sweep takes minutes, so one pass records what every
  * property needs and the assertions read the record. Persisted RDDs
  * are counted through SparkContext's registry against a baseline
  * taken after a full release (suites run sequentially in one forked
  * JVM; see CacheReleaseSpec). */
class CacheLifecycleSpec extends SparkSpec {
  import CacheLifecycleSpec.Step

  private val dir = "/root/testdata/sf0.001"
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a Verify-ordered sweep keeps exactly the live families' frames resident") {
    Caches.releaseAll(spark)
    val base = persisted
    val qs = SparkEntry.all
    val order = qs.map(_.name)
    val hooks = Caches.releaseHooks(order)
    val lastIdx = Caches.lastReaders(order).map { case (f, n) => f -> order.indexOf(n) }
    val firstIdx = lastIdx.keys.map(f => f -> qs.indexWhere(_.reads.contains(f))).toMap
    val failed = ArrayBuffer[String]()
    val steps = qs.map { q =>
      val df = q.run(spark, dir)
      val read = Caches.familiesRead(spark)
      try df.write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) => failed += s"${q.name}: $e" }
      val acted = persisted
      hooks(q.name).foreach(_(spark))
      Step(read, acted, persisted, Family.all.filter(_.populated(spark)).toSet)
    }
    val end = persisted
    Caches.releaseAll(spark)
    val released = persisted

    assert(failed.isEmpty, failed.mkString("\n"))

    // building a query populates exactly the families it declares: the
    // memo reads of its construction (a hit on a live session is the
    // build a released session would run)
    val misdeclared = qs.zip(steps).collect {
      case (q, st) if st.read != q.reads.toSet =>
        s"${q.name}: construction read ${st.read.map(_.name)}, declares ${q.reads.map(_.name)}"
    }
    assert(misdeclared.isEmpty, misdeclared.mkString("\n"))

    // a family holds memos from its first reader until its last one's
    // hooks have fired, and never outside that window
    val wrongLive = steps.indices.flatMap { i =>
      val expected = lastIdx.keySet.filter(f => firstIdx(f) <= i && i < lastIdx(f))
      if (steps(i).live == expected) None
      else Some(s"after ${order(i)}: live ${steps(i).live.map(_.name)}, expected ${expected.map(_.name)}")
    }
    assert(wrongLive.isEmpty, wrongLive.mkString("\n"))

    // after each query, every persisted RDD beyond the baseline is a
    // frame of a family whose last reader is still ahead: it was
    // created by a reader of that family and is dropped by the hooks
    // of its last reader, and by nothing before them
    def created(r: Int): Int = steps.indexWhere(_.acted(r))
    val strays = steps.indices.flatMap { i =>
      (steps(i).after -- base).toSeq.sorted.flatMap { r =>
        val k = steps.indexWhere(_.after(r) == false, i + 1)
        val owner = lastIdx.collectFirst {
          case (f, l) if l == k && steps(k).acted(r) && qs(created(r)).reads.contains(f) => f
        }
        if (owner.isDefined) None
        else Some(s"after ${order(i)}: RDD $r (created by ${order(created(r))}) " +
          (if (k < 0) "is never released" else s"is released after ${order(k)}"))
      }.take(1)
    }
    assert(strays.isEmpty, strays.mkString("\n"))

    assert(end == base, s"resident at the end of the sweep: ${end -- base}")
    assert(released == base, s"resident after releaseAll: ${released -- base}")
  }

  test("q238 persists its own intermediates after q237 and its hooks") {
    Caches.releaseAll(spark)
    val Seq(q237, q238) = SparkEntry.select(Seq("q237", "q238"))
    val hooks = Caches.releaseHooks(Seq(q237.name, q238.name))
    q237.run(spark, dir).write.format("noop").mode("overwrite").save()
    hooks(q237.name).foreach(_(spark))
    // q238's second disk artifact is written on first use; write it now
    // so only the query's own frames are counted below
    llm.LlmText.spanIndexTable(spark, dir)
    val before = persisted
    q238.run(spark, dir) // construction materializes the three newSpansFromDelta frames
    val own = persisted -- before
    hooks(q238.name).foreach(_(spark))
    assert(own.size == 3, s"q238 persisted ${own.size} frames of its own")
    assert((persisted & own).isEmpty, "q238's hook left its frames resident")
    Caches.releaseAll(spark)
  }
}

object CacheLifecycleSpec {
  /** One query of the sweep: the families its construction read, the
    * persisted RDDs after its action and after its hooks, and the
    * families still holding memos after its hooks. */
  final case class Step(read: Set[Family], acted: Set[Int], after: Set[Int], live: Set[Family])
}
