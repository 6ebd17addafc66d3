package graft

/** Release-hook computation from the queries' family declarations:
  * each cache family fires exactly once, right after its LAST reader
  * in the sweep order — too early wastes recomputation, never leaks
  * persisted frames across the sweep — and every query gets a hook for
  * its own frames. */
class CachesSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val registered = SparkEntry.all.map(_.name)

  /** For `order`: the query names whose hooks release family `f`. */
  private def firing(order: Seq[String]): Map[Family, Seq[String]] = {
    val last = Caches.lastReaders(order)
    Family.all.map(f => f -> order.filter(n => last.get(f).contains(n))).toMap
  }

  private def readers(f: Family): Seq[String] =
    SparkEntry.all.filter(_.reads.contains(f)).map(_.name)

  test("hooks fire after each family's last consumer in registration order") {
    Seq(registered, registered.reverse).foreach { order =>
      val hooks = Caches.releaseHooks(order)
      val fire = firing(order)
      Family.all.foreach { f =>
        assert(readers(f).nonEmpty, s"no query declares ${f.name}")
        assert(fire(f) == Seq(readers(f).maxBy(order.indexOf)), s"${f.name} fires at ${fire(f)}")
      }
      // one hook per query for its own frames, plus one per family
      // whose last reader it is
      order.foreach { n =>
        assert(hooks(n).size == 1 + Family.all.count(f => fire(f) == Seq(n)), n)
      }
    }
  }

  test("every hooked query name is a registered query") {
    assert(registered.distinct.size == registered.size)
    val hooks = Caches.releaseHooks(registered)
    assert(hooks.keySet == registered.toSet)
    Caches.lastReaders(registered).values.foreach(n => assert(registered.contains(n), n))
  }

  test("a sweep without a family's consumers gets no hook for it") {
    val plain = Seq("q1_agg", "q2_filter_project")
    plain.foreach(n => assert(registered.contains(n), n))
    assert(Caches.lastReaders(plain).isEmpty)
    assert(Caches.releaseHooks(plain).values.forall(_.size == 1))
    val textOnly = readers(Family.Text).filterNot(n =>
      SparkEntry.all.exists(q => q.name == n && q.reads.exists(_ != Family.Text)))
    assert(textOnly.nonEmpty)
    assert(Caches.lastReaders(textOnly).keySet == Set(Family.Text))
    assert(Caches.prebuild(null, "", Set("q1_agg")).isEmpty)
  }
}
