package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.registry.{Registry, Search}

/** The generator's oracle, computed from its own rules, against the
  * engine on a small corpus. */
class SeededCorpusSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val work = {
    val base = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    Files.createDirectories(base)
    Files.createTempDirectory(base, "perfbench-spec")
  }
  private lazy val spark = Main.session(work)

  override def afterAll(): Unit = spark.stop()

  test("the seed fixes the trial set; another seed gives another") {
    val a = SeededCorpus.trials(7, 300)
    assert(a.sameElements(SeededCorpus.trials(7, 300)))
    assert(a.distinct.length == 300)
    assert(!a.sameElements(SeededCorpus.trials(8, 300)))
  }

  test("oracle table counts and search id sets match Registry.load on 300 trials") {
    val seed = 11L
    val path = work.resolve("c.txt").toString
    SeededCorpus.write(path, seed, 300)
    val ts = SeededCorpus.trials(seed, 300)
    val t = Registry.load(spark, path)
    val want = SeededCorpus.counts(ts)
    assert(SeededCorpus.Counts(t.trials.count(), t.imp.count(), t.sponsor.count(),
      t.location.count()) == want)
    val reqs = SeededCorpus.requests(ts, seed, 40)
    assert(reqs.map(_.template).toSet == SeededCorpus.Templates.toSet)
    assert(reqs.exists(_.expected.nonEmpty))
    reqs.foreach { r =>
      val got = Search.search(t, r.query).collect().map(_.getString(0)).toSet
      assert(got == r.expected, s"${r.template} ${r.query}")
    }
  }

  test("every template selects rows on a corpus of benchmark size") {
    val ts = SeededCorpus.trials(1, 5000)
    val reqs = SeededCorpus.requests(ts, 1, 200)
    SeededCorpus.Templates.foreach { tpl =>
      val sizes = reqs.filter(_.template == tpl).map(_.expected.size)
      assert(sizes.sum > 0, tpl)
    }
  }
}
