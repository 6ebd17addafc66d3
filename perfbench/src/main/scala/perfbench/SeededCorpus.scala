package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.registry.Search

/** Seeded registry corpus plus an oracle that never touches the engine.
  *
  * Record text comes from [[graft.tools.GenCorpus.record]], so the
  * benchmark parses exactly the shape the repo's own throughput tool
  * emits; the seed only chooses WHICH trial numbers appear (and so their
  * ids, per-field residues and order). Every expected value below is
  * derived from the generator's own rules for a trial number `t`:
  *
  *  - member-state records: 2 + t % 2 (record 0 is the full one);
  *  - IMPs: "D.IMP: 1" in every record (identical trade/product/code, so
  *    the fuzzy dedup folds them into one), plus "D.IMP: 2" (product
  *    only, never equal to IMP 1's) when t % 3 == 0;
  *  - sponsors: one tuple per record, distinct because the contact line
  *    carries the record number;
  *  - locations: the NCA country of every record (France, Germany,
  *    Italy for records 0..2) plus the EEA block United States, Japan,
  *    Canada of record 1 — 5 distinct, or 6 with a third record;
  *  - flags merge yes-over-no, so phase1 = t % 5 == 0, phase2 =
  *    t % 3 == 0, double_blind = t % 2 == 0.
  */
object SeededCorpus {

  final case class Counts(trial: Long, imp: Long, sponsor: Long, location: Long)

  /** One search request: the WHERE text per table, the template it came
    * from, and the trial ids the oracle expects it to select. */
  final case class Request(template: String, query: Search.Query, expected: Set[String])

  val Templates: Seq[String] = Seq("trial", "trial_imp", "trial_sponsor", "trial_location")

  /** The distinct trial numbers of corpus `seed`, in file order. */
  def trials(seed: Long, n: Int): Array[Int] = {
    require(n > 0 && n < 500000, s"trial count $n out of range")
    val rng = new java.util.SplittableRandom(seed)
    val seen = new java.util.HashSet[Integer]()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val t = 1 + rng.nextInt(999999)
      if (seen.add(t)) { out(i) = t; i += 1 }
    }
    out
  }

  def memberStates(t: Int): Int = 2 + t % 2

  /** The id GenCorpus.record writes for trial `t`, casefolded as the
    * parser stores it. */
  def id(t: Int): String =
    f"20${10 + t % 15}%02d-${t}%06d-${10 + t % 80}%02d".toLowerCase

  def counts(ts: Array[Int]): Counts = Counts(
    trial = ts.length.toLong,
    imp = ts.map(t => if (t % 3 == 0) 2L else 1L).sum,
    sponsor = ts.map(t => memberStates(t).toLong).sum,
    location = ts.map(t => if (memberStates(t) == 3) 6L else 5L).sum)

  /** `n` requests, uniform over the four templates: they take turns (so
    * every window of four holds one of each), the values are drawn from
    * the seed. */
  def requests(ts: Array[Int], seed: Long, n: Int): IndexedSeq[Request] = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5eedcafeL)
    def ids(p: Int => Boolean): Set[String] = ts.iterator.filter(p).map(id).toSet
    IndexedSeq.tabulate(n) { i =>
      Templates(i % Templates.length) match {
        case "trial" =>
          val a = rng.nextInt(89)
          Request("trial", Search.Query(trial = Some(s"meddra_term = 'condition term $a'")),
            ids(_ % 89 == a))
        case "trial_imp" =>
          val b = rng.nextInt(101)
          Request("trial_imp", Search.Query(trial = Some("phase2 = 1"),
            imp = Some(s"product = 'comparator x$b'")),
            ids(t => t % 3 == 0 && t % 101 == b))
        case "trial_sponsor" =>
          val c = rng.nextInt(499)
          Request("trial_sponsor", Search.Query(trial = Some("double_blind = 1"),
            sponsor = Some(s"name = 'Sponsor Organisation $c'")),
            ids(t => t % 2 == 0 && t % 499 == c))
        case _ =>
          val a = rng.nextInt(89)
          Request("trial_location", Search.Query(
            trial = Some(s"meddra_term = 'condition term $a'"),
            location = Some("location = 'Italy'")),
            ids(t => t % 89 == a && memberStates(t) == 3))
      }
    }
  }

  /** Write corpus `seed` to `path` (atomically: a killed writer leaves no
    * half corpus behind). Same layout as GenCorpus.main: a page header
    * every 200 trials, the trial's records back to back. */
  def write(path: String, seed: Long, n: Int): Unit = {
    val out = Paths.get(path)
    Files.createDirectories(out.toAbsolutePath.getParent)
    val tmp = Paths.get(path + ".tmp")
    val w = new BufferedWriter(new FileWriter(tmp.toFile), 1 << 20)
    try {
      var page = 1
      trials(seed, n).zipWithIndex.foreach { case (t, i) =>
        if (i % 200 == 0) { w.write(s"### PAGE $page ####\n"); page += 1 }
        for (ms <- 0 until memberStates(t))
          w.write(graft.tools.GenCorpus.record(t, ms, full = ms == 0))
      }
    } finally w.close()
    Files.move(tmp, out, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Usage: perfbench.SeededCorpus <path> <seed> <trials> */
  def main(args: Array[String]): Unit = {
    write(args(0), args(1).toLong, args(2).toInt)
    println(s"wrote ${args(0)} (${Files.size(Paths.get(args(0)))} bytes)")
  }
}
