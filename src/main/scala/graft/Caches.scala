package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** A cache family: memoized values that a group of queries shares
  * within one session (the parsed registry tables, the text-dedup
  * frames, the ANN baselines, the part-graph frames, the text-mining
  * vocabularies). A query names the families it reads on its
  * [[graft.core.Q]]; [[Caches.releaseHooks]] and [[Caches.prebuild]]
  * are derived from those declarations. */
sealed abstract class Family(val name: String,
    /** Force-materializes the family's memos: the bench's named build
      * slot, so a sweep does not bill the build to the first reader. */
    private[graft] val build: (SparkSession, String) => Unit) {
  /** (session, memo key) → memo; every memo of the family lives here. */
  private[graft] val memos = new ConcurrentHashMap[(SparkSession, String), Caches.Memo]()

  /** Drop every memo of this family owned by `s`; the next read
    * rebuilds it. */
  def release(s: SparkSession): Unit =
    memos.keySet.asScala.filter(_._1 eq s).foreach { k =>
      Option(memos.remove(k)).flatMap(m => Option(m.drop)).foreach(_())
    }

  /** True when `s` holds at least one built memo of this family. */
  private[graft] def populated(s: SparkSession): Boolean =
    memos.asScala.exists { case ((o, _), m) => (o eq s) && m.drop != null }
}

object Family {
  case object Registry extends Family("registry", (s, d) => registry.Registry.prebuild(s, d))
  case object Text extends Family("text", (s, d) => llm.LlmText.prebuild(s, d))
  case object Vector extends Family("vector", (s, d) => llm.LlmVector.prebuild(s, d))
  case object Graph extends Family("graph", (s, d) => ops.Graph.prebuild(s, d))
  case object Mining extends Family("mining", (s, d) => llm.TextMining.prebuild(s, d))

  val all: Seq[Family] = Seq(Registry, Text, Vector, Graph, Mining)
}

/** Session-scoped lifecycle of everything the engine keeps between
  * plan constructions. A long sweep over every query (what Bench and
  * Verify run, and what a long-lived service does) must not keep what
  * one query built resident for the rest of the session: round 4's
  * bench showed a 2–8× diffuse slowdown from accumulated cache
  * pressure in a single JVM. Two lifetimes exist:
  *
  *  - Family memos ([[memo]]) are shared by the queries that declare
  *    the family and are released right after the last of them in a
  *    sweep. Releasing early is always safe: a later reader rebuilds.
  *  - Query-scoped frames ([[persistForQuery]], [[onRelease]]) belong
  *    to the query whose plan is being built ([[enter]], called by
  *    `Q.run`) and are released by that query's own hook, so the next
  *    query never reads them. Work done outside any query is owned by
  *    the session and dropped by [[releaseAll]].
  */
object Caches {

  private[graft] final class Memo {
    @volatile var value: Any = _
    /** Set once the value is built; null while unbuilt or failed. */
    @volatile var drop: () => Unit = _
  }

  /** The one memo primitive: the value of `key` in family `f` for
    * session `s`, built by `build` on first use and finalized by
    * `drop` when the family is released. Keys name the memo and its
    * inputs (`"shingles|" + dir`). A build may read other memos; a
    * failed build leaves nothing to release and is retried on the
    * next read. */
  def memo[V](f: Family, s: SparkSession, key: String)(build: => V)(drop: V => Unit): V = {
    Option(scopes.get((s, current.getOrDefault(s, "")))).foreach(_.reads.add(f))
    val m = f.memos.computeIfAbsent((s, key), _ => new Memo)
    m.synchronized {
      if (m.drop == null) {
        val v = build
        m.value = v
        m.drop = () => drop(v)
      }
      m.value.asInstanceOf[V]
    }
  }

  /** What one query (or one family build) owns until its release. */
  private final class Scope {
    val drops = new ConcurrentLinkedQueue[() => Unit]()
    val reads: java.util.Set[Family] = ConcurrentHashMap.newKeySet[Family]()
  }
  /** (session, owner) → scope; the owner "" is the session itself. */
  private val scopes = new ConcurrentHashMap[(SparkSession, String), Scope]()
  /** session → the query whose plan it builds or last built. */
  private val current = new ConcurrentHashMap[SparkSession, String]()

  /** Make `owner` the running query of `s`: what is persisted from now
    * on is released by `owner`'s hook. */
  private[graft] def enter(s: SparkSession, owner: String): Unit = {
    current.put(s, owner)
    scopes.computeIfAbsent((s, owner), _ => new Scope).reads.clear()
  }

  /** Register `drop` with the running query of `s` (the session when
    * none runs). */
  private[graft] def onRelease(s: SparkSession)(drop: => Unit): Unit =
    scopes.computeIfAbsent((s, current.getOrDefault(s, "")), _ => new Scope)
      .drops.add(() => drop)

  /** Persist `df` (MEMORY_AND_DISK) for the running query and return
    * it; released by that query's hook. Lazy like `persist`: a caller
    * that needs it materialized counts it. A frame whose plan is
    * already cached is left to its owner — persisting it again is a
    * no-op, so releasing it here would drop the owner's cache. */
  def persistForQuery(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist()
      onRelease(df.sparkSession)(df.unpersist())
    }
    df
  }

  /** Release what `owner` registered in `s`. */
  private[graft] def releaseScope(s: SparkSession, owner: String): Unit = {
    current.remove(s, owner)
    Option(scopes.remove((s, owner))).foreach(_.drops.forEach(_()))
  }

  /** The families the running query of `s` read while its plan was
    * built. */
  private[graft] def familiesRead(s: SparkSession): Set[Family] =
    Option(scopes.get((s, current.getOrDefault(s, "")))).fold(Set.empty[Family])(_.reads.asScala.toSet)

  private def declared: Map[String, Seq[Family]] =
    SparkEntry.all.map(q => q.name -> q.reads).toMap

  /** Each family read by a query of `order` → its last reader there. */
  def lastReaders(order: Seq[String]): Map[Family, String] = {
    val reads = declared
    Family.all.flatMap { f =>
      order.findLast(n => reads.getOrElse(n, Nil).contains(f)).map(f -> _)
    }.toMap
  }

  /** query name → release actions to fire AFTER that query, for a
    * sweep running `order`: every query releases its own frames, and
    * each family is released right after its last reader in the
    * order. */
  def releaseHooks(order: Seq[String]): Map[String, Seq[SparkSession => Unit]] = {
    val last = lastReaders(order)
    order.map { n =>
      n -> (((s: SparkSession) => releaseScope(s, n)) +:
        Family.all.filter(f => last.get(f).contains(n)).map(f => f.release _))
    }.toMap
  }

  /** Build every family that a `selected` query reads, returning
    * per-family build seconds: the bench's NAMED billing slot, so a
    * family's build lands in the artifact under its name instead of
    * inside its first consumer's median. Frames a build persists for
    * its own use are released with it; safe on a populated cache (the
    * memo returns the existing value).
    *
    * FOOTPRINT TRADE (review r17): building every family up front
    * makes ALL families resident at sweep start — the peak the
    * staggered release hooks exist to bound. At fixture scale the peak
    * is measured harmless (the r17 boards are the evidence); a
    * larger-SF deployment staggers instead — build each family just
    * before its FIRST consumer, still billed to this slot. */
  def prebuild(s: SparkSession, dir: String, selected: Set[String]): Seq[(String, Double)] = {
    val read = declared.collect { case (n, fs) if selected(n) => fs }.flatten.toSet
    Family.all.filter(read).map { f =>
      val t0 = System.nanoTime()
      val owner = "build:" + f.name
      enter(s, owner)
      try f.build(s, dir) finally releaseScope(s, owner)
      f.name -> (System.nanoTime() - t0) / 1e9
    }
  }

  /** Drop every family memo and every query-scoped frame owned by `s`
    * (end of a sweep, or a service evicting a corpus snapshot). */
  def releaseAll(s: SparkSession): Unit = {
    Family.all.foreach(_.release(s))
    scopes.keySet.asScala.filter(_._1 eq s).foreach(k => releaseScope(s, k._2))
  }
}
