package graft.registry

import graft.{Caches, Family}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._

/** Trial consolidation: N member-state records per trial → 1 merged row
  * (reference scan.py:263-307 + README merge rules), as ONE grouping
  * keyed by eudract_id: `collect_list(struct(record_seq, ex))`, then the
  * fused [[MergeTrial]] kernel over each trial's records.
  *
  * This is the pipeline's only shuffle. The list holds each trial's
  * extracted records, so the exchange carries about what the records
  * extract to; skew is bounded by records-per-trial ≤ #EU member states
  * (~30), so no salting is needed at any scale (SURVEY §7.4.6).
  *
  * Merge rules (the kernel walks the records in record_seq order):
  *  - text fields: FIRST NON-BLANK in file order (scan.py:302 guard).
  *  - yes/no flags: "yes trumps no" — the reference's INTENDED rule
  *    (dead code at scan.py:297; engine implements the intent, pinned
  *    divergence SURVEY §7.4.4a): 1 if any record says yes, 0 if any
  *    says no, else null. Non-yes/no junk maps to null (the reference
  *    stores the raw string; pinned divergence).
  *  - imps: [[ImpDedup]] union-find over all records' entries.
  *  - sponsors: exact dedup on title-cased tuples (scan.py:243-248),
  *    first-occurrence order; trials with no sponsor data get one
  *    all-null row (the reference's unconditional final flush,
  *    scan.py:273).
  *  - locations: set union, sorted (scan.py:225-228).
  *
  * Post-merge consistency rewrites (scan.py:103-111, README.md:26):
  * completion date + "ongoing" → "not ongoing"; SOC-level MedDRA code
  * imputation.
  */
object TrialMerge {

  /** Full pipeline: corpus path → merged trial frame with nested child
    * collections (imps/sponsors/locations arrays) + flat child views.
    *
    * `strictParity = true` replicates the reference's ACTUAL behavior
    * where the engine default deliberately diverges (both modes pinned
    * in RegistryGoldenSpec): flags use first-non-blank because the
    * yes-over-no upgrade is dead code (scan.py:297, SURVEY §7.4.4a),
    * and string casing uses Python-faithful casefold/str.title instead
    * of lower/initcap (scan.py:325/248, SURVEY §7.4.3). */
  def merge(spark: SparkSession, corpusPath: String,
            strictParity: Boolean = false): DataFrame = {
    // one-pass native extraction (see graft.plans.ExtractRecord): every
    // field, IMP/sponsor section, and location of a record from a single
    // walk over its lines, instead of 54 separate regex passes. In
    // strict mode captures casefold like the reference (SURVEY §7.4.3).
    val ex = GraftColumnBridge.column(graft.plans.ExtractRecord(
      GraftColumnBridge.expression(col("rec")), strict = strictParity))
    consolidate(
      Corpus.records(spark, corpusPath).select(col("eudract_id"), col("record_seq"), ex.as("ex")),
      strictParity)
  }

  /** The merge of extracted records `(eudract_id, record_seq, ex)`, `ex`
    * an [[graft.plans.ExtractRecord]] struct. */
  private[registry] def consolidate(recs: DataFrame, strictParity: Boolean): DataFrame = {
    val merged = recs
      .groupBy("eudract_id")
      .agg(collect_list(struct(col("record_seq"), col("ex"))).as("recs"))
      .select(col("eudract_id"), GraftColumnBridge.column(
        MergeTrial(GraftColumnBridge.expression(col("recs")), strictParity)).as("m"))

    // Sponsors: title-case (scan.py:248; default initcap ≈ str.title,
    // pinned divergence SURVEY §7.4.3 — strict parity swaps in the
    // Python-faithful title-caser), dedup keeping first occurrence,
    // ""→null. Every titled field is a non-null string, so
    // array_distinct's equality is the reference's tuple equality.
    val titleize: Column => Column =
      if (strictParity) graft.plans.StrictStrings.pyTitleCol else initcap
    val raw = col("m.sponsors")
    val titled = array_distinct(transform(raw, sp => struct(
      titleize(sp.getField("name")).as("name"),
      titleize(sp.getField("org")).as("org"),
      titleize(sp.getField("contact")).as("contact"),
      sp.getField("email").as("email"))))
    val fields = Seq("name", "org", "contact", "email")
    val sponsors = transform(titled, sp => struct(
      fields.map(f => nullif(sp.getField(f), lit("")).as(f)): _*))
    val noSponsor = array(struct(fields.map(lit(null).cast("string").as(_)): _*))

    merged
      .select((col("eudract_id") +: FieldSpec.trial.map(f => col(s"m.${f.name}").as(f.name))) ++
        Seq(col("m.imps").as("imps"), col("m.locations").as("locations"),
          when(size(raw) > 0, sponsors).otherwise(noSponsor).as("sponsors")): _*)
      // Consistency rewrites (scan.py:103-111).
      .withColumn("overall_status",
        when(col("completion_date").isNotNull && col("overall_status") === "ongoing",
          lit("not ongoing")).otherwise(col("overall_status")))
      .withColumn("meddra_soc",
        when(col("meddra_soc").isNull && col("meddra_level") === "soc",
          col("meddra_classification")).otherwise(col("meddra_soc")))
  }
}

/** The four relational views over the merged frame (reference tables
  * trial/imp/sponsor/location, scan.py:46-86), derived by explode —
  * no additional shuffle.
  *
  * `root` is the persisted [[TrialMerge.merge]] frame: the one cache
  * entry this handle owns. `merged` and the views are rooted at that
  * entry's `InMemoryRelation` leaf rather than at `root`'s lineage
  * (corpus scan, ExtractRecord, the collect_list grouping, MergeTrial,
  * the sponsor and consistency projections). Every `where`/`join` a request adds re-analyses its
  * whole input tree and de-duplicates self-join attributes across it,
  * and the CacheManager then re-canonicalises it to find the cache; on
  * the full lineage that fixed per-request cost was most of a search's
  * latency.
  *
  * A leaf-rooted frame executed after its cache entry was dropped would
  * rebuild and re-persist the buffers where no registry tracks them. So
  * once [[Registry.release]] has run, every accessor of this handle
  * throws instead. A frame derived from a live handle but executed only
  * after the release still rebuilds them: derive each request's frames
  * from the handle `Registry.load` returns for that request. */
final class RegistryTables private[registry] (root: DataFrame) {
  @volatile private var released = false

  import RegistryTables.{Imp, Location, Sponsor}

  private val leaf = org.apache.spark.sql.GraftColumnBridge.cachedLeaf(root)
  private val trialView = leaf.drop(Imp.column, Sponsor.column, Location.column)
  private val impView = Imp.view(leaf)
  private val sponsorView = Sponsor.view(leaf)
  private val locationView = Location.view(leaf)

  private def live(df: DataFrame): DataFrame = {
    if (released) throw new IllegalStateException(
      "registry released; call Registry.load for fresh tables")
    df
  }

  def merged: DataFrame = live(leaf)
  def trials: DataFrame = live(trialView)
  def imp: DataFrame = live(impView)
  def sponsor: DataFrame = live(sponsorView)
  def location: DataFrame = live(locationView)

  /** The four tables under the reference's table names, in its order. */
  def tables: Seq[(String, DataFrame)] =
    Seq("trial" -> trials, "imp" -> imp, "sponsor" -> sponsor, "location" -> location)

  private[registry] def release(): Unit = {
    released = true
    root.unpersist()
  }
}

object RegistryTables {

  /** One child table (scan.py:46-86): the merged column that holds each
    * trial's rows of it, the 1-based position column if the table has
    * one, and the named fields of one row. The relational view
    * ([[view]]) and the in-row form ([[rows]]) both derive from it, so
    * a predicate sees the same columns in either. */
  private[registry] final case class Child(
      column: String, seq: Option[String], fields: Column => Seq[Column]) {

    private def row(e: Column, pos: Column): Seq[Column] =
      col("eudract_id") +: seq.map(s => (pos + 1).as(s)).toSeq ++: fields(e)

    /** One row per element, by (pos)explode of the merged column. */
    def view(leaf: DataFrame): DataFrame = leaf
      .select(col("eudract_id"),
        seq.fold(explode(col(column)).as("e"))(_ => posexplode(col(column)).as(Seq("pos", "e"))))
      .select(row(col("e"), col("pos")): _*)

    /** Each merged row's elements as structs with the view's columns. */
    def rows: Column = transform(col(column), (e, i) => struct(row(e, i): _*))
  }

  private def fieldsOf(names: String*)(e: Column): Seq[Column] =
    names.map(f => e.getField(f).as(f))

  private[registry] val Imp = Child("imps", Some("imp_seq"), fieldsOf("trade", "product", "code"))
  private[registry] val Sponsor =
    Child("sponsors", Some("sponsor_seq"), fieldsOf("name", "org", "contact", "email"))
  private[registry] val Location = Child("locations", None, e => Seq(e.as("location")))
}

object Registry {
  /** Parse+merge runs once per (session, corpus); the merged frame is
    * persisted and all views derive from it. Re-parsing per query was
    * pure waste — a production deployment materializes the merged
    * table once per corpus snapshot. `strictParity` selects
    * [[TrialMerge.merge]]'s reference-bug-compatible parse. */
  def load(spark: SparkSession, corpusPath: String,
      strictParity: Boolean = false): RegistryTables =
    Caches.memo(Family.Registry, spark, (if (strictParity) "strict|" else "") + corpusPath)(
      new RegistryTables(TrialMerge.merge(spark, corpusPath, strictParity).persist()))(
      _.release())

  /** Drop every parsed corpus owned by `spark` (see [[graft.Caches]]):
    * unpersists each merged root, after which no persisted RDD of the
    * registry remains and the dropped handles refuse further use (see
    * [[RegistryTables]]); the next `load` parses afresh. */
  def release(spark: SparkSession): Unit = Family.Registry.release(spark)

  /** Force-parse the synthetic registry corpus — the bench's named
    * untimed cache-build slot (round 17; see
    * [[graft.llm.LlmText.prebuild]]). The registry queries read the
    * driver-independent synthetic corpus, so `dir` is unused; the
    * merged frame is the one persisted root all four views derive
    * from. */
  private[graft] def prebuild(spark: SparkSession, dir: String): Unit = {
    load(spark, SyntheticCorpus.ensure()).merged.count()
    ()
  }
}
