package graft.registry

import graft.{Caches, Family}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trial consolidation: N member-state records per trial → 1 merged row
  * (reference scan.py:263-307 + README merge rules), as ONE hash
  * aggregation keyed by eudract_id.
  *
  * This is the pipeline's only shuffle. Every merge is expressed as a
  * partial-aggregable function (min-of-struct, max, collect_list, the
  * ImpDedup aggregator), so map-side combine runs before the exchange;
  * skew is bounded by records-per-trial ≤ #EU member states (~30), so
  * no salting is needed at any scale (SURVEY §7.4.6).
  *
  * Merge rules:
  *  - text fields: FIRST NON-BLANK in file order (scan.py:302 guard) =
  *    min over struct(record_seq, value) of non-null values — an
  *    order-correct `first` without a window or a global sort.
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

  private def firstNonBlank(name: String): Column =
    min(when(col(name).isNotNull, struct(col("record_seq").as("s"), col(name).as("v"))))
      .getField("v").as(name)

  private def yesOverNo(name: String): Column = {
    val rank = when(col(name) === "yes", 2).when(col(name) === "no", 1)
    max(rank).as(name) // 2 → yes, 1 → no, null → unknown
  }

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
    val exCol = org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.ExtractRecord(
        org.apache.spark.sql.GraftColumnBridge.expression(col("rec")),
        strict = strictParity))
    val recs = Corpus.records(spark, corpusPath)
      .withColumn("ex", exCol)
      .select(
        (col("record_seq") +: col("eudract_id") +:
          FieldSpec.trial.map(f => col(s"ex.${f.name}").as(f.name))) :+
          col("ex.rec_imps").as("rec_imps") :+
          col("ex.rec_sponsors").as("rec_sponsors") :+
          col("ex.rec_locs").as("rec_locs"): _*)

    val impAgg = udaf(ImpDedup)
    val fieldAggs = FieldSpec.trial.map { f =>
      f.kind match {
        case FieldKind.Flag if strictParity =>
          // first non-blank raw value, then ranked like yesOverNo
          val v = min(when(col(f.name).isNotNull,
            struct(col("record_seq").as("s"), col(f.name).as("v")))).getField("v")
          when(v === "yes", 2).when(v === "no", 1).as(f.name)
        case FieldKind.Flag => yesOverNo(f.name)
        case _              => firstNonBlank(f.name)
      }
    }
    val childAggs = Seq(
      impAgg(col("record_seq"), col("rec_imps")).as("imps"),
      sort_array(collect_list(struct(col("record_seq").as("seq"), col("rec_sponsors").as("sps"))))
        .as("sponsor_recs"),
      array_sort(array_distinct(flatten(collect_list(col("rec_locs"))))).as("locations"))

    val grouped = recs
      .groupBy("eudract_id")
      .agg(fieldAggs.head, (fieldAggs.tail ++ childAggs): _*)

    // Sponsor post-processing (pure array expressions, no extra shuffle):
    // flatten record-ordered sections, title-case (scan.py:248; default
    // initcap ≈ str.title, pinned divergence SURVEY §7.4.3 — strict
    // parity swaps in the Python-faithful title-caser), dedup keeping
    // first occurrence, ""→null.
    val titleize: Column => Column =
      if (strictParity) graft.plans.StrictStrings.pyTitleCol else initcap
    val flatSponsors = flatten(transform(col("sponsor_recs"), r => r.getField("sps")))
    val titled = transform(flatSponsors, sp => struct(
      titleize(sp.getField("name")).as("name"),
      titleize(sp.getField("org")).as("org"),
      titleize(sp.getField("contact")).as("contact"),
      sp.getField("email").as("email")))
    val deduped = filter(titled, (x, i) =>
      !exists(slice(titled, lit(1), i), y => y === x))
    val sponsors = transform(deduped, sp => struct(
      Seq("name", "org", "contact", "email")
        .map(f => nullif(sp.getField(f), lit("")).as(f)): _*))

    val withChildren = grouped
      .withColumn("sponsors",
        when(size(sponsors) > 0, sponsors)
          .otherwise(array(struct(
            lit(null).cast("string").as("name"), lit(null).cast("string").as("org"),
            lit(null).cast("string").as("contact"), lit(null).cast("string").as("email")))))
      .withColumn("imps", transform(col("imps"), i => struct(
        nullif(i.getField("trade"), lit("")).as("trade"),
        nullif(i.getField("product"), lit("")).as("product"),
        nullif(i.getField("code"), lit("")).as("code"))))
      .drop("sponsor_recs")

    // Consistency rewrites (scan.py:103-111) + flag typing (scan.py:115-119).
    val statusFixed = withChildren
      .withColumn("overall_status",
        when(col("completion_date").isNotNull && col("overall_status") === "ongoing",
          lit("not ongoing")).otherwise(col("overall_status")))
      .withColumn("meddra_soc",
        when(col("meddra_soc").isNull && col("meddra_level") === "soc",
          col("meddra_classification")).otherwise(col("meddra_soc")))

    FieldSpec.trial.filter(_.kind == FieldKind.Flag).foldLeft(statusFixed) { (df, f) =>
      df.withColumn(f.name, (col(f.name) - 1).cast("int")) // 2→1 (yes), 1→0 (no)
    }
  }
}

/** The four relational views over the merged frame (reference tables
  * trial/imp/sponsor/location, scan.py:46-86), derived by explode —
  * no additional shuffle.
  *
  * `root` is the persisted [[TrialMerge.merge]] frame: the one cache
  * entry this handle owns. `merged` and the views are rooted at that
  * entry's `InMemoryRelation` leaf rather than at `root`'s lineage
  * (corpus scan, ExtractRecord, the ~60-aggregate groupBy, ~25 chained
  * projections). Every `where`/`join` a request adds re-analyses its
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

  private val leaf = org.apache.spark.sql.GraftColumnBridge.cachedLeaf(root)
  private val trialView = leaf.drop("imps", "sponsors", "locations")
  private val impView = leaf
    .select(col("eudract_id"), posexplode(col("imps")).as(Seq("imp_seq", "i")))
    .select(col("eudract_id"), (col("imp_seq") + 1).as("imp_seq"),
      col("i.trade"), col("i.product"), col("i.code"))
  private val sponsorView = leaf
    .select(col("eudract_id"), posexplode(col("sponsors")).as(Seq("sponsor_seq", "s")))
    .select(col("eudract_id"), (col("sponsor_seq") + 1).as("sponsor_seq"),
      col("s.name"), col("s.org"), col("s.contact"), col("s.email"))
  private val locationView = leaf
    .select(col("eudract_id"), explode(col("locations")).as("location"))

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
