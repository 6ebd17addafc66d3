package graft.registry

import org.apache.spark.sql.{Dataset, SparkSession}

/** Typed surface over the merged registry (Dataset[T] with case-class
  * Encoders where type safety helps — compile-checked field access for
  * downstream Scala consumers; the full 47-column frame stays dynamic). */
final case class TrialCore(
    eudract_id: String,
    overall_status: Option[String],
    official_title: Option[String],
    condition: Option[String],
    enrollment: Option[String],
    study_first_submitted_date: Option[String],
    completion_date: Option[String],
    phase1: Option[Int],
    phase2: Option[Int],
    phase3: Option[Int],
    phase4: Option[Int])

object Typed {

  def trials(spark: SparkSession, corpusPath: String): Dataset[TrialCore] = {
    import spark.implicits._
    Registry.load(spark, corpusPath).trials
      .select("eudract_id", "overall_status", "official_title", "condition",
        "enrollment", "study_first_submitted_date", "completion_date",
        "phase1", "phase2", "phase3", "phase4")
      .as[TrialCore]
  }

  /** Register the four relational views in the session catalog so
    * `spark.sql` works over them (reference's SQLite role, S7). */
  def createViews(spark: SparkSession, corpusPath: String, prefix: String = "registry_"): Unit = {
    val t = Registry.load(spark, corpusPath)
    t.trials.createOrReplaceTempView(prefix + "trial")
    t.imp.createOrReplaceTempView(prefix + "imp")
    t.sponsor.createOrReplaceTempView(prefix + "sponsor")
    t.location.createOrReplaceTempView(prefix + "location")
  }
}
