package graft.plans

import graft.SparkSpec

/** The custom expression through its SQL registration, in the shared
  * session: `graft.core.Session.builder` installs [[GraftExtensions]],
  * so no spec installs it by hand. */
class ExtractRecordSpec extends SparkSpec {

  test("extract_record is callable from SQL after extension install") {
    import spark.implicits._
    Seq(
      "2004-000001-11\nTrial Status:  Ongoing\nD.IMP: 1\nD.3.1 Product name: Alphamab\nNational Competent Authority: France - ANSM"
    ).toDF("rec").createOrReplaceTempView("corpus_rec")
    val r = spark.sql(
      """SELECT extract_record(rec).overall_status AS st,
        |       extract_record(rec).rec_imps[0].product AS product,
        |       extract_record(rec).rec_locs[0] AS loc
        |FROM corpus_rec""".stripMargin).head()
    assert(r.getString(0) == "ongoing")   // whitespace-collapsed, casefolded
    assert(r.getString(1) == "alphamab")
    assert(r.getString(2) == "France")    // location keeps raw case
  }

  test("unparseable record yields nulls and empty collections, not errors") {
    import spark.implicits._
    Seq("garbage with no field lines at all").toDF("rec")
      .createOrReplaceTempView("corpus_junk")
    val r = spark.sql(
      """SELECT extract_record(rec).official_title AS t,
        |       size(extract_record(rec).rec_imps) AS ni,
        |       size(extract_record(rec).rec_locs) AS nl
        |FROM corpus_junk""".stripMargin).head()
    assert(r.isNullAt(0) && r.getInt(1) == 0 && r.getInt(2) == 0)
  }
}
