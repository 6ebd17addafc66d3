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

  test("collapse's char loop equals the trim + whitespace-regex form") {
    val ws = java.util.regex.Pattern.compile("\\s+")
    val cases = Seq(
      "", " ", " \t\r\n\u000B\f ", "plain", "  a  b  ",
      "\u0001a\u0001b\u0001",      // trimmed at the ends, kept inside
      "a\u00A0 b\u00A0",            // NBSP is not \s and not trimmed
      "a\u000Bb", "a\fb", "a\rb", "a\tb", "a\u001Fb",
      "x \t\r\n\u000B\f y", "\t a \u000B\u000B b\f\f c \r",
      "Trial Status:  Ongoing\r", "\u0001 \u0002")
    // plus seeded random strings over the same alphabet
    val alphabet = " \t\n\u000B\f\r\u0001\u001F\u00A0ab"
    val rnd = new scala.util.Random(42)
    val random = Seq.fill(2000)(
      Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    for (c <- cases ++ random)
      assert(ExtractRecord.collapse(c) == ws.matcher(c.trim).replaceAll(" "),
        c.map(ch => f"\\u${ch.toInt}%04x").mkString)
  }
}
