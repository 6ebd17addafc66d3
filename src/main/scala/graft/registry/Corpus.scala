package graft.registry

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus ingest: one giant UTF-8 registry dump → DataFrame of
  * (record_seq, record_text), one row per CTA record.
  *
  * The reference walks the 2 GB file line-by-line in a single thread
  * (scan.py:330-407). All of its cross-line state is *intra-record*
  * (IMP blocks, sponsor sections, location blocks reset at each
  * `EudraCT Number:` line), so splitting the file on that marker makes
  * per-record parsing embarrassingly parallel: at 100 TB this is a plain
  * partitioned scan — each HDFS split yields whole records, no shuffle.
  *
  * Implementation: Hadoop `textinputformat.record.delimiter` =
  * "EudraCT Number:"; the TextInputFormat key is the record's byte
  * offset in the file, which is exactly the file-order sequence the
  * reference's first-non-blank merge depends on (SURVEY §7.4.1) —
  * no zipWithIndex pass, no global sort needed.
  *
  * Normalization applied here, once, mirrors the reference's per-line
  * `" ".join(line.split())` (scan.py:320): CR removal, horizontal
  * whitespace collapsed to single spaces, line edges stripped.
  */
object Corpus {

  val Delimiter = "EudraCT Number:"

  /** Bits reserved for the byte offset in a packed record_seq: a single
    * landing file may be up to 1 TiB. The scraper writes one file per
    * result page (a few MB), so real corpora sit ~6 orders of magnitude
    * under the bound — but a silent wrap would corrupt first-non-blank
    * merge ORDER, the one invariant everything downstream leans on, so
    * the pack fails loudly instead. */
  val OffsetBits = 40

  /** record_seq = (file's lexical rank << 40) | byte offset. Total
    * order across a multi-file corpus: file order first (the scraper
    * names files by page, so lexical order IS corpus order), byte
    * offset within a file. */
  def packSeq(fileRank: Long, offset: Long): Long = {
    require(offset >= 0 && offset < (1L << OffsetBits),
      s"record byte offset $offset exceeds the ${1L << OffsetBits}-byte (1 TiB) " +
        "single-file bound of the record_seq packing; split the landing file")
    require(fileRank >= 0 && fileRank < (1L << (63 - OffsetBits)),
      s"file rank $fileRank exceeds the record_seq packing bound")
    fileRank << OffsetBits | offset
  }

  /** Raw read: (record_seq, record_text) for every chunk between
    * delimiters. record_seq = [[packSeq]](file's lexical rank, byte
    * offset) — the scraper names landing files by page (scrape.py:50),
    * so lexical order IS corpus order; offset ordering within a file
    * comes from the TextInputFormat key. The chunk at offset 0 of each
    * file is pre-delimiter preamble (page headers, scrape.py:66) —
    * dropped. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", Delimiter)
    val sc = spark.sparkContext
    // the corpus files, listed once (driver-side metadata op)
    val files = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(sc.hadoopConfiguration)
      Option(fs.globStatus(p)).getOrElse(Array.empty).flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile)
        else Array(st)
      }
    }
    // A single big dump file would otherwise yield one split per local
    // block (a handful of tasks on a 32-core box): cap the split size so
    // the parse saturates the configured parallelism. TextInputFormat
    // reads past a split boundary to the next delimiter, so records stay
    // whole. On a real cluster HDFS block counts make this a no-op.
    val totalBytes = files.map(_.getLen).sum
    val targetSplits = math.max(sc.defaultParallelism * 2, 1)
    val splitSize = math.max(totalBytes / targetSplits, 1L << 20)
    conf.set("mapreduce.input.fileinputformat.split.maxsize", splitSize.toString)
    val rdd = sc.newAPIHadoopFile(path, classOf[TextInputFormat],
      classOf[LongWritable], classOf[Text], conf)
    // file → lexical rank
    val fileRank: Map[String, Long] =
      files.map(_.getPath.toString).sorted.zipWithIndex
        .map { case (f, i) => f -> i.toLong }.toMap
    val rankB = sc.broadcast(fileRank)
    val withFile = rdd.asInstanceOf[org.apache.spark.rdd.NewHadoopRDD[LongWritable, Text]]
      .mapPartitionsWithInputSplit { (split, it) =>
        val file = split.asInstanceOf[org.apache.hadoop.mapreduce.lib.input.FileSplit]
          .getPath.toString
        val rank = rankB.value.getOrElse(file, 0L)
        it.map { case (off, text) => (packSeq(rank, off.get()), off.get(), text.toString) }
      }
    import spark.implicits._
    withFile.toDF("record_seq", "offset", "record_text")
      .filter(col("offset") > 0)
      .drop("offset")
  }

  /** Line-level whitespace normalization, applied to the whole record:
    * equivalent to the reference's per-line collapse at match time. */
  def normalize(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val noCr = regexp_replace(c, "\r", "")
    val collapsed = regexp_replace(noCr, "[^\\S\\n]+", " ")
    regexp_replace(collapsed, "(?m)^ | $", "")
  }

  /** Raw records with their extracted trial id: columns (record_seq,
    * eudract_id, rec). `rec` is the RAW record text — per-line
    * normalization happens inside the extraction pass (the one-pass
    * ExtractRecord expression collapses each line as it walks, so no
    * whole-corpus regexp_replace sweeps are needed). Records whose id
    * token is blank are dropped (cannot exist in a well-formed dump). */
  def records(spark: SparkSession, path: String): DataFrame =
    read(spark, path)
      .select(col("record_seq"), col("record_text").as("rec"))
      // id = first non-space token after the delimiter, casefolded like
      // every non-title capture (scan.py:325); scan.py:411 captures (\S+).
      .withColumn("eudract_id", lower(regexp_extract(col("rec"), """^\s*(\S+)""", 1)))
      .filter(col("eudract_id") =!= "")
}
