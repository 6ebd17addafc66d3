package graft.core

import graft.SparkSpec
import org.apache.spark.sql.internal.SQLConf
import scala.jdk.CollectionConverters._

/** [[Session.builder]] is the one place an engine-wide setting lives:
  * the shared spec session carries every setting the board and the
  * correctness dump rely on, and no other source file builds a session
  * or re-states the union-partitioning workaround. */
class SessionSpec extends SparkSpec {

  test("the spec session carries the factory's engine settings") {
    val s = SparkSpec.session
    assert(s.conf.get(SQLConf.UNION_OUTPUT_PARTITIONING.key) == "false")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(s.sparkContext.getConf.get("spark.shuffle.sort.bypassMergeThreshold") == "0")
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("no source file outside the factory builds a session or sets union partitioning") {
    // bracketed so this file does not match its own patterns
    val patterns = Seq("unionOutput[P]artitioning".r, "SparkSession[.]builder".r)
    val root = java.nio.file.Paths.get("src")
    val files = {
      val st = java.nio.file.Files.walk(root)
      try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    }
    val hits = files.filter { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      patterns.exists(_.findFirstIn(text).isDefined)
    }.map(root.relativize(_).toString.replace('\\', '/')).toSet
    assert(hits == Set("main/scala/graft/core/Core.scala"), hits)
  }
}
