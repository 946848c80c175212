package graft

import graft.functions.DateFormats
import graft.text.BlockTextIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Block text index: term-localized files are actually skipped; date
  * format edge cases. */
class BlockTextSpec extends AnyFunSuite with SparkSpec {

  private val work = tempDir("test_btext")

  test("term scan prunes files whose vocabulary lacks the term") {
    import spark.implicits._
    val dataDir = s"$work/data"
    // two files with disjoint vocabularies
    Seq((1L, "apple banana cherry"), (2L, "banana date apple")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(dataDir)
    Seq((3L, "xylo zulu yankee"), (4L, "zulu whiskey xylo")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dataDir)
    BlockTextIndex.build(spark, dataDir, "text", s"$work/index")

    val (df, report) = BlockTextIndex.scanForTerm(spark, dataDir, "text", "zulu", s"$work/index")
    assert(df.select("doc_id").as[Long].collect().toSet == Set(3L, 4L))
    assert(report.selectedFiles == 1 && report.totalFiles == 2,
      s"expected one file pruned, got $report")

    val (none, r2) = BlockTextIndex.scanForTerm(spark, dataDir, "text", "mango", s"$work/index")
    assert(none.count() == 0 && r2.selectedFiles == 0)
  }

  test("parseMySql: zero-date maps to null, real dates round-trip") {
    import spark.implicits._
    val df = Seq("0000-00-00 00:00:00", "2024-03-05 06:07:08").toDF("s")
      .select(DateFormats.parseMySql(col("s")).as("ts"))
    val got = df.collect().map(r => Option(r.getTimestamp(0)).map(_.toString))
    assert(got(0).isEmpty)
    assert(got(1).contains("2024-03-05 06:07:08.0"))
  }

  test("dateid round-trip and day span inclusive bounds") {
    import spark.implicits._
    val df = Seq("2024-02-28", "2024-03-02").toDF("d")
      .select(to_date(col("d")).as("d"))
    val ids = df.select(DateFormats.toDateId(col("d"))).as[Int].collect()
    assert(ids.toSet == Set(20240228, 20240302))
    val span = df.agg(DateFormats.daySpan(min(col("d")), max(col("d"))).as("days"))
      .select(size(col("days"))).as[Int].head()
    assert(span == 4) // 28th, 29th (leap), 1st, 2nd
  }
}
