package graft

import graft.build.IndexBuilder
import graft.query.{Eq, PrunedScanner, RangeScan}
import graft.text.{Analyzers, TextIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Excite-query-log-shaped edge cases (the reference's own fixture
  * shape, FIXTURES.md §1): high-cardinality string ids, free text with
  * EMPTY strings, quotes, apostrophes, operators, unicode. Exercises
  * index build on a high-cardinality column, text search over messy
  * text, and the single-range debug reader. */
class ExciteShapeSpec extends AnyFunSuite with SparkSpec {

  private val work = tempDir("test_excite")

  /** Synthetic excite-log-shaped rows: uid \t bignum \t query. */
  private def fixture = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val uids = Array("DAA8C88C7DA0F0B9", "BEEF00", "C0FFEE", "ABC123")
    val queries = Array(
      "", // empty query — must index and search cleanly
      "\"ann gilliam\"",
      "victoria's secret",
      "3m AND video tapes",
      "café con leche", // unicode
      "spark query")
    (0 until 400).map { i =>
      (uids(rnd.nextInt(uids.length)), 970916182959L + i,
        queries(rnd.nextInt(queries.length)))
    }.toDF("uid", "bignum", "query")
  }

  private lazy val prepared: String = {
    val dataDir = s"$work/data"
    fixture.repartitionByRange(4, col("uid"), col("bignum"))
      .write.parquet(dataDir)
    IndexBuilder.build(spark, dataDir, Seq("uid"), s"$work/index")
    dataDir
  }

  test("high-cardinality uid index: per-key differential counts (ScanUsingIndexJob shape)") {
    val dataDir = prepared
    import spark.implicits._
    val fullCounts = spark.read.parquet(dataDir)
      .groupBy("uid").count().as[(String, Long)].collect().toMap
    fullCounts.keys.foreach { uid =>
      val viaIndex = PrunedScanner.scan(spark, dataDir, Eq("uid", uid), s"$work/index").count()
      assert(viaIndex == fullCounts(uid), s"count mismatch for uid=$uid")
    }
  }

  test("empty and quoted queries tokenize without phantom terms") {
    val dataDir = prepared
    val postings = TextIndex.buildPostings(spark.read.parquet(dataDir), "bignum", "query")
    // whitespace analyzer keeps punctuation attached
    assert(postings.filter(col("term") === "").count() == 0)
    assert(postings.filter(col("term") === "\"ann").count() > 0)
    // word analyzer strips it
    val wordToks = spark.read.parquet(dataDir)
      .select(explode(Analyzers.word(col("query"))).as("t"))
    assert(wordToks.filter(col("t") === "ann").count() > 0)
    assert(wordToks.filter(col("t").contains("\"")).count() == 0)
    // unicode survives both
    assert(wordToks.filter(col("t") === "café").count() > 0)
  }

  test("RangeScan reads exactly the rows an index posting points at") {
    val dataDir = prepared
    import spark.implicits._
    val uid = "C0FFEE"
    val file = IndexBuilder.postings(spark, s"$work/index")
      .filter(col("value") === uid).select("file").as[String].first()
    val viaPosting = RangeScan.readPosting(spark, s"$work/index", file, "uid", uid)
      .filter(col("uid") === uid).count()
    val direct = spark.read.parquet(file).filter(col("uid") === uid).count()
    assert(viaPosting == direct && direct > 0)
  }

  test("word_punct analyzer splits operators and apostrophes") {
    import spark.implicits._
    val t = Seq("victoria's secret AND \"tapes\"").toDF("q")
      .select(Analyzers.wordPunct(col("q")).as("t")).as[Seq[String]].head()
    assert(t == Seq("victoria", "'", "s", "secret", "and", "\"", "tapes", "\""))
  }
}
