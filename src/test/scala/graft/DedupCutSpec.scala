package graft

import graft.dedup.Dedup
import graft.operators.DedupQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The registered shingle-frequency cut (q53) must be RECALL-ONLY on the
  * test corpora: dropping shingles with df > MaxShingleFreq before the
  * quadratic candidate join loses a pair only if EVERY shingle the pair
  * shares is hot. This spec asserts (a) cut and uncut pair sets are
  * identical at every scale factor, and (b) the structural reason — each
  * true pair shares at least one below-cut shingle, with measured
  * margin. */
class DedupCutSpec extends AnyFunSuite with SparkSpec {

  private val N = 3
  private val Threshold = 0.8

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    test(s"frequency cut is recall-only: cut == uncut pair set ($sf)") {
      val docs = Tables.documents(spark, s"/root/testdata/$sf")
      val uncut = pairs(Dedup.exactJaccardPairs(docs, "doc_id", "text", N, Threshold))
      val cut = pairs(Dedup.exactJaccardPairs(docs, "doc_id", "text", N, Threshold,
        maxShingleFreq = DedupQueries.MaxShingleFreq))
      assert(uncut.nonEmpty)
      assert(cut == uncut, s"missing=${uncut -- cut}, spurious=${cut -- uncut}")
    }
  }

  test("q105's cut preserves the source-pair set and bounds the join input (sf0.1)") {
    // the cut drops boilerplate shingles from every source's set, so
    // n_common shrinks — but WHICH site pairs share content (the
    // grouping signal) must survive: every source pair sharing any
    // shingle still shares a below-cut one on this corpus. sf0.1 is the
    // scale with actual hot shingles (59 with df > 20; sf0.01 has none,
    // so the cut is vacuous there and the oracle gate covers it).
    val docs = Tables.documents(spark, "/root/testdata/sf0.1")
    val meta = docs.select(col("doc_id"), col("source"))
    val sh = Dedup.shingleTable(docs, "doc_id", "text", N)
    val hot = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > DedupQueries.MaxShingleFreq).select("sh")
    def sourcePairs(shingles: DataFrame): Set[(String, String)] = {
      val sv = shingles.join(meta, "doc_id")
        .select(col("source"), col("sh")).distinct()
      sv.select(col("source").as("a"), col("sh"))
        .join(sv.select(col("source").as("b"), col("sh")), "sh")
        .filter(col("a") < col("b")).select("a", "b").distinct()
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    }
    val cutSh = sh.join(hot, Seq("sh"), "left_anti")
    val uncutPairs = sourcePairs(sh)
    val cutPairs = sourcePairs(cutSh)
    assert(cutPairs == uncutPairs,
      s"cut lost source pairs: ${uncutPairs -- cutPairs}")
    // and the scale point: the cut strictly shrinks the distinct
    // (source, shingle) join input the quadratic step runs on
    val uncutRows = sh.join(meta, "doc_id")
      .select("source", "sh").distinct().count()
    val cutRows = cutSh.join(meta, "doc_id")
      .select("source", "sh").distinct().count()
    assert(cutRows < uncutRows,
      s"cut removed nothing: $cutRows vs $uncutRows join-input rows")
  }

  test("every true pair shares a below-cut shingle, with margin (sf0.01)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val sh = Dedup.shingleTable(docs, "doc_id", "text", N)
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val tp = Dedup.exactJaccardPairs(docs, "doc_id", "text", N, Threshold)
    val minSharedDf = tp
      .join(sh.select(col("doc_id").as("doc_i"), col("sh")), "doc_i")
      .join(sh.select(col("doc_id").as("doc_j"), col("sh")), Seq("doc_j", "sh"))
      .join(dfreq, "sh")
      .groupBy("doc_i", "doc_j").agg(min(col("df")).as("min_df"))
    val worst = minSharedDf.agg(max(col("min_df"))).first().getLong(0)
    assert(worst <= DedupQueries.MaxShingleFreq / 2,
      s"cut margin eroded: a true pair's best shared shingle has df=$worst " +
        s"vs cut ${DedupQueries.MaxShingleFreq}")
  }
}
