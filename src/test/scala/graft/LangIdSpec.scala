package graft

import graft.text.LangId
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Char-n-gram language ID: train on a controlled corpus with disjoint
  * vocabularies, classify held-out docs — mechanics and determinism,
  * independent of the synthetic testdata labels. */
class LangIdSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private val aWords = Seq("zorp", "flim", "quax", "brug")
  private val bWords = Seq("manti", "selo", "durn", "hiva")

  private def sentence(words: Seq[String], seed: Int): String =
    (0 until 12).map(i => words((i * 7 + seed) % words.length)).mkString(" ")

  test("disjoint-vocabulary corpora classify back to their language") {
    val train = ((0 until 20).map(i => ("aa", sentence(aWords, i))) ++
      (0 until 20).map(i => ("bb", sentence(bWords, i)))).toDF("lang", "text")
    val profiles = LangId.trainProfiles(train, "lang", "text", n = 3, topK = 50)

    // profiles: <= topK rows per lang, weights descending from topK
    val counts = profiles.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("aa", "bb") && counts.values.forall(_ <= 50))
    assert(profiles.agg(max("weight")).first().getInt(0) <= 50)

    val heldOut = ((100 until 110).map(i => (i.toLong, sentence(aWords, i), "aa")) ++
      (100 until 110).map(i => (i.toLong, sentence(bWords, i), "bb")))
      .toDF("doc_id", "text", "truth")
    val out = LangId.classify(heldOut, profiles, "doc_id", "text")
      .join(heldOut.select("doc_id", "truth"), "doc_id")
    assert(out.filter(col("predicted") === col("truth")).count() == 20,
      "disjoint vocabularies must classify perfectly")
  }

  test("unmatchable text gets 'und'; classification is total and deterministic") {
    val train = Seq(("aa", sentence(aWords, 1))).toDF("lang", "text")
    val profiles = LangId.trainProfiles(train, "lang", "text", n = 3, topK = 50)
    val docs = Seq((1L, "xxxxxxx yyyyyy wwwww"), (2L, sentence(aWords, 2)), (3L, ""))
      .toDF("doc_id", "text")
    val out1 = LangId.classify(docs, profiles, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out2 = LangId.classify(docs, profiles, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out1 == out2, "classification must be deterministic")
    assert(out1 == Map(1L -> "und", 2L -> "aa", 3L -> "und"))
  }
}
