package graft

import graft.text.{Similarities, TextIndex}
import org.scalatest.funsuite.AnyFunSuite

/** Registered similarities: BM25 must fix the sum-of-tf pathology (a doc
  * stuffed with a COMMON query term outranking a doc matching the RARE
  * term), and the registry must behave like the analyzer registry. */
class SimilaritiesSpec extends AnyFunSuite with SparkSpec {

  // "common" appears in every doc; "rare" in exactly one. Doc 1 stuffs
  // the common term (tf 4), doc 2 matches the rare term once.
  private lazy val postings = {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common common common x y z w"),
      (2L, "common rare x y z w v u"),
      (3L, "common x y"),
      (4L, "common z w")).toDF("doc_id", "text")
    TextIndex.buildPostings(docs, "doc_id", "text")
  }

  private def scores(similarity: String): Map[Long, Double] =
    TextIndex.searchScored(postings, Seq("common", "rare"), similarity)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("sum-of-tf ranks the stuffed doc first (the pathology)") {
    val s = scores("tf")
    assert(s(1L) > s(2L))
  }

  test("BM25 ranks the rare-term match above the common-term stuffing") {
    val s = scores("bm25")
    assert(s(2L) > s(1L), s"bm25 scores: $s")
    assert(s.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("TF-IDF upweights the rare term per occurrence") {
    // unlike BM25, plain TF-IDF has no length normalization, so heavy
    // stuffing can still win — the honest claim is per-occurrence: one
    // rare match outweighs one common match by the idf ratio
    val s = scores("tfidf")
    assert(s(2L) > 2 * s(3L), s"tfidf scores: $s")
  }

  test("unknown similarity fails fast, like the analyzer registry") {
    intercept[IllegalArgumentException](Similarities.byName("lucene"))
  }
}
