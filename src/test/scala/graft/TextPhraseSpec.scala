package graft

import graft.text.TextIndex
import org.scalatest.funsuite.AnyFunSuite

/** Positional-postings semantics: conjunctive AND and phrase queries,
  * including the classic edge cases (overlapping occurrences, repeated
  * words in the phrase, single-word phrases, absent terms). */
class TextPhraseSpec extends AnyFunSuite with SparkSpec {

  private lazy val postings = {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a"),
      (2L, "a a a"),
      (3L, "b c"),
      (4L, "a c b")).toDF("doc_id", "text")
    TextIndex.buildPostings(docs, "doc_id", "text")
  }

  private def phraseMap(phrase: Seq[String]): Map[Long, Long] =
    TextIndex.searchPhrase(postings, phrase)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("phrase occurrences count every start position, overlaps included") {
    assert(phraseMap(Seq("a", "b")) == Map(1L -> 2L))
    assert(phraseMap(Seq("a", "b", "a")) == Map(1L -> 2L)) // overlapping at 0 and 2
    assert(phraseMap(Seq("b", "a", "b")) == Map(1L -> 1L))
  }

  test("repeated words in the phrase join the same postings row") {
    assert(phraseMap(Seq("a", "a")) == Map(2L -> 2L))
  }

  test("single-word phrase degenerates to term frequency") {
    assert(phraseMap(Seq("a")) == Map(1L -> 3L, 2L -> 3L, 4L -> 1L))
  }

  test("phrases with an absent word match nothing") {
    assert(phraseMap(Seq("a", "z")).isEmpty)
  }

  test("conjunctive AND requires every distinct term") {
    val got = TextIndex.searchAll(postings, Seq("a", "c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(4L -> 2L)) // doc 4 has a and c; doc 3 lacks a; docs 1,2 lack c
    // duplicate query terms must not double the requirement
    val dup = TextIndex.searchAll(postings, Seq("a", "a", "c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dup == got)
  }
}
