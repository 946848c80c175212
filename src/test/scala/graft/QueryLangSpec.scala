package graft

import graft.text.{QueryLang, TextIndex}
import graft.text.QueryLang._
import org.scalatest.funsuite.AnyFunSuite

/** Parser and compiler semantics of the text query language: grammar
  * shape, operator precedence, and every boolean/phrase/field form
  * checked against hand-computed match sets on a fixed corpus. */
class QueryLangSpec extends AnyFunSuite with SparkSpec {

  // doc_id, text, tag — chosen so every operator has both hits and misses
  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "spark query engine", "web"),
      (2L, "hash join in spark", "web"),
      (3L, "query planner hash join hash join", "wiki"),
      (4L, "slow full scan", "wiki"),
      (5L, "spark spark query slow", "web"),
      (6L, "", "wiki")
    ).toDF("doc_id", "text", "tag")
  }

  private lazy val fp = TextIndex.buildFieldedPostings(
    corpus, "doc_id", Seq("text" -> "text", "tag" -> "tag")).cache()

  private def run(q: String): Map[Long, Long] =
    QueryLang.run(fp, q, "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("parse: precedence, adjacency-OR, field scoping, phrases") {
    assert(parse("a AND b OR c") == Or(Seq(And(Seq(Term(None, "a"), Term(None, "b"))), Term(None, "c"))))
    assert(parse("a b") == Or(Seq(Term(None, "a"), Term(None, "b")))) // Lucene default OR
    assert(parse("NOT a AND b") == And(Seq(Not(Term(None, "a")), Term(None, "b"))))
    assert(parse("t:\"x y\"") == Phrase(Some("t"), Seq("x", "y")))
    assert(parse("t:\"x\"") == Term(Some("t"), "x")) // 1-word phrase collapses
    assert(parse("(a OR b) AND c") ==
      And(Seq(Or(Seq(Term(None, "a"), Term(None, "b"))), Term(None, "c"))))
  }

  test("parse errors: empty, unterminated phrase, dangling paren, NOT under OR") {
    assert(intercept[ParseException](parse("")).getMessage.contains("empty"))
    assert(intercept[ParseException](parse("\"a b")).getMessage.contains("unterminated"))
    assert(intercept[ParseException](parse("(a OR b")).getMessage.contains("')'"))
    intercept[ParseException](QueryLang.run(fp, "a OR NOT b", "text").collect())
  }

  test("term and AND/OR scoring") {
    assert(run("spark") == Map(1L -> 1L, 2L -> 1L, 5L -> 2L))
    assert(run("spark AND query") == Map(1L -> 2L, 5L -> 3L))
    // OR sums branch scores per doc
    assert(run("spark OR query") == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 5L -> 3L))
  }

  test("NOT: MUST_NOT under AND, pure negative, double negation") {
    assert(run("spark AND NOT slow") == Map(1L -> 1L, 2L -> 1L))
    // pure negative: complement of match set within the indexed universe,
    // score 0; doc 6 (no tokens in 'text' but one in 'tag') IS indexed
    assert(run("NOT spark") == Map(3L -> 0L, 4L -> 0L, 6L -> 0L))
    assert(run("NOT NOT spark").keySet == Set(1L, 2L, 5L))
  }

  test("phrase inside boolean query") {
    assert(run("\"hash join\"") == Map(2L -> 1L, 3L -> 2L))
    assert(run("query AND \"hash join\"") == Map(3L -> 3L))
    assert(run("spark AND (query OR \"hash join\")") ==
      Map(1L -> 2L, 2L -> 2L, 5L -> 3L))
  }

  test("field-scoped terms hit only their field") {
    assert(run("tag:wiki").keySet == Set(3L, 4L, 6L))
    assert(run("tag:spark").isEmpty) // 'spark' never appears in tag
    assert(run("tag:web AND spark") == Map(1L -> 2L, 2L -> 2L, 5L -> 3L))
  }

  test("prefix: trailing-* sums tf across matching terms") {
    assert(parse("sca*") == Prefix(None, "sca"))
    assert(parse("tag:w*") == Prefix(Some("tag"), "w"))
    // s* matches spark/slow/scan: doc1 spark(1); doc2 spark(1);
    // doc4 slow+scan(2); doc5 spark(2)+slow(1)=3
    assert(run("s*") == Map(1L -> 1L, 2L -> 1L, 4L -> 2L, 5L -> 3L))
    // composes with boolean algebra like any term
    assert(run("s* AND query") == Map(1L -> 2L, 5L -> 4L))
    assert(run("tag:w*").keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // exact-term queries are unaffected: sc matches only via the star
    assert(run("sca").isEmpty)
  }

  test("prefix parse errors: bare star, leading/mid-word wildcards") {
    intercept[ParseException](parse("*"))
    intercept[ParseException](parse("*abc"))
    intercept[ParseException](parse("a*c"))
  }
}
