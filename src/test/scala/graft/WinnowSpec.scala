package graft

import graft.dedup.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** Winnowing fingerprint properties: the MOSS guarantee (a shared
  * substring of length >= k + w - 1 yields a shared fingerprint),
  * density compression vs full k-gram hashing, and the short-document
  * edge cases. */
class WinnowSpec extends AnyFunSuite with SparkSpec {

  private val K = 8
  private val W = 4

  private def fps(rows: Seq[(Long, String)]): Map[Long, Set[Long]] = {
    import spark.implicits._
    Dedup.winnowFingerprints(rows.toDF("doc_id", "text"), "doc_id", "text", K, W)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
  }

  test("MOSS guarantee: docs sharing a substring of length k+w-1 share a fingerprint") {
    // the shared block is longer than k + w - 1 = 11 chars; prefixes differ
    val shared = "the quick brown fox jumps over the lazy dog"
    val m = fps(Seq(
      1L -> s"alpha beta $shared",
      2L -> s"zeta omega theta $shared",
      3L -> "completely unrelated content with no overlap at all"))
    assert((m(1L) & m(2L)).nonEmpty, "guaranteed shared fingerprint missing")
    assert((m(1L) & m(3L)).isEmpty || (m(2L) & m(3L)).isEmpty,
      "unrelated doc shares fingerprints with both — suspicious corpus")
  }

  test("density: fingerprints ~ 2/(w+1) of grams, never empty for len >= k") {
    val text = ("the data pipeline shuffles and aggregates rows " * 8).trim
    val m = fps(Seq(1L -> text))
    val nGrams = text.length - K + 1
    val n = m(1L).size
    assert(n > 0 && n < nGrams / 2,
      s"winnowed $n of $nGrams grams — selection not compressing")
  }

  test("short docs: under k chars -> no fingerprints; under w grams -> one") {
    val m = fps(Seq(
      1L -> "tiny", // 4 chars < k
      2L -> "exactly9c", // 9 chars -> 2 grams < w -> single overall min
      3L -> ""))
    assert(!m.contains(1L) && !m.contains(3L))
    assert(m(2L).size == 1)
  }

  test("public kernel on under-k input returns empty, never throws") {
    // the expression is exposed via TextFunctions.winnowFps without the
    // operator's length pre-filter, so the kernel itself must guard
    // short inputs (ascii and astral code-point paths both)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val out = Seq("tiny", "", "ab😀c", "exactly9c")
      .toDF("text")
      .select(graft.functions.TextFunctions.winnowFps(col("text"), K, W).as("f"))
      .collect().map(_.getSeq[Long](0).toSet)
    assert(out(0).isEmpty && out(1).isEmpty && out(2).isEmpty)
    assert(out(3).size == 1)
  }

  test("whitespace normalization: runs of spaces dedupe to the same fingerprints") {
    val m = fps(Seq(
      1L -> "spark  shuffles \t rows   fast",
      2L -> "spark shuffles rows fast"))
    assert(m(1L) == m(2L))
  }

  test("kernel fingerprints equal the composed explode+window formulation") {
    import spark.implicits._
    // ascii, multibyte (forces the char-based walk), supplementary-
    // plane (emoji = ONE code point like Spark substr, TWO UTF-16
    // units — the seam the kernel must not shear on), repeated-content
    // (exercises the per-doc distinct), under-w-grams, and exactly-k
    val rows = Seq(
      1L -> ("the quick brown fox jumps over the lazy dog " * 6).trim,
      2L -> ("café au lait crème brûlée encore une fois " * 6).trim,
      3L -> ("aaaa bbbb aaaa bbbb " * 10).trim,
      4L -> "exactly9c",
      5L -> "12345678",
      6L -> ("smile 😀 and wave 👋 at the camera " * 6).trim)
    val docs = rows.toDF("doc_id", "text")
    val kernel = Dedup.winnowFingerprints(docs, "doc_id", "text", K, W)
      .as[(Long, Long)].collect().toSet
    val composed = Dedup.winnowFingerprintsComposed(docs, "doc_id", "text", K, W)
      .as[(Long, Long)].collect().toSet
    assert(kernel == composed,
      s"kernel/composed diverged: only_k=${(kernel -- composed).take(3)} " +
        s"only_c=${(composed -- kernel).take(3)}")
  }

  test("winnowDedupPairs finds the planted near-dup and not the unrelated doc") {
    import spark.implicits._
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "the quick brown fox jumps over the lazy dog near the river bend",
      3L -> "completely different text about spark query planning and shuffles").toDF("doc_id", "text")
    val pairs = Dedup.winnowDedupPairs(docs, "doc_id", "text", K, W, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("MOSS -m cut: boilerplate fingerprints drop out of the sets entirely") {
    import spark.implicits._
    val template = "this exact same boilerplate notice appears in every single copy of the corpus"
    val docs = ((1L to 6L).map(_ -> template) ++ Seq(
      7L -> "the quick brown fox jumps over the lazy dog near the river bank",
      8L -> "the quick brown fox jumps over the lazy dog near the river bend")).toDF("doc_id", "text")
    // uncut: the 6 template copies pair with each other (15 pairs) plus (7,8)
    val uncut = Dedup.winnowDedupPairs(docs, "doc_id", "text", K, W, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncut.size == 16 && uncut.contains((7L, 8L)))
    // cut at m=5: every template fingerprint has df=6 > 5 and is ignored,
    // so the copies no longer pair — this is the case split-intersection
    // recovery cannot express (those pairs share ZERO cold fingerprints,
    // so a filtered join never sees them; MOSS's answer is to define
    // them away as boilerplate)
    val cut = Dedup.winnowDedupPairs(docs, "doc_id", "text", K, W, 0.5, maxFpFreq = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cut == Set((7L, 8L)))
  }
}
