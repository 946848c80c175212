package graft

import graft.functions.expressions.{BpeEncodeUtil, BpeTable}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The native BPE encode kernel's contract: BIT-IDENTICAL to the
  * priority-ordered replace chain
  * `merges.foldLeft(text){ (t, (p, s)) => t.replace(p, s) }` for ANY
  * merge table of 2-symbol pairs and 1-char symbols (no separator) —
  * including adversarial tables whose pairs contain earlier merges'
  * SYMBOLS, where a later merge can create a lower-ranked pair that the
  * chain (whose pass is over) must NOT apply. Differential-tested three
  * ways: hand-built adversarial cases, 300 random (table, text) samples,
  * and the registered q159 corpus at K=8 through the Spark plans — plus
  * a 5000-merge table proving the kernel's cost stays independent of K
  * (the chain at that size cannot even be built as a plan).
  */
class BpeKernelSpec extends AnyFunSuite with SparkSpec {

  private def chain(text: String, merges: Seq[(String, String)]): String =
    merges.foldLeft(text) { case (t, (p, s)) => t.replace(p, s) }

  private def kernel(text: String, merges: Seq[(String, String)]): String =
    BpeEncodeUtil.encode(UTF8String.fromString(text),
      new BpeTable(merges.map(_._1).toArray, merges.map(_._2).toArray)).toString

  private def check(text: String, merges: Seq[(String, String)]): Unit = {
    val c = chain(text, merges)
    val k = kernel(text, merges)
    def cp(s: String) = s.map(_.toInt).mkString("[", ",", "]")
    assert(k == c, s"kernel diverged from chain on ${cp(text)} with " +
      merges.map { case (p, s) => s"${cp(p)}->${cp(s)}" }.mkString(", ") +
      s": kernel=${cp(k)} chain=${cp(c)}")
  }

  test("adversarial: later merge creates a lower-ranked pair the chain must skip") {
    // merges: 1 "ab"->X (absent), 2 "Zc"->Y, 3 "de"->Z. On "adec" the
    // chain yields "aZc" (pass 2 ran BEFORE Z existed); an encoder that
    // re-applies earlier ranks would produce "aY".
    val m = Seq(("ab", "X"), ("Zc", "Y"), ("de", "Z"))
    check("adec", m)
    assert(kernel("adec", m) == "aZc")
    // and when the pair exists in time, it DOES apply: "de" first in
    // rank, then "Zc"
    val m2 = Seq(("de", "Z"), ("Zc", "Y"))
    check("adec", m2)
    assert(kernel("adec", m2) == "aY")
  }

  test("adversarial: overlap, duplicates, cascades, empties") {
    check("aaa", Seq(("aa", "X")))                    // greedy: "Xa", not "aX"
    check("aaaa", Seq(("aa", "X")))                   // "XX"
    check("aaaa", Seq(("aa", "X"), ("XX", "Y")))      // cascade via symbols
    check("abab", Seq(("ab", "X"), ("ab", "Y")))      // duplicate pair: 2nd dead
    check("", Seq(("ab", "X")))
    check("a  b", Seq(("ab", "X")))                   // empty token preserved
    check("ab ba ab", Seq(("ab", "X"), ("ba", "Y")))
    check("xyz", Seq(("ab", "X")))                    // nothing applies
    // symbol equal to a later pair's char
    check("abc", Seq(("ab", "c"), ("cc", "Z")))
    // duplicate pair whose SECOND occurrence fires: "bS" is absent at
    // rank 0, created by rank 1 ("ca"->S), and must then be applied by
    // its rank-2 duplicate (the random differential's minimized find —
    // a lowest-rank-only table misses it)
    check("dbcadc", Seq(("bS", "X"), ("ca", "S"), ("bS", "Y")))
    assert(kernel("dbcadc", Seq(("bS", "X"), ("ca", "S"), ("bS", "Y"))) == "dYdc")
  }

  test("random differential: 300 (table, text) samples equal the chain") {
    val alpha = "abcd"
    val genMerge: Gen[(String, String)] = for {
      c1 <- Gen.oneOf(alpha.toSeq)
      c2 <- Gen.oneOf((alpha + "").toSeq)
      sym <- Gen.chooseNum(0, 15)
    } yield (s"$c1$c2", (0xE000 + sym).toChar.toString)
    val genCase: Gen[(List[(String, String)], String)] = for {
      merges <- Gen.listOfN(8, genMerge)
      words <- Gen.listOf(Gen.stringOfN(6, Gen.oneOf(alpha.toSeq)))
    } yield (merges, words.mkString(" "))
    var seed = Seed(7L)
    var i = 0
    while (i < 300) {
      genCase(Gen.Parameters.default.withSize(30), seed)
        .foreach { case (m, t) => check(t, m) }
      seed = seed.next
      i += 1
    }
  }

  test("a 5000-merge table encodes (chain-equal) — the regime a plan chain can't reach") {
    // deterministic synthetic table over a 71-char alphabet: plenty of
    // absent pairs (the common case in a big table) plus enough hits
    val alpha = ('0' to 'z').mkString
    val rnd = new scala.util.Random(3L)
    val merges = (0 until 5000).map { i =>
      (s"${alpha(rnd.nextInt(alpha.length))}${alpha(rnd.nextInt(alpha.length))}",
        (0xE000 + i).toChar.toString)
    }
    val texts = (1 to 50).map(_ =>
      (1 to 30).map(_ => (1 to 8).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
        .mkString(" "))
    texts.foreach(check(_, merges))
  }

  test("q159's kernel plan equals the chain plan on the registered corpus (sf0.001)") {
    import graft.operators.TextAnalysisQueries
    val dir = "/root/testdata/sf0.001"
    val merges = TextAnalysisQueries.bpeMergesForSpec(spark, dir)
    assert(merges.nonEmpty && merges.forall(_._1.length == 2))
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"),
        array_join(graft.functions.TextFunctions.tokens(col("text")), " ").as("t"))
    val both = base.select(col("doc_id"),
        TextAnalysisQueries.bpeKernelEncode(col("t"), merges).as("k"),
        TextAnalysisQueries.bpeChainEncode(col("t"), merges).as("c"))
      .filter(col("k") =!= col("c"))
    assert(both.isEmpty, s"kernel/chain diverged on ${both.count()} docs")
  }
}
