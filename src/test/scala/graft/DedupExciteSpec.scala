package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The dedup family end-to-end on an EXCITE-LOG-SHAPED corpus
  * (FIXTURES.md §1): short messy query strings — empty rows, quotes,
  * apostrophes, boolean operators, accents, supplementary-plane emoji —
  * the opposite shape of the synthetic sf corpora every dedup operator
  * is tuned on. The kernels' code-point paths are unit-tested in
  * WinnowSpec; this spec runs the WHOLE operators on that shape under
  * in-Scala O(n²) oracles (the DuckDB oracle gate can't see a
  * spec-local corpus, so the oracle definitions are replicated exactly:
  * hamming/Jaccard from first principles on collected rows — 600 docs,
  * driver-sized by construction). */
class DedupExciteSpec extends AnyFunSuite with SparkSpec {

  private val N = 3
  private val T = 0.8

  /** Excite-shaped corpus: 600 rows over messy query templates, with
    * planted exact-duplicate groups and near-dup families (a template
    * plus one trailing token — high Jaccard on short token streams). */
  private lazy val docs = {
    import spark.implicits._
    val templates = Array(
      "", // empty query rows — the fixture's signature edge case
      "\"ann gilliam\"",
      "victoria's secret catalog spring collection photos",
      "3m AND video tapes AND wholesale prices online",
      "café con leche recetas fáciles para el desayuno",
      "smile 😀 emoji 👋 keyboard shortcuts windows mac linux help",
      "yahoo chat rooms free no registration required today",
      "used car blue book values honda civic 1997",
      "weather forecast seattle washington ten day extended outlook",
      "crème brûlée recipe easy dessert french cooking class")
    val rnd = new scala.util.Random(11)
    val rows = (0 until 600).map { i =>
      val t = templates(rnd.nextInt(templates.length))
      val text = rnd.nextInt(10) match {
        case 0 => t // exact duplicate of the bare template
        case 1 if t.nonEmpty => t + " extra" // near-dup: one added token
        case _ => if (t.isEmpty) "" else t + " v" + i // mostly-unique tail
      }
      (i.toLong, text)
    }
    rows.toDF("doc_id", "text").localCheckpoint(eager = true)
  }

  private def tokens(s: String): Seq[String] =
    s.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)

  private def shingleSet(s: String): Set[Seq[String]] =
    tokens(s).sliding(N).filter(_.size == N).map(_.toSeq).toSet

  private def jaccard(a: Set[Seq[String]], b: Set[Seq[String]]): Double = {
    val u = (a ++ b).size
    if (u == 0) 0.0 else (a & b).size.toDouble / u
  }

  private lazy val byId: Map[Long, String] = {
    import spark.implicits._
    docs.as[(Long, String)].collect().toMap
  }

  test("exact dedup groups the planted exact duplicates (and all empties)") {
    import spark.implicits._
    val got = Dedup.exactDedup(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val expected = byId.toSeq.groupBy(_._2)
      .map { case (_, g) => g.map(_._1).min -> g.size.toLong }
    assert(got == expected)
    // the empty rows all collapse into one group
    val emptyIds = byId.filter(_._2.isEmpty).keys
    assert(emptyIds.nonEmpty && got(emptyIds.min) == emptyIds.size)
  }

  test("exact n-gram Jaccard pairs match the first-principles O(n^2) oracle") {
    import spark.implicits._
    val got = Dedup.exactJaccardPairs(docs, "doc_id", "text", N, T)
      .as[(Long, Long)].collect().toSet
    val sets = byId.view.mapValues(shingleSet).toMap
    val ids = byId.keys.toSeq.sorted
    val expected = (for {
      i <- ids; j <- ids if i < j
      if sets(i).nonEmpty && jaccard(sets(i), sets(j)) >= T
    } yield (i, j)).toSet
    assert(got == expected)
    assert(expected.nonEmpty, "the planted families must produce pairs")
  }

  test("simhash h<=3 pairs match the exact hamming+Jaccard oracle") {
    import spark.implicits._
    val got = Dedup.simHashDedupPairs(docs, "doc_id", "text", N, T, maxHamming = 3)
      .as[(Long, Long)].collect().toSet
    val fp = Dedup.simHash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val sets = byId.view.mapValues(shingleSet).toMap
    val ids = fp.keys.toSeq.sorted
    val expected = (for {
      i <- ids; j <- ids if i < j
      if java.lang.Long.bitCount(fp(i) ^ fp(j)) <= 3
      if jaccard(sets(i), sets(j)) >= T
    } yield (i, j)).toSet
    assert(got == expected)
    assert(expected.nonEmpty, "exact duplicates sit at hamming 0")
  }

  test("winnow pairs on messy unicode text match the composed-formulation oracle") {
    import spark.implicits._
    val k = 8
    val w = 4
    val got = Dedup.winnowDedupPairs(docs, "doc_id", "text", k, w, threshold = 0.5)
      .as[(Long, Long)].collect().toSet
    // first-principles oracle from the COMPOSED fingerprint formulation
    // (spec-pinned equal to the kernel in WinnowSpec): Jaccard over
    // fingerprint sets
    val fps = Dedup.winnowFingerprintsComposed(docs, "doc_id", "text", k, w)
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val ids = fps.keys.toSeq.sorted
    val expected = (for {
      i <- ids; j <- ids if i < j
      u = (fps(i) ++ fps(j)).size
      if u > 0 && (fps(i) & fps(j)).size.toDouble / u >= 0.5
    } yield (i, j)).toSet
    assert(got == expected)
    assert(expected.nonEmpty)
  }

  test("minhash pairs are sound (every reported pair is a true near-dup)") {
    import spark.implicits._
    val got = Dedup.minHashDedupPairs(docs, "doc_id", "text", N, T, k = 32, bands = 16)
      .as[(Long, Long)].collect().toSet
    val sets = byId.view.mapValues(shingleSet).toMap
    got.foreach { case (i, j) =>
      assert(jaccard(sets(i), sets(j)) >= T, s"false positive ($i,$j)")
    }
    // exact duplicates have identical signatures in every band — the
    // planted groups must all surface. Docs under N tokens have an
    // EMPTY shingle set (no signature, the excite fixture's "ann
    // gilliam" shape) and correctly never pair.
    val exactPairs = byId.toSeq.filter(d => shingleSet(d._2).nonEmpty)
      .groupBy(_._2).values
      .filter(_.size >= 2)
      .flatMap { g =>
        val ids = g.map(_._1).sorted
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }.toSet
    assert(exactPairs.nonEmpty && exactPairs.subsetOf(got))
  }
}
