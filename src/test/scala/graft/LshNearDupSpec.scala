package graft

import graft.similarity.Ann
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The registered LSH near-dup scale path (q51) must deliver EXACTLY the
  * brute-force pair set, for a provable reason: with the signature cut
  * into B bands, a pair differing in fewer than B signature bits shares
  * at least one identical band (pigeonhole), so recall is
  * deterministically 1.0 for every pair inside that hamming budget.
  *
  * Two regimes are pinned down:
  *  - the REGISTERED regime (planted scaled-copy near-dups, threshold
  *    0.9): scaling by a power of two preserves every sign bit, so
  *    planted pairs sit at hamming 0 — maximal margin inside the
  *    budget, recall exactly 1.0, pair sets identical;
  *  - the BOUNDARY regime (natural corpus, threshold 0.45 ~ 63 deg):
  *    realized true-pair hamming EXCEEDS any disjoint banding's budget
  *    (measured here), which is exactly why the registered query plants
  *    its dups instead of chasing the boundary — recall is still
  *    measured and bounded below to catch regressions.
  */
class LshNearDupSpec extends AnyFunSuite with SparkSpec {

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def planted(emb: DataFrame): DataFrame =
    emb.select("vec_id", "embedding").unionByName(
      emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(0.5f)).as("embedding")))

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    test(s"planted pairs sit at signature hamming 0 — deep inside the band budget ($sf)") {
      val corpus = planted(Tables.embeddings(spark, s"/root/testdata/$sf"))
      val planes = Ann.hyperplanes(64, 64, 42L)
      val sigs = corpus
        .select(col("vec_id"), Ann.signSignature(col("embedding"), planes).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val plantedPairs = sigs.keys.filter(_ >= 100000L).map(j => (j - 100000L, j))
      assert(plantedPairs.size == 50)
      val maxHamming = plantedPairs
        .map { case (i, j) => java.lang.Long.bitCount(sigs(i) ^ sigs(j)) }.max
      assert(maxHamming == 0,
        s"x0.5 scaling must preserve every sign bit, got hamming $maxHamming")
    }

    test(s"LSH pair set equals the exact pair set on the registered corpus ($sf)") {
      val corpus = planted(Tables.embeddings(spark, s"/root/testdata/$sf"))
      val exact = pairs(Ann.cosineNearDupPairs(corpus, 0.9))
      val lsh = pairs(Ann.lshNearDupPairs(corpus, 0.9, nPlanes = 64, bands = 8))
      assert(exact.size == 50)
      assert(lsh == exact, s"missing=${exact -- lsh}, spurious=${lsh -- exact}")
    }
  }

  test("zero-norm vectors pair with nothing in the cosine kernels (batch + cross)") {
    import spark.implicits._
    // the NULL-on-zero-norm convention the streaming twin's docstring
    // leans on: try_divide(dot, 0*nb) is NULL, every NULL comparison is
    // false, so a zero vector silently matches nothing — pinned here for
    // the self kernel (q28's) and the incremental cross kernel (q157's)
    val df = Seq(
      (1L, Array.fill(4)(0f)),            // zero vector in the base
      (2L, Array(1f, 0f, 0f, 0f)),
      (3L, Array(1f, 0f, 0f, 0f)),        // exact dup of 2
      (10L, Array.fill(4)(0f)),           // zero vector in the delta
      (11L, Array(0.9f, 0.1f, 0f, 0f)))   // near-dup of 2 and 3
      .toDF("vec_id", "embedding")
    val self = pairs(graft.similarity.Ann.cosineNearDupPairs(df, 0.8))
    assert(self == Set((2L, 3L), (2L, 11L), (3L, 11L)),
      s"self kernel must skip both zero vectors, got $self")
    val cross = pairs(graft.similarity.Ann.cosineCrossPairs(
      df.filter(col("vec_id") < 10), df.filter(col("vec_id") >= 10), 0.8))
    assert(cross == Set((2L, 11L), (3L, 11L)),
      s"cross kernel must skip both zero vectors, got $cross")
  }

  test("boundary regime measured: threshold-0.45 hamming exceeds any band budget (sf0.01)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val planes = Ann.hyperplanes(24, 64, 42L)
    val sigs = emb
      .select(col("vec_id"), Ann.signSignature(col("embedding"), planes).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truePairs = pairs(Ann.cosineNearDupPairs(emb, 0.45))
    val maxHamming = truePairs.iterator
      .map { case (i, j) => java.lang.Long.bitCount(sigs(i) ^ sigs(j)) }.max
    // 12 bands of 2 bits is the tightest useful disjoint banding of 24
    // planes; the realized boundary pairs differ in >= 12 bits, so NO
    // such banding can guarantee them — documents why q51 plants its
    // near-dups rather than chasing a 63-degree threshold
    assert(maxHamming >= 12, s"boundary hamming unexpectedly small: $maxHamming")
    // recall at the boundary is still useful (not a guarantee): bound it
    val lsh = pairs(Ann.lshNearDupPairs(emb, 0.45, nPlanes = 24, bands = 12))
    assert(lsh.subsetOf(truePairs), "precision must stay exact")
    assert(lsh.size >= (truePairs.size * 8) / 10,
      s"boundary recall regressed: ${lsh.size}/${truePairs.size}")
  }
}
