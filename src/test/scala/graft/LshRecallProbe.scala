package graft

import org.apache.spark.sql.functions._

/** Dev measurement tool (not a test): per-query exact-hit counts of
  * [[graft.similarity.Ann.lshTopK]] against brute force at every
  * testdata scale, for candidate LSH structures — the measurement
  * behind q30's 8-band decision (r12: the 4-band/16-plane structure
  * cleared the hits>=2 floor at sf0.001/sf0.01 but dropped to 1 hit
  * for query 1 at sf0.1).
  *
  * `sbt "Test/runMain graft.LshRecallProbe"`
  */
object LshRecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("8")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val emb = Tables.embeddings(spark, s"/root/testdata/$sf")
      val q = emb.filter(col("vec_id") < 3)
      val exact = graft.similarity.Ann.bruteForceTopK(emb, q, 5)
        .select("query_id", "neighbor_id")
      for ((np, b) <- Seq((16, 4), (24, 6), (28, 7), (32, 8), (16, 8))) {
        val approx = graft.similarity.Ann.lshTopK(emb, q, 5, nPlanes = np, bands = b)
        val hits = approx
          .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("hits"))
          .orderBy("query_id")
          .collect().map(r => s"q${r.getLong(0)}=${r.getLong(1)}").mkString(" ")
        println(s"[lsh-recall] $sf planes=$np bands=$b hits: $hits")
      }
      // q161's banded CROSS path (delta probes the persisted base index):
      // candidate counts and recall at the 0.45 boundary regime (natural
      // corpus — banding is boundary-blind at 63 deg, documenting why the
      // production twin does not run there) vs the production 0.9 regime
      // (planted corpus — pigeonhole recall 1.0)
      val DA = graft.dedup.DedupArtifacts
      val isDelta = col("vec_id") % DA.DeltaMod === DA.DeltaRem
      for ((label, corpus, t) <- Seq(
          ("natural@0.45", emb.select("vec_id", "embedding"), 0.45),
          ("planted@0.9",
            DA.plantedEmbeddings(spark, s"/root/testdata/$sf"), DA.SemProdThreshold))) {
        val banded = graft.similarity.Ann.bandedSignatures(
          corpus, nPlanes = DA.SemPlanes, bands = DA.SemBands, seed = DA.SemSeed)
        val cand = graft.similarity.Ann.crossCandidatesFromBanded(banded, isDelta)
          .distinct()
        val nCand = cand.count()
        val found = graft.similarity.Ann.verifyCosinePairs(
          cand, corpus, t, broadcastCand = true).count()
        val truth = graft.similarity.Ann.cosineCrossPairs(
          corpus.filter(!isDelta), corpus.filter(isDelta), t).count()
        val base = corpus.filter(!isDelta).count()
        val delta = corpus.filter(isDelta).count()
        val brute = base * delta
        println(f"[cross-recall] $sf $label cand=$nCand (vs brute=$brute, " +
          f"${nCand.toDouble / brute * 100}%.2f%%) found=$found true=$truth " +
          f"recall=${if (truth == 0) 1.0 else found.toDouble / truth}%.3f")
      }
    }
    spark.stop()
  }
}
