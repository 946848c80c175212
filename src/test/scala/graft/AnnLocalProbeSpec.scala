package graft

import graft.similarity.Ann
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side probe-cell twin ([[Ann.queryProbeCellsLocal]]) must
  * be BIT-IDENTICAL to the Catalyst query-side cell scoring
  * (`slice(array_sort(cellScoresFor(cs)(struct(v, n))), 1, nprobe)`):
  * the maintained-ANN probe paths prune their index reads by the
  * driver-computed cells while the join side evaluates the Catalyst
  * expression, so ANY divergence would silently drop candidate cells.
  * Pinned over EVERY vector of the test corpus as a query, at several
  * nprobe values, plus the null-vector edge. */
class AnnLocalProbeSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("driver probe cells == Catalyst probe cells, whole corpus, all nprobe") {
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val cs = graft.similarity.AnnTestBridge.trainCentroids(
      emb, "vec_id", "embedding", nlist = 16, lloydIters = 2)
    val cellScores = graft.similarity.AnnTestBridge.cellScoresFor(cs)
    for (nprobe <- Seq(1, 3, 8, 16)) {
      val catalyst = emb
        .select(col("vec_id"),
          slice(array_sort(cellScores(struct(
              col("embedding").as("v"),
              graft.functions.Vectors.norm(col("embedding")).as("n")))),
            1, nprobe).getField("cell").as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
      val rows = emb.collect()
      rows.foreach { r =>
        val id = r.getLong(0)
        val vec = Option(r.getSeq[Float](1)).map(_.map(_.toDouble).toArray)
        val local = graft.similarity.AnnTestBridge
          .queryProbeCellsLocal(vec, cs, nprobe).toList
        assert(local == catalyst(id),
          s"probe cells diverge for vec $id at nprobe=$nprobe: " +
            s"driver=$local catalyst=${catalyst(id)}")
      }
      assert(rows.nonEmpty)
    }
  }

  test("null vector probes cells 0..nprobe-1 (the Catalyst null-scoring shape)") {
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val cs = graft.similarity.AnnTestBridge.trainCentroids(
      emb, "vec_id", "embedding", nlist = 16, lloydIters = 2)
    assert(graft.similarity.AnnTestBridge
      .queryProbeCellsLocal(None, cs, 8) == (0L until 8L).toList)
  }
}
