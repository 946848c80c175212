package graft

import graft.build.{GenStore, GenTable}
import graft.similarity.{Ann, AnnIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The point-fetch VECTOR STORE's lifecycle (r17 — the last persisted
  * structure to get build → gen-append → compact): append ≡ rebuild
  * exactly (the id→pb mapping is a pure per-row function), the live
  * view resolves upserts like every other structure, the probe's id
  * filter commutes with the reduce (bucket = id) so pruning holds in
  * EVERY regime, and the PQ point-fetch read through maintained stores
  * stays bit-identical to the corpus-scan rerank. Plus the r17 ADVICE
  * pins: dense PQ codebook ids and coherent duplicate-id coding. */
class VecStoreSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val work = tempDir("vecstore")

  private def emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
  private def isDelta = col("vec_id") % 7 === 6

  private def liveRows(dir: String, ids: Option[Seq[Long]] = None,
      resolveAll: Boolean = false): Map[Long, (Seq[Float], Long)] =
    AnnIndex.vecsLive(spark, dir, ids, resolveAll).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Float](1), r.getLong(2))).toMap

  private def topk(df: DataFrame): Set[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("vecs: base-build + declared delta append equals the full-corpus build") {
    val a = s"$work/vecs_app"
    AnnIndex.buildVecs(emb.filter(!isDelta), a)
    AnnIndex.appendVecs(emb.filter(isDelta), a, newIds = true)
    val b = s"$work/vecs_full"
    AnnIndex.buildVecs(emb, b)
    val av = liveRows(a).view.mapValues(_._1).toMap
    val bv = liveRows(b).view.mapValues(_._1).toMap
    assert(av == bv, "append diverged from the full rebuild")
    // append-only history: the live view is a PLAIN read — no shuffle
    assert(!AnnIndex.vecsLive(spark, a).queryExecution.executedPlan
      .toString.contains("Exchange"),
      "append-only vecs store must serve a plain read")
    // and the staleness counters reflect the delta fraction, O(1)
    val frac = emb.filter(isDelta).count().toDouble / emb.count()
    assert(math.abs(GenStore.staleness(spark, a) - frac) < 1e-9)
  }

  test("vecs: an upserted id's latest vector wins; the id filter commutes with the reduce in every regime") {
    import spark.implicits._
    val dir = s"$work/vecs_upsert"
    val base = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)), (65L, Array(1f, 1f)))
      .toDF("vec_id", "embedding")
    AnnIndex.buildVecs(base, dir)
    // id 65 re-ingested with new content (65 ≡ 1 mod 64: shares pb dir
    // with id 1 — the dir-level pruning must still separate by bucket)
    AnnIndex.appendVecs(
      Seq((65L, Array(2f, 2f))).toDF("vec_id", "embedding"), dir)
    val live = liveRows(dir)
    assert(live.size == 3 && live(65L)._2 == 1L &&
      live(65L)._1 == Seq(2f, 2f),
      s"latest generation must win: $live")
    // bounded regime ≡ resolveAll audit, probed and unprobed
    assert(liveRows(dir) == liveRows(dir, resolveAll = true))
    assert(liveRows(dir, ids = Some(Seq(65L))) ==
      liveRows(dir, resolveAll = true).view.filterKeys(_ == 65L).toMap)
    // probing id 1 (same pb dir as the upserted 65) returns only id 1 —
    // and never a superseded row
    assert(liveRows(dir, ids = Some(Seq(1L))).keySet == Set(1L))
  }

  test("vecs: probed read prunes to the ids' pb directories — files measured") {
    val dir = s"$work/vecs_prune"
    AnnIndex.buildVecs(emb, dir)
    def files(df: DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.sum
    }
    val all = files(AnnIndex.vecsLive(spark, dir))
    val probed = files(AnnIndex.vecsLive(spark, dir, ids = Some(Seq(0L, 1L))))
    assert(probed > 0 && probed < all,
      s"id probe must prune pb directories: read $probed of $all files")
  }

  test("vecs: compact resets the history; staged adoption via the shared protocol") {
    val dir = s"$work/vecs_compact"
    AnnIndex.buildVecs(emb.filter(!isDelta), dir)
    AnnIndex.appendVecs(emb.filter(isDelta), dir) // undeclared upsert
    assert(GenStore.staleness(spark, dir) > 0.0)
    AnnIndex.buildVecs(emb, dir)
    assert(GenStore.staleness(spark, dir) == 0.0)
    val cmp = s"$work/vecs_compact_cmp"
    AnnIndex.buildVecs(emb, cmp)
    assert(liveRows(dir).view.mapValues(_._1).toMap ==
      liveRows(cmp).view.mapValues(_._1).toMap,
      "compacted store diverged from the from-scratch build")
  }

  test("vecs: schema guards — wrong-append cross-calls throw") {
    val vdir = s"$work/vecs_guard"
    AnnIndex.buildVecs(emb.filter(!isDelta), vdir)
    intercept[IllegalArgumentException] {
      AnnIndex.appendIvf(emb.filter(isDelta), vdir)
    }
    val idir = s"$work/ivf_guard_v"
    AnnIndex.buildIvf(emb.filter(!isDelta), idir, nlist = 16)
    intercept[IllegalArgumentException] {
      AnnIndex.appendVecs(emb.filter(isDelta), idir)
    }
    intercept[IllegalArgumentException] {
      AnnIndex.vecsLive(spark, idir).count()
    }
  }

  test("point fetch through MAINTAINED stores (plain and upsert histories) ≡ corpus-scan rerank") {
    // plain: base+declared histories on both sides (q171's shape)
    val idx = s"$work/pf_ivfpq"
    AnnIndex.buildIvfPq(emb.filter(!isDelta), idx, nlist = 16)
    AnnIndex.appendIvfPq(emb.filter(isDelta), idx, newIds = true)
    val vecs = s"$work/pf_vecs"
    AnnIndex.buildVecs(emb.filter(!isDelta), vecs)
    AnnIndex.appendVecs(emb.filter(isDelta), vecs, newIds = true)
    val q = emb.filter(col("vec_id") < 3)
    assert(topk(AnnIndex.ivfPqTopKPointFetch(
        spark, idx, vecs, q, 5, nprobe = 8, shortlist = 50)) ==
      topk(AnnIndex.ivfPqTopKFromIndex(
        spark, idx, emb, q, 5, nprobe = 8, shortlist = 50)),
      "maintained-store point fetch diverged from the corpus-scan rerank")
    // upsert: BOTH sides under undeclared-append histories (q172's
    // shape) — the bounded coded shortlist plus the bounded vector
    // fetch must still match the corpus-scan rerank over the same index
    val idxU = s"$work/pf_ivfpq_u"
    AnnIndex.buildIvfPq(emb.filter(!isDelta), idxU, nlist = 16)
    AnnIndex.appendIvfPq(emb.filter(isDelta), idxU)
    val vecsU = s"$work/pf_vecs_u"
    AnnIndex.buildVecs(emb.filter(!isDelta), vecsU)
    AnnIndex.appendVecs(emb.filter(isDelta), vecsU)
    assert(topk(AnnIndex.ivfPqTopKPointFetch(
        spark, idxU, vecsU, q, 5, nprobe = 8, shortlist = 50)) ==
      topk(AnnIndex.ivfPqTopKFromIndex(
        spark, idxU, emb, q, 5, nprobe = 8, shortlist = 50)),
      "upsert-regime point fetch diverged from the corpus-scan rerank")
    // and the upsert histories resolved to the same content as the
    // declared ones, so the two point-fetch reads agree end to end
    assert(topk(AnnIndex.ivfPqTopKPointFetch(
        spark, idxU, vecsU, q, 5, nprobe = 8, shortlist = 50)) ==
      topk(AnnIndex.ivfPqTopKPointFetch(
        spark, idx, vecs, q, 5, nprobe = 8, shortlist = 50)))
  }

  test("over-cap point fetch: clear error by default, distributed degradation on request (r18)") {
    val idx = s"$work/cap_ivfpq"
    AnnIndex.buildIvfPq(emb, idx, nlist = 16)
    val vecs = s"$work/cap_vecs"
    AnnIndex.buildVecs(emb, vecs)
    val q = emb.filter(col("vec_id") < 3)
    // a cap the query set exceeds: |queries| x shortlist > 4
    val err = intercept[IllegalArgumentException] {
      AnnIndex.ivfPqTopKPointFetchCapped(spark, idx, vecs, q, 5,
        nprobe = 8, shortlist = 50, "vec_id", "embedding",
        degradeToScan = false, cap = 4)
    }
    assert(err.getMessage.contains("degradeToScan") &&
      err.getMessage.contains("ivfPqTopKFromIndex"),
      s"the over-cap error must name both remedies: ${err.getMessage}")
    // degraded: fully distributed (shortlist never collected), same
    // results as the capped fast path and the corpus-scan rerank
    val degraded = AnnIndex.ivfPqTopKPointFetchCapped(spark, idx, vecs, q, 5,
      nprobe = 8, shortlist = 50, "vec_id", "embedding",
      degradeToScan = true, cap = 4)
    assert(topk(degraded) == topk(AnnIndex.ivfPqTopKPointFetch(
        spark, idx, vecs, q, 5, nprobe = 8, shortlist = 50)),
      "degraded plan diverged from the pruned point fetch")
    assert(topk(degraded) == topk(AnnIndex.ivfPqTopKFromIndex(
        spark, idx, emb, q, 5, nprobe = 8, shortlist = 50)),
      "degraded plan diverged from the corpus-scan rerank")
  }

  test("legacy write-once pb table still serves the point fetch (no meta → pruneToProbe path)") {
    val idx = s"$work/pf_legacy_idx"
    AnnIndex.buildIvfPq(emb, idx, nlist = 16)
    val vecs = s"$work/pf_legacy_vecs"
    graft.build.Layout.writeBucketDirs(
      emb.select(col("vec_id").as("bucket"), col("embedding")), vecs)
    val q = emb.filter(col("vec_id") < 3)
    assert(topk(AnnIndex.ivfPqTopKPointFetch(
        spark, idx, vecs, q, 5, nprobe = 8, shortlist = 50)) ==
      topk(AnnIndex.ivfPqTopKFromIndex(
        spark, idx, emb, q, 5, nprobe = 8, shortlist = 50)))
  }

  test("PQ codebook ids are dense 0..nCent-1 even when the corpus ids are huge (ADVICE: int-cast wrap)") {
    val shifted = emb.withColumn("vec_id", col("vec_id") + lit(5000000000L))
    val idx = s"$work/pq_dense"
    AnnIndex.buildIvfPq(shifted, idx, nlist = 4, nSub = 8, subDim = 8,
      nCent = 16)
    val cids = spark.read.parquet(s"${GenStore.root(idx, GenStore.metaOrThrow(spark, idx))}/codebook")
      .select("cid").distinct().collect().map(_.getLong(0)).toSet
    assert(cids == (0L until 16L).toSet,
      s"codebook cids must be dense 0..15 independent of the id domain: $cids")
    // and the probe works end to end on the huge-id corpus (codes cast
    // to int safely because the cids are small)
    val q = shifted.filter(col("vec_id") < 5000000003L)
    val res = AnnIndex.ivfPqTopKFromIndex(
      spark, idx, shifted, q, 5, nprobe = 4, shortlist = 50)
    assert(res.count() == 15, "3 queries × top-5 expected")
    // the dense remap is ORDER-PRESERVING, so on a 0-based corpus it is
    // the identity and the maintained probe still reproduces q124
    val idx2 = s"$work/pq_dense_id"
    AnnIndex.buildIvfPq(emb, idx2, nlist = 16)
    val q2 = emb.filter(col("vec_id") < 3)
    assert(topk(AnnIndex.ivfPqTopKFromIndex(
        spark, idx2, emb, q2, 5, nprobe = 16, shortlist = 50)) ==
      topk(Ann.pqAdcTopK(emb, q2, 5, shortlist = 50,
        nSub = 8, subDim = 8, nCent = 16)))
  }

  test("zero-row and duplicate-id appends: empty batches are safe no-ops, same-id duplicates append one deterministic row (all structures)") {
    import spark.implicits._
    // vecs store
    val vdir = s"$work/vecs_edge"
    val base = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    AnnIndex.buildVecs(base, vdir)
    // a zero-row micro-batch (an empty ingest file) must append an
    // empty generation and advance the meta — not crash the streaming
    // maintenance loop into a permanent replay (the r17 review finding:
    // an empty partitioned write has no schema to read back for the
    // staleness counters)
    AnnIndex.appendVecs(base.filter(col("vec_id") < 0), vdir, newIds = true)
    assert(AnnIndex.vecsLive(spark, vdir).count() == 2)
    assert(GenStore.staleness(spark, vdir) == 0.0,
      "zero appended rows must not register as drift")
    // duplicate id within ONE declared batch: exactly one row survives,
    // picked deterministically (max-struct: 0.9 > 0.1 at index 0)
    AnnIndex.appendVecs(
      Seq((7L, Array(0.9f, 0f)), (7L, Array(0.1f, 0f)))
        .toDF("vec_id", "embedding"), vdir, newIds = true)
    val rows7 = AnnIndex.vecsLive(spark, vdir)
      .filter(col("bucket") === 7L).collect()
    assert(rows7.length == 1 && rows7.head.getSeq[Float](1) == Seq(0.9f, 0f),
      s"duplicate-id batch must append one deterministic row: ${rows7.toSeq}")
    // raw IVF
    val idir = s"$work/ivf_edge"
    AnnIndex.buildIvf(base, idir, nlist = 2, lloydIters = 0)
    AnnIndex.appendIvf(base.filter(col("vec_id") < 0), idir, newIds = true)
    assert(AnnIndex.ivfAssignments(spark, idir).count() == 2)
    AnnIndex.appendIvf(
      Seq((7L, Array(0.9f, 0f)), (7L, Array(0.1f, 0f)))
        .toDF("vec_id", "embedding"), idir, newIds = true)
    assert(AnnIndex.ivfAssignments(spark, idir)
      .filter(col("vec_id") === 7L).count() == 1,
      "duplicate-id IVF batch must serve one live row even on the plain regime")
    // banded
    val bdir = s"$work/lsh_edge"
    AnnIndex.buildBanded(base, bdir, nPlanes = 8, bands = 4)
    AnnIndex.appendBanded(base.filter(col("vec_id") < 0), bdir,
      nPlanes = 8, bands = 4, newIds = true)
    AnnIndex.appendBanded(
      Seq((7L, Array(0.9f, 0f)), (7L, Array(0.1f, 0f)))
        .toDF("vec_id", "embedding"), bdir,
      nPlanes = 8, bands = 4, newIds = true)
    assert(AnnIndex.bandedRowsLive(spark, bdir)
      .filter(col("vec_id") === 7L).count() == 4,
      "duplicate-id banded batch must band exactly one version (bands rows)")
  }

  test("duplicate ids within one PQ batch code coherently (ADVICE: mixed-subspace codes)") {
    import spark.implicits._
    val idx = s"$work/pq_dup"
    val base = Seq(
      (0L, Array.tabulate(16)(i => if (i < 8) 1f else 0f)),
      (1L, Array.tabulate(16)(i => if (i >= 8) 1f else 0f)))
      .toDF("vec_id", "embedding")
    AnnIndex.buildIvfPq(base, idx, nlist = 2, nSub = 2, subDim = 8,
      nCent = 2, lloydIters = 0)
    // ONE batch carrying id 5 twice with different content: the store
    // must persist ONE coherent row — the max-struct row's codes, never
    // a per-subspace mixture of the two
    val vLo = Array.tabulate(16)(i => if (i < 8) 0.8f else 0.2f)
    val vHi = Array.tabulate(16)(i => if (i >= 8) 0.9f else 0.1f)
    AnnIndex.appendIvfPq(
      Seq((5L, vLo), (5L, vHi)).toDF("vec_id", "embedding"), idx,
      newIds = true)
    def gen1(d: String) =
      s"${GenTable.Ivf.path(GenStore.root(d, GenStore.metaOrThrow(spark, d)))}/gen=1"
    val rows = spark.read.parquet(gen1(idx)).collect()
    assert(rows.length == 1, s"one coherent row per id, got ${rows.length}")
    // comparator: the same append with ONLY the max-struct row — the
    // pick is lexicographic on the vector, and vLo(0)=0.8 > vHi(0)=0.1,
    // so vLo wins
    val idx2 = s"$work/pq_dup_cmp"
    AnnIndex.buildIvfPq(base, idx2, nlist = 2, nSub = 2, subDim = 8,
      nCent = 2, lloydIters = 0)
    AnnIndex.appendIvfPq(Seq((5L, vLo)).toDF("vec_id", "embedding"), idx2,
      newIds = true)
    val exp = spark.read.parquet(gen1(idx2)).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getSeq[Int](1).toList)
    assert(rows.map(key).toSet == exp.map(key).toSet,
      "duplicate-id batch must code exactly the deterministically-picked row")
  }
}
