package graft

import graft.build.{GenStore, IndexBuilder}
import graft.query.{Eq, PrunedScanner}
import graft.streaming.IndexMaintenance
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental maintenance end-to-end: initial build, new files arrive,
  * the AvailableNow stream indexes exactly the new files, and rebuilt
  * (changed) files are served from their fresh gen — stale postings rows
  * stay inert. */
class StreamingIndexSpec extends AnyFunSuite with SparkSpec {

  private val work = tempDir("test_stream")
  private val dataDir = s"$work/data"
  private val indexRoot = s"$work/index"

  test("AvailableNow maintenance indexes new files incrementally") {
    import spark.implicits._
    // initial corpus: 2 files
    Seq((1L, "alpha"), (2L, "beta")).toDF("id", "kind")
      .repartition(2).write.parquet(dataDir)
    val q1 = IndexMaintenance.runAvailableNow(
      spark, dataDir, Seq("kind"), indexRoot, s"$work/ckpt1")
    q1.awaitTermination()
    val files1 = IndexBuilder.listDataFiles(spark, dataDir).map(_.path).toSet
    import spark.implicits._
    val desc1 = IndexBuilder.loadDescriptors(spark, indexRoot).values.map(_.sourcePath).toSet
    assert(desc1 == files1)

    // two more files arrive
    Seq((3L, "gamma"), (4L, "alpha")).toDF("id", "kind")
      .repartition(2).write.mode("append").parquet(dataDir)
    spark.catalog.refreshByPath(dataDir)
    val q2 = IndexMaintenance.runAvailableNow(
      spark, dataDir, Seq("kind"), indexRoot, s"$work/ckpt2")
    q2.awaitTermination()
    val files2 = IndexBuilder.listDataFiles(spark, dataDir).map(_.path).toSet
    val desc2 = IndexBuilder.loadDescriptors(spark, indexRoot).values.map(_.sourcePath).toSet
    assert(desc2 == files2 && files2.size == 4)

    // index-pruned scan sees rows from both generations of arrival
    val (df, report) = PrunedScanner.scanWithReport(
      spark, dataDir, Eq("kind", "alpha"), indexRoot)
    assert(report.fallbackFiles == 0)
    assert(df.select("id").as[Long].collect().toSet == Set(1L, 4L))
    assert(report.selectedFiles < report.totalFiles)
  }

  test("incremental build with an added column keeps prior coverage") {
    import spark.implicits._
    val dir3 = s"$work/data3"
    val idx3 = s"$work/index3"
    Seq((1L, "k1", "v1"), (2L, "k2", "v2")).toDF("id", "kind", "variant")
      .coalesce(1).write.parquet(dir3)
    assert(IndexBuilder.buildIncremental(spark, dir3, Seq("kind"), idx3).nonEmpty)
    // add a second indexed column over unchanged content
    assert(IndexBuilder.buildIncremental(spark, dir3, Seq("variant"), idx3).nonEmpty)
    // BOTH columns prune without fallback
    val (_, rKind) = PrunedScanner.scanWithReport(spark, dir3, Eq("kind", "k1"), idx3)
    val (_, rVar) = PrunedScanner.scanWithReport(spark, dir3, Eq("variant", "v2"), idx3)
    assert(rKind.fallbackFiles == 0, s"kind coverage lost: $rKind")
    assert(rVar.fallbackFiles == 0, s"variant coverage lost: $rVar")
    // and a third build with either column is a no-op (nothing stale)
    assert(IndexBuilder.buildIncremental(spark, dir3, Seq("kind"), idx3).isEmpty)
  }

  test("rebuilt file is served from fresh gen; stale postings stay inert") {
    import spark.implicits._
    val dir2 = s"$work/data2"
    val idx2 = s"$work/index2"
    Seq((1L, "old1"), (2L, "old2")).toDF("id", "kind")
      .coalesce(1).write.parquet(dir2)
    assert(IndexBuilder.buildIncremental(spark, dir2, Seq("kind"), idx2).nonEmpty)

    // rewrite the single data file in place with different content
    val f = IndexBuilder.listDataFiles(spark, dir2).head
    val tmp = s"$work/tmp2"
    Seq((9L, "newkind"), (10L, "old1")).toDF("id", "kind")
      .coalesce(1).write.parquet(tmp)
    val newPart = IndexBuilder.listDataFiles(spark, tmp).head
    val dst = java.nio.file.Paths.get(f.path)
    java.nio.file.Files.copy(java.nio.file.Paths.get(newPart.path), dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.deleteIfExists(
      dst.resolveSibling("." + dst.getFileName.toString + ".crc"))
    java.nio.file.Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 2000))
    spark.catalog.refreshByPath(dir2)

    // incremental rebuild picks up the changed file (appends new gen)
    assert(IndexBuilder.buildIncremental(spark, dir2, Seq("kind"), idx2).nonEmpty)

    // the old content's row is dead: its file id left the file table,
    // so the live postings no longer hold it (compaction below drops it
    // from the committed files)
    assert(IndexBuilder.postings(spark, idx2).filter(col("value") === "old2").count() == 0)
    // queries only honor live rows: old2 is gone, newkind found
    val (gone, _) = PrunedScanner.scanWithReport(spark, dir2, Eq("kind", "old2"), idx2)
    assert(gone.count() == 0)
    val (found, report) = PrunedScanner.scanWithReport(spark, dir2, Eq("kind", "newkind"), idx2)
    assert(found.select("id").as[Long].collect().toSet == Set(9L))
    assert(report.fallbackFiles == 0, "rebuilt file must be prunable again, not fallback")

    // compaction drops the superseded-gen rows, results unchanged
    val (rowsBefore, rowsAfter) = IndexBuilder.compact(spark, idx2)
    assert(rowsAfter < rowsBefore, s"expected dead rows dropped: $rowsBefore -> $rowsAfter")
    assert(IndexBuilder.postings(spark, idx2)
      .filter(col("value") === "old2").count() == 0,
      "the dead row must stay out of the live postings after compaction")
    val (found2, report2) = PrunedScanner.scanWithReport(spark, dir2, Eq("kind", "newkind"), idx2)
    assert(found2.select("id").as[Long].collect().toSet == Set(9L))
    assert(report2.fallbackFiles == 0)
  }

  test("AvailableNow IVF maintenance compacts in-stream once staleness crosses the budget") {
    import graft.similarity.AnnIndex
    val sfDir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val isDelta = col("vec_id") % 7 === 6
    val vecDir = s"$work/ivfc_vecs"
    emb.filter(!isDelta).coalesce(1).write.parquet(vecDir)
    val idx = s"$work/ivfc_idx"
    // base batch: builds (staleness 0, no compact)
    IndexMaintenance.runIvfAvailableNow(
      spark, vecDir, idx, s"$work/ivfc_ckpt", compactAt = 0.1)
      .awaitTermination()
    assert(GenStore.staleness(spark, idx) == 0.0)
    // delta batch: appends ~1/7 of the corpus, pushing staleness past
    // the 0.1 budget -> the stream compacts back to one generation
    emb.filter(isDelta).coalesce(1).write.mode("append").parquet(vecDir)
    IndexMaintenance.runIvfAvailableNow(
      spark, vecDir, idx, s"$work/ivfc_ckpt", compactAt = 0.1)
      .awaitTermination()
    assert(GenStore.staleness(spark, idx) == 0.0,
      "post-compact index must be one generation")
    // and the compacted index equals a from-scratch full build
    val batchIdx = s"$work/ivfc_full"
    AnnIndex.buildIvf(emb, batchIdx)
    def live(d: String): Set[(Long, Long)] =
      AnnIndex.ivfAssignments(spark, d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live(idx) == live(batchIdx),
      "in-stream compaction diverged from the from-scratch build")
    // the r15 advisor's exactly-once hole, pinned closed: the
    // upserts-possible flag rides the compact's OWN meta (atomic under
    // the staged swap), so a later append that WRONGLY declares newIds
    // — the undelivered-batch replay the in-stream compact's snapshot
    // makes possible — is still resolved, never served as duplicates
    val replayed = emb.filter(isDelta)
    AnnIndex.appendIvf(replayed, idx, newIds = true)
    val dups = AnnIndex.ivfAssignments(spark, idx)
      .groupBy("vec_id").count().filter(col("count") > 1).count()
    assert(dups == 0,
      "post-in-stream-compact reads must resolve duplicate re-appends " +
        "even under a (wrong) newIds declaration")
  }

  test("AvailableNow IVF-PQ maintenance compacts in-stream at budget; replay-duplicate pin holds for code rows") {
    import graft.similarity.AnnIndex
    val sfDir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val isDelta = col("vec_id") % 7 === 6
    val vecDir = s"$work/pqc_vecs"
    emb.filter(!isDelta).coalesce(1).write.parquet(vecDir)
    val idx = s"$work/pqc_idx"
    IndexMaintenance.runIvfPqAvailableNow(
      spark, vecDir, idx, s"$work/pqc_ckpt", compactAt = 0.1)
      .awaitTermination()
    assert(GenStore.staleness(spark, idx) == 0.0)
    emb.filter(isDelta).coalesce(1).write.mode("append").parquet(vecDir)
    IndexMaintenance.runIvfPqAvailableNow(
      spark, vecDir, idx, s"$work/pqc_ckpt", compactAt = 0.1)
      .awaitTermination()
    assert(GenStore.staleness(spark, idx) == 0.0,
      "post-compact PQ index must be one generation")
    // the compact retrained BOTH models (centroids + codebook) on the
    // full corpus inside the staged tree, so the probed read reproduces
    // a from-scratch full build exactly
    val batchIdx = s"$work/pqc_full"
    AnnIndex.buildIvfPq(emb, batchIdx)
    val qs = emb.filter(col("vec_id") < 3)
    def probe(d: String): Set[(Long, Long, Int)] =
      AnnIndex.ivfPqTopKFromIndex(spark, d, emb, qs, 5, nprobe = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(probe(idx) == probe(batchIdx),
      "in-stream PQ compaction diverged from the from-scratch build")
    // replay-duplicate pin, code-row edition: the compact's own meta is
    // untrusted, so a wrong newIds re-append of covered content is
    // resolved — a duplicate code row would DOUBLE a vector's summed
    // ADC distance, not just duplicate an output row
    AnnIndex.appendIvfPq(emb.filter(isDelta), idx, newIds = true)
    val dups = AnnIndex.ivfAssignments(spark, idx)
      .groupBy("vec_id").count().filter(col("count") > 1).count()
    assert(dups == 0,
      "post-in-stream-compact PQ reads must resolve duplicate re-appends")
    assert(probe(idx) == probe(batchIdx),
      "resolved duplicate re-append must not shift ADC rankings")
  }

  test("AvailableNow BANDED maintenance: stream-built equals batch; in-stream compact at budget") {
    import graft.similarity.AnnIndex
    val sfDir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val isDelta = col("vec_id") % 7 === 6
    val vecDir = s"$work/lshm_vecs"
    emb.filter(!isDelta).coalesce(1).write.parquet(vecDir)
    val idx = s"$work/lshm_idx"
    // base batch builds; the delta batch appends and (staleness ~1/7 >
    // 0.1) triggers the in-stream banded compact
    IndexMaintenance.runBandedAvailableNow(
      spark, vecDir, idx, s"$work/lshm_ckpt", compactAt = 0.1)
      .awaitTermination()
    assert(GenStore.staleness(spark, idx) == 0.0)
    emb.filter(isDelta).coalesce(1).write.mode("append").parquet(vecDir)
    IndexMaintenance.runBandedAvailableNow(
      spark, vecDir, idx, s"$work/lshm_ckpt", compactAt = 0.1)
      .awaitTermination()
    assert(GenStore.staleness(spark, idx) == 0.0,
      "post-compact banded index must be one generation")
    def live(d: String): Set[(Long, Long, Long)] =
      AnnIndex.bandedRowsLive(spark, d)
        .select(col("vec_id"), col("band").cast("long"), col("bucket"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batchIdx = s"$work/lshm_full"
    AnnIndex.buildBanded(emb, batchIdx)
    assert(live(idx) == live(batchIdx),
      "in-stream banded compaction diverged from the from-scratch build")
    // same replay-duplicate pin as the IVF twin: the in-stream compact's
    // own meta marks the index untrusted, so a wrong newIds re-append
    // of content the compact snapshot already covered is still resolved
    AnnIndex.appendBanded(emb.filter(isDelta), idx, newIds = true)
    val dups = AnnIndex.bandedRowsLive(spark, idx)
      .groupBy("vec_id", "band").count().filter(col("count") > 1).count()
    assert(dups == 0,
      "post-in-stream-compact banded reads must resolve duplicate re-appends")
  }

  test("AvailableNow VECS maintenance: stream-built store equals batch; in-stream compact at budget; point fetch stays exact") {
    import graft.similarity.AnnIndex
    val sfDir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val isDelta = col("vec_id") % 7 === 6
    val vecDir = s"$work/vstore_vecs"
    emb.filter(!isDelta).coalesce(1).write.parquet(vecDir)
    val store = s"$work/vstore_idx"
    // base batch builds (staleness 0); delta batch appends ~1/7 and
    // (past the 0.1 budget, read O(1) from the meta counters) triggers
    // the in-stream staged compact back to one generation
    IndexMaintenance.runVecsAvailableNow(
      spark, vecDir, store, s"$work/vstore_ckpt", compactAt = 0.1)
      .awaitTermination()
    assert(GenStore.staleness(spark, store) == 0.0)
    emb.filter(isDelta).coalesce(1).write.mode("append").parquet(vecDir)
    IndexMaintenance.runVecsAvailableNow(
      spark, vecDir, store, s"$work/vstore_ckpt", compactAt = 0.1)
      .awaitTermination()
    assert(GenStore.staleness(spark, store) == 0.0,
      "post-compact store must be one generation")
    // the compacted store equals a from-scratch full build, content-wise
    val batchStore = s"$work/vstore_full"
    AnnIndex.buildVecs(emb, batchStore)
    def live(d: String): Map[Long, Seq[Float]] =
      AnnIndex.vecsLive(spark, d).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(live(store) == live(batchStore),
      "in-stream vecs compaction diverged from the from-scratch build")
    // replay-duplicate pin: the compact's own meta is untrusted, so a
    // wrong newIds re-append of covered content is still resolved — and
    // the PQ point fetch through the untrusted store stays bit-identical
    // to the corpus-scan rerank (the id filter commutes with the reduce,
    // so even this regime is a pruned point read)
    AnnIndex.appendVecs(emb.filter(isDelta), store, newIds = true)
    val dups = AnnIndex.vecsLive(spark, store)
      .groupBy("bucket").count().filter(col("count") > 1).count()
    assert(dups == 0, "untrusted vecs view must resolve duplicate re-appends")
    val idx = s"$work/vstore_pq_idx"
    AnnIndex.buildIvfPq(emb, idx, nlist = 16)
    val qs = emb.filter(col("vec_id") < 3)
    def tk(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(tk(AnnIndex.ivfPqTopKPointFetch(
        spark, idx, store, qs, 5, nprobe = 8, shortlist = 50)) ==
      tk(AnnIndex.ivfPqTopKFromIndex(
        spark, idx, emb, qs, 5, nprobe = 8, shortlist = 50)),
      "point fetch through the untrusted maintained store diverged")
  }

  test("AvailableNow IVF maintenance: stream-built index equals the batch build+append") {
    import graft.similarity.AnnIndex
    val sfDir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val isDelta = col("vec_id") % 7 === 6
    // base arrives first, the delta batch later — two AvailableNow runs
    // over ONE shared checkpoint, so the second run processes exactly
    // the newly-arrived file (build micro-batch, then append
    // micro-batch), the postings-maintenance pattern above
    val vecDir = s"$work/ivf_vecs"
    emb.filter(!isDelta).coalesce(1).write.parquet(vecDir)
    val streamIdx = s"$work/ivf_stream_idx"
    val q1 = IndexMaintenance.runIvfAvailableNow(
      spark, vecDir, streamIdx, s"$work/ivf_ckpt")
    q1.awaitTermination()
    emb.filter(isDelta).coalesce(1).write.mode("append").parquet(vecDir)
    val q2 = IndexMaintenance.runIvfAvailableNow(
      spark, vecDir, streamIdx, s"$work/ivf_ckpt")
    q2.awaitTermination()
    // batch comparator: the same base build + delta append run directly
    val batchIdx = s"$work/ivf_batch_idx"
    AnnIndex.buildIvf(emb.filter(!isDelta), batchIdx)
    AnnIndex.appendIvf(emb.filter(isDelta), batchIdx)
    def live(idx: String): Set[(Long, Long)] =
      AnnIndex.ivfAssignments(spark, idx)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val s1 = live(streamIdx)
    val s2 = live(batchIdx)
    assert(s1 == s2,
      s"stream/batch index diverged: ${(s1 -- s2).take(3)} / ${(s2 -- s1).take(3)}")
    assert(s1.size == emb.count(), "every vector assigned exactly once")
  }

  test("AvailableNow IVF-PQ maintenance: stream-built code index probes identically to the batch build+append") {
    import graft.similarity.AnnIndex
    val sfDir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val isDelta = col("vec_id") % 7 === 6
    // same two-arrival shape as the IVF twin: base file → build batch
    // (trains centroids AND codebook), delta file → append batch (codes
    // under the PERSISTED models)
    val vecDir = s"$work/ivfpq_vecs"
    emb.filter(!isDelta).coalesce(1).write.parquet(vecDir)
    val streamIdx = s"$work/ivfpq_stream_idx"
    val q1 = IndexMaintenance.runIvfPqAvailableNow(
      spark, vecDir, streamIdx, s"$work/ivfpq_ckpt", assumeNewIds = true)
    q1.awaitTermination()
    emb.filter(isDelta).coalesce(1).write.mode("append").parquet(vecDir)
    val q2 = IndexMaintenance.runIvfPqAvailableNow(
      spark, vecDir, streamIdx, s"$work/ivfpq_ckpt", assumeNewIds = true)
    q2.awaitTermination()
    val batchIdx = s"$work/ivfpq_batch_idx"
    AnnIndex.buildIvfPq(emb.filter(!isDelta), batchIdx)
    AnnIndex.appendIvfPq(emb.filter(isDelta), batchIdx, newIds = true)
    // cell-level equality AND the full two-stage probe (ADC over codes +
    // exact rerank) — a diverged code array would shift ADC distances
    // and the shortlist even where cells agree
    def live(idx: String): Set[(Long, Long)] =
      AnnIndex.ivfAssignments(spark, idx)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live(streamIdx) == live(batchIdx), "stream/batch cells diverged")
    val qs = emb.filter(col("vec_id") < 3)
    def probe(idx: String): Set[(Long, Long, Int)] =
      AnnIndex.ivfPqTopKFromIndex(spark, idx, emb, qs, 5, nprobe = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(probe(streamIdx) == probe(batchIdx),
      "stream-maintained PQ probe diverged from the batch-maintained one")
  }
}
