package graft

import graft.build.GenStore
import graft.similarity.{Ann, AnnIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental ANN index maintenance (AnnIndex): delta-append must
  * equal a from-scratch rebuild — EXACTLY, because assignment under a
  * fixed model (persisted IVF centroids / seeded LSH planes) is a pure
  * per-row function — and a compacted index must reproduce the
  * registered q45/q30 in-query builds bit-for-bit (same trainer, same
  * parameters, same probe). Upserts follow the postings `gen`
  * convention: a re-ingested id's latest generation supersedes. */
class AnnIndexSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("AnnIndexSpec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val work = {
    val d = java.nio.file.Files.createTempDirectory("annidx").toString
    d
  }

  private def rows3(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def topk(df: DataFrame): Set[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
  private def isDelta = col("vec_id") % 7 === 6

  test("IVF: base-build + delta-append equals assigning the union under the same model") {
    val idx = s"$work/ivf1"
    AnnIndex.buildIvf(emb.filter(!isDelta), idx, nlist = 16)
    AnnIndex.appendIvf(emb.filter(isDelta), idx)
    val appended = rows3(AnnIndex.ivfAssignments(spark, idx)
      .select(col("vec_id"), col("cell"), lit(0L)))
    // rebuild comparator: the SAME persisted centroids assign the whole
    // corpus from scratch — build a second index whose base is the full
    // corpus but whose model is COPIED from the first (via the centroid
    // table), by appending everything to an empty base
    val idx2 = s"$work/ivf1_rebuilt"
    AnnIndex.buildIvf(emb.filter(!isDelta), idx2, nlist = 16)
    AnnIndex.appendIvf(emb, idx2) // every id re-assigned under gen 1
    val rebuilt = rows3(AnnIndex.ivfAssignments(spark, idx2)
      .select(col("vec_id"), col("cell"), lit(0L)))
    assert(appended == rebuilt,
      s"append diverged from rebuild: ${(appended -- rebuilt).take(3)} / ${(rebuilt -- appended).take(3)}")
    // and the staleness signal reflects the delta fraction
    val st = GenStore.staleness(spark, idx)
    val frac = emb.filter(isDelta).count().toDouble / emb.count()
    assert(math.abs(st - frac) < 1e-9, s"staleness $st != delta fraction $frac")
  }

  test("IVF: upsert — a re-ingested id's latest generation supersedes") {
    import spark.implicits._
    val idx = s"$work/ivf_upsert"
    val base = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0f, 0f, 1f, 0f)), (4L, Array(0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    AnnIndex.buildIvf(base, idx, nlist = 2, lloydIters = 0)
    // vector 2 is re-ingested pointing near vector 1's direction
    AnnIndex.appendIvf(
      Seq((2L, Array(0.9f, 0.1f, 0f, 0f))).toDF("vec_id", "embedding"), idx)
    val live = AnnIndex.ivfAssignments(spark, idx).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(live.size == 4, s"one live row per id, got $live")
    assert(live(2L)._2 == 1L, s"id 2 must be served from gen 1, got ${live(2L)}")
    val cellOf1 = live(1L)._1
    assert(live(2L)._1 == cellOf1,
      s"re-ingested vector near id 1 must land in its cell: $live")
  }

  test("IVF: compact reproduces the registered q45 in-query build bit-for-bit") {
    val idx = s"$work/ivf_compact"
    AnnIndex.buildIvf(emb.filter(!isDelta), idx, nlist = 16)
    AnnIndex.appendIvf(emb.filter(isDelta), idx)
    AnnIndex.compactIvf(emb, idx, nlist = 16)
    assert(GenStore.staleness(spark, idx) == 0.0)
    val q = emb.filter(col("vec_id") < 3)
    val fromIndex = topk(
      AnnIndex.ivfTopKFromIndex(spark, idx, emb, q, 5, nprobe = 8))
    val registered = topk(Ann.ivfTopK(emb, q, 5, nlist = 16, nprobe = 8))
    assert(fromIndex == registered,
      s"compacted index diverged from q45's build: ${(fromIndex -- registered).take(3)} / ${(registered -- fromIndex).take(3)}")
  }

  test("IVF: the maintained (append, un-compacted) index still clears q45's recall floor") {
    val idx = s"$work/ivf_recall"
    AnnIndex.buildIvf(emb.filter(!isDelta), idx, nlist = 16)
    AnnIndex.appendIvf(emb.filter(isDelta), idx)
    val q = emb.filter(col("vec_id") < 3)
    val approx = AnnIndex.ivfTopKFromIndex(spark, idx, emb, q, 5, nprobe = 8)
    val exact = Ann.bruteForceTopK(emb, q, 5)
    val hits = approx.join(exact.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.size == 3 && hits.values.forall(_ >= 4),
      s"q45's floor (4 of 5) must hold on the maintained index: $hits")
  }

  /** Files actually read by an executed scan (post-action metric). The
    * probe plans are exchange-free (scan + filter), so the scans stay
    * leaves — no AQE wrapper in between. */
  private def scanStats(df: DataFrame): (Long, Long) = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    (scans.map(_.metrics("numFiles").value).sum,
      scans.map(_.metrics("numOutputRows").value).sum)
  }

  test("durability: the meta marker is written last, and a partial tree reports incomplete") {
    val idx = s"$work/ivf_partial"
    assert(!GenStore.isComplete(spark, idx), "missing index must report incomplete")
    AnnIndex.buildIvf(emb.filter(!isDelta), idx, nlist = 16)
    assert(GenStore.isComplete(spark, idx))
    // simulate a crash between the data writes and the meta write:
    // delete the marker — the index must stop claiming completeness and
    // REFUSE appends (a partial tree rebuilds, it is never appended to)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/_INDEX_META"), false)
    assert(!GenStore.isComplete(spark, idx),
      "post-crash partial tree must report incomplete")
    intercept[IllegalStateException] {
      AnnIndex.appendIvf(emb.filter(isDelta), idx)
    }
    // reads refuse too: silently serving a meta-less tree could return
    // superseded duplicates (a legacy multi-gen upsert history has no
    // flag to say otherwise)
    intercept[IllegalStateException] {
      AnnIndex.ivfAssignments(spark, idx).count()
    }
    // and a rebuild recovers cleanly over the partial state
    AnnIndex.buildIvf(emb.filter(!isDelta), idx, nlist = 16)
    assert(GenStore.isComplete(spark, idx))
  }

  test("streaming replay: a batch recorded in the meta is fully applied; a crashed append replays into the same gen") {
    import spark.implicits._
    val idx = s"$work/ivf_replay"
    val base = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    AnnIndex.buildIvf(base, idx, nlist = 2, lloydIters = 0, batchId = 0L)
    assert(GenStore.lastAppliedBatch(spark, idx) == 0L)
    val delta = Seq((3L, Array(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    AnnIndex.appendIvf(delta, idx, newIds = true, batchId = 1L)
    assert(GenStore.lastAppliedBatch(spark, idx) == 1L)
    // crash-between-append-and-meta: replaying the SAME delta re-reserves
    // the same generation and overwrites it — appending it again (as a
    // foreachBatch replay would after a meta-less crash) must not
    // duplicate rows in the plain (append-only) live view beyond the one
    // extra gen it writes; simulate by rolling the meta's gen back
    val before = AnnIndex.ivfAssignments(spark, idx).count()
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaP = new org.apache.hadoop.fs.Path(s"$idx/_INDEX_META")
    val out = fs.create(metaP, true)
    out.write("gen=1;plain=true;batch=0".getBytes); out.close()
    // COMMIT POINTER: with the meta rolled back to gen=1, the orphan
    // gen=1 directory (data landed, meta didn't) must be invisible —
    // readers see only committed generations
    assert(AnnIndex.ivfAssignments(spark, idx).count() == 2,
      "uncommitted generation must be invisible to readers")
    AnnIndex.appendIvf(delta, idx, newIds = true, batchId = 1L) // the replay
    assert(AnnIndex.ivfAssignments(spark, idx).count() == before,
      "replayed append must overwrite its gen dir, not duplicate rows")
    assert(GenStore.lastAppliedBatch(spark, idx) == 1L)
  }

  test("staged compaction: a crash between swap steps is adopted by recover, old index never half-deleted") {
    val idx = s"$work/ivf_staged"
    AnnIndex.buildIvf(emb.filter(!isDelta), idx, nlist = 16)
    AnnIndex.appendIvf(emb.filter(isDelta), idx)
    // crash mid-rebuild: a PARTIAL tmp beside a complete index — the
    // index stays complete and authoritative, recover is a no-op
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx.compact.tmp/centroids"))
    assert(!GenStore.recover(spark, idx))
    assert(GenStore.isComplete(spark, idx))
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx.compact.tmp"), true)
    // crash between the swap's delete and rename: complete tmp, missing
    // index — recover adopts it and the content equals the compaction
    AnnIndex.buildIvf(emb, s"$idx.compact.tmp", nlist = 16) // the staged rebuild
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)     // the crash point
    assert(GenStore.recover(spark, idx), "recover must adopt the staged compact")
    assert(GenStore.isComplete(spark, idx))
    assert(GenStore.staleness(spark, idx) == 0.0)
    val adopted = rows3(AnnIndex.ivfAssignments(spark, idx)
      .select(col("vec_id"), col("cell"), lit(0L)))
    val idx2 = s"$work/ivf_staged_cmp"
    AnnIndex.buildIvf(emb, idx2, nlist = 16)
    val fresh = rows3(AnnIndex.ivfAssignments(spark, idx2)
      .select(col("vec_id"), col("cell"), lit(0L)))
    assert(adopted == fresh)
    // and a normal compactIvf over the recovered index still works
    AnnIndex.compactIvf(emb, idx, nlist = 16)
    assert(GenStore.staleness(spark, idx) == 0.0)
  }

  test("append-only live view is a PLAIN read (no shuffle) and equals the reduce view") {
    val idx = s"$work/ivf_plain"
    AnnIndex.buildIvf(emb.filter(!isDelta), idx, nlist = 16)
    AnnIndex.appendIvf(emb.filter(isDelta), idx, newIds = true)
    val plainView = AnnIndex.ivfAssignments(spark, idx)
    assert(!plainView.queryExecution.executedPlan.toString.contains("Exchange"),
      "append-only history must serve a plain read — no latest-gen shuffle")
    // and the plain view is exactly what the upsert-resolving reduce
    // would produce (the reduce is the identity on append-only history)
    val rows = rows3(plainView.select(col("vec_id"), col("cell"), lit(0L)))
    val idx2 = s"$work/ivf_plain_cmp"
    AnnIndex.buildIvf(emb.filter(!isDelta), idx2, nlist = 16)
    AnnIndex.appendIvf(emb.filter(isDelta), idx2) // undeclared: an upsert gen
    val reduce = AnnIndex.ivfAssignments(spark, idx2, resolveAll = true)
    assert(reduce.queryExecution.executedPlan.toString.contains("Exchange"),
      "full resolution must reduce by key")
    val reduced = rows3(reduce.select(col("vec_id"), col("cell"), lit(0L)))
    assert(rows == reduced)
    // the bounded view of the upsert history serves the same rows
    assert(rows3(AnnIndex.ivfAssignments(spark, idx2)
      .select(col("vec_id"), col("cell"), lit(0L))) == reduced)
  }

  test("IVF probe prunes to the probe cells' partitions (append-only), files measured") {
    val idx = s"$work/ivf_prune"
    AnnIndex.buildIvf(emb, idx, nlist = 16)
    val (allFiles, allRows) = scanStats(AnnIndex.ivfAssignments(spark, idx))
    val someCells = Seq(0L, 3L)
    val (prunedFiles, prunedRows) =
      scanStats(AnnIndex.ivfAssignments(spark, idx, cells = Some(someCells)))
    assert(prunedFiles < allFiles,
      s"cell partition pruning must skip files: $prunedFiles of $allFiles read")
    assert(prunedRows < allRows)
    // pruned read ≡ filtered full read
    val full = AnnIndex.ivfAssignments(spark, idx)
      .filter(col("cell").isin(someCells: _*))
    assert(rows3(AnnIndex.ivfAssignments(spark, idx, cells = Some(someCells))
        .select(col("vec_id"), col("cell"), lit(0L))) ==
      rows3(full.select(col("vec_id"), col("cell"), lit(0L))))
  }

  test("upsert + probe: pruning applies AFTER latest-gen resolution (no resurrected rows)") {
    import spark.implicits._
    val idx = s"$work/ivf_upsert_prune"
    val base = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0f, 0f, 1f, 0f)), (4L, Array(0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    AnnIndex.buildIvf(base, idx, nlist = 2, lloydIters = 0)
    val oldCellOf2 = AnnIndex.ivfAssignments(spark, idx)
      .filter(col("vec_id") === 2L).head().getLong(1)
    // id 2 re-ingested into (presumably) another cell's direction
    AnnIndex.appendIvf(
      Seq((2L, Array(0.9f, 0.1f, 0f, 0f))).toDF("vec_id", "embedding"), idx)
    val newCellOf2 = AnnIndex.ivfAssignments(spark, idx)
      .filter(col("vec_id") === 2L).head().getLong(1)
    assume(newCellOf2 != oldCellOf2, "fixture must move id 2 across cells")
    // probing id 2's OLD cell must NOT resurrect its superseded row
    val probed = AnnIndex.ivfAssignments(spark, idx, cells = Some(Seq(oldCellOf2)))
      .filter(col("vec_id") === 2L).count()
    assert(probed == 0L,
      "superseded row resurrected: probe filter ran before gen resolution")
  }

  test("LSH probe skips non-matching buckets on the range-clustered layout, rows measured") {
    val idx = s"$work/lsh_prune"
    // 16-bit buckets (64 planes / 4 bands): a single query's ≤4 bucket
    // values against ~2^16 — the high-selectivity regime where the
    // range-clustered files' min-max stats must cut most row groups.
    // Widen the range partitioning so the tiny fixture still yields
    // enough files/row groups for skipping to be measurable (each file
    // is one row group here).
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try AnnIndex.buildBanded(emb, idx, nPlanes = 64, bands = 4)
    finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    val (_, allRows) = scanStats(AnnIndex.bandedRowsLive(spark, idx))
    val someBuckets = AnnIndex.bandedRowsLive(spark, idx)
      .filter(col("vec_id") === 0L).collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    val probe = (someBuckets.map(_._1).toSeq.distinct,
      someBuckets.map(_._2).toSeq.distinct)
    val probeDf = AnnIndex.bandedRowsLive(spark, idx, probe = Some(probe))
    assert(probeDf.queryExecution.executedPlan.toString.contains("In(bucket"),
      "probe bucket IN-list must push to the parquet scan")
    val (_, probedRows) = scanStats(probeDf)
    assert(probedRows < allRows / 4,
      s"bucket probe must skip most row groups: $probedRows of $allRows rows scanned")
  }

  // ------------------------------------------------ r16: bounded upserts

  /** Rewrite the meta marker in place (test-only: simulate a legacy /
    * untrusted meta to force the FULL-resolution read path). */
  private def patchMeta(idx: String, from: String, to: String): Unit = {
    val metaP = new org.apache.hadoop.fs.Path(s"$idx/_INDEX_META")
    val fs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(metaP)
    val line = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
    assert(line.contains(from), s"meta missing '$from': $line")
    val out = fs.create(metaP, true)
    out.write(line.replace(from, to).getBytes); out.close()
  }

  /** [[scanStats]] for plans with exchanges: AQE buries the scans under
    * AdaptiveSparkPlan/QueryStage wrappers that `collectLeaves` treats
    * as leaves — walk through them. */
  private def deepScanFiles(df: DataFrame): Long = {
    df.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        scans(r.child)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
  }

  test("tracked upsert: resolution is BOUNDED by the upsert generations — files measured, rows equal full resolution") {
    val idx = s"$work/ivf_bounded"
    AnnIndex.buildIvf(emb, idx, nlist = 16)
    // a SMALL undeclared upsert batch (5 ids) — the shape that used to
    // cost every reader a full-index shuffle until compact
    AnnIndex.appendIvf(emb.filter(col("vec_id") < 5), idx)
    def all3(df: DataFrame) = rows3(df.select(col("vec_id"), col("cell"), col("gen")))
    val bounded = all3(AnnIndex.ivfAssignments(spark, idx))
    val someCells = Seq(0L, 3L)
    val boundedProbed = all3(AnnIndex.ivfAssignments(spark, idx, cells = Some(someCells)))
    val boundedFiles = deepScanFiles(AnnIndex.ivfAssignments(spark, idx, cells = Some(someCells)))
    // the resolveAll audit path must agree without touching the meta
    assert(bounded == all3(AnnIndex.ivfAssignments(spark, idx, resolveAll = true)),
      "bounded view diverged from the resolveAll audit plan")
    // flip the trust flag: the same history served by FULL resolution
    patchMeta(idx, "trust=true", "trust=false")
    assert(bounded == all3(AnnIndex.ivfAssignments(spark, idx)),
      "bounded tracked-upsert view diverged from full resolution")
    assert(boundedProbed == all3(AnnIndex.ivfAssignments(spark, idx, cells = Some(someCells))),
      "bounded probed view diverged from full-resolution probed view")
    val fullFiles = deepScanFiles(AnnIndex.ivfAssignments(spark, idx, cells = Some(someCells)))
    assert(boundedFiles < fullFiles,
      s"bounded probe must prune the untouched branch to its cells and the reduce " +
        s"to the upsert gens: read $boundedFiles of the full path's $fullFiles files")
    // and the superseded-row hazard stays closed on the bounded path:
    // every vec_id appears exactly once in the live view
    patchMeta(idx, "trust=false", "trust=true")
    val dupIds = AnnIndex.ivfAssignments(spark, idx)
      .groupBy("vec_id").count().filter(col("count") > 1).count()
    assert(dupIds == 0, "bounded view must serve one live row per id")
  }

  test("banded tracked upsert: bounded view equals full resolution, probe pushes on the untouched branch") {
    val idx = s"$work/lsh_bounded"
    AnnIndex.buildBanded(emb, idx, nPlanes = 16, bands = 8)
    AnnIndex.appendBanded(emb.filter(col("vec_id") < 5), idx,
      nPlanes = 16, bands = 8) // undeclared upsert
    def all3(df: DataFrame) = rows3(
      df.select(col("vec_id"), col("band").cast("long"), col("bucket")))
    val bounded = all3(AnnIndex.bandedRowsLive(spark, idx))
    val someBuckets = AnnIndex.bandedRowsLive(spark, idx)
      .filter(col("vec_id") === 0L).collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    val probe = (someBuckets.map(_._1).toSeq.distinct,
      someBuckets.map(_._2).toSeq.distinct)
    val boundedProbed = all3(AnnIndex.bandedRowsLive(spark, idx, probe = Some(probe)))
    patchMeta(idx, "trust=true", "trust=false")
    assert(bounded == all3(AnnIndex.bandedRowsLive(spark, idx)))
    assert(boundedProbed == all3(AnnIndex.bandedRowsLive(spark, idx, probe = Some(probe))))
  }

  test("untrusted history (q168's ivfu shape): in-stream-compact hazard replayed batch-side collapses the duplicate re-append") {
    // base build, then an appendOnly=false compact whose corpus snapshot
    // ALREADY contains the delta (the undelivered-batch hazard), then the
    // late delivery re-appends the same content declaring newIds=true —
    // truthful from the stream's view, duplicate in fact
    val idx = s"$work/ivf_untrusted"
    AnnIndex.buildIvf(emb.filter(!isDelta), idx, nlist = 16)
    AnnIndex.compactIvf(emb, idx, nlist = 16, appendOnly = false)
    AnnIndex.appendIvf(emb.filter(isDelta), idx, newIds = true)
    // the untrusted meta must override the lying declaration: every id
    // serves exactly one live row, and the view equals the from-scratch
    // corpus assignment under the same (compact-trained) model
    val live = AnnIndex.ivfAssignments(spark, idx)
    val dup = live.groupBy("vec_id").count().filter(col("count") > 1).count()
    assert(dup == 0, "untrusted view must collapse the duplicate re-append")
    val resolved = rows3(live.select(col("vec_id"), col("cell"), lit(0L)))
    val audit = rows3(AnnIndex.ivfAssignments(spark, idx, resolveAll = true)
      .select(col("vec_id"), col("cell"), lit(0L)))
    assert(resolved == audit, "untrusted view must equal the resolveAll audit plan")
    assert(live.count() == emb.count(), "one live row per corpus id")
    // and the probed read (q168's plan) filters post-reduce yet agrees
    val cells = Seq(0L, 5L)
    val probed = rows3(AnnIndex.ivfAssignments(spark, idx, cells = Some(cells))
      .select(col("vec_id"), col("cell"), lit(0L)))
    assert(probed == resolved.filter(r => cells.contains(r._2)),
      "probed untrusted view must equal the filtered resolved view")
  }

  test("IVF-PQ: probe with nprobe=nlist reproduces the in-query pqAdcTopK bit-for-bit") {
    val idx = s"$work/ivfpq_full"
    AnnIndex.buildIvfPq(emb, idx, nlist = 16, nSub = 8, subDim = 8, nCent = 16)
    val q = emb.filter(col("vec_id") < 3)
    // all cells probed → the candidate set is the whole corpus, so the
    // ADC table, shortlist, and exact rerank must match the registered
    // q124 computation exactly (same deterministic codebook)
    val viaIndex = topk(AnnIndex.ivfPqTopKFromIndex(
      spark, idx, emb, q, 5, nprobe = 16, shortlist = 50))
    val inQuery = topk(Ann.pqAdcTopK(emb, q, 5, shortlist = 50,
      nSub = 8, subDim = 8, nCent = 16))
    assert(viaIndex == inQuery,
      s"index-served ADC diverged from the in-query build: ${viaIndex -- inQuery} / ${inQuery -- viaIndex}")
  }

  test("IVF-PQ: append under the persisted models ≡ re-assigning the union; bounded and plain regimes read identically") {
    // idxA: plain regime (the delta's ids are genuinely new, declared)
    val idxA = s"$work/ivfpq_app"
    AnnIndex.buildIvfPq(emb.filter(!isDelta), idxA, nlist = 16)
    AnnIndex.appendIvfPq(emb.filter(isDelta), idxA, newIds = true)
    // idxB: same persisted models (same base build), every id re-appended
    // UNDECLARED — the tracked-upsert regime must resolve to the same
    // live content (codes included: a diverged code array would change
    // ADC distances and the shortlist)
    val idxB = s"$work/ivfpq_reb"
    AnnIndex.buildIvfPq(emb.filter(!isDelta), idxB, nlist = 16)
    AnnIndex.appendIvfPq(emb, idxB)
    val q = emb.filter(col("vec_id") < 3)
    val a = topk(AnnIndex.ivfPqTopKFromIndex(spark, idxA, emb, q, 5, nprobe = 8))
    val b = topk(AnnIndex.ivfPqTopKFromIndex(spark, idxB, emb, q, 5, nprobe = 8))
    assert(a == b, "plain append-only and upsert-resolved reads must agree")
    // the upsert history serves one live row per id
    val live = AnnIndex.ivfAssignments(spark, idxB)
    assert(live.groupBy("vec_id").count().filter(col("count") > 1).count() == 0)
    assert(live.count() == emb.count())
  }

  test("IVF-PQ: staged compact retrains both models; probed read reproduces the from-scratch build; probe prunes to the probed cells' files") {
    val idx = s"$work/ivfpq_cmp"
    AnnIndex.buildIvfPq(emb.filter(!isDelta), idx, nlist = 16)
    AnnIndex.appendIvfPq(emb.filter(isDelta), idx) // undeclared upsert history
    AnnIndex.compactIvfPq(emb, idx, nlist = 16)
    assert(GenStore.staleness(spark, idx) == 0.0, "compact must reset staleness")
    val q = emb.filter(col("vec_id") < 3)
    val viaIndex = AnnIndex.ivfPqTopKFromIndex(
      spark, idx, emb, q, 5, nprobe = 16, shortlist = 50)
    assert(topk(viaIndex) == topk(Ann.pqAdcTopK(emb, q, 5, shortlist = 50,
      nSub = 8, subDim = 8, nCent = 16)),
      "compacted PQ index must reproduce the in-query build")
    // file pruning: a small-nprobe probe reads fewer index files than
    // the all-cells probe (cell partition filters push into the scan)
    val fullFiles = deepScanFiles(AnnIndex.ivfPqTopKFromIndex(
      spark, idx, emb, q, 5, nprobe = 16))
    val prunedFiles = deepScanFiles(AnnIndex.ivfPqTopKFromIndex(
      spark, idx, emb, q, 5, nprobe = 2))
    assert(prunedFiles < fullFiles,
      s"nprobe=2 must read fewer files than nprobe=16: $prunedFiles vs $fullFiles")
  }

  test("IVF-PQ: a re-ingested id's changed vector supersedes at the CODE level — stale codes cannot leak into ADC") {
    import spark.implicits._
    val idx = s"$work/ivfpq_upsert_content"
    // 4 axis-aligned vectors; codebook = the first 2 ids' subvectors
    val base = Seq(
      (0L, Array.tabulate(16)(i => if (i < 8) 1f else 0f)),
      (1L, Array.tabulate(16)(i => if (i >= 8) 1f else 0f)),
      (2L, Array.tabulate(16)(i => if (i < 8) 0.9f else 0.1f)),
      (3L, Array.tabulate(16)(i => if (i >= 8) 0.9f else 0.1f)))
      .toDF("vec_id", "embedding")
    AnnIndex.buildIvfPq(base, idx, nlist = 2, nSub = 2, subDim = 8,
      nCent = 2, lloydIters = 0)
    // id 3 re-ingested pointing at id 0's direction (an upsert)
    val moved = Seq((3L, Array.tabulate(16)(i => if (i < 8) 0.95f else 0.05f)))
      .toDF("vec_id", "embedding")
    AnnIndex.appendIvfPq(moved, idx)
    val updated = base.filter(col("vec_id") =!= 3).unionByName(moved)
    // probe from id 0's direction: with all cells probed and the full
    // shortlist, the index-served result must equal the same two-stage
    // computation over the UPDATED corpus under the same persisted
    // models (pin via the append≡rebuild comparator: a second index
    // with the same base build whose gen 1 re-assigns the whole updated
    // corpus) — a stale gen-0 code row for id 3 would shift its summed
    // ADC distance and diverge
    val idx2 = s"$work/ivfpq_upsert_content_cmp"
    AnnIndex.buildIvfPq(base, idx2, nlist = 2, nSub = 2, subDim = 8,
      nCent = 2, lloydIters = 0)
    AnnIndex.appendIvfPq(updated, idx2)
    val q = updated.filter(col("vec_id") === 0)
    def probe(d: String) = topk(AnnIndex.ivfPqTopKFromIndex(
      spark, d, updated, q, 3, nprobe = 2, shortlist = 4))
    assert(probe(idx) == probe(idx2),
      "upserted codes must supersede: stale gen-0 codes leaked into ADC")
    // and the live view serves exactly one row for the upserted id
    val live = AnnIndex.ivfAssignments(spark, idx)
      .filter(col("vec_id") === 3).collect()
    assert(live.length == 1 && live.head.getLong(2) == 1L,
      s"id 3 must be served from gen 1 alone, got ${live.toSeq}")
  }

  test("IVF-PQ: schema guards — a raw-vector append on a PQ tree and a PQ append on a raw tree both throw, with the tree unchanged") {
    val pq = s"$work/ivfpq_guard"
    AnnIndex.buildIvfPq(emb.filter(!isDelta), pq, nlist = 16)
    intercept[IllegalArgumentException] {
      AnnIndex.appendIvf(emb.filter(isDelta), pq)
    }
    val before = AnnIndex.ivfAssignments(spark, pq).count()
    assert(AnnIndex.ivfAssignments(spark, pq).count() == before)
    val raw = s"$work/ivf_guard2"
    AnnIndex.buildIvf(emb.filter(!isDelta), raw, nlist = 16)
    intercept[IllegalStateException] {
      AnnIndex.appendIvfPq(emb.filter(isDelta), raw)
    }
  }

  test("IVF-PQ point-fetch rerank: identical to the corpus-scan rerank, with the vector fetch pruned to the shortlist's id-buckets") {
    val idx = s"$work/ivfpq_pf"
    AnnIndex.buildIvfPq(emb, idx, nlist = 16)
    // the refine-fetch layout: vectors keyed by id into pb directories
    val vecs = s"$work/ivfpq_pf_vecs"
    graft.build.Layout.writeBucketDirs(
      emb.select(col("vec_id").as("bucket"), col("embedding")), vecs)
    val q = emb.filter(col("vec_id") < 3)
    val pointFetch = AnnIndex.ivfPqTopKPointFetch(
      spark, idx, vecs, q, 5, nprobe = 8, shortlist = 50)
    val corpusScan = AnnIndex.ivfPqTopKFromIndex(
      spark, idx, emb, q, 5, nprobe = 8, shortlist = 50)
    assert(topk(pointFetch) == topk(corpusScan),
      "point-fetch rerank must be bit-identical to the corpus-scan rerank")
    // the fetch reads FEWER vector files than the table holds: the
    // shortlist's id-buckets prune at the directory level (the codes
    // side reads only probed cells either way — measured in the compact
    // test; here the claim under test is the REFINE fetch)
    val totalVecFiles = deepScanFiles(spark.read.parquet(vecs))
    def vecScans(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(qs.plan)
        case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Nil
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
      scans(df.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.mkString(",").contains("pf_vecs"))
        .map(_.metrics("numFiles").value).sum
    }
    val fetched = vecScans(AnnIndex.ivfPqTopKPointFetch(
      spark, idx, vecs, q, 5, nprobe = 2, shortlist = 10))
    assert(fetched > 0 && fetched < totalVecFiles,
      s"refine fetch must prune vector files: read $fetched of $totalVecFiles")
  }

  test("history fuzz (IVF): random append sequences serve one live row per id at its max generation, ≡ resolveAll, probes never resurrect") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val idx = s"$work/ivf_fuzz"
    def rv() = Array.fill(4)(rnd.nextFloat() * 2 - 1)
    var nextFresh = 100L
    val liveGen = scala.collection.mutable.Map[Long, Long]()
    val base = (0L until 20L).map(i => (i, rv())).toDF("vec_id", "embedding")
    AnnIndex.buildIvf(base, idx, nlist = 4, lloydIters = 0)
    (0L until 20L).foreach(liveGen(_) = 0L)
    for (step <- 1 to 6) {
      // three batch shapes, all contract-legal: declared-new ids
      // (newIds = true), pure upserts, and MIXED new+existing under an
      // undeclared append (the conservative default)
      val fresh = rnd.nextInt(3)
      val existing = () => liveGen.keys.toSeq(rnd.nextInt(liveGen.size))
      val (ids, newIds) = fresh match {
        case 0 => val s = (nextFresh until nextFresh + 4).toSeq; nextFresh += 4
          (s, true)
        case 1 => (Seq.fill(4)(existing()).distinct, false)
        case _ => val s = (nextFresh until nextFresh + 2).toSeq; nextFresh += 2
          ((s ++ Seq.fill(2)(existing())).distinct, false)
      }
      AnnIndex.appendIvf(
        ids.map(i => (i, rv())).toDF("vec_id", "embedding"), idx, newIds = newIds)
      ids.foreach(liveGen(_) = step.toLong)
      val view = AnnIndex.ivfAssignments(spark, idx).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(view == liveGen.toMap,
        s"step $step (newIds=$newIds): live gens diverged from the history")
      val full = rows3(AnnIndex.ivfAssignments(spark, idx))
      assert(full == rows3(AnnIndex.ivfAssignments(spark, idx, resolveAll = true)),
        s"step $step: fast-regime view diverged from the resolveAll audit plan")
      // probed reads are exactly the unprobed view filtered by cell —
      // a superseded row leaking through pruning would break ⊆ here
      val cells = Seq(0L, 2L)
      val probed = rows3(AnnIndex.ivfAssignments(spark, idx, cells = Some(cells)))
      assert(probed == full.filter(r => cells.contains(r._2)),
        s"step $step: probed view is not the cell-filter of the live view")
      // the staleness counters are EXACT on this arbitrary upsert
      // history (r18): undeclared appends move the rows they supersede
      // out of the live counters, so the signal equals the true live
      // append-row fraction at every step — no ≤2x band
      val st = GenStore.staleness(spark, idx)
      val expSt = liveGen.count(_._2 > 0L).toDouble / liveGen.size
      assert(math.abs(st - expSt) < 1e-9,
        s"step $step: staleness $st != exact live append fraction $expSt")
    }
  }

  test("history fuzz (banded): the live view always equals the pure banding of each id's latest content") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val idx = s"$work/lsh_fuzz"
    def rv() = Array.fill(4)(rnd.nextFloat() * 2 - 1)
    var nextFresh = 100L
    val content = scala.collection.mutable.Map[Long, Array[Float]]()
    val liveGen = scala.collection.mutable.Map[Long, Long]()
    (0L until 20L).foreach { i => content(i) = rv(); liveGen(i) = 0L }
    AnnIndex.buildBanded(content.toSeq.toDF("vec_id", "embedding"), idx,
      nPlanes = 8, bands = 4, seed = 1L)
    for (step <- 1 to 6) {
      val fresh = rnd.nextInt(3)
      val existing = () => content.keys.toSeq(rnd.nextInt(content.size))
      val (ids, newIds) = fresh match {
        case 0 => val s = (nextFresh until nextFresh + 4).toSeq; nextFresh += 4
          (s, true)
        case 1 => (Seq.fill(4)(existing()).distinct, false)
        case _ => val s = (nextFresh until nextFresh + 2).toSeq; nextFresh += 2
          ((s ++ Seq.fill(2)(existing())).distinct, false)
      }
      val delta = ids.map(i => (i, rv()))
      AnnIndex.appendBanded(delta.toDF("vec_id", "embedding"), idx,
        nPlanes = 8, bands = 4, seed = 1L, newIds = newIds)
      delta.foreach { case (i, v) => content(i) = v }
      // banding is a pure per-vector function of (planes, content), so
      // the maintained view must equal banding the CURRENT content from
      // scratch — whatever mix of plain/bounded/full regimes the
      // history put the meta in
      val expected = rows3(Ann.bandedSignatures(
          content.toSeq.toDF("vec_id", "embedding"), "vec_id", "embedding",
          nPlanes = 8, bands = 4, seed = 1L)
        .select(col("vec_id"), col("band").cast("long"), col("bucket")))
      val view = rows3(AnnIndex.bandedRowsLive(spark, idx)
        .select(col("vec_id"), col("band").cast("long"), col("bucket")))
      assert(view == expected,
        s"step $step (newIds=$newIds): banded view diverged from pure banding")
      // exact staleness on the multi-row structure too: every id
      // carries `bands` rows per generation, so the live append-row
      // fraction is the live append-ID fraction
      delta.foreach { case (i, _) => liveGen(i) = step.toLong }
      val st = GenStore.staleness(spark, idx)
      val expSt = liveGen.count(_._2 > 0L).toDouble / liveGen.size
      assert(math.abs(st - expSt) < 1e-9,
        s"step $step: banded staleness $st != exact live append fraction $expSt")
    }
  }

  test("model parameters are persisted in the meta and mismatches throw") {
    val idx = s"$work/lsh_params"
    AnnIndex.buildBanded(emb, idx, nPlanes = 16, bands = 8, seed = 42L)
    val delta = emb.filter(col("vec_id") < 3)
    // an append under different planes would silently corrupt recall —
    // it must throw instead
    intercept[IllegalArgumentException] {
      AnnIndex.appendBanded(delta, idx, nPlanes = 16, bands = 8, seed = 43L)
    }
    intercept[IllegalArgumentException] {
      AnnIndex.appendBanded(delta, idx, nPlanes = 32, bands = 8)
    }
    // a read under different parameters loses recall silently — throws
    intercept[IllegalArgumentException] {
      AnnIndex.lshTopKFromIndex(spark, idx, emb, delta, 5, nPlanes = 16, bands = 4)
    }
    // matching parameters still work end-to-end
    assert(AnnIndex.lshTopKFromIndex(
      spark, idx, emb, delta, 5, nPlanes = 16, bands = 8).count() > 0)
  }

  test("micro-batch banded append writes files scaled to the batch, not the session width") {
    val idx = s"$work/lsh_smallfiles"
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      AnnIndex.buildBanded(emb, idx, nPlanes = 16, bands = 8)
      // a 3-vector micro-batch: 24 banded rows — far below one file's
      // target, so the gen dir must hold ONE part file, not 32 shards
      AnnIndex.appendBanded(emb.filter(col("vec_id") < 3), idx,
        nPlanes = 16, bands = 8, newIds = true)
      val genDir = new java.io.File(s"$idx/banded/gen=1")
      val parts = genDir.listFiles().count(_.getName.startsWith("part-"))
      assert(parts == 1,
        s"a tiny append must write one file (got $parts) — small-file " +
          "proliferation erodes O(|delta|) ingest until compact")
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  /** The file scans of an executed plan (AQE stages unwrapped; a
    * ReusedExchange re-executes nothing — counting its subtree would
    * double-count the original exchange's scan). */
  private def scans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scans(a.executedPlan)
    case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      scans(qs.plan)
    case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Nil
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }

  private def scanPath(f: org.apache.spark.sql.execution.FileSourceScanExec): String =
    f.relation.location.rootPaths.mkString(",")

  test("vector-carrying index: the probe serves vectors from the index partitions, never the corpus") {
    val idx = s"$work/ivf_selfserve"
    AnnIndex.buildIvf(emb, idx, nlist = 16)
    val q = emb.filter(col("vec_id") < 3)
    val fromIndex = AnnIndex.ivfTopKFromIndex(spark, idx, emb, q, 5, nprobe = 8)
    fromIndex.collect()
    // a query set under the localize cap becomes a local relation, and
    // the corpus side reads its vectors from the index's probed
    // partitions (pre-r16: a corpus scan + id-keyed join), so the probe
    // plan scans no embeddings at all
    val all = scans(fromIndex.queryExecution.executedPlan)
    val embScans = all.count(scanPath(_).contains("embeddings.parquet"))
    val idxScans = all.count(scanPath(_).contains("ivf_selfserve"))
    assert(embScans == 0,
      s"probe under the localize cap must not scan the corpus, got $embScans:\n" +
        all.map(scanPath).mkString("\n"))
    assert(idxScans >= 1, "probe must read vectors from the index partitions")
    // and the self-served probe equals the registered q45 in-query build
    assert(topk(fromIndex) == topk(Ann.ivfTopK(emb, q, 5, nlist = 16, nprobe = 8)),
      "index-served vectors diverged from the registered build")
  }

  test("vector-carrying index past the query-localize cap: the probe keeps the distributed shape") {
    val idx = s"$work/ivf_selfserve_cap"
    AnnIndex.buildIvf(emb, idx, nlist = 16)
    // more than 4096 query rows (the cap) from ONE embeddings scan: the
    // query set is never collected, so that scan stays in the probe
    // plan as its query side
    val reps = 4096 / emb.count() + 1
    val q = emb.crossJoin(spark.range(reps).toDF("rep"))
      .select((col("vec_id") * reps + col("rep")).as("vec_id"), col("embedding"))
    assert(q.count() > 4096)
    val fromIndex = AnnIndex.ivfTopKFromIndex(spark, idx, emb, q, 5, nprobe = 8)
    val all = scans(fromIndex.queryExecution.executedPlan)
    val embScans = all.count(scanPath(_).contains("embeddings.parquet"))
    assert(embScans == 1,
      s"probe past the localize cap must scan the corpus ONCE (the query " +
        s"side), got $embScans:\n" + all.map(scanPath).mkString("\n"))
    assert(all.exists(scanPath(_).contains("ivf_selfserve_cap")),
      "probe must read vectors from the index partitions")
  }

  test("banded compact reproduces the from-scratch build bit-for-bit and resets staleness") {
    val idx = s"$work/lsh_compact"
    AnnIndex.buildBanded(emb.filter(!isDelta), idx, nPlanes = 16, bands = 8)
    AnnIndex.appendBanded(emb.filter(isDelta), idx, nPlanes = 16, bands = 8)
    assert(GenStore.staleness(spark, idx) > 0.0,
      "append must register as banded staleness")
    AnnIndex.compactBanded(emb, idx, nPlanes = 16, bands = 8)
    assert(GenStore.staleness(spark, idx) == 0.0,
      "compacted banded index must be one generation")
    val compacted = rows3(AnnIndex.bandedRowsLive(spark, idx)
      .select(col("vec_id"), col("band").cast("long"), col("bucket")))
    val fresh = rows3(Ann.bandedSignatures(emb, "vec_id", "embedding",
        nPlanes = 16, bands = 8, seed = 42L)
      .select(col("vec_id"), col("band").cast("long"), col("bucket")))
    assert(compacted == fresh,
      "banded compact diverged from the from-scratch signature table")
    // and q30 through the compacted index reproduces the registered build
    val q = emb.filter(col("vec_id") < 3)
    assert(topk(AnnIndex.lshTopKFromIndex(
        spark, idx, emb, q, 5, nPlanes = 16, bands = 8)) ==
      topk(Ann.lshTopK(emb, q, 5, nPlanes = 16, bands = 8)))
  }

  test("LSH: base-build + delta-append equals the full rebuild, and q30 reproduces exactly") {
    val idx = s"$work/lsh1"
    AnnIndex.buildBanded(emb.filter(!isDelta), idx, nPlanes = 16, bands = 8)
    AnnIndex.appendBanded(emb.filter(isDelta), idx, nPlanes = 16, bands = 8)
    val appended = rows3(AnnIndex.bandedRowsLive(spark, idx)
      .select(col("vec_id"), col("band").cast("long"), col("bucket")))
    val rebuilt = rows3(Ann.bandedSignatures(emb, nPlanes = 16, bands = 8, seed = 42L)
      .select(col("vec_id"), col("band").cast("long"), col("bucket")))
    assert(appended == rebuilt)
    val q = emb.filter(col("vec_id") < 3)
    val fromIndex = topk(AnnIndex.lshTopKFromIndex(
      spark, idx, emb, q, 5, nPlanes = 16, bands = 8))
    val registered = topk(Ann.lshTopK(emb, q, 5, nPlanes = 16, bands = 8))
    assert(fromIndex == registered,
      s"maintained banded index diverged from q30's build: ${(fromIndex -- registered).take(3)} / ${(registered -- fromIndex).take(3)}")
  }
}
