package graft.similarity

import graft.build.{GenStore, GenTable, Layout}
import graft.functions.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental maintenance for the two persisted ANN index structures
  * (IVF cells, sign-LSH bands) — the ingest-side counterpart of
  * [[Ann.ivfTopK]]/[[Ann.lshTopK]]'s in-query builds, applying the
  * gen-stamped-append pattern of the sparse index
  * (`IndexBuilder.buildIncremental` / `streaming.IndexMaintenance`;
  * reference economics: index once, skip what's already indexed —
  * `AbstractBlockIndexingJob.java:359-364`) to the vector indexes:
  *
  *  - BUILD trains the model (IVF centroids on the bounded sample /
  *    LSH planes by seed) and writes the full assignment, gen 0;
  *  - APPEND assigns ONLY the delta batch under the PERSISTED model —
  *    a map-only projection per vector, never a retrain, never a
  *    re-scan of the base (exactly how production IVF ingests: FAISS
  *    `add` does not move centroids) — into its own `gen=N` directory;
  *    a re-ingested id supersedes its older rows (latest gen wins);
  *  - COMPACT retrains on the current corpus and rewrites gen 0 when
  *    [[GenStore.staleness]] (the delta fraction) says the model has drifted —
  *    the posting-compaction step of the same lifecycle.
  *
  * Append ≡ rebuild is EXACT, not approximate: assignment under a fixed
  * model is a pure per-row function, so base-assign ∪ delta-assign is
  * bit-identical to assigning the union from scratch (AnnIndexSpec pins
  * it for both structures, and pins compact ≡ the registered q45/q30
  * from-scratch builds).
  *
  * PHYSICAL LAYOUT (the plan a 100 TB probe wants, on disk, not in
  * prose): IVF assignments are written `partitionBy(cell)` inside each
  * generation directory, so a query's `nprobe` cells prune statically to
  * their partitions' files — the reference's hash-partitioned index
  * where a point lookup touches one part file
  * (`BlockIndexedFileInputFormat.java:419-431`), keyed by geometry.
  * Banded rows are range-clustered by `bucket` (repartitionByRange +
  * sortWithinPartitions before the write), so a probe's bucket IN-list
  * pushes to parquet and skips whole row groups/files by min-max stats.
  * AnnIndexSpec plan-asserts both: the pruned IVF probe's scan carries
  * cell partition filters and reads only the probe cells' partitions;
  * the banded probe's scan outputs a fraction of the table's rows.
  *
  * DURABILITY PROTOCOL: a small `_INDEX_META` file — written LAST on
  * build and after every append — carries the generation counter, the
  * history flags, the MODEL PARAMETERS, and the last applied streaming
  * batch id. The meta is the completion marker: a crash between the
  * centroid and assignment writes (or mid-append) leaves no meta
  * update, and [[GenStore.isComplete]] reports the index absent/unfinished so
  * the next build deletes the partial state and rebuilds — never the
  * permanent append-onto-missing-state failure a path-probe invited.
  * Appends are additionally FILE-idempotent: each lands in its own
  * `gen=N` directory with overwrite semantics, so a
  * crashed-and-replayed append overwrites its own partial output
  * instead of duplicating rows. The gen counter itself is a meta read —
  * O(1), never an O(index) max-scan per delta batch, which is what
  * keeps per-batch ingest cost O(|delta|) at any corpus size. The
  * banded meta also carries (dim, nPlanes, bands, seed), so the read
  * path never touches the corpus for the model and a caller passing
  * parameters that disagree with the build's THROWS instead of silently
  * banding queries under different planes and losing recall.
  *
  * LIVE VIEWS — three read regimes, decided by the meta:
  *  - APPEND-ONLY (every append declared `newIds = true`, or the index
  *    was just built/compacted): a PLAIN read — no shuffle, no
  *    self-join, and partition/bucket probe filters push below the
  *    view into the scan.
  *  - TRACKED UPSERTS (some appends were undeclared, but the meta
  *    records WHICH generations they were, `ugens`): resolution is
  *    BOUNDED by the upsert generations instead of O(index). The
  *    invariant that makes it exact: an upserted id's LATEST row lives
  *    in its latest upsert generation (newIds appends never re-add an
  *    existing id, by declaration), so the driver reads the upsert
  *    gens' (delta-scale) id column, takes each id's latest upsert
  *    generation, and the view is ONE filtered scan:
  *      rows of the non-upsert gens whose id was not upserted,
  *      ∪ each upserted id's rows of its winning generation,
  *    with probe filters pushed into every generation (row selection
  *    does not depend on the probe, so pruning can't resurrect a
  *    superseded row — AnnIndexSpec pins the hazard). One undeclared
  *    day-batch costs every reader a driver read of the batch's ids
  *    (from the scan's own file listing) and one key filter — no
  *    shuffle, no join; past a cap on upsert rows read or on distinct
  *    upserted ids the read resolves in full ([[GenStore.live]]).
  *  - UNTRUSTED (an in-stream compact ran: its corpus snapshot may
  *    cover batches the checkpoint has not delivered, which later
  *    re-append as duplicate content UNDER `newIds = true` — so the
  *    declarations themselves can no longer be trusted): full
  *    latest-gen resolution over the whole index, probe filters after.
  *    The flag rides the compact's OWN meta write (atomic under the
  *    staged swap), and the next batch-side compact clears it.
  *
  * Single-writer assumption, like `DedupArtifacts`: build/append/compact
  * from one job at a time; a production deployment stages and renames.
  */
object AnnIndex extends org.apache.spark.internal.Logging {

  import GenTable.{Banded, Ivf, Pq, Vecs}

  private def centroidsPath(dir: String) = s"$dir/centroids"
  private def codebookPath(dir: String) = s"$dir/codebook"

  // ------------------------------------------------------------- IVF
  // The lifecycle (build, append, delete, horizon compact, live views,
  // staleness) is GenStore's, derived from the GenTable descriptors;
  // this object keeps the kernels — the centroid/PQ/plane models that
  // assign rows, and the probe readers.

  /** Train centroids on `corpus` (the [[Ann.trainCentroids]] bounded
    * deterministic sample) and write the full index: centroids
    * (cell, c), assignments under `gen=0` partitioned by cell, meta
    * LAST ([[GenStore.build]]; `appendOnly = false` is the in-stream
    * compact's untrusted stamp). "vecs" marks a vector-carrying index
    * (every gen stores v): the probe path may serve vectors from the
    * index partitions instead of joining the corpus. Legacy trees lack
    * the key and keep the corpus-join read; appends must match the
    * build's schema either way. */
  def buildIvf(
      corpus: DataFrame, indexDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nlist: Int = 16, lloydIters: Int = 2, batchId: Long = -1L,
      appendOnly: Boolean = true): Unit = {
    val s = corpus.sparkSession
    val cs = Ann.trainCentroids(corpus, idCol, vecCol, nlist, lloydIters)
    GenStore.build(s, Ivf, indexDir, batchId, appendOnly,
        Map("nlist" -> nlist.toString, "vecs" -> "1")) {
      writeCentroids(s, indexDir, cs)
      assignWith(buildRows(corpus, idCol, vecCol, batchId), cs, "vec_id", "v")
    }
  }

  private def writeCentroids(s: SparkSession, dir: String,
      cs: Array[Array[Double]]): Unit = {
    import s.implicits._
    cs.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
      .toDF("cell", "c").write.parquet(centroidsPath(dir))
  }

  /** Assign ONLY the delta under the persisted centroids and write it
    * into the next `gen=N` directory ([[GenStore.append]]). Map-only:
    * the centroid model is a plan-time constant, the delta is the only
    * thing read or written. `newIds = true` declares the batch's ids
    * new by construction (dated ingest), keeping the plain-read live
    * view; the default records the generation as an upsert, which
    * routes readers through the BOUNDED resolution (see class doc). */
  def appendIvf(
      delta: DataFrame, indexDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      newIds: Boolean = false, batchId: Long = -1L): Unit = {
    val s = delta.sparkSession
    val one = onePerId(delta, idCol, vecCol)
    GenStore.append(s, indexDir, newIds, batchId) { m =>
      if (m.params.contains("pq")) throw new IllegalArgumentException(
        s"index at $indexDir is a PQ index (code-carrying rows): append " +
          "with appendIvfPq — a raw-vector generation would break the " +
          "partitioned read's schema")
      GenStore.requireKind(m, indexDir, Ivf)
      val assigned = assignWith(one, centroidArray(s, indexDir), "vec_id", "v")
      // a generation must match the BUILD's row schema: a legacy
      // (pre-vector-carrying) tree gets plain (vec_id, cell) appends —
      // mixing schemas across gen dirs would break the partitioned read
      (one, if (m.params.contains("vecs")) assigned
        else assigned.select("vec_id", "cell"), -1L)
    }
  }

  /** One coherent row (vec_id, v) per id — the at-least-once batch
    * surface: a delta carrying the same id twice (a replayed or
    * coalesced ingest) must append ONE row, picked deterministically
    * (whole-row max-struct), or the plain append-only regime would
    * serve both copies to every probe (and the PQ packing would mix
    * per-subspace codes across the two rows). Applied on the APPEND
    * paths only — batch-scale; BUILD corpora are curated tables assumed
    * id-unique (the PQ build pays it anyway, inside [[assignPqWith]],
    * because code packing needs it for coherence). */
  private def onePerId(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .groupBy("vec_id").agg(max(struct(col("v"))).as("m"))
      .select(col("vec_id"), col("m.v").as("v"))

  /** The BUILD paths' normalized (vec_id, v) rows: a STREAM-invoked
    * build (`batchId >= 0` — a first micro-batch standing up the index)
    * is the same at-least-once surface the appends dedup, so it gets
    * [[onePerId]] too — without it, a duplicate-id first batch builds a
    * gen 0 serving two rows per id on the plain regime (the r17 advisor's
    * stream-built-store hole). Batch builds (`batchId < 0`) read curated,
    * id-unique corpora and skip the extra shuffle. */
  private def buildRows(corpus: DataFrame, idCol: String, vecCol: String,
      batchId: Long): DataFrame =
    if (batchId >= 0) onePerId(corpus, idCol, vecCol)
    else corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))

  /** Retrain on the current corpus and rewrite the whole index at
    * gen 0 — the compaction step once [[GenStore.staleness]] crosses the
    * deployment's drift budget. A batch-side compact (default) resets
    * the history flags: one generation, trivially plain-readable. An
    * IN-STREAM compact passes `appendOnly = false`, and the
    * untrusted-upserts flag lands IN the staged tree's own meta —
    * atomic under the swap, so no crash window can adopt a compacted
    * index whose flag is missing (the r15 advisor's exactly-once
    * hole: the old two-step flag write could be skipped by a replay
    * that saw the batch as already recorded).
    *
    * STAGED: the rebuild lands in a sibling `.compact.tmp` tree (meta
    * last), and only then swaps in (delete old, rename). A crash
    * mid-rebuild leaves the OLD index fully intact and complete — never
    * the deleted-old/half-new state an in-place rewrite risks, which a
    * streaming replay would "recover" by rebuilding from one micro-batch
    * (losing every earlier batch). The delete→rename gap is covered by
    * [[GenStore.recover]]: a complete tmp beside a missing/partial index is
    * adopted by rename. */
  def compactIvf(
      corpus: DataFrame, indexDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nlist: Int = 16, lloydIters: Int = 2, batchId: Long = -1L,
      appendOnly: Boolean = true): Unit =
    GenStore.stagedCompact(corpus.sparkSession, indexDir)(tmp =>
      buildIvf(corpus, tmp, idCol, vecCol, nlist, lloydIters, batchId, appendOnly))

  /** [[compactIvf]]'s banded twin: re-band the current corpus under the
    * same (or retuned) parameters and rewrite the whole index at gen 0
    * via the SAME staged-swap/recover protocol — the compaction step
    * once its [[GenStore.staleness]] (or small-file pressure from many append
    * generations) crosses the deployment's budget. Resets the history
    * flags: a compacted index is one generation, trivially
    * plain-readable. */
  def compactBanded(
      corpus: DataFrame, indexDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nPlanes: Int = 16, bands: Int = 8, seed: Long = 42L,
      batchId: Long = -1L, appendOnly: Boolean = true): Unit =
    GenStore.stagedCompact(corpus.sparkSession, indexDir)(tmp =>
      buildBanded(corpus, tmp, idCol, vecCol, nPlanes, bands, seed,
        batchId, appendOnly))

  /** The LIVE assignment (vec_id, cell, gen): latest generation wins
    * per id, so a re-ingested vector supersedes its older rows — the
    * postings `gen` convention. Three regimes per the meta (class doc):
    * plain read (probe filter pushed into the scan) / BOUNDED
    * resolution over the recorded upsert generations (one driver-
    * resolved filter, probe filter pushed into every generation) /
    * full resolution (probe filter strictly post-reduce —
    * pruning first could read a superseded row whose newer generation
    * lives in an unprobed cell and resurrect it). `resolveAll` forces
    * the full-resolution plan regardless of the flags — the audit path
    * (verify the fast regimes against the one that trusts nothing; the
    * scale probes time both). */
  def ivfAssignments(s: SparkSession, indexDir: String,
      cells: Option[Seq[Long]] = None, resolveAll: Boolean = false,
      asOfGen: Option[Long] = None): DataFrame =
    assignmentsView(s, indexDir, cells, resolveAll, payload = Nil,
      asOfGen = asOfGen)

  /** The live view over the assignment rows ([[GenStore.live]]),
    * optionally CARRYING stored payload columns (the vector `v` for
    * vector-carrying indexes, the PQ `codes` for code-carrying ones —
    * the probe path's self-contained read). The `cells` probe is not on
    * the key, so it is pushed into the plain and bounded scans and
    * applied after full resolution. */
  private def assignmentsView(s: SparkSession, indexDir: String,
      cells: Option[Seq[Long]], resolveAll: Boolean,
      payload: Seq[String], asOfGen: Option[Long] = None): DataFrame =
    GenStore.live(s, indexDir, Ivf,
      df => cells.fold(df)(cs => df.filter(col("cell").isin(cs: _*))),
      resolveAll, asOfGen, "vec_id" +: payload :+ "cell", identity)

  /** Persisted centroids as the driver-side array (cell-ordered),
    * shared by append-time assignment and query-time probing. The sort
    * runs driver-side over the collected nlist rows — an `orderBy`
    * before the collect planned a whole extra AQE shuffle job for ≤32
    * rows (the probe paths run this once per query). */
  private def centroidArray(s: SparkSession, indexDir: String): Array[Array[Double]] =
    s.read.parquet(centroidsPath(indexDir)).select("cell", "c").collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)

  /** Cap on driver-localized query sets — the broadcast-small-queries
    * contract of every probe path here, enforced the same way
    * [[PointFetchMaxRows]] is: past it the probe paths keep the fully
    * distributed shapes. */
  private val QueryLocalizeCap = 4096

  /** Collect a broadcast-small query set ONCE and re-plan it as a local
    * relation (exact schema, exact row values — no arithmetic touches
    * the data). Every downstream consumer — probe-cell choice, ADC
    * distance table, rerank query side — previously re-scanned the
    * queries' parquet inside its own job; with 3-row query sets the
    * per-scan job overhead dominated entire maintained-ANN reads
    * (RunOne: 13-26 construction jobs per read, 85-92% of wall).
    * Returns the local relation plus each row's vector as doubles
    * (float→double is exact) for the driver-side probe-cell twin; None
    * past the cap or for a null/null-element vector (the Catalyst
    * scoring nulls there — [[Ann.queryProbeCellsLocal]] mirrors it), or
    * None overall past [[QueryLocalizeCap]] so callers keep the
    * distributed shape. */
  private def localizedQueries(
      queries: DataFrame, idCol: String, vecCol: String):
      Option[(DataFrame, Seq[Option[Array[Double]]])] = {
    val proj = queries.select(col(idCol), col(vecCol))
    val rows = proj.limit(QueryLocalizeCap + 1).collect()
    if (rows.length > QueryLocalizeCap) None
    else {
      val local = queries.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), proj.schema)
      val vecs: Seq[Option[Array[Double]]] = rows.toSeq.map { r =>
        if (r.isNullAt(1)) None
        else {
          val sq = r.getSeq[Any](1)
          if (sq == null || sq.contains(null)) None
          else Some(sq.map {
            case f: java.lang.Float => f.toDouble
            case d: java.lang.Double => d.doubleValue()
            case x: java.lang.Number => x.doubleValue()
          }.toArray)
        }
      }
      Some((local, vecs))
    }
  }

  /** The persisted PQ codebook as a local relation (nCent·nSub rows,
    * verbatim values): the ADC distance table builds against it as a
    * broadcast — local rows make that build job trivial instead of a
    * parquet scan, and the read overlaps the other probe-prep reads. */
  private def localizedCodebook(s: SparkSession, indexDir: String): DataFrame = {
    val cb = s.read.parquet(codebookPath(indexDir))
    s.createDataFrame(java.util.Arrays.asList(cb.collect(): _*), cb.schema)
  }

  /** Map-only nearest-cell assignment under a fixed centroid model
    * ([[Ann.cellScoresFor]]'s constant-folded projection). The VECTOR
    * rides into the index row (FAISS's inverted-list trade: the index
    * stores what the probe needs, so the read path never joins the
    * corpus — storage ∝ corpus, probe I/O ∝ nprobe/nlist). */
  private def assignWith(
      df: DataFrame, cs: Array[Array[Double]],
      idCol: String, vecCol: String): DataFrame = {
    val cellScores = Ann.cellScoresFor(cs)
    df.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("n", Vectors.norm(col("v")))
      .withColumn("cell",
        array_min(cellScores(struct(col("v").as("v"), col("n").as("n"))))
          .getField("cell"))
      .select("vec_id", "v", "cell")
  }

  /** [[Ann.ivfTopK]] through the MAINTAINED index: probe cells from the
    * persisted centroids, corpus vectors FROM THE INDEX ITSELF (the
    * inverted lists store what the probe needs — FAISS's trade), exact
    * rerank. The probe cell set is collected driver-side (it is
    * `nprobe` × |queries| values of a broadcast-small query set) and
    * pushed into the assignment read, so an append-only index SCANS
    * ONLY THE PROBE CELLS' partitions — nprobe/nlist of the files, the
    * reference's point-lookup-touches-one-part-file economics — and a
    * tracked-upsert index scans those partitions plus its (delta-scale)
    * upsert generations. Because the vectors ride in the index rows,
    * the probe plan NEVER scans or shuffles the corpus: at 100 TB the
    * read is nprobe/nlist of the index, not a corpus-wide id-keyed
    * join (the pre-r16 plan, kept as the fallback for legacy
    * vector-less trees via `corpus`). With a freshly-compacted index
    * this is bit-identical to the registered q45 build (same trainer,
    * same assignment, same probe — AnnIndexSpec pins it). */
  /** `asOfGen` replays the probe against the index as of generation N
    * ("yesterday's ANN corpus" — the centroid model is fixed at build,
    * so only the assignment clock moves; multi-store reads like the PQ
    * point fetch take per-store as-of through the views instead, since
    * each store has its own generation clock). */
  def ivfTopKFromIndex(
      s: SparkSession, indexDir: String, corpus: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      asOfGen: Option[Long] = None): DataFrame = {
    val meta = GenStore.metaOrThrow(s, indexDir)
    // centroid read and query collect are INDEPENDENT driver jobs —
    // overlap them (guide §2.6) instead of serializing; they were two
    // of the 3-4 sequential actions each maintained read paid
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val csF = Future(centroidArray(s, indexDir))
    val locF = Future(localizedQueries(queries, idCol, vecCol))
    val cs = Await.result(csF, 10.minutes)
    val loc = Await.result(locF, 10.minutes)
    val cellScores = Ann.cellScoresFor(cs)
    // probe cells driver-side over the localized query set (zero jobs,
    // bit-identical twin — AnnLocalProbeSpec); queryCells (the join
    // side) keeps the Catalyst expression, now over the local relation
    // so no downstream job re-scans the queries' parquet. Past the
    // localize cap: the pre-r20 distributed collect.
    val qdf = loc.fold(queries)(_._1)
    val queryCells = qdf
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        Vectors.norm(col(vecCol)).as("qn"))
      .withColumn("cell",
        explode(slice(array_sort(cellScores(
          struct(col("qv").as("v"), col("qn").as("n")))), 1, nprobe)
          .getField("cell")))
    val probeCells = loc match {
      case Some((_, vecs)) =>
        vecs.flatMap(Ann.queryProbeCellsLocal(_, cs, nprobe)).distinct
      case None => queryCells.select("cell").distinct()
        .collect().map(_.getLong(0)).toSeq
    }
    val corpusCells =
      if (meta.params.contains("vecs"))
        assignmentsView(s, indexDir, cells = Some(probeCells),
            resolveAll = false, payload = Seq("v"), asOfGen = asOfGen)
          .select(col("vec_id").as("neighbor_id"), col("cell"),
            col("v").as("cv"), Vectors.norm(col("v")).as("cn"))
      else corpus
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
          Vectors.norm(col(vecCol)).as("cn"))
        .join(ivfAssignments(s, indexDir, cells = Some(probeCells),
            asOfGen = asOfGen)
          .select(col("vec_id").as("neighbor_id"), col("cell")), "neighbor_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    corpusCells.join(broadcast(queryCells), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", Vectors.cosineFromNorms(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  // ---------------------------------------------------------- IVF-PQ

  /** [[buildIvf]]'s code-carrying twin — the FAISS IVFADC layout
    * (Jégou et al. 2011), which is what the trade actually looks like
    * at 100 TB: the vector-carrying index stores the corpus floats a
    * second time (storage ×2), while a PQ generation stores `nSub`
    * small ints per vector (~2% of the float bytes at 64-dim/8-sub),
    * so the index stays cache-resident at corpus sizes where raw
    * inverted lists cannot. The probe pays for it with a two-stage
    * read: ADC over the probed cells' CODES (index-only, nprobe/nlist
    * of the files), then an exact rerank that fetches ONLY the
    * shortlist's raw vectors from the corpus.
    *
    * Persists centroids + the PQ CODEBOOK (cid, sub, cv) + gen-0 rows
    * (vec_id, codes, cell) partitioned by cell, meta LAST with the PQ
    * model parameters — appends assign under the PERSISTED codebook
    * (a pure function, so append ≡ rebuild stays exact), and reads
    * validate against the meta instead of trusting the caller. */
  def buildIvfPq(
      corpus: DataFrame, indexDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nlist: Int = 16, nSub: Int = 8, subDim: Int = 8, nCent: Int = 16,
      lloydIters: Int = 2, batchId: Long = -1L,
      appendOnly: Boolean = true): Unit = {
    val s = corpus.sparkSession
    val cs = Ann.trainCentroids(corpus, idCol, vecCol, nlist, lloydIters)
    GenStore.build(s, Pq, indexDir, batchId, appendOnly,
        Map("nlist" -> nlist.toString, "pq" -> "1",
          "pq_nsub" -> nSub.toString, "pq_subdim" -> subDim.toString,
          "pq_ncent" -> nCent.toString)) {
      writeCentroids(s, indexDir, cs)
      // the lowest nCent ids PRESENT (pqCodebookPresent), not `id < nCent`
      // — a build whose corpus lacks the low ids (delta-keyed ingest, a
      // streaming first batch) would otherwise persist an EMPTY or
      // partial codebook and the inner join would silently code nothing
      Ann.pqCodebookPresent(corpus, nSub, subDim, nCent, idCol, vecCol)
        .write.parquet(codebookPath(indexDir))
      val cb = s.read.parquet(codebookPath(indexDir))
      if (cb.isEmpty) throw new IllegalArgumentException(
        s"PQ build at $indexDir trained an empty codebook — the corpus is empty")
      // gen 0 assigns under the PERSISTED codebook (read back), the same
      // table every append will read — not the in-memory derivation.
      // The PQ build pays onePerId unconditionally (code packing needs
      // id-coherent rows even on curated corpora)
      assignPqWith(onePerId(corpus, idCol, vecCol), cs, cb, nSub, subDim)
    }
  }

  /** [[appendIvf]]'s PQ twin: assign the delta's cells under the
    * persisted centroids and its codes under the persisted codebook —
    * both pure per-row functions of delta rows only, so ingest stays
    * O(|delta|) and append ≡ rebuild exact. The PQ model parameters
    * come FROM the meta (there is nothing for a caller to mis-pass). */
  def appendIvfPq(
      delta: DataFrame, indexDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      newIds: Boolean = false, batchId: Long = -1L): Unit = {
    val s = delta.sparkSession
    val one = onePerId(delta, idCol, vecCol)
    GenStore.append(s, indexDir, newIds, batchId) { m =>
      val (nSub, subDim) = pqParamsOrThrow(m, indexDir)
      (one, assignPqWith(one, centroidArray(s, indexDir),
        s.read.parquet(codebookPath(indexDir)), nSub, subDim), -1L)
    }
  }

  /** [[compactIvf]]'s PQ twin: retrain centroids AND codebook on the
    * current corpus and rewrite at gen 0 under the same staged-swap /
    * recover protocol (the codebook rides inside the staged tree, so
    * codes and model can never be adopted separately). */
  def compactIvfPq(
      corpus: DataFrame, indexDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nlist: Int = 16, nSub: Int = 8, subDim: Int = 8, nCent: Int = 16,
      lloydIters: Int = 2, batchId: Long = -1L,
      appendOnly: Boolean = true): Unit =
    GenStore.stagedCompact(corpus.sparkSession, indexDir)(tmp =>
      buildIvfPq(corpus, tmp, idCol, vecCol, nlist, nSub, subDim, nCent,
        lloydIters, batchId, appendOnly))

  private def pqParamsOrThrow(m: GenStore.Meta, dir: String): (Int, Int) =
    (for {
      nSub <- m.params.get("pq_nsub").flatMap(_.toIntOption)
      subDim <- m.params.get("pq_subdim").flatMap(_.toIntOption)
    } yield (nSub, subDim)).getOrElse(throw new IllegalStateException(
      s"index at $dir is not a PQ index (no pq_nsub/pq_subdim in its " +
        "meta): build it with buildIvfPq, or read it with the " +
        "raw-vector/corpus-join paths"))

  /** Cells under the fixed centroids + packed codes under the fixed
    * codebook, one row per delta id: (vec_id, codes array<int>, cell).
    * The codes pack via a delta-scale groupBy (nSub rows per id in,
    * one out); the cell join is delta ⋈ delta on the id.
    *
    * Expects ONE coherent row per id (callers pass [[onePerId]]'d
    * rows — build and append both): without that dedup, the codes
    * groupBy's per-subspace pick would MIX codes from duplicate rows
    * into a code vector belonging to neither version, and the cells
    * join would then duplicate it across both assigned cells. */
  private def assignPqWith(
      one: DataFrame, cs: Array[Array[Double]], codebook: DataFrame,
      nSub: Int, subDim: Int): DataFrame = {
    val cells = assignWith(one, cs, "vec_id", "v").select("vec_id", "cell")
    val codes = Ann.pqCodesWith(one,
        codebook, nSub, subDim, "vec_id", "v")
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
      .select(col("vec_id"),
        transform(col("sc"), x => x.getField("code").cast("int")).as("codes"))
    codes.join(cells, "vec_id")
  }

  /** [[Ann.pqAdcTopK]] through the MAINTAINED index — IVF-PQ + refine:
    * probe cells from the persisted centroids; ADC over the probed
    * cells' CODES under the persisted codebook (the scan reads
    * nprobe/nlist of the index's code files — never a raw vector, never
    * the corpus); exact cosine rerank of the broadcast-small shortlist
    * only, fetched from the corpus by id (the refine fetch is a
    * broadcast map-side semi-join — with an id-bucketed corpus layout
    * it is also exchange-free). Every live-view regime (plain /
    * bounded tracked-upsert / untrusted) applies to the code rows via
    * the same [[assignmentsView]] the other readers use.
    *
    * ROLE (r17): with the vector store maintained ([[buildVecs]]), the
    * I/O-minimal read is [[ivfPqTopKPointFetch]] — this corpus-scan
    * rerank is the fallback for corpora without a store, for query
    * sets past the point fetch's driver cap, and for sandbox-scale
    * corpora where one scan beats the extra shortlist action in
    * wall-clock (the measured crossover note in README/BASELINE). */
  def ivfPqTopKFromIndex(
      s: SparkSession, indexDir: String, corpus: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 8, shortlist: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val p = pqProbePrep(s, indexDir, queries, nprobe, idCol, vecCol)
    val cand = pqAdcShortlist(s, indexDir, p, shortlist, idCol, vecCol)
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      Vectors.norm(col(vecCol)).as("cn"))
    pqExactRerank(p.qdf, cv, cand, k, idCol, vecCol)
  }

  /** Prepared probe-side state shared by the PQ read paths: the meta,
    * PQ params, the (localized) query relation, the driver-computed
    * probe cells, and the (localized) codebook. */
  private final case class PqProbe(
      meta: GenStore.Meta, nSub: Int, subDim: Int, qdf: DataFrame,
      probeCells: Seq[Long], codebook: DataFrame)

  /** Probe prep shared by both PQ read paths: the three independent
    * driver reads (centroids, codebook, query collect) run CONCURRENTLY
    * (guide §2.6 — they were sequential actions before r20), the probe
    * cells come from the driver-side twin of the Catalyst cell scoring
    * (zero jobs; bit-identical — AnnLocalProbeSpec), and the query and
    * codebook relations are localized so the ADC chain and rerank plan
    * over local rows instead of re-scanning parquet per consumer. Past
    * the localize cap the pre-r20 distributed shapes are kept. */
  private def pqProbePrep(
      s: SparkSession, indexDir: String, queries: DataFrame,
      nprobe: Int, idCol: String, vecCol: String): PqProbe = {
    val meta = GenStore.metaOrThrow(s, indexDir)
    val (nSub, subDim) = pqParamsOrThrow(meta, indexDir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val csF = Future(centroidArray(s, indexDir))
    val cbF = Future(localizedCodebook(s, indexDir))
    val locF = Future(localizedQueries(queries, idCol, vecCol))
    val cs = Await.result(csF, 10.minutes)
    val cb = Await.result(cbF, 10.minutes)
    Await.result(locF, 10.minutes) match {
      case Some((local, vecs)) =>
        PqProbe(meta, nSub, subDim, local,
          vecs.flatMap(Ann.queryProbeCellsLocal(_, cs, nprobe)).distinct, cb)
      case None =>
        val cellScores = Ann.cellScoresFor(cs)
        val probeCells = queries
          .select(explode(slice(array_sort(cellScores(struct(
              col(vecCol).as("v"), Vectors.norm(col(vecCol)).as("n")))),
            1, nprobe).getField("cell")).as("cell"))
          .distinct().collect().map(_.getLong(0)).toSeq
        PqProbe(meta, nSub, subDim, queries, probeCells, cb)
    }
  }

  /** [[ivfPqTopKFromIndex]] with the refine fetch served by POINT
    * LOOKUPS against an id-bucketed vectors table (a
    * [[Layout.writeBucketDirs]] layout over
    * `bucket = vec_id`, schema `(bucket, <vecCol>)`) instead of a full
    * corpus scan. The ADC
    * shortlist is driver-bounded by construction (|queries| ×
    * `shortlist` rows — queries are broadcast-small by the same
    * contract every probe path here assumes), so it collects ONCE and
    * the vector fetch prunes to the shortlist ids' `pb` directories
    * plus the exact id set — the reference's
    * point-lookup-touches-one-part-file economics
    * (`BlockIndexedFileInputFormat.java:419-431`) applied to the
    * rerank, which at 100 TB is otherwise the one read that scans
    * everything the code layout saved. Results are identical to
    * [[ivfPqTopKFromIndex]] over the same corpus (AnnIndexSpec pins
    * it, plus the measured files-read drop). */
  /** Hard ceiling on the driver-collected shortlist rows of
    * [[ivfPqTopKPointFetch]] (|queries| × `shortlist`): the
    * broadcast-small-queries contract, ENFORCED instead of assumed — a
    * day-scale query set would otherwise OOM the driver instead of
    * degrading. At 50-row shortlists this admits ~5k queries; past it
    * the right plan is the distributed scan rerank — the error says so,
    * and `degradeToScan = true` routes there automatically (logged) for
    * pipeline callers that prefer degradation to failure. */
  private val PointFetchMaxRows = 1 << 18

  def ivfPqTopKPointFetch(
      s: SparkSession, indexDir: String, vecsDir: String, queries: DataFrame,
      k: Int, nprobe: Int = 8, shortlist: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding",
      degradeToScan: Boolean = false): DataFrame =
    ivfPqTopKPointFetchCapped(s, indexDir, vecsDir, queries, k, nprobe,
      shortlist, idCol, vecCol, degradeToScan, PointFetchMaxRows)

  /** [[ivfPqTopKPointFetch]] with the driver cap injectable — the spec
    * surface that lets the over-cap paths (clear error / degraded
    * distributed plan) run end-to-end without materializing 2^18
    * shortlist rows. */
  private[graft] def ivfPqTopKPointFetchCapped(
      s: SparkSession, indexDir: String, vecsDir: String, queries: DataFrame,
      k: Int, nprobe: Int, shortlist: Int,
      idCol: String, vecCol: String,
      degradeToScan: Boolean, cap: Int): DataFrame = {
    import s.implicits._
    val p = pqProbePrep(s, indexDir, queries, nprobe, idCol, vecCol)
    val candRows = pqAdcShortlist(s, indexDir, p, shortlist, idCol, vecCol)
      .limit(cap + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    if (candRows.length > cap) {
      // the broadcast-small-queries contract does not hold for this
      // query set: either fail with the remedies named, or — when the
      // caller prefers degradation to failure (pipeline mode) — run the
      // FULLY DISTRIBUTED twin: the shortlist stays a DataFrame (never
      // collected), the vector fetch scans the store's live view with
      // an id-keyed shuffle join, and nothing day-scale is broadcast.
      // Same results, corpus-scan economics (logged, never silent).
      require(degradeToScan,
        s"point-fetch shortlist exceeds $cap driver-collected " +
          "rows (|queries| × shortlist) — the broadcast-small-queries " +
          "contract does not hold for this query set; use " +
          "ivfPqTopKFromIndex (distributed corpus-scan rerank), or pass " +
          "degradeToScan = true to degrade to it automatically")
      logWarning(s"point-fetch shortlist exceeds $cap rows; degrading " +
        "to the distributed scan rerank (degradeToScan = true)")
      val cand = pqAdcShortlist(s, indexDir, p, shortlist, idCol, vecCol)
      val fetch = vecsFetchSource(s, vecsDir, ids = None, vecCol)
      return pqExactRerank(p.qdf, fetch, cand, k, idCol, vecCol,
        bcast = false)
    }
    val cand = candRows.toDF("query_id", "neighbor_id")
    val ids = candRows.map(_._2).distinct.toSeq
    val fetch = vecsFetchSource(s, vecsDir, ids = Some(ids), vecCol)
    pqExactRerank(p.qdf, fetch, cand, k, idCol, vecCol)
  }

  /** The refine-fetch vector source as (neighbor_id, cv, cn): a
    * MAINTAINED store (meta present) serves it through its live view —
    * an id filter commutes with the latest-gen reduce (see
    * [[vecsLive]]), so every regime (plain / bounded upsert /
    * untrusted) stays a pruned point read when `ids` is given; a legacy
    * write-once pb table keeps the plain pruneToProbe read. `ids =
    * None` is the degraded full-store view. */
  private def vecsFetchSource(s: SparkSession, vecsDir: String,
      ids: Option[Seq[Long]], vecCol: String): DataFrame = {
    import s.implicits._
    val vecRows =
      if (GenStore.readMeta(s, vecsDir).exists(Vecs.holds))
        vecsLive(s, vecsDir, ids = ids)
          .select(col("bucket"), col("v").as(vecCol))
      else ids match {
        case Some(is) => Layout.pruneToProbe(
          s.read.parquet(vecsDir), is.toDF("bucket"))
        case None => s.read.parquet(vecsDir)
      }
    vecRows.select(col("bucket").as("neighbor_id"), col(vecCol).as("cv"),
      Vectors.norm(col(vecCol)).as("cn"))
  }

  /** The ADC stage shared by both PQ probe paths: the prepared probe
    * cells prune the code read to ONLY those cells through the live
    * view, distances by broadcast table lookup over the (localized)
    * codebook, top-`shortlist` per query — (query_id, neighbor_id). */
  private def pqAdcShortlist(
      s: SparkSession, indexDir: String, p: PqProbe,
      shortlist: Int, idCol: String, vecCol: String): DataFrame = {
    val table = Ann.pqDistTable(p.qdf, p.codebook, p.nSub, p.subDim,
        idCol, vecCol)
      .select(col("query_id"), col("sub").cast("int").as("sub"),
        col("code").cast("int").as("code"), col("d2"))
    val aw = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    assignmentsView(s, indexDir, cells = Some(p.probeCells),
        resolveAll = false, payload = Seq("codes"))
      .select(col("vec_id").as("neighbor_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(table), Seq("sub", "code"))
      .groupBy("query_id", "neighbor_id").agg(sum("d2").as("adist"))
      .withColumn("r", row_number().over(aw))
      .filter(col("r") <= shortlist)
      .select("query_id", "neighbor_id")
  }

  /** The exact-rerank stage shared by both PQ probe paths: attach the
    * raw vectors (`cv` — full corpus projection or pruned point fetch)
    * to the shortlist, exact cosine, top-k. `bcast` marks the
    * broadcast-small-queries contract (the default); the DEGRADED
    * over-cap path passes false so nothing day-scale is broadcast —
    * both joins become shuffle joins AQE is free to re-plan. */
  private def pqExactRerank(
      queries: DataFrame, cv: DataFrame, cand: DataFrame, k: Int,
      idCol: String, vecCol: String, bcast: Boolean = true): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      Vectors.norm(col(vecCol)).as("qn"))
    val rw = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    cv.join(if (bcast) broadcast(cand) else cand, "neighbor_id")
      .join(if (bcast) broadcast(qv) else qv, "query_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim",
        Vectors.cosineFromNorms(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  // ------------------------------------------- point-fetch vector store

  /** Build the id-bucketed POINT-FETCH VECTOR STORE — the refine-fetch
    * table behind [[ivfPqTopKPointFetch]] — under the SAME
    * build → gen-append → compact lifecycle and meta protocol as the
    * index structures. Layout per generation: `gen=N/pb=M/part-*` with
    * `pb = pmod(id, ProbePartitions)` directories and id-sorted rows
    * (the [[Layout.writeBucketDirs]] geometry, gen-stamped)
    * — a shortlist's vector reads prune to its ids' directories, the
    * reference's MapFile point-lookup economics
    * (`BlockIndexedFileInputFormat.java:419-431`).
    *
    * This closes the last lifecycle asymmetry: pre-r17 the vectors
    * table was written once from the whole corpus, so at 100 TB every
    * ingest day would have paid a full-corpus rewrite to keep point
    * lookups fresh — exactly the cost the gen-append protocol exists to
    * avoid (reference analog: the index is maintained per new file,
    * never rebuilt over the corpus, `AbstractBlockIndexingJob
    * .java:359-364`). A batch's vectors land in their known `pb` dirs
    * of its own generation; reads resolve through the same three
    * regimes as every other structure. */
  def buildVecs(
      corpus: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      batchId: Long = -1L, appendOnly: Boolean = true): Unit =
    GenStore.build(corpus.sparkSession, Vecs, dir, batchId, appendOnly,
        Map("pfetch" -> "1", "pbmod" -> Layout.ProbePartitions.toString))(
      buildRows(corpus, idCol, vecCol, batchId)
        .select(col("vec_id").as("bucket"), col("v")))

  /** Write ONLY the delta batch's vectors into the next `gen=N`
    * directory — O(|delta|): the id→pb mapping is a pure per-row
    * function, nothing of the base is read or written. `newIds`/replay
    * semantics exactly as [[appendIvf]]. Same within-batch dedup as
    * every other append: two rows for one id in a declared batch would
    * BOTH survive the plain regime and the point-fetch rerank would
    * rank that neighbor twice. */
  def appendVecs(
      delta: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      newIds: Boolean = false, batchId: Long = -1L): Unit = {
    val one = onePerId(delta, idCol, vecCol)
      .select(col("vec_id").as("bucket"), col("v"))
    GenStore.append(delta.sparkSession, dir, newIds, batchId) { m =>
      GenStore.requireKind(m, dir, Vecs)
      GenStore.requireParam(m, dir, "pbmod", Layout.ProbePartitions.toLong)
      (one, one, -1L)
    }
  }

  /** Rewrite the store at gen 0 from the current corpus under the
    * shared staged-swap/recover protocol — the compaction step once
    * the store's staleness or upsert-history read cost crosses the
    * budget. */
  def compactVecs(
      corpus: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      batchId: Long = -1L, appendOnly: Boolean = true): Unit =
    GenStore.stagedCompact(corpus.sparkSession, dir)(tmp =>
      buildVecs(corpus, tmp, idCol, vecCol, batchId, appendOnly))

  /** The LIVE vectors (bucket, v, gen), latest generation per id
    * ([[GenStore.live]]), with ONE structural advantage over the other
    * views: the probe filter is on `bucket = id`, the REDUCE KEY itself,
    * so it COMMUTES with latest-gen resolution (an upserted id's newer
    * generation lives in the same bucket — prefiltering can never
    * resurrect a superseded row). The `ids` filter therefore pushes into
    * the scan as `pb` directory pruning + an exact bucket IN-list in
    * EVERY regime — even an untrusted history's point fetch reads and
    * reduces only the probed ids' rows, never the corpus. */
  def vecsLive(s: SparkSession, dir: String,
      ids: Option[Seq[Long]] = None, resolveAll: Boolean = false,
      asOfGen: Option[Long] = None): DataFrame = {
    val pp = Layout.ProbePartitions
    def probed(all: DataFrame): DataFrame = ids.fold(all) { is =>
      val pbs = is.map(b => (((b % pp) + pp) % pp).toInt).distinct
      val dirPruned = all.filter(col("pb").isin(pbs: _*))
      // small id sets push an exact IN-list into the scan (row-group
      // min-max skipping on the id-sorted files); a large set — the
      // point-fetch cap admits up to 2^18 ids — would make a
      // multi-megabyte literal expression, so past the probe-key cap
      // the exact filter becomes a broadcast semi-join behind the
      // ≤ ProbePartitions-value directory filter instead (the same
      // decline rationale as Layout.pruneToProbe)
      if (is.size <= Layout.ProbeKeyCap)
        dirPruned.filter(col("bucket").isin(is: _*))
      else {
        import s.implicits._
        dirPruned.join(broadcast(is.toDF("bucket")), Seq("bucket"), "left_semi")
      }
    }
    GenStore.live(s, dir, Vecs, identity, resolveAll, asOfGen, Vecs.cols, probed)
  }

  // ------------------------------------------------------ sign-LSH

  /** Write the banded signature index (vec_id, band, bucket) under
    * `gen=0` — the [[Ann.bandedSignatures]] table under maintenance.
    * Deliberately NOT vector-carrying (unlike the IVF assignments): a
    * banded index stores `bands` rows per vector, so riding the vector
    * along would multiply vector storage ×bands — the IVF trade (one
    * row per vector) doesn't transfer, and the banded probe's candidate
    * set is bucket-bounded anyway, so its id-keyed vector fetch joins a
    * small set, not the corpus.
    * The model here is (dim, nPlanes, bands, seed): planes are
    * seed-derived, so the meta persists exactly those four numbers and
    * the read/append paths rebuild the planes WITHOUT touching the
    * corpus — and refuse mismatched parameters instead of silently
    * banding under a different model. Meta written LAST (completion
    * marker). */
  def buildBanded(
      corpus: DataFrame, indexDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nPlanes: Int = 16, bands: Int = 8, seed: Long = 42L,
      batchId: Long = -1L, appendOnly: Boolean = true): Unit = {
    // one bounded action at BUILD time (first row's vector width) — the
    // price of a read path that never needs a corpus action
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    GenStore.build(corpus.sparkSession, Banded, indexDir, batchId, appendOnly,
        Map("dim" -> dim.toString, "np" -> nPlanes.toString,
          "nb" -> bands.toString, "seed" -> seed.toString))(
      Ann.bandedRows(buildRows(corpus, idCol, vecCol, batchId),
          "vec_id", "v", Ann.hyperplanes(nPlanes, dim, seed), bands)
        .select("vec_id", "band", "bucket"))
  }

  /** Band ONLY the delta under the same seeded planes and write it into
    * the next `gen=N` directory (planes from the meta's persisted (dim,
    * nPlanes, bands, seed), validated against the caller's — a mismatch
    * THROWS, it never silently bands a delta under different planes).
    * Banded rows are per-vector, so append ≡ rebuild is exact by
    * construction. One coherent row per id first (a same-id /
    * different-content duplicate would band BOTH versions); its count
    * sizes the range write's fan-out, so a micro-batch lands in one
    * file. `newIds` as in [[appendIvf]]. */
  def appendBanded(
      delta: DataFrame, indexDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nPlanes: Int = 16, bands: Int = 8, seed: Long = 42L,
      newIds: Boolean = false, batchId: Long = -1L): Unit = {
    val one = onePerId(delta, idCol, vecCol)
    GenStore.append(delta.sparkSession, indexDir, newIds, batchId) { m =>
      GenStore.requireKind(m, indexDir, Banded)
      GenStore.requireParam(m, indexDir, "np", nPlanes)
      GenStore.requireParam(m, indexDir, "nb", bands)
      GenStore.requireParam(m, indexDir, "seed", seed)
      val planes = Ann.hyperplanes(nPlanes, m.params("dim").toInt, seed)
      (one, Ann.bandedRows(one, "vec_id", "v", planes, bands)
        .select("vec_id", "band", "bucket"), one.count() * bands)
    }
  }

  /** The LIVE banded rows (vec_id, band, bucket): a re-ingested id's
    * latest generation supersedes its older band rows — the multi-row
    * [[GenStore.live]] view shared with the text postings store: plain
    * read with the optional (band, bucket)-superset probe filter pushed
    * into the scan / BOUNDED resolution over the recorded upsert
    * generations (the filter pushed too) / full latest-gen resolution
    * with the filter strictly after (the resurrect hazard). */
  def bandedRowsLive(s: SparkSession, indexDir: String,
      probe: Option[(Seq[Int], Seq[Long])] = None,
      asOfGen: Option[Long] = None): DataFrame =
    GenStore.live(s, indexDir, Banded,
      df => probe.fold(df) { case (bs, ks) =>
        df.filter(col("band").isin(bs: _*) && col("bucket").isin(ks: _*))
      }, resolveAll = false, asOfGen, Banded.cols, identity)
      .select("vec_id", "band", "bucket")

  /** [[Ann.lshTopK]] through the MAINTAINED banded index: corpus-side
    * bands from the persisted table (joined to the vectors by id),
    * query-side bands on the fly under the same seeded planes — the
    * MODEL comes from the index's own meta (dim included), so the read
    * path touches no corpus action and a caller passing parameters that
    * disagree with the build's gets an exception, never silently
    * different planes. The query set's (band, bucket) keys are
    * collected driver-side and pushed as a superset filter into the
    * banded read — on the range-clustered layout an append-only index
    * reads only matching buckets' row groups, never the whole table.
    * Bit-identical to the registered q30 in-query build (same planes,
    * same candidate set, same exact rerank; AnnIndexSpec pins it). */
  def lshTopKFromIndex(
      s: SparkSession, indexDir: String, corpus: DataFrame, queries: DataFrame,
      k: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      nPlanes: Int = 16, bands: Int = 8, seed: Long = 42L): DataFrame = {
    val meta = GenStore.metaOrThrow(s, indexDir)
    GenStore.requireParam(meta, indexDir, "np", nPlanes)
    GenStore.requireParam(meta, indexDir, "nb", bands)
    GenStore.requireParam(meta, indexDir, "seed", seed)
    val dim = meta.params("dim").toInt
    val planes = Ann.hyperplanes(nPlanes, dim, seed)
    val qBand = Ann.bandedRows(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
        "query_id", "qv", planes, bands)
      .withColumn("qn", Vectors.norm(col("qv")))
    val qKeys = qBand.select("band", "bucket").distinct().collect()
    val probe = (qKeys.map(_.getInt(0)).toSeq.distinct,
      qKeys.map(_.getLong(1)).toSeq.distinct)
    val cBand = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        Vectors.norm(col(vecCol)).as("cn"))
      .join(bandedRowsLive(s, indexDir, probe = Some(probe))
        .select(col("vec_id").as("neighbor_id"), col("band"), col("bucket")),
        "neighbor_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    cBand.join(broadcast(qBand), Seq("band", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "qv", "qn", "neighbor_id", "cv", "cn")
      .distinct()
      .withColumn("sim", Vectors.cosineFromNorms(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }
}
