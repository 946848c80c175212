package graft.streaming

import graft.build.{Commit, GenStore, IndexBuilder}
import graft.similarity.AnnIndex
import graft.text.PostingsStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental index maintenance as a Structured Streaming job — the
  * extension SURVEY.md §2.9/§7.3-M8 plans on top of the reference (which
  * is batch-only; its operational mode was re-running the indexing job
  * and skipping files with `hasPreviousIndex`,
  * `AbstractBlockIndexingJob.java:359-364`).
  *
  * The file-source stream provides discovery and exactly-once batch
  * semantics over arriving files; each micro-batch triggers an
  * incremental build that indexes exactly the not-yet-fresh files and
  * appends gen-stamped postings (see IndexBuilder.buildIncremental —
  * idempotent, so replayed batches after a crash are no-ops).
  *
  * `Trigger.AvailableNow` drains everything currently present and
  * stops — the catch-up/cron shape. Pass a processing-time trigger for
  * continuous maintenance.
  */
object IndexMaintenance extends org.apache.spark.internal.Logging {

  /** The IN-STREAM compact's corpus, resolved by INGEST ORDER: the
    * source directory legitimately holds BOTH versions of a re-ingested
    * id (the undeclared-re-ingest scenario this API supports with
    * `assumeNewIds = false`), and the builds' content-max dedup pick
    * would silently prefer whichever version sorts higher — a compact
    * could REVERT an id to older content and diverge from the
    * pre-compact live view, which correctly serves the latest
    * generation (the r18 advisor's finding). Ingest order is the
    * file-source stream's own order: files are discovered by
    * modification time, so the row from the id's most recently
    * modified file IS the one the stream delivered last — resolved here
    * with one id-keyed reduce over `(file_modification_time, content)`
    * (the timestamp leads; content max only tie-breaks same-timestamp
    * files, deterministically). Output is one row per id, so the
    * build's own dedup pick downstream is a stable no-op. */
  private[graft] def ingestResolved(spark: SparkSession, dir: String,
      idCol: String): DataFrame = {
    val df = spark.read.parquet(dir)
      .withColumn("_mt", col("_metadata.file_modification_time"))
    val dataCols = df.columns.toSeq.filter(c => c != idCol && c != "_mt")
    df.groupBy(idCol)
      .agg(max(struct(col("_mt") +: dataCols.map(col): _*)).as("m"))
      .select(col(idCol) +: dataCols.map(c => col(s"m.$c").as(c)): _*)
  }

  /** The full in-stream compact corpus: the source resolved by ingest
    * order ([[ingestResolved]]) MINUS the store's currently-retired
    * (tombstoned) keys — the source directory still physically holds
    * deleted ids' rows, and a compact that read it unfiltered would
    * RESURRECT every takedown applied since the last compact (the
    * deletes-feed counterpart of the ingest-order fix). Both legs are
    * compact-scale: one id-keyed reduce + one anti-join, paid only
    * when compactAt triggers. */
  private def compactCorpus(spark: SparkSession, srcDir: String,
      idCol: String, retired: DataFrame): DataFrame =
    ingestResolved(spark, srcDir, idCol)
      .join(retired.toDF(idCol), Seq(idCol), "left_anti")

  /** In-stream compaction dispatch (r19): with `retainGens > 0` a
    * triggered compaction becomes a HORIZON squash through
    * `head - retainGens` instead of the full source rebuild — the
    * stream maintains a REPRODUCIBILITY WINDOW: the last `retainGens`
    * generations stay readable as-of while the prefix's read/storage
    * cost is reclaimed ([[GenStore.compactThrough]], whose descriptor
    * the store's own meta names). The squash never touches the source
    * directory, so the undelivered-batch hazard that forces the full
    * in-stream compact to stamp itself untrusted does not apply, and
    * tombstones/takedowns resolve by construction (state-at-h is the
    * resolved state, later delete generations survive byte-identical).
    * Trades vs the full compact, made explicit by the knob: the squash
    * keeps the BUILD-TIME model (IVF/PQ centroids are not retrained —
    * pick 0 when the trigger is geometric drift, not history cost) and
    * the retained window's live rows stay counted as append rows, so
    * staleness floors at the window's steady-state fraction — set
    * `compactAt` above it or the squash re-triggers every batch. A
    * history still shallower than the window skips (logged). */
  private def compactOrSquash(spark: SparkSession, dir: String,
      retainGens: Int, batchId: Long, what: String)(full: => Unit): Unit =
    if (retainGens > 0) {
      val m = GenStore.metaOrThrow(spark, dir)
      val h = m.gen - 1 - retainGens
      if (h > GenStore.horizonOf(m)) {
        GenStore.compactThrough(spark, dir, h)
        logInfo(s"IndexMaintenance $what batch $batchId: horizon-squashed " +
          s"through gen $h (retained window $retainGens)")
      } else logInfo(s"IndexMaintenance $what batch $batchId: squash " +
        s"skipped — history no deeper than the $retainGens-gen window")
    } else full

  /** The maintenance loop every maintained store shares: each
    * micro-batch of `srcDir`
    *  - BUILDS against a missing store — decided by the `_INDEX_META`
    *    completion marker the build commits LAST, so a crash mid-build
    *    replays as a build (which writes a fresh version over the
    *    leftover), never as an append onto missing state;
    *  - SKIPS a batch already recorded in the meta (the checkpoint
    *    commits after the meta, so a recorded batch is fully applied);
    *  - otherwise APPENDS (a crash between the gen-dir write and the
    *    meta update replays into the SAME reserved generation directory
    *    with overwrite semantics — file-idempotent), and once the O(1)
    *    staleness counters reach `compactAt > 0`, compacts in-stream:
    *    `build` again over the source as present NOW minus the store's
    *    retired keys — a new version beside the live one — stamped with
    *    this batch id so a post-commit crash replays as a skip. The
    *    snapshot may cover batches the checkpoint has not delivered
    *    (they re-append later as `newIds` duplicates), so the compacting
    *    build gets `appendOnly = false` and stamps upserts-possible-and-
    *    untrusted IN ITS OWN meta commit — a separate flag write after
    *    it would leave a crash window where a replay sees the batch
    *    recorded, skips, and the flag never lands. The first build gets
    *    `appendOnly = true`. `retainGens > 0` squashes instead
    *    ([[compactOrSquash]]). */
  private def maintain(spark: SparkSession, srcDir: String, storeDir: String,
      checkpointDir: String, idCol: String, what: String, compactAt: Double,
      retainGens: Int)(build: (DataFrame, Long, Boolean) => Unit,
      append: (DataFrame, Long) => Unit): StreamingQuery = {
    val schema = IndexBuilder.dataSchema(spark, srcDir)
    spark.readStream.schema(schema).parquet(srcDir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!GenStore.isComplete(spark, storeDir)) {
          build(batch, batchId, true)
          logInfo(s"IndexMaintenance $what batch $batchId: build")
        } else if (batchId <= GenStore.lastAppliedBatch(spark, storeDir)) {
          logInfo(s"IndexMaintenance $what batch $batchId: replay, skipped")
        } else {
          append(batch, batchId)
          logInfo(s"IndexMaintenance $what batch $batchId: append")
          if (compactAt > 0 && GenStore.staleness(spark, storeDir) >= compactAt)
            compactOrSquash(spark, storeDir, retainGens, batchId, what) {
              build(compactCorpus(spark, srcDir, idCol,
                GenStore.retiredIds(spark, storeDir)), batchId, false)
              logInfo(s"IndexMaintenance $what batch $batchId: compacted")
            }
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  def runAvailableNow(
      spark: SparkSession,
      dataDir: String,
      columns: Seq[String],
      indexRoot: String,
      checkpointDir: String,
      capBytes: Long = IndexBuilder.DefaultCapBytes): StreamingQuery = {
    val schema = IndexBuilder.dataSchema(spark, dataDir)
    val stream = spark.readStream.schema(schema).parquet(dataDir)
    stream.writeStream
      .foreachBatch { (_: DataFrame, batchId: Long) =>
        val indexed = IndexBuilder.buildIncremental(spark, dataDir, columns, indexRoot, capBytes)
        if (indexed.nonEmpty)
          logInfo(s"IndexMaintenance batch $batchId: indexed ${indexed.size} file(s)")
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming maintenance of the IVF ANN index — the vector twin of
    * [[runAvailableNow]]: new embedding files stream in, and each
    * micro-batch delta-assigns its vectors under the index's PERSISTED
    * centroids and appends them gen-stamped
    * (`AnnIndex.appendIvf` — map-only, no retrain, no base re-scan).
    * The first batch against a missing index trains and builds it.
    *
    * Exactly-once composition, crash case by crash case:
    *  - build-vs-append is decided by `GenStore.isComplete` — the
    *    `_INDEX_META` completion marker buildIvf commits LAST — so a
    *    crash between the centroid and assignment writes replays as a
    *    BUILD (a fresh version over the leftover), never as an append
    *    onto missing state;
    *  - a batch already recorded in the meta (`lastAppliedBatch`)
    *    replays as a no-op — the checkpoint committed after the meta,
    *    so a recorded batch is fully applied;
    *  - a crash between the gen-dir append and the meta update replays
    *    the append into the SAME reserved generation directory with
    *    overwrite semantics — file-idempotent, no duplicate rows.
    * `assumeNewIds = true` declares the stream's ids new by
    * construction (dated ingest files — the common case), which keeps
    * the index append-only and its live views plain reads; the default
    * conservatively routes readers through upsert resolution.
    *
    * `compactAt > 0` closes the lifecycle in-stream: after an append
    * pushes [[GenStore.staleness]] (the append-row
    * fraction — O(1) from the meta's row counters since r17, so the
    * per-batch decision never scans the index) past the threshold, the
    * index is retrained and rewritten
    * at gen 0 over the corpus as currently present in `vecDir` — the
    * drift-budget compaction FAISS deployments schedule out-of-band,
    * here riding the same exactly-once batch bookkeeping. Compaction is
    * `AnnIndex.buildIvf` again — a new version beside the live one,
    * switched in by its meta commit: a crash before the commit leaves
    * the old index intact and its batch bookkeeping replays the trigger
    * batch, and no step renames anything. Because the vecDir snapshot may
    * include files of batches the checkpoint has not yet delivered —
    * which will later re-append as duplicate content — an in-stream
    * compact marks the index upsert-possible (reads resolve latest-gen;
    * content-identical duplicates collapse), and plain reads return
    * with the next BATCH-side compact once the stream is drained. 0
    * (default) keeps compaction a batch-side decision, exactly like
    * postings compaction. */
  def runIvfAvailableNow(
      spark: SparkSession,
      vecDir: String,
      indexDir: String,
      checkpointDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nlist: Int = 16,
      assumeNewIds: Boolean = false,
      compactAt: Double = 0.0,
      retainGens: Int = 0): StreamingQuery =
    maintain(spark, vecDir, indexDir, checkpointDir, idCol, "IVF", compactAt,
        retainGens)(
      (b, id, plain) => AnnIndex.buildIvf(b, indexDir, idCol, vecCol, nlist,
        batchId = id, appendOnly = plain),
      (b, id) => AnnIndex.appendIvf(b, indexDir, idCol, vecCol,
        newIds = assumeNewIds, batchId = id))

  /** Streaming maintenance of the CODE-CARRYING IVF-PQ index — the
    * storage-bounded twin of [[runIvfAvailableNow]] (FAISS IVFADC:
    * generations store `nSub` small ints per vector, ~2% of the float
    * bytes). Each micro-batch assigns its vectors' cells under the
    * persisted centroids AND their codes under the persisted CODEBOOK
    * (`AnnIndex.appendIvfPq` — both pure per-row functions, the PQ
    * parameters come from the index's own meta so a drifted job config
    * cannot mis-code a delta). The first batch trains both models and
    * builds. Exactly-once composition is IDENTICAL to the IVF twin
    * (same meta protocol, same crash cases); an in-stream compact
    * retrains BOTH models inside its new version — codes and codebook
    * are committed together or not at all — and stamps
    * upserts-possible-and-untrusted in its own meta, exactly like the
    * other twins and for the same undelivered-batch reason. */
  def runIvfPqAvailableNow(
      spark: SparkSession,
      vecDir: String,
      indexDir: String,
      checkpointDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nlist: Int = 16,
      nSub: Int = 8,
      subDim: Int = 8,
      nCent: Int = 16,
      assumeNewIds: Boolean = false,
      compactAt: Double = 0.0,
      retainGens: Int = 0): StreamingQuery =
    maintain(spark, vecDir, indexDir, checkpointDir, idCol, "IVF-PQ", compactAt,
        retainGens)(
      (b, id, plain) => AnnIndex.buildIvfPq(b, indexDir, idCol, vecCol, nlist, nSub,
        subDim, nCent, batchId = id, appendOnly = plain),
      (b, id) => AnnIndex.appendIvfPq(b, indexDir, idCol, vecCol,
        newIds = assumeNewIds, batchId = id))

  /** Streaming maintenance of the POINT-FETCH VECTOR STORE — the r17
    * twin completing the set: every persisted structure (postings,
    * raw-IVF, banded, IVF-PQ, vecs) now has batch AND streaming
    * maintenance. Each micro-batch writes its vectors into their known
    * `pb` directories of a new generation (`AnnIndex.appendVecs` — the
    * id→pb mapping is a pure per-row function, O(|delta|), nothing of
    * the base read or written); the first batch against a missing store
    * builds it. Exactly-once composition is IDENTICAL to the index
    * twins (same meta protocol, same crash cases: completion marker
    * decides build-vs-append, recorded batches replay as skips, a
    * crashed append replays into the same overwritten gen dir, a
    * compaction is committed whole or not at all). `compactAt > 0` bounds
    * the long-run generation/file fan-out via the same O(1) staleness
    * counters; an in-stream compact stamps
    * upserts-possible-and-untrusted in its own meta commit — and the
    * untrusted fetch regime stays a pruned point read, because the id
    * filter commutes with the latest-gen reduce (`AnnIndex.vecsLive`). */
  def runVecsAvailableNow(
      spark: SparkSession,
      vecDir: String,
      storeDir: String,
      checkpointDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      assumeNewIds: Boolean = false,
      compactAt: Double = 0.0,
      retainGens: Int = 0): StreamingQuery =
    maintain(spark, vecDir, storeDir, checkpointDir, idCol, "vecs", compactAt,
        retainGens)(
      (b, id, plain) => AnnIndex.buildVecs(b, storeDir, idCol, vecCol,
        batchId = id, appendOnly = plain),
      (b, id) => AnnIndex.appendVecs(b, storeDir, idCol, vecCol,
        newIds = assumeNewIds, batchId = id))

  /** Streaming maintenance of the TEXT POSTINGS STORE — the r18 twin
    * completing the set again after `PostingsStore` brought the text
    * index under the gen lifecycle: every persisted structure
    * (postings, bloom, raw-IVF, banded, IVF-PQ, vecs, TEXT) now has
    * batch AND streaming maintenance. Each micro-batch tokenizes its
    * documents and appends their postings rows into a new generation
    * (`PostingsStore.append` — tokenization is a pure per-document
    * function, O(|delta|), nothing of the base re-read); the first
    * batch against a missing store builds it. This IS the reference's
    * daily Lucene indexing workload re-expressed as a stream
    * (`StatusesIndexManager.java:42-144`: a new day of statuses → a new
    * index increment, never a corpus rebuild). Exactly-once composition
    * is IDENTICAL to the vector twins (same meta protocol, same crash
    * cases); `compactAt > 0` bounds generation fan-out via the same
    * O(1) exact staleness counters, and an in-stream compact stamps
    * upserts-possible-and-untrusted in its own meta commit. */
  def runTextAvailableNow(
      spark: SparkSession,
      docsDir: String,
      storeDir: String,
      checkpointDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      assumeNewIds: Boolean = false,
      compactAt: Double = 0.0,
      retainGens: Int = 0): StreamingQuery = {
    val fields = Seq("text" -> textCol)
    maintain(spark, docsDir, storeDir, checkpointDir, idCol, "text", compactAt,
        retainGens)(
      (b, id, plain) => PostingsStore.build(b, storeDir, idCol, fields,
        batchId = id, appendOnly = plain),
      (b, id) => PostingsStore.append(b, storeDir, idCol, fields,
        newIds = assumeNewIds, batchId = id))
  }

  /** Streaming maintenance of the BANDED (sign-LSH) ANN index — the
    * banded twin of [[runIvfAvailableNow]], completing the streaming
    * lifecycle for both persisted vector-index structures: new
    * embedding files stream in, each micro-batch bands its vectors
    * under the index's PERSISTED model (dim/planes/bands/seed from the
    * meta — `AnnIndex.appendBanded` validates the caller's parameters
    * against it and throws on mismatch, so a drifted job config cannot
    * silently band a delta under different planes) and appends them
    * gen-stamped. The first batch against a missing index builds it.
    *
    * Exactly-once composition is IDENTICAL to the IVF twin (same meta
    * protocol, same crash cases: completion marker decides
    * build-vs-append, recorded batches replay as skips, a crashed
    * append replays into the same overwritten gen dir, a compaction is
    * committed whole or not at all).
    * Append generations size their file fan-out to the batch, so a
    * micro-batch writes one file — `compactAt > 0` then bounds the
    * long-run generation/file count via [[GenStore.staleness]] +
    * a compacting `buildBanded` (banded rows never drift
    * geometrically — planes are seed-fixed — so the pressure compacted
    * away here is append fan-out and upsert-history read cost, not
    * recall). An in-stream compact marks the result
    * upsert-possible-and-untrusted in its own meta commit, exactly like
    * the IVF twin and for the same undelivered-batch reason. */
  def runBandedAvailableNow(
      spark: SparkSession,
      vecDir: String,
      indexDir: String,
      checkpointDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nPlanes: Int = 16,
      bands: Int = 8,
      seed: Long = 42L,
      assumeNewIds: Boolean = false,
      compactAt: Double = 0.0,
      retainGens: Int = 0): StreamingQuery =
    maintain(spark, vecDir, indexDir, checkpointDir, idCol, "banded", compactAt,
        retainGens)(
      (b, id, plain) => AnnIndex.buildBanded(b, indexDir, idCol, vecCol, nPlanes,
        bands, seed, batchId = id, appendOnly = plain),
      (b, id) => AnnIndex.appendBanded(b, indexDir, idCol, vecCol, nPlanes,
        bands, seed, newIds = assumeNewIds, batchId = id))

  /** Streaming TAKEDOWN maintenance — the deletes twin completing the
    * lifecycle's last CRUD verb (r19): a deletes directory (files of id
    * rows — an opt-out/GDPR feed) streams in, and each micro-batch
    * retires its ids from the target store incrementally
    * ([[GenStore.delete]]: the store's own meta names its descriptor,
    * which names its tombstone encoding). The replay guard is the feed's OWN
    * sibling marker, not the store meta's batch field — that clock
    * belongs to the ingest maintenance stream, and two independent
    * streams sharing it would silently skip each other's batches (see
    * the marker comment below for the crash-window semantics: replayed
    * delete batches are idempotent in effect). A delete stream against
    * a MISSING store fails loudly — there is nothing to retire from,
    * and silently skipping a takedown batch is the one wrong default
    * for this verb. Runs beside `run*AvailableNow(compactAt > 0)`
    * safely: in-stream compacts exclude the store's retired keys from
    * their source-directory rebuild ([[compactCorpus]]), so a compact
    * can never resurrect a takedown whose rows still sit in the
    * source. */
  def runDeletesAvailableNow(
      spark: SparkSession,
      delDir: String,
      storeDir: String,
      checkpointDir: String,
      idCol: String = "vec_id"): StreamingQuery = {
    val schema = IndexBuilder.dataSchema(spark, delDir)
    val stream = spark.readStream.schema(schema).parquet(delDir)
    // The deletes stream keeps its OWN replay clock, a sibling marker
    // beside the store (atomic MetaIO writes): the store meta's `batch`
    // belongs to the INGEST maintenance stream, and two independent
    // streams sharing one clock silently skip each other's batches
    // (batch 0 of a deletes feed is not a replay of ingest batch 0 —
    // the bug this marker exists to prevent). A sibling, not a file
    // inside the store tree, so a compaction's commit can't erase the
    // feed's progress. A crash between the tombstone commit and the
    // marker write replays the delete batch — idempotent in effect
    // (already-retired ids have no live rows to count dead; the extra
    // tombstone generation is dropped by the next compact).
    val marker = new org.apache.hadoop.fs.Path(
      s"${storeDir.stripSuffix("/")}.deletes_batch")
    val conf = Commit.conf(spark)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!GenStore.isComplete(spark, storeDir))
          throw new IllegalStateException(
            s"deletes stream against a missing/partial store at $storeDir: " +
              "build the store first — a takedown must never be silently dropped")
        val applied = graft.build.MetaIO.read(conf, marker)
          .flatMap(_.toLongOption).getOrElse(-1L)
        if (batchId <= applied) {
          logInfo(s"IndexMaintenance deletes batch $batchId: replay, skipped")
        } else {
          GenStore.delete(batch, storeDir, Some(idCol))
          logInfo(s"IndexMaintenance deletes batch $batchId: takedown")
          graft.build.MetaIO.write(conf, marker, batchId.toString)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
