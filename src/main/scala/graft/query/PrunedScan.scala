package graft.query

import graft.build.IndexBuilder
import graft.intervals.{Block, IntervalOps}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What the pruner decided, for observability parity with the reference
  * (R10: splits/bytes before and after, pruning wall time —
  * `BlockIndexedFileInputFormat.java:136-137, 179-185`). */
final case class PruneReport(
    totalFiles: Int,
    selectedFiles: Int,
    fallbackFiles: Int,
    totalBytes: Long,
    selectedBytes: Long,
    pruneTimeMs: Long) {
  def bytesRatio: Double =
    if (selectedBytes == 0) Double.PositiveInfinity
    else totalBytes.toDouble / selectedBytes
}

/** Process-wide pruning telemetry: every pruning decision records its
  * [[PruneReport]] here, and a harness (Bench) can emit one aggregate
  * line per run — the reference's headline observability
  * (`BlockIndexedFileInputFormat.java:179-185` logs splits/bytes
  * before/after and elapsed pruning time per job; this is the per-run
  * rollup of the same counters). Bounded state: four longs and a
  * counter, never the report list itself. */
object PruneStats {
  private val lock = new Object
  private var nScans = 0L
  private var bytesTotal = 0L
  private var bytesRead = 0L
  private var pruneMs = 0L

  private[graft] def record(r: PruneReport): Unit = lock.synchronized {
    nScans += 1
    bytesTotal += r.totalBytes
    bytesRead += r.selectedBytes
    pruneMs += r.pruneTimeMs
  }

  def reset(): Unit = lock.synchronized {
    nScans = 0; bytesTotal = 0; bytesRead = 0; pruneMs = 0
  }

  /** Raw counters (nScans, bytesBefore, bytesAfter, pruneMs), or None
    * when no pruned scan ran — for embedding in a consumer's own JSON
    * (Bench's driver-parsed compact line). */
  def snapshot(): Option[(Long, Long, Long, Long)] = lock.synchronized {
    if (nScans == 0) None else Some((nScans, bytesTotal, bytesRead, pruneMs))
  }

  /** Raw cumulative counters, zeros included — for delta accounting: a
    * harness that re-measures queries (Bench's contention retries)
    * subtracts a before-counters from an after-counters to attribute
    * pruning work to ONE attempt instead of double-counting retries. */
  def counters(): (Long, Long, Long, Long) = lock.synchronized {
    (nScans, bytesTotal, bytesRead, pruneMs)
  }

  /** One compact JSON-ish summary, or None when no pruned scan ran. */
  def summaryLine(): Option[String] = lock.synchronized {
    if (nScans == 0) None
    else {
      val ratio =
        if (bytesRead == 0) Double.PositiveInfinity
        else bytesTotal.toDouble / bytesRead
      Some(f"""{"pruned_scans":$nScans,"bytes_before":$bytesTotal,"bytes_after":$bytesRead,"skip_ratio":$ratio%.2f,"prune_ms":$pruneMs}""")
    }
  }
}

/** Index-consulting scan pruning — the Spark rebuild of the reference's
  * `getSplits` (`retrieval/BlockIndexedFileInputFormat.java:110-187`):
  * evaluate an EQ/AND/OR tree bottom-up over the sparse index
  * (EQ = postings lookup, AND = interval intersection, OR = capped
  * union), keep only files whose resulting posting list is non-empty,
  * and always re-apply the predicate row-level over the survivors.
  *
  * Fallback soundness (R3): a file with no fresh descriptor — missing
  * index, changed length/mtime, or a column of the predicate not
  * indexed — is scanned in full, exactly like the reference's
  * checksum-mismatch path (`:338-386`). Pruning can only *drop* work
  * for provably-non-matching files, never rows.
  *
  * Scale shape: the pruning decision launches no Spark job. The driver
  * reads the postings files of the predicate's columns directly
  * (`IndexBuilder.lookupPostings`: value-pruned by parquet min/max and
  * dictionaries thanks to the sorted write) and the data schema from one
  * footer (`IndexBuilder.dataSchema`) — the same place and the same way
  * the reference prunes (driver-side getSplits opening its MapFile
  * readers). The subsequent data read lists only surviving files, so at
  * 1000x the files the scan plan never touches pruned files' footers at
  * all.
  */
object PrunedScanner extends Logging {

  /** Evaluate `pred` over one file's leaf->postings map. Returns the
    * qualifying byte ranges (empty = file provably has no match).
    * `None` from a leaf lookup means "leaf value absent from this
    * file's index" — for an indexed column that is a definitive empty
    * posting list. */
  private[query] def qualify(
      pred: Pred,
      leafPostings: Map[Pred, Seq[Block]],
      capBytes: Long): Seq[Block] = pred match {
    case And(l, r) =>
      IntervalOps.intersect(
        qualify(l, leafPostings, capBytes),
        qualify(r, leafPostings, capBytes))
    case Or(l, r) =>
      IntervalOps.unionCapped(
        qualify(l, leafPostings, capBytes),
        qualify(r, leafPostings, capBytes),
        capBytes)
    case leaf => leafPostings.getOrElse(leaf, Nil)
  }

  /** The pruning decision alone: which files of `dataDir` must be read
    * for `pred` (selected-by-index ++ fallback), plus the report. Shared
    * by the explicit two-phase scan below and the transparent optimizer
    * rule (graft.plans.GraftPruneRule). */
  /** Postings-collect safety cap (see selectFilesDetailed). */
  val MaxCollectedPostings: Int = 1 << 20

  def selectFiles(
      spark: SparkSession,
      dataDir: String,
      pred: Pred,
      indexRoot: String,
      capBytes: Long = IndexBuilder.DefaultCapBytes): (Seq[String], PruneReport) =
    selectFilesBatch(spark, dataDir, Seq(pred), indexRoot, capBytes).head

  /** Batched pruning decision: many predicates against one dataset with
    * a SINGLE file listing, descriptor read, and postings lookup. This
    * is what makes a per-key verification sweep (the reference's
    * ScanUsingIndexJob, one scan per unique key) viable: the driver
    * work is shared across all keys instead of repeated per key. */
  def selectFilesBatch(
      spark: SparkSession,
      dataDir: String,
      preds: Seq[Pred],
      indexRoot: String,
      capBytes: Long = IndexBuilder.DefaultCapBytes): Seq[(Seq[String], PruneReport)] =
    selectFilesDetailed(spark, dataDir, preds, indexRoot, capBytes)._2
      .map { case (sel, fb, report) => (sel ++ fb, report) }

  /** Exclusion-oriented pruning decision for the transparent rule: the
    * files of `dataDir` PROVABLY irrelevant to `pred` (index-fresh, empty
    * posting list), plus the report. The rule subtracts these from the
    * relation's own listing instead of rebuilding it, so a file unknown
    * to this enumeration (raced in by a concurrent writer, listed by a
    * different FileIndex snapshot) is read, never silently dropped. */
  def excludedFiles(
      spark: SparkSession,
      dataDir: String,
      pred: Pred,
      indexRoot: String,
      capBytes: Long = IndexBuilder.DefaultCapBytes): (Seq[IndexBuilder.SourceFile], PruneReport) = {
    val (all, results) = selectFilesDetailed(spark, dataDir, Seq(pred), indexRoot, capBytes)
    val (sel, fb, report) = results.head
    val keep = (sel ++ fb).toSet
    (all.filterNot(f => keep(f.path)), report)
  }

  /** Like [[selectFilesBatch]] but keeps index-selected and
    * freshness-fallback files apart — [[verifyCounts]] needs the
    * distinction to avoid materializing values x fallback pairs.
    * `maxPostings` is the postings-lookup cap; only specs lower it. */
  private[query] def selectFilesDetailed(
      spark: SparkSession,
      dataDir: String,
      preds: Seq[Pred],
      indexRoot: String,
      capBytes: Long,
      maxPostings: Int = MaxCollectedPostings)
      : (Seq[IndexBuilder.SourceFile], Seq[(Seq[String], Seq[String], PruneReport)]) = {
    val t0 = System.nanoTime()

    val files = IndexBuilder.listDataFiles(spark, dataDir)

    // Fresh descriptors covering every predicate column -> file is
    // prunable. Verified freshness: descriptors built withChecksums also
    // compare the filesystem content checksum (one metadata-cheap FS
    // call per file, memoized below via splitByColumns), so an
    // mtime-preserving rewrite falls back to a full scan of that file
    // instead of serving stale postings.
    val descriptors = IndexBuilder.loadDescriptors(spark, indexRoot)
    val freshCache = scala.collection.mutable.Map.empty[String, Option[IndexBuilder.DescriptorRow]]
    def fresh(f: IndexBuilder.SourceFile): Option[IndexBuilder.DescriptorRow] =
      freshCache.getOrElseUpdate(f.path,
        IndexBuilder.freshDescriptorVerified(spark, descriptors, f))

    // One postings lookup for ALL leaves of ALL predicates at once, on
    // the driver (IndexBuilder.lookupPostings): only the predicate
    // columns' directories are opened, EQ values hit parquet min/max and
    // dictionaries of the sorted postings files, and the exact leaf test
    // is Pred.leafMatches.
    val allLeaves = preds.flatMap(_.leaves).distinct
    val anyPrunable = files.exists(f => fresh(f).isDefined)
    // gen must match the live descriptor: rebuilt files leave stale
    // postings rows behind (append-only index); a mismatched gen means
    // the row describes a previous incarnation of the file.
    // Bounded lookup: a wide range over a high-cardinality column can
    // match O(files x distinct values) postings rows; past the cap the
    // batch degrades to a full scan (sound, never partial) instead of
    // an unbounded driver collect. IN lists are separately capped at
    // translation time (Pred.MaxInValues). A postings root that is
    // missing or swapped during the read (a compaction's renames)
    // degrades the same way: it says nothing about which files match.
    var fullScan = false
    val hits: Map[(String, Pred), Seq[Block]] =
      if (allLeaves.isEmpty || !anyPrunable) Map.empty
      else IndexBuilder.lookupPostings(spark, indexRoot, allLeaves, maxPostings + 1) match {
        case None =>
          logWarning(s"PrunedScan $dataDir: postings of $indexRoot are missing or moved — " +
            "falling back to a full scan for this batch")
          fullScan = true
          Map.empty
        case Some(collected) =>
          fullScan = collected.length > maxPostings
          if (fullScan) {
            logWarning(s"PrunedScan $dataDir: postings lookup exceeded " +
              s"$maxPostings rows for ${allLeaves.size} leaves — " +
              "falling back to a full scan for this batch")
          }
          collected
            .filter(p => descriptors.get(p.file).exists(_.modificationTime == p.gen))
            .flatMap(p => p.leaves.map(l => (p.file, l) -> p.ranges))
            .groupBy(_._1)
            .view.mapValues(rs => IntervalOps.normalize(rs.flatMap(_._2)))
            .toMap
      }
    // shared listing/lookup time amortized across the batch so summing
    // per-pred pruneTimeMs over a 1000-key sweep doesn't report the one
    // shared lookup a thousand times
    val sharedMs = (System.nanoTime() - t0) / 1000000 / math.max(preds.size, 1)

    // the prunable/fallback split depends only on the predicate's
    // column set — memoized so a per-key sweep (1000s of same-column
    // predicates) partitions the file list once, not once per key
    val splitByColumns =
      scala.collection.mutable.Map.empty[Set[String], (Seq[IndexBuilder.SourceFile], Seq[IndexBuilder.SourceFile])]
    files -> preds.map { pred =>
      val tp = System.nanoTime()
      val (prunable, fallback) = splitByColumns.getOrElseUpdate(pred.columns,
        if (fullScan) (Seq.empty, files)
        else files.partition(f =>
          fresh(f).exists(d => pred.columns.forall(d.columns.contains))))
      val leaves = pred.leaves.distinct
      val selected = prunable.filter { f =>
        val leafMap = leaves.map(l => l -> hits.getOrElse((f.path, l), Nil)).toMap
        qualify(pred, leafMap, capBytes).nonEmpty
      }
      val report = PruneReport(
        totalFiles = files.size,
        selectedFiles = selected.size,
        fallbackFiles = fallback.size,
        totalBytes = files.map(_.length).sum,
        selectedBytes = (selected ++ fallback).map(_.length).sum,
        pruneTimeMs = sharedMs + (System.nanoTime() - tp) / 1000000)
      logInfo(s"PrunedScan $dataDir pred=$pred: " +
        s"files ${report.selectedFiles}+${report.fallbackFiles}fallback/${report.totalFiles}, " +
        s"bytes ${report.selectedBytes}/${report.totalBytes} " +
        s"(ratio ${report.bytesRatio}), ${report.pruneTimeMs} ms")
      PruneStats.record(report)
      (selected.map(_.path), fallback.map(_.path), report)
    }
  }

  /** `residual` overrides the row-level re-check when the index key is
    * derived rather than a physical column (e.g. the block text index
    * keys on tokens). It must be implied by `pred` for soundness. */
  def scanWithReport(
      spark: SparkSession,
      dataDir: String,
      pred: Pred,
      indexRoot: String,
      capBytes: Long = IndexBuilder.DefaultCapBytes,
      residual: Option[org.apache.spark.sql.Column] = None): (DataFrame, PruneReport) = {
    val schema = IndexBuilder.dataSchema(spark, dataDir)
    // Between pruning is proven sound only for INTEGRAL columns (their
    // stringified keys round-trip exactly through BigDecimal); on any
    // other column type — or one absent from the schema — skip pruning
    // entirely and let the residual do the work over a full scan. The
    // Catalyst translation only ever produces integral Betweens; this
    // guards hand-built predicates.
    def integral(t: org.apache.spark.sql.types.DataType): Boolean = t match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val betweenUnsound = pred.leaves.exists {
      case Between(c, _, _, _, _) =>
        !schema.find(_.name == c).exists(f => integral(f.dataType))
      case _ => false
    }
    val (toRead, report) =
      if (betweenUnsound) {
        logWarning(s"PrunedScan $dataDir: BETWEEN over a non-integral column " +
          s"in $pred — index pruning skipped, scanning fully")
        val files = IndexBuilder.listDataFiles(spark, dataDir)
        (files.map(_.path), PruneReport(files.size, 0, files.size,
          files.map(_.length).sum, files.map(_.length).sum, 0))
      } else selectFiles(spark, dataDir, pred, indexRoot, capBytes)
    val df =
      if (toRead.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(toRead: _*)
    // Residual row-level re-check is mandatory: block pruning is coarse
    // (BlockIndexedFileInputFormat.java:669-679). The schema-aware form
    // keeps the filter parquet-pushable (row-group min/max + dictionary
    // skipping) on typed columns. When Bench's untimed observability
    // pass has a label set (ScanMetrics.withObservation), the residual
    // is wrapped with scanned/qualified counters instead — that plan
    // loses residual pushdown, which is exactly why it is opt-in.
    val resCol = residual.getOrElse(pred.toColumnFor(schema))
    val filtered = ScanMetrics.nextObservationName() match {
      case Some(n) => ScanMetrics.observed(df, resCol, name = n)
      case None => df.filter(resCol)
    }
    (filtered, report)
  }

  def scan(spark: SparkSession, dataDir: String, pred: Pred, indexRoot: String): DataFrame =
    scanWithReport(spark, dataDir, pred, indexRoot)._1

  /** Port of the reference's full verification sweep
    * (`retrieval/ScanUsingIndexJob.java:45-80`,
    * `verification/IndexScanMapper.java:22-95`): for every unique value
    * of `column` in the index, count matching rows THROUGH THE INDEX
    * PATH; the output `(value, n)` is diffed against a full-scan
    * group-by. The reference runs one scan per key and documents the
    * cost (">10000 unique keys" warning); here the per-key prune
    * decisions share one batched index lookup and the counts run as ONE
    * job over the union of pruned file sets. Per-key scan semantics are
    * preserved exactly — a row counts toward key v only if its file is
    * in v's pruned set — so an unsound index (a file wrongly pruned for
    * v) still surfaces as a count mismatch even when another key's set
    * includes that file. */
  def verifyCounts(
      spark: SparkSession,
      dataDir: String,
      column: String,
      indexRoot: String,
      capBytes: Long = IndexBuilder.DefaultCapBytes): DataFrame = {
    import spark.implicits._
    val values = IndexBuilder.postings(spark, indexRoot)
      .filter(col("column") === column)
      .select("value").distinct().as[String].collect().sorted.toIndexedSeq
    val sets = selectFilesDetailed(
      spark, dataDir, values.map(v => Eq(column, v): Pred), indexRoot, capBytes)._2
    // Index-SELECTED (value, file) pairs only: their count is bounded by
    // the postings rows the driver already holds. FALLBACK files (same
    // set for every key — the split depends only on the column) are
    // handled without materializing values x files pairs: every row of a
    // fallback file counts toward its own value, exactly what the
    // per-key loop's residual filter would do, restricted to keys the
    // index knows.
    val selMembership = values.zip(sets).flatMap { case (v, (sel, _, _)) =>
      sel.map(f => (v, f)) }
    val fallbackFiles = sets.headOption.map(_._2).getOrElse(Nil)
    val selFiles = sets.flatMap(_._1).distinct
    val valuesDf = spark.createDataset(values).toDF("value")
    val schema = IndexBuilder.dataSchema(spark, dataDir)
    val canon = selFiles.headOption
      .map(p => IndexBuilder.canonicalizeExpr(spark,
        IndexBuilder.SourceFile(p, 0L, 0L)))
      .getOrElse { val u = udf((p: String) => IndexBuilder.canonicalPath(p))
        (c: org.apache.spark.sql.Column) => u(c) }
    def read(paths: Seq[String]): DataFrame =
      spark.read.schema(schema).parquet(paths: _*)
    val parts = Seq(
      if (selFiles.isEmpty) None
      else Some(read(selFiles)
        .select(col(column).cast("string").as("value"),
          canon(col("_metadata.file_path")).as("file"))
        .join(broadcast(selMembership.toDF("value", "file")), Seq("value", "file"))
        .select("value")),
      if (fallbackFiles.isEmpty) None
      else Some(read(fallbackFiles)
        .select(col(column).cast("string").as("value"))
        .join(broadcast(valuesDf), Seq("value"), "left_semi"))
    ).flatten
    if (parts.isEmpty) return valuesDf.withColumn("n", lit(0L))
    val counted = parts.reduce(_ unionByName _)
      .groupBy("value").agg(count(lit(1)).as("n"))
    // keys whose postings pruned every file still report (zero) counts,
    // as the per-key loop would
    valuesDf.join(counted, Seq("value"), "left")
      .select(col("value"), coalesce(col("n"), lit(0L)).as("n"))
  }
}
