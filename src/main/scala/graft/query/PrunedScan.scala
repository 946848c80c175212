package graft.query

import graft.build.{BloomIndex, IndexBuilder}
import graft.intervals.{Block, IntervalOps}
import graft.model.IndexType
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

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
  * ONE per-file decision from whatever index covers each file. The data
  * files are listed once and each index root's meta read once — its
  * descriptors and its committed file list come from that one read;
  * every (file, leaf) then gets EVIDENCE from the roots whose fresh
  * descriptor covers the leaf's column — "these byte ranges" or unknown —
  * and the interval algebra folds it through the EQ/AND/OR tree
  * ([[qualify]]). A file whose result is empty is dropped, a kept file
  * whose result is unknown is a fallback file, and the predicate is
  * always re-applied row-level over the survivors.
  *
  * The descriptor's `indexType` picks the evidence reader:
  * {{{
  * POSTINGS_PARQUET  ranges of the value's postings row (Nil: value absent,
  *                   or no committed file of its column); unknown when
  *                   the lookup passes its cap or a committed file is gone
  * BLOOM_PARQUET     EQ leaf only: negative sketch -> Nil, positive ->
  *                   the whole file; unknown without a live sketch or
  *                   when a committed file is gone
  * }}}
  * A leaf with evidence from several roots gets the intersection.
  *
  * Fallback soundness (R3): a file with no fresh descriptor covering a
  * leaf — missing index (a root without a meta), changed length/mtime
  * or checksum, unindexed column — gives unknown for it, exactly like
  * the reference's checksum-mismatch path (`:338-386`): AND with an
  * unknown side is the other side, OR with one is unknown, so pruning
  * only ever drops files the evidence proves irrelevant, never rows.
  *
  * Scale shape: the decision launches no Spark job and lists no index
  * directory. The driver reads the meta, the postings of the predicate's
  * columns (`IndexBuilder.lookupPostings`: value-pruned by parquet
  * min/max and dictionaries thanks to the sorted write), the bloom sketches
  * (`BloomIndex.readSketches`) and the data schema from one footer
  * (`IndexBuilder.dataSchema`) — the same place and the same way the
  * reference prunes (driver-side getSplits opening its MapFile
  * readers). The subsequent data read lists only surviving files, so at
  * 1000x the files the scan plan never touches pruned files' footers at
  * all.
  */
object PrunedScanner extends Logging {

  /** Fold per-leaf evidence through `pred`: `Some(ranges)` are the byte
    * ranges that may match (Nil: provably none), `None` is unknown. AND
    * intersects, and an unknown side leaves the other; OR is the capped
    * union, and unknown when either side is. */
  private[query] def qualify(
      pred: Pred,
      evidence: Pred => Option[Seq[Block]],
      capBytes: Long): Option[Seq[Block]] = pred match {
    case And(l, r) =>
      (qualify(l, evidence, capBytes), qualify(r, evidence, capBytes)) match {
        case (Some(a), Some(b)) => Some(IntervalOps.intersect(a, b))
        case (a, b)             => a.orElse(b)
      }
    case Or(l, r) =>
      for (a <- qualify(l, evidence, capBytes); b <- qualify(r, evidence, capBytes))
        yield IntervalOps.unionCapped(a, b, capBytes)
    case leaf => evidence(leaf)
  }

  /** What one index root says about a (file, leaf). */
  private type Evidence = (IndexBuilder.SourceFile, Pred) => Option[Seq[Block]]

  /** Postings-lookup safety cap: a wide range over a high-cardinality
    * column can match O(files x distinct values) postings rows; past the
    * cap the root's evidence is unknown (sound, never partial) instead of
    * an unbounded driver collect. IN lists are separately capped at
    * translation time (Pred.MaxInValues). */
  val MaxCollectedPostings: Int = 1 << 20

  /** The evidence reader of `root` for `leaves`, or None when no
    * descriptor of the root covers a leaf it can answer (nothing is read
    * past the meta then). Freshness is verified once per file:
    * descriptors built withChecksums also compare the filesystem content
    * checksum, so an mtime-preserving rewrite gives unknown instead of
    * serving stale evidence. */
  private def evidenceOf(
      spark: SparkSession,
      root: String,
      leaves: Seq[Pred],
      maxPostings: Int): Option[Evidence] = {
    val idx = IndexBuilder.readRoot(spark, root)
    val descriptors = idx.fold(Map.empty[String, IndexBuilder.DescriptorRow])(_.descriptors)
    def covered(indexType: String): Set[String] =
      descriptors.values.filter(_.indexType == indexType).flatMap(_.columns).toSet
    val postingsCols = covered(IndexType.PostingsParquet)
    val bloomCols = covered(IndexType.BloomParquet)
    val postingsLeaves = leaves.filter(_.columns.subsetOf(postingsCols))
    val bloomLeaves = leaves.collect { case e @ Eq(c, _) if bloomCols(c) => e }
    if (postingsLeaves.isEmpty && bloomLeaves.isEmpty) return None
    val postings: Option[Map[(String, Pred), Seq[Block]]] =
      if (postingsLeaves.isEmpty) Some(Map.empty)
      else idx.flatMap(IndexBuilder.lookupPostings(spark, _, postingsLeaves, maxPostings + 1)) match {
        case Some(rows) if rows.length <= maxPostings =>
          Some(rows.flatMap(p => p.leaves.map(l => (p.file, l) -> p.ranges))
            .groupBy(_._1)
            .view.mapValues(rs => IntervalOps.normalize(rs.flatMap(_._2)))
            .toMap)
        case found =>
          logWarning(s"PrunedScan: postings of $root " +
            (if (found.isEmpty) "lost a committed file" else s"exceed $maxPostings rows") +
            " — no postings evidence from this root")
          None
      }
    val sketches: Option[Map[(String, String), BloomFilter]] =
      if (bloomLeaves.isEmpty) Some(Map.empty)
      else try idx.map(BloomIndex.readSketches(spark, _, bloomLeaves.map(_.column).toSet))
      catch { case _: java.io.FileNotFoundException =>
        logWarning(s"PrunedScan: blooms of $root lost a committed file — no bloom evidence")
        None
      }
    val fresh = scala.collection.mutable.Map.empty[String, Option[IndexBuilder.DescriptorRow]]
    Some { (f, leaf) =>
      fresh.getOrElseUpdate(f.path, IndexBuilder.freshDescriptorVerified(spark, descriptors, f))
        .filter(d => leaf.columns.subsetOf(d.columns.toSet))
        .flatMap(d => (d.indexType, leaf) match {
          case (IndexType.PostingsParquet, _) => postings.map(_.getOrElse((f.path, leaf), Nil))
          case (IndexType.BloomParquet, Eq(c, v)) =>
            sketches.flatMap(_.get((f.path, c)))
              .map(b => if (b.mightContainString(v)) Seq(Block(0L, f.length)) else Nil)
          case _ => None
        })
    }
  }

  private def evidence(spark: SparkSession, roots: Seq[String], preds: Seq[Pred],
      maxPostings: Int): Seq[Evidence] = {
    val leaves = preds.flatMap(_.leaves).distinct
    roots.flatMap(evidenceOf(spark, _, leaves, maxPostings))
  }

  /** The pruning decision for `pred` with `indexRoot`'s evidence: the
    * files of `dataDir` to read (selected-by-index ++ fallback), plus
    * the report. */
  def selectFiles(
      spark: SparkSession,
      dataDir: String,
      pred: Pred,
      indexRoot: String,
      capBytes: Long = IndexBuilder.DefaultCapBytes): (Seq[String], PruneReport) = {
    val (sel, fb, report) = selectFilesDetailed(spark, dataDir, Seq(pred), Seq(indexRoot), capBytes)._2.head
    (sel ++ fb, report)
  }

  /** Exclusion-oriented decision for the transparent rule
    * ([[graft.plans.GraftPruneRule]]): the files of `dataDir` the
    * evidence of `roots` proves irrelevant to `pred`. The rule subtracts
    * these from the relation's own listing instead of rebuilding it, so
    * a file unknown to this enumeration (raced in by a concurrent
    * writer, listed by a different FileIndex snapshot) is read, never
    * silently dropped. When no descriptor of `roots` covers a leaf the
    * answer is empty and the data files are not listed. */
  def excludedFiles(
      spark: SparkSession,
      dataDir: String,
      pred: Pred,
      roots: Seq[String],
      capBytes: Long = IndexBuilder.DefaultCapBytes): Seq[IndexBuilder.SourceFile] = {
    val t0 = System.nanoTime()
    val evs = evidence(spark, roots, Seq(pred), MaxCollectedPostings)
    if (evs.isEmpty) Nil
    else {
      val (all, Seq((sel, fb, _))) = decide(spark, dataDir, Seq(pred), evs, capBytes, t0)
      val keep = (sel ++ fb).toSet
      all.filterNot(f => keep(f.path))
    }
  }

  /** The decision for many predicates against one dataset with a SINGLE
    * file listing, descriptor read and evidence read per root — what
    * makes a per-key verification sweep (the reference's
    * ScanUsingIndexJob, one scan per unique key) viable. Index-selected
    * and fallback files stay apart: [[verifyCounts]] needs the
    * distinction to avoid materializing values x fallback pairs.
    * `maxPostings` is the postings-lookup cap; only specs lower it. */
  private[query] def selectFilesDetailed(
      spark: SparkSession,
      dataDir: String,
      preds: Seq[Pred],
      roots: Seq[String],
      capBytes: Long,
      maxPostings: Int = MaxCollectedPostings)
      : (Seq[IndexBuilder.SourceFile], Seq[(Seq[String], Seq[String], PruneReport)]) = {
    val t0 = System.nanoTime()
    decide(spark, dataDir, preds, evidence(spark, roots, preds, maxPostings), capBytes, t0)
  }

  private def decide(
      spark: SparkSession,
      dataDir: String,
      preds: Seq[Pred],
      evs: Seq[Evidence],
      capBytes: Long,
      t0: Long): (Seq[IndexBuilder.SourceFile], Seq[(Seq[String], Seq[String], PruneReport)]) = {
    val files = IndexBuilder.listDataFiles(spark, dataDir)
    // a leaf's evidence is the intersection of every root's; unknown
    // when no root has any
    def leafEvidence(f: IndexBuilder.SourceFile)(leaf: Pred): Option[Seq[Block]] =
      evs.flatMap(_(f, leaf)).reduceOption(IntervalOps.intersect)
    // shared listing/lookup time amortized across the batch so summing
    // per-pred pruneTimeMs over a 1000-key sweep doesn't report the one
    // shared lookup a thousand times
    val sharedMs = (System.nanoTime() - t0) / 1000000 / math.max(preds.size, 1)
    files -> preds.map { pred =>
      val tp = System.nanoTime()
      val verdicts = files.map(f => f -> qualify(pred, leafEvidence(f), capBytes))
      val selected = verdicts.collect { case (f, Some(r)) if r.nonEmpty => f }
      val fallback = verdicts.collect { case (f, None) => f }
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
    if (betweenUnsound)
      logWarning(s"PrunedScan $dataDir: BETWEEN over a non-integral column " +
        s"in $pred — index pruning skipped, scanning fully")
    val roots = if (betweenUnsound) Nil else Seq(indexRoot)
    val (sel, fb, report) = selectFilesDetailed(spark, dataDir, Seq(pred), roots, capBytes)._2.head
    val toRead = sel ++ fb
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
      spark, dataDir, values.map(v => Eq(column, v): Pred), Seq(indexRoot), capBytes)._2
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
    val path = udf(IndexBuilder.renderedPath _)
    def read(paths: Seq[String]): DataFrame =
      spark.read.schema(schema).parquet(paths: _*)
    val parts = Seq(
      if (selFiles.isEmpty) None
      else Some(read(selFiles)
        .select(col(column).cast("string").as("value"),
          path(col("_metadata.file_path")).as("file"))
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
