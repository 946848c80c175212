package graft.build

import graft.query.{Eq, Pred, PruneReport}
import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file bloom-filter skipping index — an EXTENSION beyond the
  * reference (which only ships the value→byte-range postings index):
  * for high-cardinality columns, enumerating every distinct value in a
  * postings table costs O(distinct values × files), while a bloom
  * filter answers the only question EQ pruning needs — "might this
  * file contain the value?" — in a few KB per file regardless of
  * cardinality. This is the modern lakehouse data-skipping shape
  * (Parquet bloom filters / Delta-style file skipping), rebuilt on the
  * same freshness machinery as the sparse index.
  *
  * Soundness is the bloom contract itself: no false negatives, so a
  * pruned file provably contains no matching row; false positives only
  * cost extra reads. Stale files (descriptor fingerprint mismatch) fall
  * back to a full scan exactly like the postings index.
  *
  * Layout:
  * {{{
  * bloomRoot/blooms/part-*.parquet       (file, column, bloom, gen)
  * bloomRoot/descriptors/part-*.parquet  IndexBuilder.DescriptorRow
  * }}}
  *
  * Build = ONE pass over the data: explode (column, value) pairs,
  * aggregate a bloom per (file, column) with [[BloomAgg]] (map-side
  * partials merge with `mergeInPlace`, so the shuffle carries one
  * sketch per partition, not per row).
  */
object BloomIndex extends Logging {

  /** ~100k expected items x 3% fpp ≈ 90 KB per (file, column) sketch. */
  val DefaultExpectedItems: Long = 100000L
  val DefaultFpp: Double = 0.03

  final case class BloomRow(file: String, column: String, bloom: Array[Byte], gen: Long)

  def bloomsDir(root: String): String = s"$root/blooms"

  /** Serializable bloom-building UDAF over stringified values. */
  final case class BloomAgg(expectedItems: Long, fpp: Double)
      extends Aggregator[String, BloomFilter, Array[Byte]] {
    override def zero: BloomFilter = BloomFilter.create(expectedItems, fpp)
    override def reduce(b: BloomFilter, v: String): BloomFilter = {
      if (v != null) b.putString(v); b
    }
    override def merge(a: BloomFilter, b: BloomFilter): BloomFilter = {
      a.mergeInPlace(b); a
    }
    override def finish(b: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos)
      bos.toByteArray
    }
    override def bufferEncoder: Encoder[BloomFilter] = Encoders.kryo[BloomFilter]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Build (or refresh) blooms for `columns` over the dataset.
    * INCREMENTAL like the postings index: only files with no fresh
    * descriptor are read (a daily one-file append costs one file's
    * scan, not the corpus), their bloom rows are APPENDED gen-stamped,
    * and [[selectFiles]]' gen filter makes superseded rows inert.
    * `overwrite` forces a full rebuild. */
  def build(
      spark: SparkSession,
      dataDir: String,
      columns: Seq[String],
      bloomRoot: String,
      expectedItems: Long = DefaultExpectedItems,
      fpp: Double = DefaultFpp,
      overwrite: Boolean = false,
      withChecksums: Boolean = false): Unit = {
    require(columns.nonEmpty)
    val files = IndexBuilder.listDataFiles(spark, dataDir)
    val existing =
      if (overwrite) Map.empty[String, IndexBuilder.DescriptorRow]
      else IndexBuilder.loadDescriptors(spark, bloomRoot)
    // VERIFIED freshness, shared with the prevCols union below: the
    // build side must agree with selectFiles' verified check, or a
    // checksum-stale file would never rebuild while every query full-
    // scans it (permanent fallback with no path to recovery)
    val verifiedFresh: Map[String, Option[IndexBuilder.DescriptorRow]] =
      files.map(f =>
        f.path -> IndexBuilder.freshDescriptorVerified(spark, existing, f)).toMap
    val stale = files.filterNot(f =>
      verifiedFresh(f.path).exists(d => columns.forall(d.columns.contains)))
    if (stale.isEmpty) return
    import spark.implicits._
    val df = spark.read.parquet(stale.map(_.path): _*)
    val kvs = array(columns.map(c =>
      struct(lit(c).as("column"), col(c).cast("string").as("value"))): _*)
    val canonical = IndexBuilder.canonicalizeExpr(spark, stale.head)
    val bloomAgg = udaf(BloomAgg(expectedItems, fpp))
    val gens = spark.createDataset(stale)
      .select(col("path").as("file"), col("modificationTime").as("gen"))
    df.select(explode(kvs).as("kv"),
        canonical(col("_metadata.file_path")).as("file"))
      .select(col("file"), col("kv.column").as("column"), col("kv.value").as("value"))
      .groupBy("file", "column")
      .agg(bloomAgg(col("value")).as("bloom"))
      .join(broadcast(gens), "file")
      .write.mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .parquet(bloomsDir(bloomRoot))
    val currentPaths = files.map(_.path).toSet
    val stalePaths = stale.map(_.path).toSet
    val kept = existing.values.toSeq
      .filter(d => currentPaths.contains(d.sourcePath) && !stalePaths.contains(d.sourcePath))
    // a file re-indexed only because a NEW column was requested is
    // CONTENT-fresh (verified): its previous columns' gen-valid blooms
    // survive, so the descriptor keeps the UNION (dropping them would
    // thrash full-corpus rebuilds when builds alternate column sets).
    // Content-stale files keep nothing.
    val refreshed = IndexBuilder.descriptorRows(spark, stale, Seq.empty,
        withChecksums, graft.model.IndexType.BloomParquet)
      .map { d =>
        val prevCols = verifiedFresh.getOrElse(d.sourcePath, None)
          .map(_.columns).getOrElse(Seq.empty)
        d.copy(columns = (prevCols ++ columns).distinct)
      }
    IndexBuilder.writeDescriptors(spark, kept ++ refreshed, bloomRoot)
  }

  /** Drop bloom rows for deleted files and superseded generations and
    * rewrite — the maintenance twin of `IndexBuilder.compact` (the
    * append-only build otherwise accumulates a dead ~90 KB sketch per
    * rebuild per column forever). Returns (rowsBefore, rowsAfter). */
  def compact(spark: SparkSession, bloomRoot: String): (Long, Long) = {
    import spark.implicits._
    val descs = IndexBuilder.loadDescriptors(spark, bloomRoot)
    val live = spark.createDataset(
      descs.values.map(d => (d.sourcePath, d.modificationTime)).toSeq)
      .toDF("file", "gen")
    val all = spark.read.parquet(bloomsDir(bloomRoot))
    val before = all.count()
    val staging = s"$bloomRoot/blooms_compacting"
    // same-gen duplicates (a content-fresh file re-indexed for an added
    // column re-emits its other columns) are byte-identical — bloom
    // bits are an order-independent OR — so dropDuplicates is safe
    all.join(broadcast(live), Seq("file", "gen"), "left_semi")
      .dropDuplicates("file", "column", "gen")
      .write.mode(SaveMode.Overwrite).parquet(staging)
    val fs = new Path(bloomRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    IndexBuilder.stagedSwap(fs, new Path(staging),
      new Path(bloomsDir(bloomRoot)), new Path(s"$bloomRoot/blooms_old"))
    spark.catalog.refreshByPath(bloomsDir(bloomRoot))
    val after = spark.read.parquet(bloomsDir(bloomRoot)).count()
    (before, after)
  }

  /** Which files must be read for an EQ leaf: bloom-negative fresh
    * files are pruned; stale/uncovered files fall back — the listing
    * minus [[excludedFilesForPred]]'s provably-irrelevant files. */
  def selectFiles(
      spark: SparkSession,
      dataDir: String,
      pred: Eq,
      bloomRoot: String): (Seq[String], PruneReport) = {
    val (excluded, report) = excludedFilesForPred(spark, dataDir, pred, bloomRoot)
    val out = excluded.map(_.path).toSet
    (IndexBuilder.listDataFiles(spark, dataDir).map(_.path).filterNot(out), report)
  }

  /** Exclusion-oriented decision for the transparent rule
    * ([[graft.plans.GraftPruneRule]] — the postings-index
    * `PrunedScanner.excludedFiles` convention): the files PROVABLY
    * irrelevant to the EQ leaf (fresh bloom, negative membership), plus
    * the report. The rule subtracts these from the relation's own
    * listing, so a file unknown to this enumeration is read, never
    * silently dropped. */
  def excludedFiles(
      spark: SparkSession,
      dataDir: String,
      pred: Eq,
      bloomRoot: String): (Seq[IndexBuilder.SourceFile], PruneReport) =
    excludedFilesForPred(spark, dataDir, pred, bloomRoot)

  /** WHOLE-PREDICATE bloom decision for the transparent rule: a file is
    * excluded when the bloom evidence PROVES the predicate tree false
    * for it. The proof calculus is the bloom contract folded through
    * the tree — an EQ leaf on a fresh, covered column whose sketch is
    * NEGATIVE is provably false for that file (no false negatives);
    * every other leaf (uncovered column, stale file, range) proves
    * nothing; `AND` is false if EITHER side is provably false, `OR`
    * only if BOTH are. This strictly generalizes per-conjunct EQ
    * skipping: an IN-list / OR-of-EQ probe over a bloom column — the
    * common high-cardinality shape — excludes every file negative for
    * ALL its disjuncts, which conjunct-only composition cannot see. */
  def excludedFilesForPred(
      spark: SparkSession,
      dataDir: String,
      pred: Pred,
      bloomRoot: String): (Seq[IndexBuilder.SourceFile], PruneReport) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val eqCols = pred.leaves.collect { case Eq(c, _) => c }.toSet
    val files = IndexBuilder.listDataFiles(spark, dataDir)
    val descriptors = IndexBuilder.loadDescriptors(spark, bloomRoot)
    // verified freshness per file; a file's usable evidence = its fresh
    // descriptor's covered columns ∩ the predicate's EQ columns
    val freshCols: Map[String, Set[String]] = files.map { f =>
      f.path -> IndexBuilder.freshDescriptorVerified(spark, descriptors, f)
        .map(_.columns.toSet.intersect(eqCols)).getOrElse(Set.empty)
    }.toMap
    val needed: Seq[(String, String)] = files
      .flatMap(f => freshCols(f.path).map(f.path -> _))
    val blooms: Map[(String, String), BloomFilter] =
      if (needed.isEmpty) Map.empty
      else {
        val live = spark.createDataset(
          needed.flatMap { case (p, c) =>
            descriptors.get(p).map(d => (p, c, d.modificationTime)) })
          .toDF("file", "column", "gen")
        spark.read.parquet(bloomsDir(bloomRoot))
          .filter(col("column").isin(eqCols.toSeq: _*))
          .join(broadcast(live), Seq("file", "column", "gen"), "left_semi")
          .select("file", "column", "bloom")
          .as[(String, String, Array[Byte])]
          .collect()
          .map { case (f, c, bytes) =>
            (f, c) -> BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes)) }
          .toMap
      }
    def provablyFalse(p: Pred, path: String): Boolean = p match {
      case Eq(c, v) =>
        // provable only with a loaded fresh sketch; a fresh descriptor
        // missing its bloom row proves nothing (never prune without
        // positive evidence)
        freshCols(path).contains(c) &&
          blooms.get((path, c)).exists(!_.mightContainString(v))
      case graft.query.And(l, r) =>
        provablyFalse(l, path) || provablyFalse(r, path)
      case graft.query.Or(l, r) =>
        provablyFalse(l, path) && provablyFalse(r, path)
      case _ => false
    }
    val (excluded, kept) = files.partition(f => provablyFalse(pred, f.path))
    val fallback = kept.count(f => freshCols(f.path).isEmpty)
    val report = PruneReport(
      totalFiles = files.size,
      selectedFiles = kept.size - fallback,
      fallbackFiles = fallback,
      totalBytes = files.map(_.length).sum,
      selectedBytes = kept.map(_.length).sum,
      pruneTimeMs = (System.nanoTime() - t0) / 1000000)
    logInfo(s"BloomIndex $dataDir pred=$pred: " +
      s"files ${report.selectedFiles}+${report.fallbackFiles}fallback/${report.totalFiles}, " +
      s"bytes ${report.selectedBytes}/${report.totalBytes} (ratio ${report.bytesRatio})")
    (excluded, report)
  }

  /** Bloom-pruned scan with the mandatory row-level residual. */
  def scan(spark: SparkSession, dataDir: String, pred: Eq, bloomRoot: String): DataFrame = {
    val (toRead, report) = selectFiles(spark, dataDir, pred, bloomRoot)
    // same run-level accounting as the sparse-index scans: the bloom
    // prune is a pruned scan and must show up in the per-run rollup
    // (it was silently absent before — q46 published no telemetry)
    graft.query.PruneStats.record(report)
    val schema = IndexBuilder.dataSchema(spark, dataDir)
    val df =
      if (toRead.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(toRead: _*)
    // scanned/qualified observability under a ScanMetrics label (the
    // bench's untimed pass) — the scanWithReport pattern; observation
    // blocks residual pushdown, so it must never be on in a timed run
    graft.query.ScanMetrics.nextObservationName() match {
      case Some(n) => graft.query.ScanMetrics.observed(df, pred.toColumn, name = n)
      case None => df.filter(pred.toColumn)
    }
  }
}
