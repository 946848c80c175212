package graft.build

import graft.intervals.Block
import graft.query.{Between, Eq, Pred}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetReader}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import graft.model.IndexType
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Builds the engine's sparse secondary index over a parquet dataset:
  * for every indexed column, for every distinct (stringified) value, the
  * sorted byte ranges of every file that contain at least one matching
  * row — the Spark rebuild of elephant-twin's per-file MapFile indexes
  * (`indexing/AbstractBlockIndexingJob.java`,
  * `indexing/MapFileIndexingReducer.java:52-107`).
  *
  * Where the reference launches one MapReduce job per base file from a
  * driver-side thread pool (`AbstractBlockIndexingJob.java:240-277`),
  * this is ONE declarative Spark job over all files at once:
  *
  * {{{
  * read -> explode (column,value) pairs + _metadata block identity
  *      -> groupBy(file, column, value)            // single shuffle
  *      -> agg(MergeIntervals)                     // custom UDAF, map-side partial
  *      -> file path -> file id                    // once per postings row
  *      -> sortWithinPartitions(column, value)     // parquet min/max friendly
  *      -> write one batch of the postings table, partitioned by column
  * }}}
  *
  * Block identity comes from the hidden `_metadata` columns
  * (file_block_start/length): the byte range of the read-split a row was
  * scanned from — the exact analog of the reference's LZO block offsets,
  * and already aligned to parquet row-group boundaries by Spark's split
  * planning.
  *
  * Layout (the [[Commit]] protocol the maintained stores use):
  * {{{
  * indexRoot/_INDEX_META                                the commit
  * indexRoot/v=K/postings/batch=N/column=<c>/part-*.parquet
  *                                         (file_id, value, ranges)
  * }}}
  *
  * The meta ports the `FileIndexDescriptor` sidecar
  * (`elephanttwin.thrift:39-50`): one atomic write records the index
  * type and format version, the FILE TABLE — per base file its int id,
  * its indexed columns and a freshness fingerprint (length +
  * modification time, and the content checksum when one was recorded)
  * — and every committed postings file. A file's path is held there
  * only, as the reference holds it only in its index directory's name
  * (`AbstractBlockIndexingJob.java:340-357`); rows carry the id. A row
  * is live iff its id is in the table. A file keeps its id while its
  * content is fresh and takes a new one, from a counter that never
  * reuses an id, when it is re-indexed with new content (a
  * checksum-detected rewrite that kept its mtime included).
  * Query-side code falls back to a full scan for any file whose
  * fingerprint no longer matches (`BlockIndexedFileInputFormat.java:
  * 338-386` semantics), and reads only the files the meta lists. A root
  * without a meta is no index. A build and a compaction write batch 0
  * of version K+1 and commit it; an incremental build writes the next
  * batch of version K (its number from the meta, so a crashed batch's
  * leftover is overwritten) and commits it. Nothing is renamed, a crash
  * before the commit leaves the last committed index as it was, and the
  * commit deletes every other version: a read that finds a committed
  * file gone falls back to a full scan.
  *
  * Scale design (100 TB): the postings table is O(files x distinct
  * values) rows of a few dozen bytes — orders of magnitude smaller than
  * the data. It is hash-partitioned by `column` directory and sorted by
  * `value` within files, so a point lookup reads one directory and
  * prunes row groups by min/max; the build itself is one pass over the
  * data with map-side partial aggregation (each read-split contributes
  * at most one range per distinct value).
  *
  * INVARIANTS callers must hold:
  *  - Index keys stringify with the BUILD session's
  *    `spark.sql.session.timeZone`; query sessions must use the same
  *    zone (pin UTC everywhere, as this engine's own sessions do) or
  *    timestamp/date lookups render different key strings and prune
  *    matching files. The engine does not record the build zone.
  *  - File identity: a row names its file by id, the file table maps
  *    the id to the scheme-less canonical path ([[canonicalPath]] of a
  *    Hadoop path or a caller's string, [[renderedPath]] of a path Spark
  *    rendered). One index serves one filesystem; the transparent rule
  *    refuses non-default-FS roots for this reason.
  */
object IndexBuilder {

  /** Default posting-coalescing cap: 128 MB, the reference's
    * `dfs.block.size` default (`MapFileIndexingReducer.java:49`). */
  val DefaultCapBytes: Long = 128L * 1024 * 1024

  final case class SourceFile(path: String, length: Long, modificationTime: Long)

  /** One descriptor row per indexed base file (flattened
    * FileIndexDescriptor). The default freshness fingerprint is
    * length+mtime; builds run with `withChecksums = true` additionally
    * record the filesystem's content checksum ([[fsChecksum]]) and the
    * freshness rule then verifies it — an mtime-preserving rewrite
    * (distcp -p, touch) is detected as stale instead of silently served
    * (`BlockIndexedFileInputFormat.verifyInputFileCheckSum:368-386`
    * semantics). `fileId` is the file's id in the file table. */
  final case class DescriptorRow(
      sourcePath: String,
      fileId: Int,
      length: Long,
      modificationTime: Long,
      columns: Seq[String],
      indexType: String,
      indexVersion: Int,
      checksumAlgorithm: String = "length+mtime",
      checksum: String = "")

  /** An index root's commit: its version, its index type, the
    * descriptor of every indexed base file by path (the file table), the
    * next file id to hand out, and its table's committed files. */
  private[graft] final case class Root(dir: String, version: Long, indexType: String,
      descriptors: Map[String, DescriptorRow], nextId: Int, tables: Map[String, Commit.Table]) {
    def files: Seq[Commit.StoreFile] = tables.values.flatMap(_.files).toSeq
    /** The path of every committed file id: a row whose id is not here is dead. */
    lazy val paths: Map[Int, String] = descriptors.values.map(d => d.fileId -> d.sourcePath).toMap
  }

  /** The table an index of `indexType` keeps its rows in. */
  private def tableOf(indexType: String): String =
    if (indexType == IndexType.BloomParquet) "blooms" else "postings"

  /** The index committed at `indexRoot`; None without a meta (or with a
    * meta of another index format version): no index. */
  private[graft] def readRoot(spark: SparkSession, indexRoot: String): Option[Root] =
    Commit.read(spark, indexRoot).flatMap { case (ver, kv, lines) =>
      val iv = graft.model.FileIndexDescriptor.CurrentVersion
      kv.get("type").filter(_ => kv.get("iver").contains(iv.toString)).map { t =>
        val (src, list) = lines.partition(_.startsWith("src\t"))
        Root(indexRoot, ver, t, src.map { line =>
          val Array(_, id, len, mtime, cols, path, sum @ _*) = line.split('\t')
          path -> DescriptorRow(path, id.toInt, len.toLong, mtime.toLong, cols.split(',').toSeq, t,
            iv, sum.headOption.getOrElse("length+mtime"), sum.lift(1).getOrElse(""))
        }.toMap, kv("next").toInt, Commit.tablesOf(list))
      }
    }

  private def rootOrThrow(spark: SparkSession, indexRoot: String): Root =
    readRoot(spark, indexRoot).getOrElse(throw new IllegalStateException(
      s"no committed index at $indexRoot (missing ${Commit.metaPath(indexRoot)}): build it first"))

  /** COMMIT `r` ([[Commit.write]]): the index type, format version and
    * next file id on the control line, the file table as one `src` line
    * per descriptor (id, length, mtime, columns, path, and the checksum
    * pair when one was recorded), then the file list. An index root keeps
    * no older version. */
  private def commit(spark: SparkSession, r: Root): Unit =
    Commit.write(spark, r.dir, r.version,
      Seq(s"type=${r.indexType}", s"iver=${graft.model.FileIndexDescriptor.CurrentVersion}",
        s"next=${r.nextId}"),
      r.descriptors.values.toSeq.sortBy(_.sourcePath).map { d =>
        (Seq("src", d.fileId, d.length, d.modificationTime, d.columns.mkString(","),
          d.sourcePath) ++
          (if (d.checksum.isEmpty) Nil else Seq(d.checksumAlgorithm, d.checksum))).mkString("\t")
      } ++ Commit.fileLines(r.tables), keepPrevious = false)

  /** The committed rows of `r`'s table, dead ones included, as one
    * relation built from the meta's file list; None when no file of it
    * is committed. */
  private def rows(spark: SparkSession, r: Root): Option[DataFrame] = {
    val t = tableOf(r.indexType)
    r.tables.get(t).map(tb => Commit.relation(spark, r.dir,
      s"${Commit.version(r.version)}/$t", tb.schema, tb.files).drop("batch"))
  }

  /** A new, empty version `ver` of an index of `indexType` at `dir`. */
  private def newVersion(spark: SparkSession, dir: String, ver: Long, indexType: String,
      nextId: Int): Root = {
    Commit.startVersion(spark, dir, ver)
    Root(dir, ver, indexType, Map.empty, nextId, Map.empty)
  }

  /** Write the next batch of `base` with `write`, given the batch's
    * directory (no commit names it, so a crashed batch's leftover is
    * overwritten), and commit it with the file table `descriptors` and
    * the id counter `nextId`. Returns the commit. */
  private def commitBatch(spark: SparkSession, base: Root,
      descriptors: Map[String, DescriptorRow], nextId: Int)(write: String => Unit): Root = {
    val (table, batch) = (tableOf(base.indexType), base.files.map(_.gen).maxOption.fold(0L)(_ + 1))
    val out = s"${Commit.version(base.version)}/$table/batch=$batch"
    write(s"${base.dir}/$out")
    val done = base.copy(descriptors = descriptors, nextId = nextId,
      tables = Commit.record(spark, base.dir, base.tables, table, batch, out)._1)
    commit(spark, done)
    done
  }

  /** Canonical file identity (the file table's paths, pruning maps) of
    * a Hadoop `Path` or a caller's string: the scheme-less URI path, so
    * `file:/x`, `file:///x` and `/x` are one file. */
  def canonicalPath(p: String): String = new Path(p).toUri.getPath

  /** [[canonicalPath]] of a path SPARK rendered (`_metadata.file_path`,
    * `FileIndex.inputFiles`): a URI whose path is URL-encoded
    * (`file:/a/sp%20ace/x`), which Hadoop's `Path` would read as literal
    * characters. Decoded exactly. */
  def renderedPath(rendered: String): String = new java.net.URI(rendered).getPath

  /** THE mapping from a Spark-rendered path to its file id in `ids`
    * (canonical path -> id), as a column function. A path `ids` does not
    * hold fails the job: a build whose rows would name no committed file
    * never commits. */
  private[graft] def fileIdOf(ids: Map[String, Int]): Column => Column = {
    val id = udf((rendered: String) => ids.getOrElse(renderedPath(rendered),
      throw new IllegalStateException(s"$rendered is not a file of this index build")))
    c => id(c)
  }

  /** Enumerate the parquet part-files of a dataset directory (S4:
    * recursive, skipping hidden `.`/`_` entries, as
    * `util/HdfsUtils.java:78-102` does), in name order, so a build hands
    * out file ids in an order that does not depend on the filesystem. */
  def listDataFiles(spark: SparkSession, dataDir: String): Seq[SourceFile] = {
    val path = new Path(dataDir)
    val fs = path.getFileSystem(Commit.conf(spark))
    def walk(p: Path): Seq[SourceFile] = {
      val st = fs.getFileStatus(p)
      if (st.isDirectory) {
        fs.listStatus(p)
          .filterNot(s => s.getPath.getName.startsWith(".") || s.getPath.getName.startsWith("_"))
          .sortBy(_.getPath.getName).toIndexedSeq.flatMap(s => walk(s.getPath))
      } else if (st.getPath.getName.endsWith(".parquet")) {
        Seq(SourceFile(canonicalPath(st.getPath.toString), st.getLen, st.getModificationTime))
      } else Nil
    }
    walk(path)
  }

  /** THE freshness rule, in one place (every query-side fallback and
    * build-side skip decision routes through these two helpers — the
    * checksum-mismatch semantics of `BlockIndexedFileInputFormat
    * .java:338-386`). */
  def loadDescriptors(spark: SparkSession, indexRoot: String): Map[String, DescriptorRow] =
    readRoot(spark, indexRoot).fold(Map.empty[String, DescriptorRow])(_.descriptors)

  /** The filesystem's NATIVE content checksum for a file, as
    * (algorithm, hex): HDFS answers from already-stored block CRCs —
    * metadata-cheap, no full data re-read (the same source the
    * reference validates, `fs.getFileChecksum`,
    * `BlockIndexedFileInputFormat.java:375-384`). None when the
    * filesystem keeps no checksum (LocalFileSystem among them). */
  def fsChecksum(fs: FileSystem, p: Path): Option[(String, String)] =
    Option(fs.getFileChecksum(p)).map { c =>
      (c.getAlgorithmName, c.getBytes.map(b => f"$b%02x").mkString)
    }

  /** Streamed MD5 of the file contents — the fallback algorithm when the
    * filesystem has no native checksum. Reads the whole file: at build
    * time the data is being read anyway; at verify time this is the
    * opt-in price of rewrite detection on checksum-less filesystems
    * (HDFS deployments never pay it — [[fsChecksum]] answers first). */
  def contentMd5(fs: FileSystem, p: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) {
        if (n > 0) md.update(buf, 0, n)
        n = in.read(buf)
      }
    } finally in.close()
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Whether the recorded checksum still matches the live file. A
    * recorded "md5" recomputes the streamed digest; a recorded native
    * algorithm compares against the filesystem's current answer. When
    * the live filesystem produces a DIFFERENT algorithm (dfs checksum
    * config changed, dataset migrated to a checksum-less FS) the
    * recorded value is unverifiable — treated as STALE, not fresh:
    * degrading to a full scan is sound, silently serving a possibly
    * rewritten file is not. (The reference's pass-on-null applies to
    * descriptors that never recorded a checksum — our empty-checksum
    * fast path above.) */
  private def checksumMatches(fs: FileSystem, p: Path, d: DescriptorRow): Boolean =
    if (d.checksumAlgorithm == "md5") contentMd5(fs, p) == d.checksum
    else fsChecksum(fs, p).exists { case (alg, hex) =>
      alg == d.checksumAlgorithm && hex == d.checksum }

  /** [[freshDescriptor]] plus content-checksum verification when the
    * descriptor carries one: a fingerprint-fresh file whose filesystem
    * checksum no longer matches is treated as STALE (falls back to a
    * full scan). Descriptors without a recorded checksum (the default
    * build mode) skip the filesystem call entirely; a filesystem that
    * cannot produce a checksum passes, as in the reference. */
  def freshDescriptorVerified(
      spark: SparkSession,
      descriptors: Map[String, DescriptorRow],
      f: SourceFile): Option[DescriptorRow] =
    freshDescriptor(descriptors, f).filter { d =>
      d.checksum.isEmpty || {
        val p = new Path(f.path)
        checksumMatches(p.getFileSystem(Commit.conf(spark)), p, d)
      }
    }

  /** The file's descriptor iff its fingerprint (length + mtime) still
    * matches the live file. */
  def freshDescriptor(
      descriptors: Map[String, DescriptorRow], f: SourceFile): Option[DescriptorRow] =
    descriptors.get(f.path).filter(d =>
      d.length == f.length && d.modificationTime == f.modificationTime)

  /** True when every current data file already has a fresh descriptor —
    * the skip-unless-overwrite check (`AbstractBlockIndexingJob
    * .hasPreviousIndex:359-364`). */
  def isFresh(spark: SparkSession, dataDir: String, indexRoot: String,
      columns: Seq[String]): Boolean = {
    val descs = loadDescriptors(spark, indexRoot)
    if (descs.isEmpty) return false
    listDataFiles(spark, dataDir).forall(f =>
      freshDescriptorVerified(spark, descs, f)
        .exists(d => columns.forall(d.columns.contains)))
  }

  /** A logical index key: a name plus an `array<string>` of the values
    * each row contributes. Plain columns contribute one value; derived
    * keys (e.g. text tokens for the block-level text index, the
    * reference's Lucene `DocType.BLOCK` flavor) contribute many. */
  type IndexKeys = Seq[(String, Column)]

  /** Plain-column keys: one stringified value per row. */
  def columnKeys(columns: Seq[String]): IndexKeys =
    columns.map(c => c -> array(col(c).cast("string")))

  /** The postings pipeline for a set of source files: explode (column,
    * value) pairs + `_metadata` block identity, aggregate with
    * MergeIntervals per Spark-rendered file path, then name each row's
    * file by its id (`fileId`, [[fileIdOf]]) — once per postings row,
    * not per data row.
    *
    * Values are stringified because index keys are strings, as in the
    * reference (Expression.java:213-221); nulls are not indexed (EQ
    * never matches null). */
  private[graft] def postingsFor(
      spark: SparkSession,
      files: Seq[SourceFile],
      fileId: Column => Column,
      keys: IndexKeys,
      capBytes: Long): DataFrame = {
    val df = spark.read.parquet(files.map(_.path): _*)
    val emptyKv = array().cast("array<struct<column:string,value:string>>")
    val kvArrays = keys.map { case (name, arrCol) =>
      coalesce(transform(arrCol, v => struct(lit(name).as("column"), v.as("value"))), emptyKv)
    }
    val kvs = if (kvArrays.length == 1) kvArrays.head else concat(kvArrays: _*)
    val merge = udaf(MergeIntervals(capBytes))
    df.select(
        explode(kvs).as("kv"),
        col("_metadata.file_path").as("file"),
        col("_metadata.file_block_start").as("start"),
        (col("_metadata.file_block_start") + col("_metadata.file_block_length")).as("end"))
      .select(col("kv.column").as("column"), col("kv.value").as("value"),
        col("file"), col("start"), col("end"))
      .filter(col("value").isNotNull)
      .groupBy("column", "value", "file")
      .agg(merge(col("start"), col("end")).as("ranges"))
      .select(fileId(col("file")).as("file_id"), col("value"), col("ranges"), col("column"))
  }

  /** The postings table's writer: one directory per column, each sorted
    * by value. */
  private def postingsWriter(postings: DataFrame): DataFrameWriter[Row] =
    postings
      .repartition(col("column"))
      .sortWithinPartitions("column", "value", "file_id")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("column")

  private def writePostings(spark: SparkSession, keys: IndexKeys, capBytes: Long)
      (files: Seq[SourceFile], fileId: Column => Column, out: String): Unit =
    postingsWriter(postingsFor(spark, files, fileId, keys, capBytes)).parquet(out)

  /** One descriptor row per file of an index of type `indexType`
    * (postings or bloom), with its id in `ids` and the content checksum
    * when asked. */
  private def descriptorRows(
      spark: SparkSession, files: Seq[SourceFile], ids: Map[String, Int], columns: Seq[String],
      withChecksums: Boolean, indexType: String): Seq[DescriptorRow] =
    files.map { f =>
      val (alg, sum) =
        if (!withChecksums) ("length+mtime", "")
        else {
          val p = new Path(f.path)
          val fs = p.getFileSystem(Commit.conf(spark))
          fsChecksum(fs, p).getOrElse(("md5", contentMd5(fs, p)))
        }
      DescriptorRow(
        f.path, ids(f.path), f.length, f.modificationTime, columns, indexType,
        graft.model.FileIndexDescriptor.CurrentVersion,
        alg, sum)
    }

  /** Build (or refresh) the index for `columns` over the parquet dataset
    * at `dataDir`. No-op when fresh unless `overwrite`.
    * `withChecksums = true` records filesystem content checksums in the
    * descriptors; freshness checks then detect mtime-preserving
    * rewrites. */
  def build(
      spark: SparkSession,
      dataDir: String,
      columns: Seq[String],
      indexRoot: String,
      capBytes: Long = DefaultCapBytes,
      overwrite: Boolean = false,
      withChecksums: Boolean = false): Unit =
    buildKeyed(spark, dataDir, columnKeys(columns), indexRoot, capBytes, overwrite,
      withChecksums)

  /** Generalized build over arbitrary [[IndexKeys]] (multi-valued keys
    * included). Descriptor `columns` records the key names. */
  def buildKeyed(
      spark: SparkSession,
      dataDir: String,
      keys: IndexKeys,
      indexRoot: String,
      capBytes: Long = DefaultCapBytes,
      overwrite: Boolean = false,
      withChecksums: Boolean = false): Unit = {
    require(keys.nonEmpty, "at least one key to index")
    val names = keys.map(_._1)
    if (!overwrite && isFresh(spark, dataDir, indexRoot, names)) return
    refreshStale(spark, dataDir, names, indexRoot, withChecksums, IndexType.PostingsParquet,
      overwrite = true)(writePostings(spark, keys, capBytes))
  }

  /** Incrementally index only the files with no fresh descriptor (new
    * files, changed files, or files missing a requested column) and
    * commit their postings as a new batch — the maintenance path the
    * reference runs as skip-if-`hasPreviousIndex` re-submission
    * (`AbstractBlockIndexingJob.java:249-277, 359-364`). Rows of rebuilt
    * or deleted files stay in the postings table under an id the file
    * table no longer holds, dead until [[compact]]. Returns the files
    * (re)indexed. */
  def buildIncremental(
      spark: SparkSession,
      dataDir: String,
      columns: Seq[String],
      indexRoot: String,
      capBytes: Long = DefaultCapBytes,
      withChecksums: Boolean = false): Seq[SourceFile] =
    buildIncrementalKeyed(spark, dataDir, columnKeys(columns), indexRoot, capBytes,
      withChecksums)

  def buildIncrementalKeyed(
      spark: SparkSession,
      dataDir: String,
      keys: IndexKeys,
      indexRoot: String,
      capBytes: Long = DefaultCapBytes,
      withChecksums: Boolean = false): Seq[SourceFile] = {
    require(keys.nonEmpty, "at least one key to index")
    refreshStale(spark, dataDir, keys.map(_._1), indexRoot, withChecksums,
      IndexType.PostingsParquet)(writePostings(spark, keys, capBytes))
  }

  /** The maintenance step shared by the postings and bloom builds: the
    * files of `dataDir` with no verified-fresh descriptor covering
    * `names` (new files, changed files, or files missing a requested
    * name; every file when `overwrite` or when the root holds no index
    * of `indexType`) are handed to `write` with the mapping of their
    * rendered paths to file ids ([[fileIdOf]]) and the directory to write
    * their rows to — batch 0 of a new version when `overwrite` or no such
    * index, else the next batch of the live version — and the written
    * files and the file table are committed. Returns those files (Nil,
    * and nothing written, when every file is fresh).
    *
    * The id rule: a file whose content is verified fresh keeps its id (its
    * rows stay live); a new file, or one whose content changed, takes the
    * next id of a counter that never goes back, so no row of earlier
    * content is ever live again.
    *
    * One VERIFIED freshness decision per file is shared by the staleness
    * split and the column union: using the unverified fingerprint for
    * the union would let a checksum-stale file (mtime-preserving
    * rewrite) keep its old columns marked indexed while the refreshed
    * descriptor records the NEW checksum, permanently laundering the
    * staleness into wrong pruning. CONTENT-fresh files re-indexed only
    * for ADDED names keep the union of descriptor columns — their
    * previous rows keep their live id (same content), and dropping the
    * names would silently turn those columns' queries into full scans.
    * Content-STALE files keep nothing: their old rows describe the
    * previous bytes, and their new id leaves those rows dead. */
  private[build] def refreshStale(
      spark: SparkSession,
      dataDir: String,
      names: Seq[String],
      root: String,
      withChecksums: Boolean,
      indexType: String,
      overwrite: Boolean = false)
      (write: (Seq[SourceFile], Column => Column, String) => Unit): Seq[SourceFile] = {
    val files = listDataFiles(spark, dataDir)
    val live = readRoot(spark, root)
    val prev = live.filter(r => !overwrite && r.indexType == indexType)
    val existing = prev.fold(Map.empty[String, DescriptorRow])(_.descriptors)
    val verifiedFresh: Map[String, Option[DescriptorRow]] =
      files.map(f => f.path -> freshDescriptorVerified(spark, existing, f)).toMap
    val stale = files.filterNot(f =>
      verifiedFresh(f.path).exists(d => names.forall(d.columns.contains)))
    if (stale.isEmpty) return Nil
    val currentPaths = files.map(_.path).toSet
    val stalePaths = stale.map(_.path).toSet
    val kept = existing.values.toSeq
      .filter(d => currentPaths.contains(d.sourcePath) && !stalePaths.contains(d.sourcePath))
    val (fresh, changed) = stale.partition(f => verifiedFresh(f.path).isDefined)
    val first = live.fold(0)(_.nextId)
    val ids = fresh.map(f => f.path -> verifiedFresh(f.path).get.fileId).toMap ++
      changed.zipWithIndex.map { case (f, i) => f.path -> (first + i) }
    val refreshed = descriptorRows(spark, stale, ids, Seq.empty, withChecksums, indexType)
      .map { d =>
        val prevCols = verifiedFresh(d.sourcePath).map(_.columns).getOrElse(Seq.empty)
        d.copy(columns = (prevCols ++ names).distinct)
      }
    val base = prev.getOrElse(newVersion(spark, root, live.fold(0L)(_.version + 1), indexType, first))
    commitBatch(spark, base, (kept ++ refreshed).map(d => d.sourcePath -> d).toMap,
      first + changed.size)(write(stale, fileIdOf(ids), _))
    stale
  }

  /** The postings table as a first-class DataFrame (S5: the reference's
    * index-as-input verification path, `ScanUsingIndexJob.java:218-224`):
    * the live rows of the committed files, each row's file id resolved
    * to its path through the file table; columns `file, column, value,
    * ranges`, also when no postings file is committed. */
  def postings(spark: SparkSession, indexRoot: String): DataFrame = {
    import spark.implicits._
    val r = rootOrThrow(spark, indexRoot)
    rows(spark, r).fold(spark.emptyDataset[graft.model.IndexEntry].toDF())(
      _.join(broadcast(r.paths.toSeq.toDF("file_id", "file")), "file_id"))
      .select("file", "column", "value", "ranges")
  }

  /** One live postings row: the byte ranges of `file` that hold `value`
    * of `column`, with the lookup leaves that `value` matches. */
  final case class Posting(
      file: String, column: String, value: String, ranges: Seq[Block], leaves: Seq[Pred])

  /** The postings rows of index `idx` matching any of `leaves`
    * (EQ/BETWEEN), read on the driver with no Spark job — the
    * reference's `getSplits` opens its MapFile index readers the same
    * way (`BlockIndexedFileInputFormat.java:110-187`). Only the committed
    * files under the `column=<c>` directories the leaves name are
    * opened; EQ values are pushed to parquet as one IN filter per
    * column, so row-group min/max and dictionary skipping work on the
    * value-sorted files. A column
    * with a BETWEEN leaf is read unfiltered. Every row is re-checked
    * with the exact [[Pred.leafMatches]] before it counts toward
    * `limit`; reading stops once `limit` rows are held, so a caller that
    * passes `cap + 1` sees an overflow as `cap + 1` rows. A row counts
    * only when its file id is committed: that is its liveness, and the
    * file table gives its path.
    *
    * Nothing is listed: a column with no committed file only holds
    * nulls and contributes no rows. None when a committed file is gone
    * (a later commit deleted it under the read): that is "unknown",
    * never "no match". */
  def lookupPostings(
      spark: SparkSession, idx: Root, leaves: Seq[Pred], limit: Int): Option[Seq[Posting]] = {
    val conf = Commit.conf(spark)
    val out = IndexedSeq.newBuilder[Posting]
    var n = 0
    val byColumn = leaves.groupBy {
      case Eq(c, _)               => c
      case Between(c, _, _, _, _) => c
      case other                  => sys.error(s"not a leaf: $other")
    }
    try {
      for ((c, ls) <- byColumn.toSeq.sortBy(_._1)) {
        val dir = s"/column=${ExternalCatalogUtils.escapePathName(c)}/"
        val filter =
          if (ls.exists(_.isInstanceOf[Between])) FilterCompat.NOOP
          else FilterCompat.get(FilterApi.in(FilterApi.binaryColumn("value"),
            ls.collect { case Eq(_, v) => Binary.fromString(v) }.toSet.asJava))
        for (f <- idx.files if f.path.contains(dir) && n < limit)
          readFile(conf, new Path(idx.dir, f.path), filter, more = n < limit) { g =>
            val value = g.getString("value", 0)
            val matched = ls.filter(Pred.leafMatches(_, value))
            for (file <- idx.paths.get(g.getInteger("file_id", 0)) if matched.nonEmpty) {
              val ranges = listOf(g, "ranges").map(_.getGroup(0, 0))
                .map(b => Block(b.getLong("start", 0), b.getLong("end", 0)))
              out += Posting(file, c, value, ranges, matched)
              n += 1
            }
          }
      }
      Some(out.result())
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Read parquet file `part` on the driver, row by row as parquet-mr
    * groups, while `more` holds; `columns` projects it to the named
    * columns it has (Nil = all of them). A missing `part` throws
    * `FileNotFoundException`. */
  private[graft] def readFile(conf: Configuration, part: Path, filter: FilterCompat.Filter,
      more: => Boolean, columns: Seq[String] = Nil)(row: Group => Unit): Unit = {
    val support =
      if (columns.isEmpty) new GroupReadSupport
      else new GroupReadSupport {
        override def init(ctx: InitContext): ReadSupport.ReadContext = {
          val fileSchema = ctx.getFileSchema
          new ReadSupport.ReadContext(new MessageType(fileSchema.getName,
            columns.filter(fileSchema.containsField).map(c => fileSchema.getType(fileSchema.getFieldIndex(c))): _*))
        }
      }
    val reader = ParquetReader.builder(support, part)
      .withConf(conf).withFilter(filter).build()
    try {
      var g = reader.read()
      while (g != null && more) {
        row(g)
        g = reader.read()
      }
    } finally reader.close()
  }

  /** The items of list field `f` of a Spark-written row, in either of
    * Spark's list layouts (`list/element` or the legacy `bag/array`):
    * the per-item group whose field 0 is the element. */
  private def listOf(g: Group, f: String): Seq[Group] =
    if (g.getFieldRepetitionCount(f) == 0) Nil
    else {
      val list = g.getGroup(f, 0)
      (0 until list.getFieldRepetitionCount(0)).map(list.getGroup(0, _))
    }

  /** The data schema of the parquet dataset at `dataDir` from ONE
    * footer read on the driver, with no Spark job: the file Spark's own
    * inference touches when schema merging is off (`_common_metadata`,
    * else `_metadata`, else the first data file by path), converted by
    * Spark's converter. Equals `spark.read.parquet(dataDir).schema`
    * without hive-partition columns (the reader adds those from the
    * paths). With `spark.sql.parquet.mergeSchema` on, or when there is
    * no file to read (Spark then raises its own error), it is Spark's
    * inference. */
  def dataSchema(spark: SparkSession, dataDir: String): StructType = {
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dataDir)
    val fs = root.getFileSystem(conf)
    // the listing rule of Spark's file index: skip `_`/`.` names except
    // partition directories and the two summary files
    def listed(name: String): Boolean =
      name.startsWith("_common_metadata") || name.startsWith("_metadata") ||
        !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
          name.endsWith("._COPYING_"))
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter(s => listed(s.getPath.getName)).flatMap(leaves)
    val files =
      if (sqlConf.isParquetSchemaMergingEnabled || !fs.exists(root)) Nil
      else leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    named("_common_metadata")
      .orElse(named("_metadata"))
      .orElse(files.find(f => f.getPath.getName != "_common_metadata" && f.getPath.getName != "_metadata"))
      .map(footerSchema(spark, conf, _))
      .getOrElse(spark.read.parquet(dataDir).schema)
  }

  /** The data schema of one parquet file from its footer, as Spark's
    * reader converts it (every field nullable). */
  def footerSchema(spark: SparkSession, conf: Configuration, st: FileStatus): StructType = {
    val footer = new Footer(st.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(st, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
    SchemaBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
      footer, new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }

  /** Compact the append-only postings: drop the dead rows (their file
    * id is no longer in the file table: the file was deleted or
    * re-indexed with new content), and rewrite sorted. Incremental
    * maintenance appends forever; without periodic compaction the dead
    * rows cost lookup I/O even though no lookup serves them. Safe to
    * run any time — the surviving rows are exactly the ones query-side
    * lookups honor. Returns (rowsBefore, rowsAfter), from the committed
    * files' footers.
    *
    * The rewrite is batch 0 of a new version, committed with the same
    * descriptors: a crash before the commit leaves the old index as it
    * was. */
  def compact(spark: SparkSession, indexRoot: String): (Long, Long) =
    compactRoot(spark, indexRoot)(postingsWriter)

  /** The compaction shared by the postings and bloom roots: `writer`
    * lays out the rows of `indexRoot` whose file id is committed as
    * batch 0 of a new version, which is committed with the same file
    * table. Returns the committed rows before and after: (0, 0), and no
    * commit, when no file is committed. */
  private[build] def compactRoot(spark: SparkSession, indexRoot: String)
      (writer: DataFrame => DataFrameWriter[Row]): (Long, Long) = {
    import spark.implicits._
    val idx = rootOrThrow(spark, indexRoot)
    rows(spark, idx).fold((0L, 0L)) { all =>
      val live = idx.paths.keys.toSeq.toDF("file_id")
      val before = footerRows(spark, idx)
      val done = commitBatch(spark,
          newVersion(spark, indexRoot, idx.version + 1, idx.indexType, idx.nextId),
          idx.descriptors, idx.nextId) { out =>
        writer(all.join(broadcast(live), "file_id", "left_semi")).parquet(out)
      }
      (before, footerRows(spark, done))
    }
  }

  /** The rows of `r`'s committed files, from their parquet footers. */
  private def footerRows(spark: SparkSession, r: Root): Long = {
    val conf = Commit.conf(spark)
    r.files.map(f => ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(new Path(r.dir, f.path), conf), ParquetMetadataConverter.NO_FILTER)
      .getBlocks.asScala.map(_.getRowCount).sum).sum
  }

  /** Typed view of the postings (the model contract of FIXTURES.md §2). */
  def postingsTyped(spark: SparkSession, indexRoot: String):
      org.apache.spark.sql.Dataset[graft.model.IndexEntry] = {
    import spark.implicits._
    postings(spark, indexRoot).as[graft.model.IndexEntry]
  }

  /** A descriptor row as the full sidecar model (thrift
    * FileIndexDescriptor parity, FIXTURES.md §3). */
  def toDescriptor(d: DescriptorRow): graft.model.FileIndexDescriptor =
    graft.model.FileIndexDescriptor(
      docType = graft.model.DocType.Block,
      indexType = d.indexType,
      indexVersion = d.indexVersion,
      sourcePath = d.sourcePath,
      checksum =
        if (d.checksum.nonEmpty)
          graft.model.FileChecksum(d.checksumAlgorithm, d.checksum, d.length)
        else graft.model.FileChecksum(
          "length+mtime", f"${d.length}%x-${d.modificationTime}%x", d.length),
      indexedFields = d.columns.map(c =>
        graft.model.IndexedField(c, stored = false, indexed = true, analyzed = false)))
}
