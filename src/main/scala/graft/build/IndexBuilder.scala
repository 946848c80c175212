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
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
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
  *      -> sortWithinPartitions(column, value)     // parquet min/max friendly
  *      -> write indexRoot/postings partitioned by column
  * }}}
  *
  * Block identity comes from the hidden `_metadata` columns
  * (file_block_start/length): the byte range of the read-split a row was
  * scanned from — the exact analog of the reference's LZO block offsets,
  * and already aligned to parquet row-group boundaries by Spark's split
  * planning.
  *
  * Layout:
  * {{{
  * indexRoot/postings/column=<c>/part-*.parquet   (value, file, ranges)
  * indexRoot/descriptors/part-*.parquet           one row per indexed base file
  * }}}
  *
  * The descriptors dataset ports the `FileIndexDescriptor` sidecar
  * (`elephanttwin.thrift:39-50`): per base file, the indexed columns and
  * a freshness fingerprint (length + modification time). Query-side code
  * falls back to a full scan for any file whose fingerprint no longer
  * matches (`BlockIndexedFileInputFormat.java:338-386` semantics).
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
  *  - File identity is the scheme-less canonical path
  *    ([[canonicalPath]]): one index serves one filesystem; the
  *    transparent rule refuses non-default-FS roots for this reason.
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
    * semantics). */
  final case class DescriptorRow(
      sourcePath: String,
      length: Long,
      modificationTime: Long,
      columns: Seq[String],
      indexType: String,
      indexVersion: Int,
      checksumAlgorithm: String = "length+mtime",
      checksum: String = "")

  def postingsDir(indexRoot: String): String = s"$indexRoot/postings"
  def descriptorsDir(indexRoot: String): String = s"$indexRoot/descriptors"

  /** Canonical file identity used everywhere (postings `file` column,
    * descriptors, pruning maps): the scheme-less URI path. Hadoop
    * `Path.toUri` renders `file:/x` while Spark's `_metadata.file_path`
    * renders `file:///x` — comparing raw strings silently empties every
    * index lookup. */
  def canonicalPath(p: String): String = new Path(p).toUri.getPath

  /** Column-level [[canonicalPath]] for `_metadata.file_path`, WITHOUT a
    * scalar UDF on the hot path: one filesystem serves one index (engine
    * invariant), so every rendered path shares a constant
    * scheme/authority prefix — probe ONE row's rendering, verify it ends
    * with the known canonical path, and strip the prefix with a
    * codegen'd substr. If the rendering ever disagrees with the
    * expectation (exotic URI shapes, encoded characters), fall back to
    * the exact UDF rather than risk an empty-but-"fresh" index. */
  private[graft] def canonicalizeExpr(
      spark: SparkSession, probe: SourceFile): Column => Column = {
    val rendered =
      try spark.read.parquet(probe.path)
        .select(col("_metadata.file_path")).limit(1)
        .collect().headOption.map(_.getString(0))
      catch { case _: Exception => None }
    rendered match {
      case Some(r) if r.endsWith(probe.path) &&
          canonicalPath(r) == probe.path =>
        val prefixLen = r.length - probe.path.length
        c => c.substr(lit(prefixLen + 1), length(c))
      case _ =>
        val exact = udf((p: String) => canonicalPath(p))
        c => exact(c)
    }
  }

  /** Enumerate the parquet part-files of a dataset directory (S4:
    * recursive, skipping hidden `.`/`_` entries, as
    * `util/HdfsUtils.java:78-102` does). */
  def listDataFiles(spark: SparkSession, dataDir: String): Seq[SourceFile] = {
    val path = new Path(dataDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[SourceFile] = {
      val st = fs.getFileStatus(p)
      if (st.isDirectory) {
        fs.listStatus(p)
          .filterNot(s => s.getPath.getName.startsWith(".") || s.getPath.getName.startsWith("_"))
          .toIndexedSeq.flatMap(s => walk(s.getPath))
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
  def loadDescriptors(spark: SparkSession, indexRoot: String): Map[String, DescriptorRow] = {
    val conf = spark.sessionState.newHadoopConf()
    val descPath = new Path(descriptorsDir(indexRoot))
    if (!descPath.getFileSystem(conf).exists(descPath)) return Map.empty
    // read on the driver, no Spark job; descriptors written before the
    // checksum fields existed read back with the length+mtime defaults
    // (no rebuild required)
    val rows = Seq.newBuilder[DescriptorRow]
    readParts(conf, descPath, FilterCompat.NOOP, more = true) { g =>
      def opt(f: String, default: String) =
        if (g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0) g.getString(f, 0)
        else default
      rows += DescriptorRow(
        g.getString("sourcePath", 0), g.getLong("length", 0), g.getLong("modificationTime", 0),
        listOf(g, "columns").map(_.getString(0, 0)),
        g.getString("indexType", 0), g.getInteger("indexVersion", 0),
        opt("checksumAlgorithm", "length+mtime"), opt("checksum", ""))
    }
    rows.result().map(d => d.sourcePath -> d).toMap
  }

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
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        checksumMatches(fs, p, d)
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

  /** The postings pipeline for a set of source files: explode (column,
    * value) pairs + `_metadata` block identity, aggregate with
    * MergeIntervals, stamp each row with its file's generation (mtime at
    * build time). The `gen` column makes postings append-only
    * versionable: a rebuilt file's fresh rows carry the new mtime and
    * query-side lookups ignore rows whose gen doesn't match the current
    * descriptor — no in-place deletes needed (parquet is immutable).
    *
    * Values are stringified because index keys are strings, as in the
    * reference (Expression.java:213-221); nulls are not indexed (EQ
    * never matches null). */
  /** A logical index key: a name plus an `array<string>` of the values
    * each row contributes. Plain columns contribute one value; derived
    * keys (e.g. text tokens for the block-level text index, the
    * reference's Lucene `DocType.BLOCK` flavor) contribute many. */
  type IndexKeys = Seq[(String, Column)]

  /** Plain-column keys: one stringified value per row. */
  def columnKeys(columns: Seq[String]): IndexKeys =
    columns.map(c => c -> array(col(c).cast("string")))

  private def postingsFor(
      spark: SparkSession,
      files: Seq[SourceFile],
      keys: IndexKeys,
      capBytes: Long): DataFrame = {
    import spark.implicits._
    val df = spark.read.parquet(files.map(_.path): _*)
    val emptyKv = array().cast("array<struct<column:string,value:string>>")
    val kvArrays = keys.map { case (name, arrCol) =>
      coalesce(transform(arrCol, v => struct(lit(name).as("column"), v.as("value"))), emptyKv)
    }
    val kvs = if (kvArrays.length == 1) kvArrays.head else concat(kvArrays: _*)
    val merge = udaf(MergeIntervals(capBytes))
    val gens = spark.createDataset(files)
      .select(col("path").as("file"), col("modificationTime").as("gen"))
    // canonicalize with the probe-verified prefix-strip expression
    // (codegen'd; falls back to the exact UDF when the rendering
    // disagrees — a wrong canonicalization here would empty the gens
    // join and write an empty-but-"fresh" index)
    val canonical = canonicalizeExpr(spark, files.head)
    df.select(
        explode(kvs).as("kv"),
        canonical(col("_metadata.file_path")).as("file"),
        col("_metadata.file_block_start").as("start"),
        (col("_metadata.file_block_start") + col("_metadata.file_block_length")).as("end"))
      .select(col("kv.column").as("column"), col("kv.value").as("value"),
        col("file"), col("start"), col("end"))
      .filter(col("value").isNotNull)
      .groupBy("column", "value", "file")
      .agg(merge(col("start"), col("end")).as("ranges"))
      .join(broadcast(gens), "file")
  }

  private def writePostings(postings: DataFrame, indexRoot: String, mode: SaveMode): Unit =
    postings
      .repartition(col("column"))
      .sortWithinPartitions("column", "value", "file")
      .write.mode(mode)
      .partitionBy("column")
      .parquet(postingsDir(indexRoot))

  private[build] def writeDescriptors(
      spark: SparkSession, descriptors: Seq[DescriptorRow], indexRoot: String): Unit = {
    import spark.implicits._
    spark.createDataset(descriptors).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(descriptorsDir(indexRoot))
  }

  /** One descriptor row per file of an index of type `indexType`
    * (postings or bloom), with the content checksum when asked. */
  private[build] def descriptorRows(
      spark: SparkSession, files: Seq[SourceFile], columns: Seq[String],
      withChecksums: Boolean, indexType: String): Seq[DescriptorRow] =
    files.map { f =>
      val (alg, sum) =
        if (!withChecksums) ("length+mtime", "")
        else {
          val p = new Path(f.path)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          fsChecksum(fs, p).getOrElse(("md5", contentMd5(fs, p)))
        }
      DescriptorRow(
        f.path, f.length, f.modificationTime, columns, indexType,
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
    val files = listDataFiles(spark, dataDir)
    writePostings(postingsFor(spark, files, keys, capBytes), indexRoot, SaveMode.Overwrite)
    writeDescriptors(spark, descriptorRows(spark, files, names, withChecksums,
      graft.model.IndexType.PostingsParquet), indexRoot)
  }

  /** Incrementally index only the files with no fresh descriptor (new
    * files, changed files, or files missing a requested column) and
    * APPEND their postings — the maintenance path the reference runs as
    * skip-if-`hasPreviousIndex` re-submission
    * (`AbstractBlockIndexingJob.java:249-277, 359-364`). Stale rows for
    * rebuilt files stay in the postings table; the `gen` stamp makes
    * them inert at query time. Returns the files (re)indexed. */
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
    val names = keys.map(_._1)
    val files = listDataFiles(spark, dataDir)
    val existing = loadDescriptors(spark, indexRoot)
    // one VERIFIED freshness decision per file, shared by the staleness
    // split and the prevCols union below — using the unverified
    // fingerprint for prevCols would let a checksum-stale file (mtime-
    // preserving rewrite) keep its old columns marked indexed while the
    // refreshed descriptor records the NEW checksum, permanently
    // laundering the staleness into wrong pruning
    val verifiedFresh: Map[String, Option[DescriptorRow]] =
      files.map(f => f.path -> freshDescriptorVerified(spark, existing, f)).toMap
    val stale = files.filterNot(f =>
      verifiedFresh(f.path).exists(d => names.forall(d.columns.contains)))
    if (stale.isEmpty) return Nil
    writePostings(postingsFor(spark, stale, keys, capBytes), indexRoot, SaveMode.Append)
    val currentPaths = files.map(_.path).toSet
    val stalePaths = stale.map(_.path).toSet
    val kept = existing.values.toSeq
      .filter(d => currentPaths.contains(d.sourcePath) && !stalePaths.contains(d.sourcePath))
    // CONTENT-fresh files re-indexed only for ADDED keys keep the union
    // of descriptor columns — their previous keys' postings are still
    // gen-valid (same mtime), and dropping the names would silently
    // turn those columns' queries into full scans. Content-STALE files
    // keep nothing: their old postings describe the previous bytes.
    val refreshed = descriptorRows(spark, stale, Seq.empty, withChecksums,
        graft.model.IndexType.PostingsParquet)
      .map { d =>
        val prevCols = verifiedFresh.getOrElse(d.sourcePath, None)
          .map(_.columns).getOrElse(Seq.empty)
        d.copy(columns = (prevCols ++ names).distinct)
      }
    writeDescriptors(spark, kept ++ refreshed, indexRoot)
    stale
  }

  /** The postings table as a first-class DataFrame (S5: the reference's
    * index-as-input verification path, `ScanUsingIndexJob.java:218-224`). */
  def postings(spark: SparkSession, indexRoot: String): DataFrame =
    spark.read.parquet(postingsDir(indexRoot))

  /** One postings row: the byte ranges of `file` that hold `value` of
    * `column`, stamped with the file's generation at build time, with
    * the lookup leaves that `value` matches. */
  final case class Posting(
      file: String, column: String, value: String, ranges: Seq[Block], gen: Long, leaves: Seq[Pred])

  /** The postings rows matching any of `leaves` (EQ/BETWEEN), read on
    * the driver with no Spark job — the reference's `getSplits` opens
    * its MapFile index readers the same way
    * (`BlockIndexedFileInputFormat.java:110-187`). Only the
    * `column=<c>` directories the leaves name are opened; EQ values are
    * pushed to parquet as one IN filter per column, so row-group min/max
    * and dictionary skipping work on the value-sorted files. A column
    * with a BETWEEN leaf is read unfiltered. Every row is re-checked
    * with the exact [[Pred.leafMatches]] before it counts toward
    * `limit`; reading stops once `limit` rows are held, so a caller that
    * passes `cap + 1` sees an overflow as `cap + 1` rows. Generations
    * are NOT filtered here.
    *
    * The postings root is listed ONCE: a column absent from that
    * listing only holds nulls and contributes no rows. None when the
    * root is missing, or when a directory or file of that listing
    * vanishes during the read (a compaction's swap caught between or
    * under the reads): that is "unknown", never "no match". */
  def lookupPostings(
      spark: SparkSession, indexRoot: String, leaves: Seq[Pred], limit: Int): Option[Seq[Posting]] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(postingsDir(indexRoot))
    val out = IndexedSeq.newBuilder[Posting]
    var n = 0
    val byColumn = leaves.groupBy {
      case Eq(c, _)               => c
      case Between(c, _, _, _, _) => c
      case other                  => sys.error(s"not a leaf: $other")
    }
    try {
      val present = root.getFileSystem(conf).listStatus(root).map(_.getPath.getName).toSet
      for ((c, ls) <- byColumn.toSeq.sortBy(_._1)) {
        val dir = s"column=${ExternalCatalogUtils.escapePathName(c)}"
        val filter =
          if (ls.exists(_.isInstanceOf[Between])) FilterCompat.NOOP
          else FilterCompat.get(FilterApi.in(FilterApi.binaryColumn("value"),
            ls.collect { case Eq(_, v) => Binary.fromString(v) }.toSet.asJava))
        if (present(dir)) readParts(conf, new Path(root, dir), filter, more = n < limit) { g =>
          val value = g.getString("value", 0)
          val matched = ls.filter(Pred.leafMatches(_, value))
          if (matched.nonEmpty) {
            val ranges = listOf(g, "ranges").map(_.getGroup(0, 0))
              .map(b => Block(b.getLong("start", 0), b.getLong("end", 0)))
            out += Posting(g.getString("file", 0), c, value, ranges, g.getLong("gen", 0), matched)
            n += 1
          }
        }
      }
      Some(out.result())
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Read the parquet part-files under `dir` (and its subdirectories) on
    * the driver, row by row as parquet-mr groups, while `more` holds.
    * `columns` projects each file to the named columns it has (Nil = all
    * of them). Names starting with `_` or `.` are skipped, so a
    * directory holding only `_SUCCESS` reads as no rows. A missing `dir`,
    * subdirectory or part-file throws `FileNotFoundException`. */
  private[graft] def readParts(conf: Configuration, dir: Path, filter: FilterCompat.Filter,
      more: => Boolean, columns: Seq[String] = Nil)(row: Group => Unit): Unit = {
    val (subdirs, parts) = dir.getFileSystem(conf).listStatus(dir).toSeq
      .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .partition(_.isDirectory)
    for (part <- parts.map(_.getPath) if more) readFile(conf, part, filter, more, columns)(row)
    for (sub <- subdirs.map(_.getPath) if more) readParts(conf, sub, filter, more, columns)(row)
  }

  /** Read parquet file `part` on the driver as [[readParts]] reads each
    * of its part-files. A missing `part` throws `FileNotFoundException`. */
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
      .map { st =>
        val footer = new Footer(st.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
        SchemaBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
          footer, new ParquetToSparkSchemaConverter(sqlConf)))
      }
      .getOrElse(spark.read.parquet(dataDir).schema)
  }

  /** Compact the append-only postings: drop rows for deleted files and
    * rows whose gen no longer matches the live descriptor (superseded
    * by a rebuild), and rewrite sorted. Incremental maintenance appends
    * forever; without periodic compaction the dead rows cost lookup I/O
    * even though the gen filter keeps them semantically inert. Safe to
    * run any time — the surviving rows are exactly the ones query-side
    * lookups honor. Returns (rowsBefore, rowsAfter).
    *
    * The rewrite stages into a sibling directory then swaps, so a crash
    * mid-compact leaves the old postings intact (descriptors are
    * untouched entirely). */
  def compact(spark: SparkSession, indexRoot: String): (Long, Long) = {
    import spark.implicits._
    val descs = loadDescriptors(spark, indexRoot)
    val live = spark.createDataset(
      descs.values.map(d => (d.sourcePath, d.modificationTime)).toSeq)
      .toDF("file", "gen")
    val all = postings(spark, indexRoot)
    val before = all.count()
    val stagingDir = s"$indexRoot/postings_compacting"
    all.join(broadcast(live), Seq("file", "gen"), "left_semi")
      .repartition(col("column"))
      .sortWithinPartitions("column", "value", "file")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("column")
      .parquet(stagingDir)
    val fs = new Path(indexRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    stagedSwap(fs, new Path(stagingDir),
      new Path(postingsDir(indexRoot)), new Path(s"$indexRoot/postings_old"))
    spark.catalog.refreshByPath(postingsDir(indexRoot))
    val after = postings(spark, indexRoot).count()
    (before, after)
  }

  /** Swap `staging` into `finalDir` with a backup: rename results are
    * CHECKED (Hadoop reports most failures as `false`, not exceptions)
    * and a failed second rename restores the original before throwing —
    * never delete the only live copy. */
  private[build] def stagedSwap(
      fs: FileSystem, staging: Path, finalDir: Path, backup: Path): Unit = {
    fs.delete(backup, true)
    if (!fs.rename(finalDir, backup))
      throw new java.io.IOException(s"compact: cannot move $finalDir aside to $backup")
    if (!fs.rename(staging, finalDir)) {
      fs.rename(backup, finalDir) // restore; best-effort by construction
      throw new java.io.IOException(
        s"compact: cannot move $staging into place; original restored")
    }
    fs.delete(backup, true)
  }

  /** Typed view of the postings (the model contract of FIXTURES.md §2). */
  def postingsTyped(spark: SparkSession, indexRoot: String):
      org.apache.spark.sql.Dataset[graft.model.IndexEntry] = {
    import spark.implicits._
    postings(spark, indexRoot)
      .select(col("file"), col("column"), col("value"), col("ranges"))
      .as[graft.model.IndexEntry]
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
