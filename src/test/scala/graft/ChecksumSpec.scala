package graft

import graft.build.IndexBuilder
import graft.query.{Eq, PrunedScanner}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Content-checksum freshness: an index built `withChecksums` detects an
  * MTIME-PRESERVING rewrite (same length, same mtime, different bytes —
  * the distcp -p / touch scenario) and falls back to a full scan, where
  * the length+mtime fingerprint alone is fooled. */
class ChecksumSpec extends AnyFunSuite with SparkSpec {

  private val work = tempDir("test_checksum")

  /** Rewrites `dataDir`'s first part file in place: one byte flipped
    * mid-file, same length, mtime restored — the filesystem updates the
    * .crc sidecar, so only the content checksum can tell. Returns the
    * file as it was listed before. */
  private def rewriteFirstFile(dataDir: String): IndexBuilder.SourceFile = {
    val victim = IndexBuilder.listDataFiles(spark, dataDir).head
    val p = new Path(victim.path)
    val fs = p.getFileSystem(graft.build.Commit.conf(spark))
    val bytes = new Array[Byte](victim.length.toInt)
    val in = fs.open(p)
    try in.readFully(0, bytes) finally in.close()
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
    fs.setTimes(p, victim.modificationTime, -1)
    victim
  }

  test("mtime-preserving rewrite is detected as stale, fingerprint-only is fooled") {
    val dataDir = s"$work/data"
    val indexRoot = s"$work/index"
    Tables.events(spark, "/root/testdata/sf0.001")
      .repartitionByRange(4, col("event_type"), col("event_id"))
      .write.parquet(dataDir)
    IndexBuilder.build(spark, dataDir, Seq("event_type"), indexRoot,
      withChecksums = true)

    val descs = IndexBuilder.loadDescriptors(spark, indexRoot)
    assert(descs.values.forall(_.checksum.nonEmpty),
      "withChecksums build must record filesystem checksums")

    // clean index answers with zero fallback files
    val (_, before) = PrunedScanner.selectFiles(
      spark, dataDir, Eq("event_type", "error"), indexRoot)
    assert(before.fallbackFiles == 0)

    // rewrite one part file behind the length+mtime fingerprint
    val victim = rewriteFirstFile(dataDir)

    val after = IndexBuilder.listDataFiles(spark, dataDir)
      .find(_.path == victim.path).get
    assert(after.length == victim.length &&
      after.modificationTime == victim.modificationTime,
      "rewrite must preserve the length+mtime fingerprint for this test")

    // fingerprint alone is fooled; the verified check is not
    assert(IndexBuilder.freshDescriptor(descs, after).isDefined)
    assert(IndexBuilder.freshDescriptorVerified(spark, descs, after).isEmpty)

    // and the pruning decision routes the rewritten file to fallback
    val (files, report) = PrunedScanner.selectFiles(
      spark, dataDir, Eq("event_type", "error"), indexRoot)
    assert(report.fallbackFiles == 1)
    assert(files.contains(victim.path))
  }

  test("incremental build does NOT launder a checksum-stale file's old columns") {
    val dataDir = s"$work/data_incr"
    val indexRoot = s"$work/index_incr"
    Tables.events(spark, "/root/testdata/sf0.001")
      .repartitionByRange(2, col("event_type"), col("event_id"))
      .write.parquet(dataDir)
    IndexBuilder.build(spark, dataDir, Seq("event_type"), indexRoot,
      withChecksums = true)

    // mtime-preserving rewrite of one file (content differs, fingerprint same)
    val victim = rewriteFirstFile(dataDir)
    spark.catalog.refreshByPath(dataDir)

    // incremental build for a DIFFERENT column: the rewritten file is
    // detected stale and re-indexed for user_id — but its OLD
    // event_type postings describe the previous bytes, so the refreshed
    // descriptor must NOT keep event_type (that would record the new
    // checksum over stale postings, permanently hiding the rewrite)
    val reindexed = IndexBuilder.buildIncremental(
      spark, dataDir, Seq("user_id"), indexRoot, withChecksums = true)
    assert(reindexed.map(_.path).contains(victim.path))
    val descs = IndexBuilder.loadDescriptors(spark, indexRoot)
    val d = descs(victim.path)
    assert(d.columns.contains("user_id"))
    assert(!d.columns.contains("event_type"),
      s"stale file's old columns must be dropped, got ${d.columns}")
    // the untouched file keeps the union behavior
    val other = descs.keys.find(_ != victim.path).get
    assert(descs(other).columns.contains("event_type"))
  }

  test("default builds record no checksum and skip the filesystem call") {
    val dataDir = s"$work/data_plain"
    val indexRoot = s"$work/index_plain"
    Tables.events(spark, "/root/testdata/sf0.001")
      .limit(100).write.parquet(dataDir)
    IndexBuilder.build(spark, dataDir, Seq("event_type"), indexRoot)
    val descs = IndexBuilder.loadDescriptors(spark, indexRoot)
    assert(descs.values.forall(d =>
      d.checksum.isEmpty && d.checksumAlgorithm == "length+mtime"))
    val f = IndexBuilder.listDataFiles(spark, dataDir).head
    assert(IndexBuilder.freshDescriptorVerified(spark, descs, f).isDefined)
  }

  test("indexedColumns drops a checksum-stale file's columns") {
    val dataDir = s"$work/data_cols"
    val indexRoot = s"$work/index_cols"
    spark.range(0, 100, 1, 1).select(col("id"), (col("id") % 3).cast("string").as("event_type"))
      .write.parquet(dataDir)
    IndexBuilder.build(spark, dataDir, Seq("event_type"), indexRoot, withChecksums = true)
    assert(Graft.indexedColumns(spark, dataDir, indexRoot) == Seq("event_type"))
    rewriteFirstFile(dataDir)
    // every pruned read of the file now falls back to a full scan
    assert(Graft.indexedColumns(spark, dataDir, indexRoot) == Nil)
  }
}
