package graft

import graft.build.BloomIndex
import graft.query.{Eq, PrunedScanner}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bloom skipping index: pruned scan ≡ full scan, actual pruning on
  * clustered data, no false negatives by construction. */
class BloomSpec extends AnyFunSuite with SparkSpec {

  private val work = tempDir("test_bloom")
  private val dataDir = s"$work/data"
  private val bloomRoot = s"$work/bloom"

  private lazy val prepared: Unit = {
    Tables.events(spark, "/root/testdata/sf0.001")
      .repartitionByRange(8, col("event_id"))
      .write.parquet(dataDir)
    BloomIndex.build(spark, dataDir, Seq("event_id", "event_type"), bloomRoot)
  }

  test("bloom-pruned EQ scan == full scan, and actually prunes") {
    prepared
    val pred = Eq("event_id", "417")
    val full = spark.read.parquet(dataDir).filter(pred.toColumn)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val (files, report) = PrunedScanner.selectFiles(spark, dataDir, pred, bloomRoot)
    val pruned = PrunedScanner.scan(spark, dataDir, pred, bloomRoot)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(pruned == full && pruned.nonEmpty)
    assert(report.fallbackFiles == 0)
    assert(report.selectedFiles < report.totalFiles,
      s"expected bloom pruning on id-clustered files, got $report")
    assert(files.nonEmpty)
  }

  test("every distinct value scans to exactly its full-scan rows") {
    prepared
    // the per-key differential over a sample of keys (ScanUsingIndexJob
    // stance): no key may lose rows to a false negative
    val keys = spark.read.parquet(dataDir).select("event_type")
      .distinct().collect().map(_.getString(0))
    keys.foreach { v =>
      val pred = Eq("event_type", v)
      val full = spark.read.parquet(dataDir).filter(pred.toColumn).count()
      val pruned = PrunedScanner.scan(spark, dataDir, pred, bloomRoot).count()
      assert(pruned == full, s"value $v: pruned=$pruned full=$full")
    }
  }

  test("absent value returns empty result") {
    prepared
    assert(PrunedScanner.scan(spark, dataDir, Eq("event_id", "99999999"), bloomRoot)
      .count() == 0)
  }

  test("adding a column keeps old coverage; compact drops superseded rows") {
    val dir = s"$work/inc_data"
    val root = s"$work/inc_bloom"
    Tables.events(spark, "/root/testdata/sf0.001")
      .repartitionByRange(4, col("event_id")).write.parquet(dir)
    BloomIndex.build(spark, dir, Seq("event_id"), root)
    BloomIndex.build(spark, dir, Seq("event_type"), root)
    // both columns stay covered: neither pruned query falls back
    val (_, r1) = PrunedScanner.selectFiles(spark, dir, Eq("event_id", "5"), root)
    val (_, r2) = PrunedScanner.selectFiles(spark, dir, Eq("event_type", "error"), root)
    assert(r1.fallbackFiles == 0, s"event_id coverage lost: $r1")
    assert(r2.fallbackFiles == 0, s"event_type coverage lost: $r2")

    // touch one file -> rebuild appends a new gen -> compact removes dead rows
    val f = graft.build.IndexBuilder.listDataFiles(spark, dir).head
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(f.path),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
    BloomIndex.build(spark, dir, Seq("event_id", "event_type"), root)
    val (before, after) = BloomIndex.compact(spark, root)
    assert(after < before, s"expected dead bloom rows dropped: $before -> $after")
    val pred = Eq("event_type", "error")
    val full = spark.read.parquet(dir).filter(pred.toColumn).count()
    assert(PrunedScanner.scan(spark, dir, pred, root).count() == full)
  }

  test("stale file falls back to full scan") {
    prepared
    val staleData = s"$work/stale_data"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(dataDir),
      fs, new org.apache.hadoop.fs.Path(staleData), false,
      spark.sparkContext.hadoopConfiguration)
    val staleBloom = s"$work/stale_bloom"
    BloomIndex.build(spark, staleData, Seq("event_type"), staleBloom)
    // touch one file -> fingerprint mismatch -> fallback
    val f = graft.build.IndexBuilder.listDataFiles(spark, staleData).head
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(f.path),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
    val (_, report) = PrunedScanner.selectFiles(
      spark, staleData, Eq("event_type", "error"), staleBloom)
    assert(report.fallbackFiles >= 1, s"expected stale fallback, got $report")
  }
}
