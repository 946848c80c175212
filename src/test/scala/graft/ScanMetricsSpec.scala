package graft

import graft.query.ScanMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Rows scanned vs qualified counters ride the job via observe() and
  * surface through the listener — R10 parity with the reference's
  * FilterRecordReader task counters. Also: hive-style day partitions
  * prune at plan time (the reference's YYYY/MM/DD index-collection
  * convention as partition columns). */
class ScanMetricsSpec extends AnyFunSuite with SparkSpec {

  private val work = tempDir("test_metrics")

  test("PruneStats aggregates pruning reports into one summary line") {
    graft.query.PruneStats.reset()
    assert(graft.query.PruneStats.summaryLine().isEmpty,
      "no line before any pruned scan")
    // q16 goes through PrunedScanner.selectFilesDetailed, which records
    // its PruneReport into the process-wide stats
    SparkEntry.queries("q16_idx_eq")(spark, "/root/testdata/sf0.001").count()
    val line = graft.query.PruneStats.summaryLine()
    assert(line.isDefined, "pruned scan recorded nothing")
    assert(line.get.contains("\"pruned_scans\":") &&
      line.get.contains("\"bytes_before\":") &&
      line.get.contains("\"bytes_after\":") &&
      line.get.contains("\"prune_ms\":"), line.get)
    graft.query.PruneStats.reset()
    assert(graft.query.PruneStats.summaryLine().isEmpty)
  }

  test("observed scan reports scanned and qualified row counts") {
    ScanMetrics.register(spark)
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val df = ScanMetrics.observed(events, col("event_type") === "error", "m1")
    val qualified = df.count()
    // listener fires asynchronously after onSuccess; poll briefly
    val deadline = System.currentTimeMillis() + 10000
    var m: Option[(Long, Long)] = None
    while (m.forall(t => t._1 < 0 || t._2 < 0) && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      m = ScanMetrics.last("m1")
    }
    assert(m.isDefined, "metrics never arrived")
    val (scanned, q) = m.get
    assert(scanned == 1000, s"scanned=$scanned")
    assert(q == qualified && q > 0 && q < scanned)
  }

  test("day-partitioned layout prunes partitions at plan time") {
    import graft.functions.DateFormats
    val dir = s"$work/events_by_day"
    Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").parquet(dir)
    val df = spark.read.parquet(dir)
      .filter(col("day") === "2024-01-03")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("2024-01-03"), plan)
    assert(df.count() > 0)
    // files actually read (post-pruning) < total files in the layout
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.get
    val totalFiles = graft.build.IndexBuilder.listDataFiles(spark, dir).length
    assert(scan.metrics("numFiles").value < totalFiles,
      s"read ${scan.metrics("numFiles").value} of $totalFiles files")
    // the day-key convention round-trips through DateFormats
    val keyed = df.select(DateFormats.dayKey(col("ts")).as("k")).distinct()
    assert(keyed.collect().map(_.getString(0)).forall(_ == "2024/01/03"))
  }
}
