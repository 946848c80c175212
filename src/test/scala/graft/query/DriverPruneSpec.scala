package graft.query

import graft.Graft
import graft.build.IndexBuilder
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The prune decision runs on the driver: the postings probe equals the
  * Spark postings lookup, no Spark job is launched (postings and bloom
  * roots alike), unindexed leaves are unknown to the interval algebra,
  * and every branch that cannot trust an index (the lookup cap, a
  * postings or blooms root caught between a compaction's renames)
  * degrades to a full scan whose rows equal a plain read. */
class DriverPruneSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("DriverPruneSpec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val work = java.nio.file.Files.createTempDirectory("driverprune").toString
  private def dataDir = s"$work/data"
  private def indexRoot = s"$work/index"
  private val Columns = Seq("user_id", "event_type", "tag")

  // 8 files clustered by user_id; event_type is in every file; tag is
  // null everywhere, so its postings directory is never written
  private lazy val prepared: Unit = {
    spark.range(0, 4000)
      .select(col("id"), (col("id") / 250).cast("long").as("user_id"),
        concat(lit("t"), (col("id") % 3).cast("string")).as("event_type"),
        lit(null).cast("string").as("tag"))
      .repartitionByRange(8, col("user_id"))
      .write.parquet(dataDir)
    IndexBuilder.build(spark, dataDir, Columns, indexRoot)
  }

  // a bloom root over `id`, which the postings index does not cover
  private def bloomRoot = s"$work/bloom"
  private lazy val bloomed: Unit = {
    prepared
    graft.build.BloomIndex.build(spark, dataDir, Seq("id"), bloomRoot)
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  private def fullScanIds(pred: Pred): Set[Long] =
    ids(spark.read.parquet(dataDir).filter(pred.toColumn))

  /** Jobs started while `body` runs. A marker job submitted afterwards
    * flushes the listener bus: its start event arrives after every
    * earlier one. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marked = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("driverprune.marker") != null)) marked.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("driverprune.marker", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("driverprune.marker", null)
      assert(marked.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never reported")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("driver postings lookup returns the rows of the Spark postings lookup") {
    prepared
    val leaves: Seq[Pred] = Seq(Eq("user_id", "3"), Eq("user_id", "11"), Eq("event_type", "t1"),
      Between("user_id", Some(BigDecimal(5)), Some(BigDecimal(7)), loInc = true, hiInc = false),
      Eq("event_type", "absent"))
    val got = IndexBuilder.lookupPostings(spark, indexRoot, leaves, Int.MaxValue).get
      .map(p => (p.file, p.column, p.value, p.ranges, p.gen)).toSet
    import spark.implicits._
    val want = IndexBuilder.postings(spark, indexRoot)
      .select("file", "column", "value", "ranges", "gen")
      .as[(String, String, String, Seq[graft.intervals.Block], Long)]
      .collect()
      .filter { case (_, c, v, _, _) => leaves.exists(l => l.columns == Set(c) && Pred.leafMatches(l, v)) }
      .toSet
    assert(want.nonEmpty && got == want)
    // the limit stops the read
    assert(IndexBuilder.lookupPostings(spark, indexRoot, leaves, 3).get.size == 3)
  }

  test("the prune decision and transparent planning launch no Spark job") {
    prepared
    val pred = And(Eq("event_type", "t2"), Eq("user_id", "4"))
    // descriptors, postings and the data schema are all read on the driver
    var selected: Seq[String] = Nil
    assert(jobsDuring { selected = PrunedScanner.selectFiles(spark, dataDir, pred, indexRoot)._1 } == 0)
    assert(selected.nonEmpty && selected.size < IndexBuilder.listDataFiles(spark, dataDir).size)
    Graft.registerIndex(spark, dataDir, indexRoot)
    try {
      var q: DataFrame = null
      assert(jobsDuring {
        q = Graft.read(spark, dataDir).filter(col("event_type") === "t2" && col("user_id") === 4)
        q.queryExecution.optimizedPlan
      } == 0)
      assert(ids(q) == fullScanIds(pred))
    } finally spark.conf.unset(graft.plans.GraftPruneRule.IndexesConf)
  }

  test("a transparent read with postings and bloom registries plans with no Spark job") {
    bloomed
    Graft.registerIndex(spark, dataDir, indexRoot)
    Graft.registerBloom(spark, dataDir, bloomRoot)
    try {
      val all = IndexBuilder.listDataFiles(spark, dataDir).size
      // one conjunct per index, and an OR neither index can answer alone
      for (c <- Seq(col("event_type") === "t2" && col("id") === 1235,
          col("user_id") === 3 || col("id") === 1235)) {
        var q: DataFrame = null
        assert(jobsDuring {
          q = Graft.read(spark, dataDir).filter(c)
          q.queryExecution.optimizedPlan
        } == 0, s"$c")
        assert(q.inputFiles.length < all, s"$c")
        assert(ids(q) == ids(spark.read.parquet(dataDir).filter(c)) && ids(q).nonEmpty)
      }
    } finally {
      spark.conf.unset(graft.plans.GraftPruneRule.IndexesConf)
      spark.conf.unset(graft.plans.GraftPruneRule.BloomIndexesConf)
    }
  }

  test("explicit path: an unindexed conjunct is dropped from an AND and unknown in an OR") {
    prepared
    val files = IndexBuilder.listDataFiles(spark, dataDir).size
    // `id` is not indexed
    val none: Pred = And(Eq("event_type", "absent"), Eq("id", "5"))
    val (noneDf, noneReport) = PrunedScanner.scanWithReport(spark, dataDir, none, indexRoot)
    assert(noneReport.selectedFiles == 0 && noneReport.fallbackFiles == 0)
    assert(ids(noneDf) == fullScanIds(none) && ids(noneDf).isEmpty)
    val narrowed: Pred = And(Eq("user_id", "3"), Eq("id", "760"))
    val (narrowedDf, narrowedReport) = PrunedScanner.scanWithReport(spark, dataDir, narrowed, indexRoot)
    assert(narrowedReport.selectedFiles == 1 && narrowedReport.fallbackFiles == 0)
    assert(ids(narrowedDf) == fullScanIds(narrowed) && ids(narrowedDf) == Set(760L))
    val either: Pred = Or(Eq("user_id", "3"), Eq("id", "5"))
    val (eitherDf, eitherReport) = PrunedScanner.scanWithReport(spark, dataDir, either, indexRoot)
    assert(eitherReport.selectedFiles == 0 && eitherReport.fallbackFiles == files)
    assert(ids(eitherDf) == fullScanIds(either))
  }

  test("a blooms root that vanishes during the read, or is missing, falls back to a full scan") {
    bloomed
    val pred: Pred = Eq("id", "1234")
    val (_, fresh) = PrunedScanner.scanWithReport(spark, dataDir, pred, bloomRoot)
    assert(fresh.fallbackFiles == 0 && fresh.selectedFiles < fresh.totalFiles)
    val blooms = graft.build.BloomIndex.bloomsDir(bloomRoot)
    spark.conf.set("fs.racefs.impl", classOf[RaceFs].getName)
    spark.conf.set("fs.racefs.impl.disable.cache", "true")
    try {
      RaceFs.vanishOnList(blooms, blooms, s"$bloomRoot/blooms_old")
      val (df, report) = PrunedScanner.scanWithReport(spark, dataDir, pred, s"racefs://$bloomRoot")
      assert(RaceFs.fired)
      assert(report.selectedFiles == 0 && report.fallbackFiles == report.totalFiles)
      assert(ids(df) == fullScanIds(pred) && ids(df).nonEmpty)
    } finally {
      RaceFs.disarm()
      spark.conf.unset("fs.racefs.impl")
      spark.conf.unset("fs.racefs.impl.disable.cache")
    }
    val fs = new Path(bloomRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(blooms), new Path(s"$bloomRoot/blooms_moved")))
    try {
      val (df, report) = PrunedScanner.scanWithReport(spark, dataDir, pred, bloomRoot)
      assert(report.selectedFiles == 0 && report.fallbackFiles == report.totalFiles)
      assert(ids(df) == fullScanIds(pred))
    } finally fs.rename(new Path(s"$bloomRoot/blooms_moved"), new Path(blooms))
  }

  test("postings-lookup cap: past it every file falls back and rows equal a full scan") {
    prepared
    val pred: Pred = Eq("event_type", "t1") // one postings row per file: 8 rows
    val files = IndexBuilder.listDataFiles(spark, dataDir).map(_.path).toSet
    val (_, Seq((sel, fb, report))) = PrunedScanner.selectFilesDetailed(
      spark, dataDir, Seq(pred), Seq(indexRoot), IndexBuilder.DefaultCapBytes, maxPostings = 2)
    assert(sel.isEmpty && fb.toSet == files && report.fallbackFiles == files.size)
    assert(ids(spark.read.parquet(fb: _*).filter(pred.toColumn)) == fullScanIds(pred))
    // under the default cap the same lookup is served by the index
    val (_, Seq((sel2, fb2, _))) = PrunedScanner.selectFilesDetailed(
      spark, dataDir, Seq(pred), Seq(indexRoot), IndexBuilder.DefaultCapBytes)
    assert(fb2.isEmpty && sel2.toSet == files)
  }

  test("a missing postings root falls back to a full scan; a missing column directory is no match") {
    prepared
    // an index caught between compact's two renames: postings/ moved
    // aside, descriptors still fresh
    val swapped = s"$work/index_swapped"
    IndexBuilder.build(spark, dataDir, Columns, swapped)
    val fs = new Path(swapped).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(IndexBuilder.postingsDir(swapped)), new Path(s"$swapped/postings_old")))
    val pred: Pred = Eq("user_id", "3")
    val (df, report) = PrunedScanner.scanWithReport(spark, dataDir, pred, swapped)
    assert(report.fallbackFiles == report.totalFiles && report.selectedFiles == 0)
    assert(ids(df) == fullScanIds(pred) && ids(df).nonEmpty)
    // `tag` holds only nulls: no column=tag directory, and EQ never
    // matches null, so pruning every file is the right answer
    assert(!fs.exists(new Path(s"${IndexBuilder.postingsDir(indexRoot)}/column=tag")))
    val tagPred: Pred = Eq("tag", "x")
    val (tagDf, tagReport) = PrunedScanner.scanWithReport(spark, dataDir, tagPred, indexRoot)
    assert(tagReport.selectedFiles == 0 && tagReport.fallbackFiles == 0)
    assert(tagDf.collect().toSeq == spark.read.parquet(dataDir).filter(tagPred.toColumn).collect().toSeq)
  }

  test("postings swapped between two column reads fall back to a full scan, never no match") {
    prepared
    val raced = s"$work/index_raced"
    IndexBuilder.build(spark, dataDir, Columns, raced)
    // the index is read through `racefs`, known only to the session's
    // conf (the FS cache is off, so no instance outlives the conf)
    spark.conf.set("fs.racefs.impl", classOf[RaceFs].getName)
    spark.conf.set("fs.racefs.impl.disable.cache", "true")
    try {
      // compact's first rename lands after the root listing and the
      // event_type read, just before user_id's directory is listed
      RaceFs.moveAsideOnList(s"${IndexBuilder.postingsDir(raced)}/column=user_id",
        IndexBuilder.postingsDir(raced), s"$raced/postings_old")
      val pred: Pred = And(Eq("event_type", "t2"), Eq("user_id", "4"))
      val (_, Seq((sel, fb, report))) = PrunedScanner.selectFilesDetailed(
        spark, dataDir, Seq(pred), Seq(s"racefs://$raced"), IndexBuilder.DefaultCapBytes)
      assert(RaceFs.fired)
      assert(sel.isEmpty && report.fallbackFiles == report.totalFiles)
      assert(ids(spark.read.parquet(fb: _*).filter(pred.toColumn)) == fullScanIds(pred))
      assert(fullScanIds(pred).nonEmpty)
    } finally {
      spark.conf.unset("fs.racefs.impl")
      spark.conf.unset("fs.racefs.impl.disable.cache")
    }
  }

  test("RangeScan.readPosting serves the live postings through the driver lookup") {
    prepared
    val file = IndexBuilder.listDataFiles(spark, dataDir)
      .find(f => !spark.read.parquet(f.path).filter(col("user_id") === 3).isEmpty).get.path
    val rows = RangeScan.readPosting(spark, indexRoot, s"file://$file", "user_id", "3")
    assert(ids(rows.filter(col("user_id") === 3)) ==
      ids(spark.read.parquet(file).filter(col("user_id") === 3)))
    assert(RangeScan.readPosting(spark, indexRoot, file, "user_id", "999").isEmpty)
  }
}

/** The local filesystem under the `racefs` scheme. Armed with
  * [[RaceFs.moveAsideOnList]], it renames one directory aside the first
  * time a chosen directory is listed — a rename racing a reader; armed
  * with [[RaceFs.vanishOnList]], a directory is gone for one listing of
  * another and moved back once it returns, so it is gone for that reader
  * only; armed with [[RaceFs.actOnAccess]], it runs an action (a
  * commit landing at that point of a read) at one listing, status or
  * open call under a path. [[RaceFs.listings]] counts directory
  * listings. */
class RaceFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("racefs:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    RaceFs.listings.incrementAndGet()
    RaceFs.around("list", f)(super.listStatus(f))
  }
  override def getFileStatus(f: Path): FileStatus =
    RaceFs.around("stat", f)(super.getFileStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    RaceFs.around("open", f)(super.open(f, bufferSize))
}

object RaceFs {
  /** On the `skip + 1`-th call `hit` matches (operation, path), run
    * `act`; the function it returns runs once that call returns. */
  private final case class Arm(hit: (String, String) => Boolean, skip: Int,
      act: () => () => Unit)

  private var armed: Option[Arm] = None
  @volatile var fired = false
  val listings = new java.util.concurrent.atomic.AtomicInteger(0)

  def moveAsideOnList(listed: String, from: String, to: String): Unit =
    arm(Arm((op, p) => op == "list" && p == listed, 0, () => {
      move(from, to)
      () => ()
    }))

  /** `moved` is at `aside` during the `skip + 1`-th listing of `listed`. */
  def vanishOnList(listed: String, moved: String, aside: String, skip: Int = 0): Unit =
    arm(Arm((op, p) => op == "list" && p == listed, skip, () => {
      move(moved, aside)
      () => move(aside, moved)
    }))

  /** At the `skip + 1`-th listing, status or open call on `under` or
    * below it, run `act`. */
  def actOnAccess(under: String, skip: Int)(act: => Unit): Unit =
    arm(Arm((_, p) => p == under || p.startsWith(s"$under/"), skip, () => {
      act
      () => ()
    }))

  def disarm(): Unit = synchronized { armed = None }

  private def arm(a: Arm): Unit = synchronized {
    armed = Some(a)
    fired = false
  }

  private def move(from: String, to: String): Unit =
    java.nio.file.Files.move(java.nio.file.Paths.get(from), java.nio.file.Paths.get(to))

  private def around[T](op: String, f: Path)(call: => T): T = {
    val restore = on(op, f.toUri.getPath)
    try call finally restore()
  }

  private def on(op: String, path: String): () => Unit = synchronized {
    armed.filter(_.hit(op, path)).fold(() => ()) { a =>
      if (a.skip > 0) {
        armed = Some(a.copy(skip = a.skip - 1))
        () => ()
      } else {
        armed = None
        fired = true
        a.act()
      }
    }
  }
}
