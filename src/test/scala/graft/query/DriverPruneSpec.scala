package graft.query

import graft.{Graft, SparkSpec}
import graft.build.IndexBuilder
import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** The prune decision runs on the driver: the postings probe equals the
  * Spark postings lookup, no Spark job is launched (postings and bloom
  * roots alike), unindexed leaves are unknown to the interval algebra,
  * and every branch that cannot trust an index (the lookup cap, a
  * committed file gone) degrades to a full scan whose rows equal a
  * plain read. An index root commits like a maintained store: a rebuild
  * cancelled or running alongside, and a compaction or an incremental
  * build committed at any access of a decision, never cost a matching
  * row, and a filesystem registered only in the session conf serves the
  * whole lifecycle. */
class DriverPruneSpec extends AnyFunSuite with SparkSpec {

  private val work = tempDir("driverprune")
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

  private def committed(root: String): IndexBuilder.Root = IndexBuilder.readRoot(spark, root).get

  /** A copy of the prepared index at `$work/<name>`. */
  private def copyOfIndex(name: String): String = {
    prepared
    FileUtils.copyDirectory(new File(indexRoot), new File(s"$work/$name"))
    s"$work/$name"
  }

  private def withRaceFs[T](body: => T): T =
    withConf("fs.racefs.impl" -> classOf[RaceFs].getName, "fs.racefs.impl.disable.cache" -> "true") {
      try body finally RaceFs.disarm()
    }

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
    val got = IndexBuilder.lookupPostings(spark, committed(indexRoot), leaves, Int.MaxValue).get
      .map(p => (p.file, p.column, p.value, p.ranges)).toSet
    import spark.implicits._
    val want = IndexBuilder.postings(spark, indexRoot)
      .select("file", "column", "value", "ranges")
      .as[(String, String, String, Seq[graft.intervals.Block])]
      .collect()
      .filter { case (_, c, v, _) => leaves.exists(l => l.columns == Set(c) && Pred.leafMatches(l, v)) }
      .toSet
    assert(want.nonEmpty && got == want)
    // the limit stops the read
    assert(IndexBuilder.lookupPostings(spark, committed(indexRoot), leaves, 3).get.size == 3)
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

  test("a committed bloom file that is gone falls back to a full scan") {
    bloomed
    val pred: Pred = Eq("id", "1234")
    val (_, fresh) = PrunedScanner.scanWithReport(spark, dataDir, pred, bloomRoot)
    assert(fresh.fallbackFiles == 0 && fresh.selectedFiles < fresh.totalFiles)
    val file = new File(bloomRoot, committed(bloomRoot).files.head.path)
    val aside = new File(s"$work/bloom_aside")
    FileUtils.moveFile(file, aside)
    try {
      val (df, report) = PrunedScanner.scanWithReport(spark, dataDir, pred, bloomRoot)
      assert(report.selectedFiles == 0 && report.fallbackFiles == report.totalFiles)
      assert(ids(df) == fullScanIds(pred) && ids(df).nonEmpty)
    } finally FileUtils.moveFile(aside, file)
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

  test("a committed postings file that is gone falls back to a full scan; a column with no committed file is no match") {
    val gone = copyOfIndex("index_gone")
    val file = committed(gone).files.find(_.path.contains("/column=user_id/")).get
    assert(new File(gone, file.path).delete())
    val pred: Pred = Eq("user_id", "3")
    val (df, report) = PrunedScanner.scanWithReport(spark, dataDir, pred, gone)
    assert(report.fallbackFiles == report.totalFiles && report.selectedFiles == 0)
    assert(ids(df) == fullScanIds(pred) && ids(df).nonEmpty)
    // `tag` holds only nulls: no committed column=tag file, and EQ never
    // matches null, so pruning every file is the right answer
    assert(!committed(indexRoot).files.exists(_.path.contains("/column=tag/")))
    val tagPred: Pred = Eq("tag", "x")
    val (tagDf, tagReport) = PrunedScanner.scanWithReport(spark, dataDir, tagPred, indexRoot)
    assert(tagReport.selectedFiles == 0 && tagReport.fallbackFiles == 0)
    assert(tagDf.collect().toSeq == spark.read.parquet(dataDir).filter(tagPred.toColumn).collect().toSeq)
  }

  /** Files of `dataDir` holding a row that matches `pred`. */
  private def matching(pred: Pred): Set[String] =
    spark.read.parquet(dataDir).filter(pred.toColumn)
      .select(input_file_name()).collect().map(r => IndexBuilder.canonicalPath(r.getString(0))).toSet

  /** Runs `body` with `listener` registered; returns once it has seen
    * every job `body` ran. */
  private def listening(listener: SparkListener)(body: => Unit): Unit = {
    spark.sparkContext.addSparkListener(listener)
    try jobsDuring(body) finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a rebuild cancelled in its write keeps the committed index: the same selection, full-scan rows") {
    val root = copyOfIndex("index_cancelled")
    val pred: Pred = Eq("user_id", "3")
    val (before, _) = PrunedScanner.selectFiles(spark, dataDir, pred, root)
    withRaceFs {
      // the write job is cancelled as its first task creates a file
      RaceFs.actOnCreate(root) {
        spark.sparkContext.cancelAllJobs()
        throw new java.io.IOException("the rebuild's write job was cancelled")
      }
      intercept[Exception](
        IndexBuilder.build(spark, dataDir, Columns, s"racefs://$root", overwrite = true))
      assert(RaceFs.fired)
    }
    val (df, report) = PrunedScanner.scanWithReport(spark, dataDir, pred, root)
    assert(PrunedScanner.selectFiles(spark, dataDir, pred, root)._1 == before)
    assert(report.fallbackFiles == 0 && report.selectedFiles == before.size)
    assert(ids(df) == fullScanIds(pred) && ids(df).size == 250)
  }

  test("a rebuild running alongside decisions: every decision keeps every file with a matching row") {
    val root = copyOfIndex("index_rebuilt")
    val pred: Pred = Or(Eq("user_id", "3"), Eq("event_type", "t1"))
    val kept = new java.util.concurrent.ConcurrentLinkedQueue[Try[Seq[String]]]()
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        kept.add(Try(PrunedScanner.selectFiles(spark, dataDir, pred, root)._1))
    })(IndexBuilder.build(spark, dataDir, Columns, root, overwrite = true))
    import scala.jdk.CollectionConverters._
    val (decisions, want) = (kept.asScala.toSeq, matching(pred))
    assert(decisions.size >= 2, "the rebuild ran no jobs")
    for (d <- decisions) assert(d.toOption.exists(fs => want.subsetOf(fs.toSet)), s"$d")
  }

  test("a compaction or an incremental build committed at any access of a decision: full-scan rows, never an error") {
    val pred: Pred = And(Eq("event_type", "t2"), Eq("user_id", "4"))
    val want = fullScanIds(pred)
    assert(want.nonEmpty)
    for ((what, commit) <- Seq[(String, (String, String) => Unit)](
        "compact" -> ((_, root) => IndexBuilder.compact(spark, root)),
        "buildIncremental" -> ((data, root) => assert(
          IndexBuilder.buildIncremental(spark, data, Columns, root).nonEmpty)))) {
      val (data, built) = (s"$work/swept_data_$what", s"$work/swept_index_$what")
      FileUtils.copyDirectory(new File(dataDir), new File(data))
      IndexBuilder.build(spark, data, Columns, built)
      val touched = new File(IndexBuilder.listDataFiles(spark, data).head.path)
      val runs = withRaceFs {
        Iterator.from(0).map { k =>
          assert(k < 200, "the race kept firing")
          val root = s"${built}_$k"
          FileUtils.copyDirectory(new File(built), new File(root))
          // a new mtime leaves one file stale for the incremental build
          assert(touched.setLastModified(touched.lastModified() + 2000))
          RaceFs.actOnAccess(root, k)(commit(data, root))
          val out = Try {
            val (_, Seq((sel, fb, _))) = PrunedScanner.selectFilesDetailed(
              spark, data, Seq(pred), Seq(s"racefs://$root"), IndexBuilder.DefaultCapBytes)
            ids(spark.read.parquet(sel ++ fb: _*).filter(pred.toColumn))
          }
          val fired = RaceFs.fired
          RaceFs.disarm()
          fired -> out
        }.span(_._1) match { case (raced, rest) => raced.toList :+ rest.next() }
      }
      info(s"$what: ${runs.size - 1} accesses swept")
      assert(runs.size > 3, s"$what: the sweep must cover the decision's accesses")
      for (((_, out), i) <- runs.zipWithIndex)
        assert(out.toOption.contains(want), s"$what committed at access $i: $out")
    }
  }

  test("a filesystem registered only in the session conf serves build, buildIncremental, compact and a pruned scan") {
    prepared
    val data = s"$work/idxfs_data"
    FileUtils.copyDirectory(new File(dataDir), new File(data))
    withConf("fs.idxfs.impl" -> classOf[IndexSessionFs].getName,
        "fs.idxfs.impl.disable.cache" -> "true",
        "fs.AbstractFileSystem.idxfs.impl" -> classOf[IndexSessionAfs].getName) {
      val (d, root) = (s"idxfs://$data", s"idxfs://$work/idxfs_index")
      IndexBuilder.build(spark, d, Columns, root)
      val touched = IndexBuilder.listDataFiles(spark, d).head.path
      assert(new File(touched).setLastModified(new File(touched).lastModified() + 2000))
      assert(IndexBuilder.buildIncremental(spark, d, Columns, root).map(_.path) == Seq(touched))
      val (before, after) = IndexBuilder.compact(spark, root)
      assert(after < before)
      val pred: Pred = Eq("user_id", "3")
      val (df, report) = PrunedScanner.scanWithReport(spark, d, pred, root)
      assert(report.fallbackFiles == 0 && report.selectedFiles < report.totalFiles)
      assert(ids(df) == fullScanIds(pred))
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
  * [[RaceFs.actOnAccess]], it runs an action (a commit landing at that
  * point of a read) at one listing, status or open call under a path;
  * armed with [[RaceFs.actOnCreate]], at the first file created below a
  * path. [[RaceFs.listings]] counts directory listings. */
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
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    RaceFs.around("create", f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    RaceFs.around("create", f)(
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
}

object RaceFs {
  /** On the `skip + 1`-th call `hit` matches (operation, path), run
    * `act`; the function it returns runs once that call returns. */
  private final case class Arm(hit: (String, String) => Boolean, skip: Int,
      act: () => () => Unit)

  private var armed: Option[Arm] = None
  @volatile var fired = false
  val listings = new java.util.concurrent.atomic.AtomicInteger(0)

  /** At the `skip + 1`-th listing, status or open call on `under` or
    * below it, run `act`. */
  def actOnAccess(under: String, skip: Int)(act: => Unit): Unit =
    arm(Arm((op, p) => op != "create" && (p == under || p.startsWith(s"$under/")), skip, () => {
      act
      () => ()
    }))

  /** At the first file created below `under`, run `act`. */
  def actOnCreate(under: String)(act: => Unit): Unit =
    arm(Arm((op, p) => op == "create" && p.startsWith(s"$under/"), 0, () => {
      act
      () => ()
    }))

  def disarm(): Unit = synchronized { armed = None }

  private def arm(a: Arm): Unit = synchronized {
    armed = Some(a)
    fired = false
  }

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

/** [[RaceFs]] under the `idxfs` scheme, which only the index root's
  * session-conf spec registers. */
class IndexSessionFs extends RaceFs {
  override def getUri: java.net.URI = java.net.URI.create("idxfs:///")
}

/** [[IndexSessionFs]] for `FileContext`, which the meta's atomic rename
  * uses. */
class IndexSessionAfs(uri: java.net.URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new IndexSessionFs, conf, "idxfs", false)
