package graft

import graft.build.IndexBuilder
import graft.plans.GraftPruneRule
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Transparent pruning: a plain `spark.read.parquet(dir).filter(...)`
  * over a registered indexed path reads fewer files, with identical
  * results. */
class GraftRuleSpec extends AnyFunSuite with SparkSpec {

  private val work = tempDir("test_rule")
  private val dataDir = s"$work/data"
  private val indexRoot = s"$work/index"

  private def scanFileCount(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case f: FileSourceScanExec => f.relation.location.inputFiles.length.toLong
    }.sum

  /** `body` with no index registered: the plain read's answer. */
  private def unregistered[T](body: => T): T = {
    val confs = Seq(GraftPruneRule.IndexesConf, GraftPruneRule.BloomIndexesConf)
    val saved = confs.flatMap(k => spark.conf.getOption(k).map(k -> _))
    confs.foreach(spark.conf.unset)
    try body finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  private lazy val prepared: Unit = {
    Tables.events(spark, "/root/testdata/sf0.001")
      .repartitionByRange(8, col("event_type"), col("event_id"))
      .write.parquet(dataDir)
    IndexBuilder.build(spark, dataDir, Seq("event_type", "user_id"), indexRoot)
    Graft.enable(spark)
    spark.conf.set(GraftPruneRule.IndexesConf, s"$dataDir=$indexRoot")
  }

  test("plain filter over a registered path is transparently pruned") {
    prepared
    val pruned = spark.read.parquet(dataDir).filter(col("event_type") === "error")
    val full = spark.read.parquet(dataDir)

    assert(scanFileCount(pruned) < scanFileCount(full),
      "optimizer rule should shrink the file listing")
    // identical results to an unregistered full scan + filter
    val expect = unregistered(spark.read.parquet(dataDir).filter(col("event_type") === "error")
      .select("event_id").collect().map(_.getLong(0)).toSet)
    val got = pruned.select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == expect && got.nonEmpty)
  }

  test("non-translatable predicates are left alone (full listing)") {
    prepared
    val df = spark.read.parquet(dataDir).filter(col("value") > 100.0)
    assert(scanFileCount(df) == scanFileCount(spark.read.parquet(dataDir)))
  }

  test("partially translatable AND still prunes on the EQ conjunct") {
    prepared
    val df = spark.read.parquet(dataDir)
      .filter(col("event_type") === "error" && col("value") > 100.0)
    assert(scanFileCount(df) < scanFileCount(spark.read.parquet(dataDir)))
    // and the non-indexable conjunct is still applied row-level
    assert(df.agg(min(col("value"))).first().getDouble(0) > 100.0)
  }

  test("a translatable conjunct on an UNINDEXED column no longer defeats pruning") {
    prepared
    // event_id is translatable (long EQ) but not indexed: the rule must
    // drop that conjunct from the index predicate (it stays as the
    // row-level residual) and still prune on event_type
    val df = spark.read.parquet(dataDir)
      .filter(col("event_type") === "error" && col("event_id") === 7L)
    assert(scanFileCount(df) < scanFileCount(spark.read.parquet(dataDir)))
    val expect = unregistered(spark.read.parquet(dataDir)
      .filter(col("event_type") === "error" && col("event_id") === 7L).count())
    assert(df.count() == expect)
  }

  test("Graft facade: enable + registerIndex + read prunes end-to-end") {
    prepared
    val s2 = spark // same session; enable must be idempotent with the manual registration
    Graft.enable(s2)
    Graft.enable(s2)
    assert(s2.experimental.extraOptimizations.count(_.isInstanceOf[GraftPruneRule]) <= 2)
    Graft.registerIndex(s2, dataDir, indexRoot)
    val df = Graft.read(s2, dataDir).filter(col("event_type") === "signup")
    assert(scanFileCount(df) < scanFileCount(Graft.read(s2, dataDir)))
    assert(df.count() > 0)
  }

  /** Files ACTUALLY read by the executed scan (post-action metric):
    * unlike `location.inputFiles`, this reflects Spark's hive-partition
    * pruning as well as the rule's index pruning. */
  private def numFilesRead(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectLeaves().collect {
      case f: FileSourceScanExec => f.metrics("numFiles").value
    }.sum
  }

  test("hive-partitioned datasets prune transparently, composing with partition pruning") {
    prepared
    val pdir = s"$work/partitioned"
    // cluster event types across tasks so each day=… dir gets several
    // files each dominated by few types — file-level index pruning has
    // something to cut WITHIN a surviving partition
    spark.read.parquet(dataDir)
      .withColumn("day", to_date(col("ts")))
      .repartition(4, col("event_type"))
      .write.partitionBy("day").parquet(pdir)
    IndexBuilder.build(spark, pdir, Seq("event_type"), s"$work/pidx")
    withConf(GraftPruneRule.IndexesConf -> s"$dataDir=$indexRoot;$pdir=$work/pidx") {
      val cut = lit("2024-01-16").cast("date")
      val full = numFilesRead(spark.read.parquet(pdir).filter(lit(true)))
      val partOnly = numFilesRead(
        spark.read.parquet(pdir).filter(col("day") >= cut))
      val idxOnly = numFilesRead(
        spark.read.parquet(pdir).filter(col("event_type") === "error"))
      val both = numFilesRead(spark.read.parquet(pdir)
        .filter(col("event_type") === "error" && col("day") >= cut))
      // partition pruning alone works (rule leaves partition conjuncts out)
      assert(partOnly < full, s"partition pruning: $partOnly vs $full")
      // index pruning alone works on the hive layout (partition values kept)
      assert(idxOnly < full, s"index pruning: $idxOnly vs $full")
      // and TOGETHER they compose: fewer files than either alone
      assert(both < partOnly && both < idxOnly,
        s"composition: both=$both partOnly=$partOnly idxOnly=$idxOnly")

      // identical results to the unregistered path
      val got = spark.read.parquet(pdir)
        .filter(col("event_type") === "error" && col("day") >= cut)
        .select("event_id").collect().map(_.getLong(0)).toSet
      val expect = unregistered(spark.read.parquet(pdir)
        .filter(col("event_type") === "error" && col("day") >= cut)
        .select("event_id").collect().map(_.getLong(0)).toSet)
      assert(got == expect && got.nonEmpty)
    }
  }

  test("transparent range predicates stay correct under the rule") {
    prepared
    // user_id is indexed but scattered across every file, so the range
    // prunes nothing — the point is correctness of the rule x Between
    // interaction, not a pruning win
    val df = spark.read.parquet(dataDir).filter(col("user_id") < 3)
    val expect = unregistered(spark.read.parquet(dataDir).filter(col("user_id") < 3)
      .select("event_id").collect().map(_.getLong(0)).toSet)
    assert(df.select("event_id").collect().map(_.getLong(0)).toSet == expect)
    assert(expect.nonEmpty)
  }

  test("multi-root relations prune registered roots, keep unregistered roots whole") {
    prepared
    val extra = s"$work/extra"
    spark.read.parquet(dataDir).write.parquet(extra) // second, unregistered root
    val both = spark.read.parquet(dataDir, extra)
    val extraFiles = scanFileCount(spark.read.parquet(extra))
    val df = both.filter(col("event_type") === "error")
    // registered root's files shrink; every file of `extra` survives
    assert(scanFileCount(df) < scanFileCount(both))
    assert(scanFileCount(df) >= extraFiles)
    // no rows silently dropped: the unregistered root contributes fully
    assert(df.count() ==
      2 * spark.read.parquet(dataDir).filter(col("event_type") === "error").count())
  }

  test("indexedColumns discovers the union of fresh indexed columns") {
    prepared
    assert(Graft.indexedColumns(spark, dataDir, indexRoot) ==
      Seq("event_type", "user_id"))
    assert(Graft.indexedColumns(spark, dataDir, s"$work/no_such_index").isEmpty)
  }

  test("unregistered paths are untouched") {
    prepared
    val other = s"$work/other"
    spark.read.parquet(dataDir).write.parquet(other)
    val df = spark.read.parquet(other).filter(col("event_type") === "error")
    assert(scanFileCount(df) == scanFileCount(spark.read.parquet(other)))
  }

  test("transparent reads consult registered bloom sketches on EQ leaves, composing with postings pruning") {
    prepared
    val bloomRoot = s"$work/bloom"
    graft.build.BloomIndex.build(spark, dataDir, Seq("event_id"), bloomRoot)
    withConf(GraftPruneRule.BloomIndexesConf -> s"$dataDir=$bloomRoot") {
      // pick an id that lives in ONE file of the range-partitioned copy
      val probe = spark.read.parquet(dataDir)
        .filter(col("event_type") === "error")
        .select("event_id").head().getLong(0)
      val full = scanFileCount(spark.read.parquet(dataDir))
      // bloom alone: event_id is NOT postings-indexed, so the pre-r18
      // rule full-scanned this shape
      val viaBloom = spark.read.parquet(dataDir)
        .filter(col("event_id") === lit(probe))
      assert(scanFileCount(viaBloom) < full,
        "a bloom-registered EQ must shrink the transparent listing")
      // row-set equivalence against the unregistered scan
      val expect = unregistered(spark.read.parquet(dataDir)
        .filter(col("event_id") === lit(probe)).collect().length)
      assert(viaBloom.collect().length == expect && expect > 0)
      // composition: postings prune the event_type conjunct, bloom the
      // event_id conjunct — the combined listing is no larger than
      // either alone
      val both = spark.read.parquet(dataDir)
        .filter(col("event_type") === "error" && col("event_id") === lit(probe))
      val typeOnly = spark.read.parquet(dataDir)
        .filter(col("event_type") === "error")
      assert(scanFileCount(both) <= math.min(
        scanFileCount(typeOnly), scanFileCount(viaBloom)),
        "composed pruning must subtract both indexes' exclusions")
      // an OR whose disjuncts are ALL bloom-covered EQs (the IN-list
      // probe shape) DOES prune: a file negative for every disjunct is
      // provably irrelevant to the whole tree
      val probe2 = spark.read.parquet(dataDir)
        .filter(col("event_type") === "view")
        .select("event_id").head().getLong(0)
      val inShape = spark.read.parquet(dataDir)
        .filter(col("event_id") === lit(probe) || col("event_id") === lit(probe2))
      assert(scanFileCount(inShape) < full,
        "an all-bloom-covered OR (IN-list shape) must prune")
      val expectIn = unregistered(spark.read.parquet(dataDir)
        .filter(col("event_id") === lit(probe) || col("event_id") === lit(probe2))
        .collect().length)
      assert(inShape.collect().length == expectIn && expectIn >= 2)
      // an EQ OR'd with a leaf the sketches do not cover: a file is
      // dropped only when the postings also exclude the other branch
      // (it can match rows in bloom-negative files)
      val orShape = spark.read.parquet(dataDir)
        .filter(col("event_id") === lit(probe) || col("event_type") === "error")
      val expectOr = unregistered(spark.read.parquet(dataDir)
        .filter(col("event_id") === lit(probe) || col("event_type") === "error")
        .collect().length)
      assert(orShape.collect().length == expectOr)
    }
  }
}
