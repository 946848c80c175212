package graft.operators

import graft.Tables
import graft.build.{Artifact, IndexBuilder}
import graft.query.{And, Between, Eq, Or, Pred, PrunedScanner}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's flagship capability, end-to-end: sparse-index build +
  * index-pruned scans (SURVEY.md §3.1/§3.2), verified differentially —
  * every query here is an index-path scan whose oracle is the plain
  * full-scan SQL, the same equivalence the reference proves with
  * `ScanUsingIndexJob` (`retrieval/ScanUsingIndexJob.java:45-80`).
  *
  * The single-file test tables can't demonstrate file skipping, so the
  * queries scan a derived multi-file copy of `events` (range-partitioned
  * by event_type so values cluster per file), a per-corpus
  * [[Artifact]]. Row-set semantics are unchanged, which is all the
  * oracle compares.
  */
object IndexedQueries extends QueryModule {

  /** 64 MB cap keeps the interval algebra exercised even on small files. */
  private val CapBytes = 64L * 1024 * 1024
  private val IndexedColumns = Seq("event_type", "user_id")

  private def indexRoot(sfDir: String): String = s"${Artifact.root(sfDir)}/events_index"

  /** The multi-file copy of `events` ([[Artifact.ensure]]: rebuilt iff
    * `events.parquet` changed) and its index (IndexBuilder.build is a
    * fresh-check no-op afterwards, a refresh after a rebuilt copy).
    * Returns the copy's directory. */
  private def prepare(s: SparkSession, sfDir: String): String = synchronized {
    val dataDir = Artifact.ensure(s, sfDir, "events_data",
        Artifact.fingerprint(s, s"$sfDir/events.parquet")) { d =>
      Tables.events(s, sfDir)
        .repartitionByRange(8, col("event_type"), col("event_id"))
        .write.parquet(d)
    }
    IndexBuilder.build(s, dataDir, IndexedColumns, indexRoot(sfDir),
      capBytes = CapBytes)
    dataDir
  }

  private def prunedScan(s: SparkSession, sfDir: String, pred: Pred): DataFrame =
    PrunedScanner.scan(s, prepare(s, sfDir), pred, indexRoot(sfDir))

  /** EQ leaf through the index (S2/S6/J3). */
  private def q16IdxEq(s: SparkSession, dir: String): DataFrame =
    prunedScan(s, dir, Eq("event_type", "error"))
      .select("event_id", "user_id", "event_type")

  private val q16Sql =
    "SELECT event_id, user_id, event_type FROM events WHERE event_type = 'error'"

  /** AND tree -> interval intersection (J1). */
  private def q17IdxAnd(s: SparkSession, dir: String): DataFrame =
    prunedScan(s, dir, And(Eq("event_type", "click"), Eq("user_id", "7")))
      .select("event_id", "user_id", "event_type")

  private val q17Sql =
    """SELECT event_id, user_id, event_type FROM events
      |WHERE event_type = 'click' AND user_id = 7""".stripMargin

  /** OR tree -> capped interval union (J2). */
  private def q18IdxOr(s: SparkSession, dir: String): DataFrame =
    prunedScan(s, dir, Or(Eq("event_type", "signup"), Eq("user_id", "7")))
      .select("event_id", "user_id", "event_type")

  private val q18Sql =
    """SELECT event_id, user_id, event_type FROM events
      |WHERE event_type = 'signup' OR user_id = 7""".stripMargin

  /** Nested tree: (a AND b) OR (c AND d). */
  private def q19IdxNested(s: SparkSession, dir: String): DataFrame =
    prunedScan(s, dir,
      Or(And(Eq("event_type", "purchase"), Eq("user_id", "3")),
        And(Eq("event_type", "view"), Eq("user_id", "11"))))
      .select("event_id", "user_id", "event_type")

  private val q19Sql =
    """SELECT event_id, user_id, event_type FROM events
      |WHERE (event_type = 'purchase' AND user_id = 3)
      |   OR (event_type = 'view' AND user_id = 11)""".stripMargin

  /** Port of the reference's full verification tool: for EVERY unique
    * key of an indexed column, re-count matches through the index path
    * (`ScanUsingIndexJob.java:45-80`; `verification/IndexScanMapper
    * .java:22-95`). The oracle is the full-scan group-by — index-scan
    * counts must equal full-scan counts key by key. */
  private def q20IdxVerifyCounts(s: SparkSession, dir: String): DataFrame = {
    PrunedScanner.verifyCounts(s, prepare(s, dir), "event_type", indexRoot(dir))
      .select(col("value").as("event_type"), col("n"))
  }

  private val q20Sql =
    "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type"

  /** Numeric RANGE through the index — the extension SURVEY.md §7.2
    * notes comes "almost free via the index table" (the reference
    * executes EQ only). Value-level bound checks over the indexed keys,
    * exact in BigDecimal, full-scan residual. */
  private def q41IdxRange(s: SparkSession, dir: String): DataFrame =
    prunedScan(s, dir,
      Between("user_id", Some(BigDecimal(3)), Some(BigDecimal(11)),
        loInc = true, hiInc = false))
      .select("event_id", "user_id", "event_type")

  private val q41Sql =
    """SELECT event_id, user_id, event_type FROM events
      |WHERE user_id >= 3 AND user_id < 11""".stripMargin

  /** IN through the index: desugars to an OR tree of EQ probes, all
    * served by the one batched postings lookup. */
  private def q42IdxIn(s: SparkSession, dir: String): DataFrame =
    prunedScan(s, dir,
      And(Pred.in("event_type", Seq("error", "signup", "purchase")),
        Between("user_id", Some(BigDecimal(0)), Some(BigDecimal(25)),
          loInc = true, hiInc = true)))
      .select("event_id", "user_id", "event_type")

  private val q42Sql =
    """SELECT event_id, user_id, event_type FROM events
      |WHERE event_type IN ('error', 'signup', 'purchase')
      |  AND user_id BETWEEN 0 AND 25""".stripMargin

  /** One OBSERVED pruned scan (q16's predicate) with the reference's
    * rows-scanned/qualified task counters attached
    * (`FilterRecordReader.java:42-44, 66-70`) — run by Bench once per
    * round so the R10 observability line carries all three counters
    * (bytes ratio + prune time from PruneStats, rows from here). The
    * observe node is NOT in the registered queries' hot path: placed
    * between scan and residual it would block parquet pushdown of the
    * residual, so the counters run in this dedicated probe instead. */
  def observedScanDemo(s: SparkSession, sfDir: String): Option[(Long, Long)] = {
    val dataDir = prepare(s, sfDir)
    graft.query.ScanMetrics.register(s)
    val pred = Eq("event_type", "error")
    val (files, _) = PrunedScanner.selectFiles(
      s, dataDir, pred, indexRoot(sfDir), capBytes = CapBytes)
    if (files.isEmpty) return Some((0L, 0L))
    val schema = IndexBuilder.dataSchema(s, dataDir)
    graft.query.ScanMetrics.observed(
        s.read.schema(schema).parquet(files: _*),
        pred.toColumnFor(schema), name = "graft_bench_probe")
      .count()
    // the listener fires asynchronously after the action; bounded poll
    val deadline = System.currentTimeMillis() + 10000
    var m = graft.query.ScanMetrics.last("graft_bench_probe")
    while (m.forall(t => t._1 < 0 || t._2 < 0) &&
        System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      m = graft.query.ScanMetrics.last("graft_bench_probe")
    }
    m
  }

  private def partIndexRoot(sfDir: String): String =
    s"${Artifact.root(sfDir)}/events_part_index"

  /** Day-partitioned copy (the reference's standard time-partitioned
    * layout, `indexing/StatusesIndexManager.java:42-144` → `day=` dirs):
    * event types clustered across tasks so each day directory holds
    * several files dominated by few types — file-level index pruning has
    * work to do WITHIN a partition. Returns the copy's directory. */
  private def preparePartitioned(s: SparkSession, sfDir: String): String = synchronized {
    val dataDir = Artifact.ensure(s, sfDir, "events_part",
        Artifact.fingerprint(s, s"$sfDir/events.parquet")) { d =>
      Tables.events(s, sfDir)
        .withColumn("day", to_date(col("ts")))
        .repartition(8, col("event_type"))
        .write.partitionBy("day").parquet(d)
    }
    IndexBuilder.build(s, dataDir, Seq("event_type"), partIndexRoot(sfDir),
      capBytes = CapBytes)
    dataDir
  }

  /** TRANSPARENT pruning on the hive-partitioned layout: a plain
    * `spark.read.parquet(dir).filter(...)` where Spark prunes the `day=`
    * partitions on the date conjunct and GraftPruneRule subtracts
    * index-irrelevant files on the event_type conjunct — composition
    * asserted at plan level in GraftRuleSpec; row-set equivalence to the
    * full scan verified here against the oracle. */
  private def q52IdxPartitioned(s: SparkSession, dir: String): DataFrame = {
    val dataDir = preparePartitioned(s, dir)
    graft.Graft.enable(s)
    graft.Graft.registerIndex(s, dataDir, partIndexRoot(dir))
    s.read.parquet(dataDir)
      .filter(col("event_type") === "error" &&
        col("day") >= lit("2024-01-16").cast("date"))
      .select("event_id", "user_id", "event_type", "day")
  }

  private val q52Sql =
    """SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS day
      |FROM events
      |WHERE event_type = 'error' AND CAST(ts AS DATE) >= DATE '2024-01-16'""".stripMargin

  private def bloomRoot(sfDir: String): String = s"${Artifact.root(sfDir)}/events_bloom"

  /** EQ on a HIGH-CARDINALITY column through the bloom skipping index
    * (extension: postings would cost O(distinct values), the bloom is a
    * fixed-size sketch per file). Oracle = full-scan SQL; bloom
    * no-false-negatives makes the pruned scan exactly equivalent. */
  private def q46BloomEq(s: SparkSession, dir: String): DataFrame = {
    val dataDir = prepare(s, dir)
    graft.build.BloomIndex.build(s, dataDir, Seq("event_id"), bloomRoot(dir))
    PrunedScanner.scan(s, dataDir, Eq("event_id", "777"), bloomRoot(dir))
      .select("event_id", "user_id", "event_type")
  }

  private val q46Sql =
    "SELECT event_id, user_id, event_type FROM events WHERE event_id = 777"

  /** TRANSPARENT bloom pruning (r18 — pre-r18 the sketches were
    * explicit-path only): a plain `Graft.read(...).filter` on the
    * high-cardinality bloom-indexed column, with BOTH registries live —
    * the postings index can't answer `event_id` (unindexed column), the
    * bloom registry subtracts every provably-negative file invisibly
    * (`getSplits`-style, `BlockIndexedFileInputFormat.java:110-187`).
    * GraftRuleSpec asserts the files-read drop at plan level; here the
    * row set is under the oracle. */
  private def q174BloomTransparent(s: SparkSession, dir: String): DataFrame = {
    val dataDir = prepare(s, dir)
    graft.build.BloomIndex.build(s, dataDir, Seq("event_id"), bloomRoot(dir))
    graft.Graft.enable(s)
    graft.Graft.registerIndex(s, dataDir, indexRoot(dir))
    graft.Graft.registerBloom(s, dataDir, bloomRoot(dir))
    graft.Graft.read(s, dataDir)
      .filter(col("event_id") === lit(555L))
      .select("event_id", "user_id", "event_type")
  }

  private val q174Sql =
    "SELECT event_id, user_id, event_type FROM events WHERE event_id = 555"

  /** TRANSPARENT bloom pruning of an OR-OF-EQ probe (the IN-list shape
    * — r18's tri-state generalization): a file is skipped only when the
    * sketches prove EVERY disjunct absent, which per-conjunct
    * composition cannot see. GraftRuleSpec pins the files-read drop and
    * the must-not-prune case (a non-covered disjunct); here the row set
    * is under the oracle. */
  private def q175BloomInList(s: SparkSession, dir: String): DataFrame = {
    val dataDir = prepare(s, dir)
    graft.build.BloomIndex.build(s, dataDir, Seq("event_id"), bloomRoot(dir))
    graft.Graft.enable(s)
    graft.Graft.registerBloom(s, dataDir, bloomRoot(dir))
    graft.Graft.read(s, dataDir)
      .filter(col("event_id") === lit(555L) || col("event_id") === lit(777L))
      .select("event_id", "user_id", "event_type")
  }

  private val q175Sql =
    "SELECT event_id, user_id, event_type FROM events WHERE event_id IN (555, 777)"

  /** CO-LOCATED BUCKETED JOIN (§1.3 layout parity) — both sides
    * written through [[graft.build.Layout.writeBucketed]] on the join
    * key, then joined Exchange-free: the write-side partitioner and
    * the read-side join requirement agree, so neither fact table
    * shuffles at query time. `BucketingSpec` pins the no-Exchange plan
    * property; THIS query puts the layout path under the value-level
    * oracle gate (the bucketed join must equal the plain SQL join).
    * Quantities are integral doubles, so the sums are exact in both
    * engines.
    *
    * Scale shape: this is the 100 TB join strategy — pay one
    * partitioned write at ingest, never shuffle the fact tables again;
    * re-used across every downstream join on the same key. */
  private def q99BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val sfName = new java.io.File(dir).getName
    val lT = s"q99_lineitem_${sfName.replace('.', '_')}"
    val oT = s"q99_orders_${sfName.replace('.', '_')}"
    // write once per (source, bucket spec) — later sessions re-declare
    // the catalog entry over the files instead of re-paying the
    // partitioned write (the claimed ingest-pays-once economics; the
    // earlier writeBucketed call rewrote the layout per invocation)
    val fpL = Artifact.fingerprint(s, s"$dir/lineitem.parquet")
    val fpO = Artifact.fingerprint(s, s"$dir/orders.parquet")
    graft.build.Layout.ensureBucketed(
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity")),
      lT, "l_orderkey", 8, fpL)
    graft.build.Layout.ensureBucketed(
      Tables.orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
      oT, "l_orderkey", 8, fpO)
    graft.build.Layout.read(s, lT)
      .join(graft.build.Layout.read(s, oT), "l_orderkey")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"))
  }

  private val q99Sql =
    """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_items,
      |  SUM(l_quantity) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1""".stripMargin

  override def queries: Seq[Q] = Seq(
    Q("q99_bucketed_join", q99BucketedJoin, Some(q99Sql)),
    Q("q16_idx_eq", q16IdxEq, Some(q16Sql)),
    Q("q17_idx_and", q17IdxAnd, Some(q17Sql)),
    Q("q18_idx_or", q18IdxOr, Some(q18Sql)),
    Q("q19_idx_nested", q19IdxNested, Some(q19Sql)),
    Q("q20_idx_verify_counts", q20IdxVerifyCounts, Some(q20Sql)),
    Q("q41_idx_range", q41IdxRange, Some(q41Sql)),
    Q("q42_idx_in", q42IdxIn, Some(q42Sql)),
    Q("q46_bloom_eq", q46BloomEq, Some(q46Sql)),
    Q("q174_bloom_transparent", q174BloomTransparent, Some(q174Sql)),
    Q("q175_bloom_inlist", q175BloomInList, Some(q175Sql)),
    Q("q52_idx_partitioned", q52IdxPartitioned, Some(q52Sql)))
}
