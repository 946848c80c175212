package graft.plans

import graft.build.{Commit, IndexBuilder}
import graft.query.{Pred, PrunedScanner}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A [[FileIndex]] that SUBTRACTS index-pruned files from an underlying
  * listing instead of replacing it. Wrapping (rather than rebuilding an
  * `InMemoryFileIndex` from leaf files) preserves everything the
  * underlying index knows that a bare file list cannot express:
  * hive-partition values (and Spark's own partition pruning, which
  * still runs against the wrapped `listFiles(partitionFilters, ...)`),
  * multiple root paths, and file listing freshness. Exclusion-oriented
  * filtering is also the sound default — a file the pruning decision
  * never enumerated is read, not dropped.
  */
final class GraftPrunedFileIndex(
    val underlying: FileIndex,
    val excluded: Set[String],   // canonical paths (IndexBuilder.canonicalPath)
    excludedBytes: Long)
  extends FileIndex {

  private def keepPath(p: org.apache.hadoop.fs.Path): Boolean =
    !excluded.contains(IndexBuilder.canonicalPath(p.toString))

  override def rootPaths: Seq[org.apache.hadoop.fs.Path] = underlying.rootPaths
  override def partitionSchema: StructType = underlying.partitionSchema

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    underlying.listFiles(partitionFilters, dataFilters)
      .map(pd => pd.copy(files = pd.files.filter(f => keepPath(f.getPath))))
      .filter(_.files.nonEmpty)

  override def inputFiles: Array[String] =
    underlying.inputFiles.filter(p => !excluded.contains(IndexBuilder.renderedPath(p)))

  override def refresh(): Unit = underlying.refresh()

  // planner sizing (broadcast decisions): the underlying estimate minus
  // what the index proved irrelevant — never negative
  override def sizeInBytes: Long = math.max(0L, underlying.sizeInBytes - excludedBytes)

  override def metadataOpsTimeNs: Option[Long] = underlying.metadataOpsTimeNs
}

/** Transparent index-consulting scan pruning — the custom planner hook
  * the reference implements as `getSplits` split filtering
  * (`retrieval/BlockIndexedFileInputFormat.java:110-187`) and SURVEY.md
  * §4 R2 maps to "a FileIndex that consults the index table".
  *
  * The rule rewrites `Filter(cond, scan(parquet roots))` when at least
  * one root path is registered in the session conf `spark.graft.indexes`
  * (postings roots, format `dataDir=indexRoot;...`) or
  * `spark.graft.bloomIndexes` (bloom roots, same format), and `cond`
  * has a conjunct that translates into the EQ/AND/OR IR. Each registered
  * data root gets ONE pruning decision (`PrunedScanner.excludedFiles`)
  * over every index root registered for it; the decision folds each
  * root's per-file evidence through one interval algebra, so a conjunct
  * no index covers is unknown and AND drops it, while an OR mixing a
  * bloom-covered and a postings-covered leaf can exclude a file neither
  * index excludes alone. The relation's [[FileIndex]] is wrapped with a
  * [[GraftPrunedFileIndex]] that filters out the excluded files. The
  * Filter itself is left in place — it is the mandatory residual
  * re-check, and Catalyst additionally pushes it into the parquet
  * reader.
  *
  * Composition with Spark's native pruning: hive-partitioned layouts
  * (the reference's standard time-partitioned collections,
  * `indexing/StatusesIndexManager.java:42-144` → `day=` directories) keep
  * their partition values because the underlying index still produces
  * the `PartitionDirectory`s — Spark prunes partitions on partition
  * predicates, the graft index prunes FILES on data predicates, and the
  * two subtract independently. Conjuncts over partition columns are
  * never in the data files, so no descriptor covers them and the
  * algebra drops them — dropping conjuncts only widens the file set.
  *
  * Multi-root scans (`spark.read.parquet(dirA, dirB)`) prune each
  * REGISTERED root with its own indexes; unregistered roots' files are
  * always kept.
  *
  * Soundness: non-translatable predicates leave the plan untouched
  * (full scan); per-file freshness fallbacks are part of the pruning
  * decision (`PrunedScanner`); exclusion-oriented subtraction keeps any
  * file the decision didn't enumerate. The decision launches no Spark
  * job: descriptors, postings, bloom sketches and footers are read on
  * the driver, as the reference's `getSplits` opens its index readers;
  * when no descriptor covers a leaf column it returns before listing
  * the data files. Idempotence under the fixed-point optimizer batch is
  * ensured with a TreeNodeTag (set even when nothing could be pruned, so
  * the index reads happen once, not once per fixed-point iteration).
  *
  * Usage:
  * {{{
  * spark.conf.set("spark.graft.indexes", s"$dataDir=$indexRoot")
  * spark.experimental.extraOptimizations ++= Seq(GraftPruneRule(spark))
  * // or: --conf spark.sql.extensions=graft.plans.GraftSparkExtensions
  * spark.read.parquet(dataDir).filter($"event_type" === "error") // pruned
  * }}}
  */
case class GraftPruneRule(spark: SparkSession) extends Rule[LogicalPlan] {

  import GraftPruneRule._

  private def registry: Map[String, String] =
    GraftPruneRule.parseRegistry(spark.conf.getOption(IndexesConf))
      .map { case (d, i) => normalize(d) -> i }

  /** dataDir → bloomRoot (the high-cardinality EQ skipping sketches,
    * `spark.graft.bloomIndexes`): passed with the postings root to the
    * same decision. Reference analog: `getSplits` consults whatever
    * index exists per file, invisibly to the job
    * (`BlockIndexedFileInputFormat.java:110-187`). */
  private def bloomRegistry: Map[String, String] =
    GraftPruneRule.parseRegistry(spark.conf.getOption(BloomIndexesConf))
      .map { case (d, i) => normalize(d) -> i }

  // the ONE canonical identity function (IndexBuilder's) — a diverging
  // reimplementation here would silently stop matching registerIndex keys
  private def normalize(p: String): String =
    graft.build.IndexBuilder.canonicalPath(p)

  /** Identities are scheme-less paths, so the engine can only prune
    * datasets living on the session's DEFAULT filesystem; roots on any
    * other FS are left untouched (full scan) rather than resolved
    * against the wrong filesystem. */
  private def onDefaultFs(defaultUri: java.net.URI)(p: org.apache.hadoop.fs.Path): Boolean = {
    val u = p.toUri
    (u.getScheme == null || u.getScheme == defaultUri.getScheme) &&
      (u.getAuthority == null || u.getAuthority == defaultUri.getAuthority)
  }

  /** The largest translatable conjunct-tree of `cond` (ANDs may be
    * partially translated; OR requires both sides). */
  private def translatableConjuncts(
      cond: org.apache.spark.sql.catalyst.expressions.Expression): Option[Pred] =
    cond match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        (translatableConjuncts(l), translatableConjuncts(r)) match {
          case (Some(a), Some(b)) => Some(graft.query.And(a, b))
          case (a, b)             => a.orElse(b)
        }
      case e => Pred.fromExpression(e)
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, lr @ LogicalRelation(rel: HadoopFsRelation, _, _, _, _))
        if lr.getTagValue(PrunedTag).isEmpty && f.getTagValue(PrunedTag).isEmpty &&
          (registry.nonEmpty || bloomRegistry.nonEmpty) =>
      val reg = registry
      val breg = bloomRegistry
      val defaultUri = org.apache.hadoop.fs.FileSystem.getDefaultUri(Commit.conf(spark))
      // each registered data root with every index root registered for it
      val decisions = rel.location.rootPaths
        .filter(onDefaultFs(defaultUri))
        .map(p => normalize(p.toString))
        .distinct
        .map(d => d -> (reg.get(d) ++ breg.get(d)).toSeq)
        .filter(_._2.nonEmpty)
      val predOpt = if (decisions.isEmpty) None else translatableConjuncts(cond)
      predOpt match {
        case Some(pred) =>
          // path -> length: a file excluded under two roots subtracts its
          // size from the planner's estimate once
          val excluded = decisions.flatMap { case (dataDir, roots) =>
            PrunedScanner.excludedFiles(spark, dataDir, pred, roots)
          }.map(sf => sf.path -> sf.length).toMap
          // tag even when nothing was excluded: the pruning decision
          // reads index files and must not rerun per fixed-point pass.
          // The no-op tag goes on the FILTER (a shared relation node may
          // still be prunable under a different filter elsewhere).
          if (excluded.isEmpty) {
            f.setTagValue(PrunedTag, true)
            maybeObserved(cond, lr).getOrElse(f)
          } else {
            val prunedIndex = new GraftPrunedFileIndex(
              rel.location, excluded.keySet.toSet, excluded.values.sum)
            val prunedRel = rel.copy(location = prunedIndex)(spark)
            val newLr = lr.copy(relation = prunedRel)
            newLr.setTagValue(PrunedTag, true)
            maybeObserved(cond, newLr).getOrElse(Filter(cond, newLr))
          }
        case _ => f
      }
  }

  /** Scanned/qualified observability for the TRANSPARENT rule path:
    * when a `ScanMetrics` label is set on the planning thread (the
    * bench's untimed scan-rows pass — never a timed or production run,
    * since the metrics node blocks residual pushdown into the reader),
    * wrap the (pruned) scan in the same `_in`/`_out` CollectMetrics
    * pair `PrunedScanner.scanWithReport` issues, so rule-pruned queries
    * publish the FilterRecordReader-parity row counters too instead of
    * being absent from `scan_rows`. The wrapped shape can never
    * re-match this rule's pattern (the Filter's child is the metrics
    * node, not the relation), so idempotence is preserved without
    * tagging. */
  private def maybeObserved(
      cond: Expression,
      scan: LogicalPlan): Option[LogicalPlan] =
    graft.query.ScanMetrics.nextObservationName().map { n =>
      import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
      import org.apache.spark.sql.catalyst.expressions.aggregate.Count
      import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
      def cnt(as: String) =
        Alias(Count(Literal(1)).toAggregateExpression(), as)()
      CollectMetrics(s"${n}_out",
        Seq(cnt(graft.query.ScanMetrics.QualifiedMetric)),
        Filter(cond,
          CollectMetrics(s"${n}_in",
            Seq(cnt(graft.query.ScanMetrics.ScannedMetric)),
            scan, GraftPruneRule.nextObserveId())),
        GraftPruneRule.nextObserveId())
    }
}

object GraftPruneRule {
  val IndexesConf = "spark.graft.indexes"
  val BloomIndexesConf = "spark.graft.bloomIndexes"
  val PrunedTag: TreeNodeTag[Boolean] = TreeNodeTag[Boolean]("graft.pruned")

  // CollectMetrics dataframeIds for rule-injected observation nodes:
  // drawn far above Dataset's own monotonically-increasing ids so the
  // two can never alias in duplicate-name validation
  private val observeIds = new java.util.concurrent.atomic.AtomicLong(1L << 40)
  private[plans] def nextObserveId(): Long = observeIds.getAndIncrement()

  /** Tolerant parse of the `dataDir=indexRoot;...` registry conf —
    * segments without '=' are ignored rather than erroring (shared by
    * the rule and Graft.registerIndex so both sides agree). */
  def parseRegistry(conf: Option[String]): Map[String, String] =
    conf.map(_.split(";").filter(_.contains("=")).map { kv =>
      val Array(d, i) = kv.split("=", 2)
      d -> i
    }.toMap).getOrElse(Map.empty)
}

/** `spark.sql.extensions`-style injection for new sessions. */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectOptimizerRule(GraftPruneRule(_))
}
