package graft

import graft.plans.GraftPruneRule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing entry point — the "switch from the reference" API:
  *
  * {{{
  * import graft.Graft
  * Graft.enable(spark)                                // once per session
  * graft.build.IndexBuilder.build(spark, data, Seq("event_type"), idx)
  * Graft.registerIndex(spark, data, idx)
  * Graft.read(spark, data).filter($"event_type" === "login")  // pruned
  * }}}
  *
  * `read` is plain `spark.read.parquet` (schema from one footer, see
  * `read`); pruning happens in the
  * optimizer (GraftPruneRule), so every downstream DataFrame/SQL
  * operation composes normally. We deliberately do NOT ship a DSv2
  * `format("graft")`: the rule rewrites the standard parquet relation's
  * file listing, which keeps Spark's whole vectorized parquet read path
  * (codegen, row-group skipping, schema evolution) instead of
  * re-implementing it behind a custom Scan.
  */
object Graft {

  /** Install the pruning rule on an existing session (idempotent). New
    * sessions can instead set
    * `spark.sql.extensions=graft.plans.GraftSparkExtensions`. */
  def enable(spark: SparkSession): Unit = {
    val already = spark.experimental.extraOptimizations.exists {
      case GraftPruneRule(s) => s eq spark
      case _ => false
    }
    if (!already)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ GraftPruneRule(spark)
  }

  /** Register (or update) the index root for a dataset path. The conf
    * encoding reserves '=' (key/value separator) and ';' (entry
    * separator) — paths containing them cannot be registered; failing
    * fast beats a registry entry that silently never matches. */
  def registerIndex(spark: SparkSession, dataDir: String, indexRoot: String): Unit = {
    require(!dataDir.contains("=") && !dataDir.contains(";"),
      s"dataDir cannot contain '=' or ';' (conf-encoding separators): $dataDir")
    require(!indexRoot.contains(";"),
      s"indexRoot cannot contain ';' (conf entry separator): $indexRoot")
    val key = graft.build.IndexBuilder.canonicalPath(dataDir)
    val existing = GraftPruneRule.parseRegistry(
      spark.conf.getOption(GraftPruneRule.IndexesConf))
    val updated = existing + (key -> indexRoot)
    spark.conf.set(GraftPruneRule.IndexesConf,
      updated.map { case (d, i) => s"$d=$i" }.mkString(";"))
  }

  /** Register (or update) the BLOOM skipping-index root for a dataset
    * path (`BloomIndex.build`'s output): transparent reads then pass it
    * with any postings-index root of the same path to the one pruning
    * decision, where the sketches answer EQ leaves on bloom-covered
    * columns — high-cardinality EQ skipping without touching the query. */
  def registerBloom(spark: SparkSession, dataDir: String, bloomRoot: String): Unit = {
    require(!dataDir.contains("=") && !dataDir.contains(";"),
      s"dataDir cannot contain '=' or ';' (conf-encoding separators): $dataDir")
    require(!bloomRoot.contains(";"),
      s"bloomRoot cannot contain ';' (conf entry separator): $bloomRoot")
    val key = graft.build.IndexBuilder.canonicalPath(dataDir)
    val existing = GraftPruneRule.parseRegistry(
      spark.conf.getOption(GraftPruneRule.BloomIndexesConf))
    val updated = existing + (key -> bloomRoot)
    spark.conf.set(GraftPruneRule.BloomIndexesConf,
      updated.map { case (d, i) => s"$d=$i" }.mkString(";"))
  }

  /** The schema comes from one footer on the driver
    * (`IndexBuilder.dataSchema`), so the read launches no schema
    * inference job; with `spark.sql.parquet.mergeSchema` on it is
    * Spark's merged inference. */
  def read(spark: SparkSession, dataDir: String): DataFrame = {
    enable(spark)
    spark.read.schema(graft.build.IndexBuilder.dataSchema(spark, dataDir)).parquet(dataDir)
  }

  /** Capability discovery — which columns can the index answer for this
    * dataset? The union of indexed-column sets across the dataset's
    * CURRENT files with fresh descriptors, the port of
    * `IndexedPigLoader.getPartitionKeys` (`retrieval/IndexedPigLoader
    * .java:135-193`, union across files `:160-180`). Columns indexed on
    * only SOME files still count (un-indexed files fall back to full
    * scan per file), matching the reference's per-file pruning. */
  def indexedColumns(spark: SparkSession, dataDir: String, indexRoot: String): Seq[String] = {
    import graft.build.IndexBuilder
    val descs = IndexBuilder.loadDescriptors(spark, indexRoot)
    if (descs.isEmpty) return Nil
    IndexBuilder.listDataFiles(spark, dataDir)
      .flatMap(f => IndexBuilder.freshDescriptorVerified(spark, descs, f).toSeq.flatMap(_.columns))
      .distinct.sorted
  }
}
