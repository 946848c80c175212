package graft.build

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Physical-layout helpers for the 100 TB patterns: bucketing for
  * co-located (shuffle-free) joins and repeated aggregations on the
  * same key.
  *
  * Bucketed tables pre-shuffle once at write time; every later
  * equi-join or aggregation on the bucket key reads co-partitioned data
  * and skips its Exchange. The break-even is one join — any table
  * joined more than once on the same key should be bucketed. (Tables
  * live in the session catalog/warehouse, the Spark-native equivalent
  * of the reference pinning index partitioning to a fixed
  * HashPartitioner on both write and read sides,
  * `io/TextLongPairWritable.java:134-142` /
  * `BlockIndexedFileInputFormat.java:419-423`.)
  */
object Layout {

  /** Write `df` as a bucketed+sorted catalog table.
    *
    * Overwrite is made robust across JVMs: the in-memory catalog dies
    * with the session but the warehouse DIRECTORY does not, and a new
    * session's `saveAsTable(Overwrite)` then behaves as CREATE and
    * refuses the orphan location ([LOCATION_ALREADY_EXISTS]). Drop the
    * catalog entry and delete the stale location explicitly first. */
  def writeBucketed(
      df: DataFrame, table: String, bucketCol: String, buckets: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val spark = df.sparkSession
    if (mode == SaveMode.Overwrite) {
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      val fs = loc.getFileSystem(Commit.conf(spark))
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    df.write
      .mode(mode)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** Bump when the persisted-layout contract changes. */
  private val LayoutVersion = 1

  /** Idempotent ACROSS SESSIONS: write the bucketed table once per
    * (source fingerprint, bucket spec); later sessions RE-DECLARE the
    * catalog entry over the existing files instead of rewriting them —
    * `CREATE TABLE ... USING PARQUET CLUSTERED BY ... LOCATION` trusts
    * the bucket ids Spark encoded in the file names, which is exactly
    * how a metastore-backed warehouse resumes (the in-memory catalog
    * here dies with the JVM; the directory is the durable artifact).
    * This is the ingest-pays-once economics the bucketed-join strategy
    * claims: without it every new session re-paid the partitioned
    * write.
    *
    * `sourceFp` fingerprints the INPUT data (caller-provided, e.g.
    * [[Artifact.fingerprint]] of the source parquet); a mismatch — or a partial
    * write (missing meta) — drops and rewrites. The meta file lives
    * inside the table directory under an underscore name, which parquet
    * readers ignore. */
  def ensureBucketed(
      df: DataFrame, table: String, bucketCol: String, buckets: Int,
      sourceFp: String): Unit = synchronized {
    val spark = df.sparkSession
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val meta = new org.apache.hadoop.fs.Path(loc, "_GRAFT_LAYOUT")
    // the schema is part of the fingerprint: a changed projection with
    // an unchanged source must rewrite, not re-declare a mismatched DDL
    // over the old files
    val fp = s"v$LayoutVersion:$bucketCol:$buckets:${df.schema.toDDL}:$sourceFp"
    val conf = Commit.conf(spark)
    val fresh = MetaIO.read(conf, meta).contains(fp)
    if (spark.catalog.tableExists(table)) {
      // same-session reuse — but only while the layout meta still
      // matches the CURRENT source fingerprint: a source that changed
      // mid-session must drop and rewrite, or a downstream artifact
      // build would snapshot the stale table under the new fingerprint
      // and permanently mask the staleness
      if (fresh) return
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
    }
    if (fresh) {
      spark.sql(
        s"""CREATE TABLE `$table` (${df.schema.toDDL})
           |USING PARQUET
           |CLUSTERED BY (`$bucketCol`) SORTED BY (`$bucketCol`)
           |INTO $buckets BUCKETS
           |LOCATION '${loc.toString}'""".stripMargin)
    } else {
      writeBucketed(df, table, bucketCol, buckets)
      // atomic (MetaIO): a crash mid-write must leave no truncated
      // marker that could accidentally string-compare equal later
      MetaIO.write(conf, meta, fp)
    }
  }

  // ------------------------- (band, bucket) probe layout --------------

  /** Directory fan-out for the banded candidate artifacts. At 100 TB
    * this scales with the corpus (thousands); locally 64 keeps the
    * directory count sane while a small probe still demonstrates real
    * file skipping (K probe buckets touch ≤ K of the 64 dirs). */
  val ProbePartitions = 64

  /** Max driver-collected probe keys before [[pruneToProbe]] declines
    * to prune — the broadcast-threshold analog: a day-scale delta's
    * bucket neighborhood covers most directories anyway, so scanning
    * all of them behind the map-side hash join is the right plan; the
    * pruning pays for SMALL probes (streaming micro-batches, point
    * lookups), which is exactly when it collapses the scan to a handful
    * of directories. */
  val ProbeKeyCap = 1024

  /** Write a (.., band, bucket) table partitioned by
    * `pb = pmod(bucket, ProbePartitions)` with bucket-sorted rows in
    * each file: a probe's bucket set prunes to its matching `pb=`
    * directories by EXACT catalyst partition pruning (works for any
    * IN-list size, unlike parquet stats pushdown which degrades to a
    * useless min-max range past the In-filter threshold), and the
    * within-file bucket ordering gives tight row-group stats for the
    * residual bucket filter. The reference analog is the index pinned
    * to a fixed HashPartitioner on write and read so a point lookup
    * touches one part file (`BlockIndexedFileInputFormat.java:419-431`).
    * Readers get `pb` back as a partition column (int) after the data
    * columns. */
  def writeBucketDirs(df: DataFrame, path: String): Unit =
    df.withColumn("pb",
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("bucket"),
          org.apache.spark.sql.functions.lit(ProbePartitions)).cast("int"))
      // explicit count: an AQE-coalesced exchange would merge the
      // writer tasks, which is harmless for dirs but loses the
      // one-file-per-pb packing
      .repartition(ProbePartitions, org.apache.spark.sql.functions.col("pb"))
      .sortWithinPartitions("bucket")
      .write.partitionBy("pb").parquet(path)

  /** Prune `base` (a [[writeBucketDirs]]-layout table carrying `pb`) to
    * the probe side's bucket neighborhoods: collect up to `cap`+1 of
    * the probe's RAW bucket rows (a pushed-down limit — early-exit
    * scan, no shuffle; dedup happens driver-side, so the plan-time cost
    * of asking "is this probe small?" is reading at most cap+1 rows)
    * and filter base to their `pb` directories plus the exact bucket
    * set. A SUPERSET filter — the caller's equi-join stays the
    * correctness boundary — so the result is always exact. No-ops (and
    * collects nothing) when base has no `pb` column (an in-query banded
    * table); declines when the probe carries more than `cap` raw rows
    * (a day-scale delta — scanning all directories behind the map-side
    * hash join is the right plan there). */
  def pruneToProbe(base: DataFrame, probe: DataFrame,
      cap: Int = ProbeKeyCap): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (!base.columns.contains("pb")) base
    else {
      // null buckets cannot join (equi-join semantics), so dropping them
      // from the collected key set is exact — and keeps the key mapping
      // NPE-free if a probe ever carries one
      val rows = probe.select("bucket")
        .filter(col("bucket").isNotNull).limit(cap + 1).collect()
      if (rows.isEmpty || rows.length > cap) base
      else {
        // sorted, so the plan is a function of the values, not of the
        // probe's collect order
        val keys = rows.map(_.getLong(0)).distinct.sorted
        val pbs = keys
          .map(b => (((b % ProbePartitions) + ProbePartitions) % ProbePartitions).toInt)
          .distinct.sorted.toSeq
        base.filter(col("pb").isin(pbs: _*) && col("bucket").isin(keys.toSeq: _*))
      }
    }
  }
}
