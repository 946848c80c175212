package graft.build

import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Encoder, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import scala.jdk.CollectionConverters._

/** Per-file bloom-filter skipping index — an EXTENSION beyond the
  * reference (which only ships the value→byte-range postings index):
  * for high-cardinality columns, enumerating every distinct value in a
  * postings table costs O(distinct values × files), while a bloom
  * filter answers the only question EQ pruning needs — "might this
  * file contain the value?" — in a few KB per file regardless of
  * cardinality. This is the modern lakehouse data-skipping shape
  * (Parquet bloom filters / Delta-style file skipping), rebuilt on the
  * same freshness machinery as the sparse index.
  *
  * This object holds the build, the compaction and the sketch reader;
  * pruning is the one decision of `graft.query.PrunedScanner`, which
  * picks the reader by the descriptors' `BLOOM_PARQUET` type: a fresh
  * sketch negative for an EQ leaf is evidence that the file holds no
  * match, anything else proves nothing. Soundness is the bloom contract
  * itself: no false negatives, so a pruned file provably contains no
  * matching row; false positives only cost extra reads. Stale files
  * (descriptor fingerprint mismatch) fall back to a full scan exactly
  * like the postings index.
  *
  * Layout:
  * {{{
  * bloomRoot/blooms/part-*.parquet       (file, column, bloom, gen)
  * bloomRoot/descriptors/part-*.parquet  IndexBuilder.DescriptorRow
  * }}}
  *
  * Build = ONE pass over the data: explode (column, value) pairs,
  * aggregate a bloom per (file, column) with [[BloomAgg]] (map-side
  * partials merge with `mergeInPlace`, so the shuffle carries one
  * sketch per partition, not per row).
  */
object BloomIndex {

  /** ~100k expected items x 3% fpp ≈ 90 KB per (file, column) sketch. */
  val DefaultExpectedItems: Long = 100000L
  val DefaultFpp: Double = 0.03

  final case class BloomRow(file: String, column: String, bloom: Array[Byte], gen: Long)

  def bloomsDir(root: String): String = s"$root/blooms"

  /** Serializable bloom-building UDAF over stringified values. */
  final case class BloomAgg(expectedItems: Long, fpp: Double)
      extends Aggregator[String, BloomFilter, Array[Byte]] {
    override def zero: BloomFilter = BloomFilter.create(expectedItems, fpp)
    override def reduce(b: BloomFilter, v: String): BloomFilter = {
      if (v != null) b.putString(v); b
    }
    override def merge(a: BloomFilter, b: BloomFilter): BloomFilter = {
      a.mergeInPlace(b); a
    }
    override def finish(b: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos)
      bos.toByteArray
    }
    override def bufferEncoder: Encoder[BloomFilter] = Encoders.kryo[BloomFilter]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Build (or refresh) blooms for `columns` over the dataset.
    * INCREMENTAL like the postings index: only files with no fresh
    * descriptor are read (a daily one-file append costs one file's
    * scan, not the corpus), their bloom rows are APPENDED gen-stamped,
    * and [[readSketches]]' gen filter makes superseded rows inert.
    * `overwrite` forces a full rebuild. */
  def build(
      spark: SparkSession,
      dataDir: String,
      columns: Seq[String],
      bloomRoot: String,
      expectedItems: Long = DefaultExpectedItems,
      fpp: Double = DefaultFpp,
      overwrite: Boolean = false,
      withChecksums: Boolean = false): Unit = {
    require(columns.nonEmpty)
    IndexBuilder.refreshStale(spark, dataDir, columns, bloomRoot, withChecksums,
        graft.model.IndexType.BloomParquet, overwrite) { stale =>
      val df = spark.read.parquet(stale.map(_.path): _*)
      val kvs = array(columns.map(c =>
        struct(lit(c).as("column"), col(c).cast("string").as("value"))): _*)
      val canonical = IndexBuilder.canonicalizeExpr(spark, stale.head)
      val bloomAgg = udaf(BloomAgg(expectedItems, fpp))
      import spark.implicits._
      val gens = spark.createDataset(stale)
        .select(col("path").as("file"), col("modificationTime").as("gen"))
      df.select(explode(kvs).as("kv"),
          canonical(col("_metadata.file_path")).as("file"))
        .select(col("file"), col("kv.column").as("column"), col("kv.value").as("value"))
        .groupBy("file", "column")
        .agg(bloomAgg(col("value")).as("bloom"))
        .join(broadcast(gens), "file")
        .write.mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
        .parquet(bloomsDir(bloomRoot))
    }
  }

  /** Drop bloom rows for deleted files and superseded generations and
    * rewrite — the maintenance twin of `IndexBuilder.compact` (the
    * append-only build otherwise accumulates a dead ~90 KB sketch per
    * rebuild per column forever). Returns (rowsBefore, rowsAfter). */
  def compact(spark: SparkSession, bloomRoot: String): (Long, Long) = {
    import spark.implicits._
    val descs = IndexBuilder.loadDescriptors(spark, bloomRoot)
    val live = spark.createDataset(
      descs.values.map(d => (d.sourcePath, d.modificationTime)).toSeq)
      .toDF("file", "gen")
    val all = spark.read.parquet(bloomsDir(bloomRoot))
    val before = all.count()
    val staging = s"$bloomRoot/blooms_compacting"
    // same-gen duplicates (a content-fresh file re-indexed for an added
    // column re-emits its other columns) are byte-identical — bloom
    // bits are an order-independent OR — so dropDuplicates is safe
    all.join(broadcast(live), Seq("file", "gen"), "left_semi")
      .dropDuplicates("file", "column", "gen")
      .write.mode(SaveMode.Overwrite).parquet(staging)
    val fs = new Path(bloomRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    IndexBuilder.stagedSwap(fs, new Path(staging),
      new Path(bloomsDir(bloomRoot)), new Path(s"$bloomRoot/blooms_old"))
    spark.catalog.refreshByPath(bloomsDir(bloomRoot))
    val after = spark.read.parquet(bloomsDir(bloomRoot)).count()
    (before, after)
  }

  /** The sketches of `columns` whose gen is their file's in `gens`
    * (file -> live descriptor gen), keyed by (file, column) — read on the
    * driver with no Spark job, `column` pushed to parquet as an IN
    * filter. The pruning decision (`graft.query.PrunedScanner`) turns
    * them into evidence. A missing blooms root, or a part-file that
    * vanishes mid-read, throws `FileNotFoundException`. */
  private[graft] def readSketches(spark: SparkSession, bloomRoot: String,
      columns: Set[String], gens: Map[String, Long]): Map[(String, String), BloomFilter] = {
    val out = Map.newBuilder[(String, String), BloomFilter]
    val filter = FilterCompat.get(FilterApi.in(FilterApi.binaryColumn("column"),
      columns.map(Binary.fromString).asJava))
    IndexBuilder.readParts(spark.sessionState.newHadoopConf(), new Path(bloomsDir(bloomRoot)),
        filter, more = true) { g =>
      val (file, column) = (g.getString("file", 0), g.getString("column", 0))
      if (columns(column) && gens.get(file).contains(g.getLong("gen", 0)))
        out += (file, column) -> BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(g.getBinary("bloom", 0).getBytes))
    }
    out.result()
  }
}
