package graft.build

import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
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
  * Layout (the postings index's, `IndexBuilder`'s class doc: the meta's
  * file table gives each file its id, a row is live iff its id is there):
  * {{{
  * bloomRoot/_INDEX_META                           the commit: file table, files
  * bloomRoot/v=K/blooms/batch=N/part-*.parquet     (file_id, column, bloom)
  * }}}
  *
  * Build = ONE pass over the data: explode (column, value) pairs,
  * aggregate a bloom per (file, column) with [[BloomAgg]] (map-side
  * partials merge with `mergeInPlace`, so the shuffle carries one
  * sketch per partition, not per row), then name each file by its id.
  */
object BloomIndex {

  /** ~100k expected items x 3% fpp ≈ 90 KB per (file, column) sketch. */
  val DefaultExpectedItems: Long = 100000L
  val DefaultFpp: Double = 0.03

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
    * scan, not the corpus), their bloom rows are committed as a new
    * batch, and a rewritten file's new id leaves its superseded rows
    * dead. `overwrite` forces a full rebuild into a new version. */
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
        graft.model.IndexType.BloomParquet, overwrite) { (stale, fileId, out) =>
      val df = spark.read.parquet(stale.map(_.path): _*)
      val kvs = array(columns.map(c =>
        struct(lit(c).as("column"), col(c).cast("string").as("value"))): _*)
      val bloomAgg = udaf(BloomAgg(expectedItems, fpp))
      df.select(explode(kvs).as("kv"), col("_metadata.file_path").as("file"))
        .select(col("file"), col("kv.column").as("column"), col("kv.value").as("value"))
        .groupBy("file", "column")
        .agg(bloomAgg(col("value")).as("bloom"))
        .select(fileId(col("file")).as("file_id"), col("column"), col("bloom"))
        .sortWithinPartitions("column", "file_id")
        .write.mode("overwrite").parquet(out)
    }
  }

  /** Drop the dead bloom rows (deleted or rewritten files) and rewrite
    * the rest as a new version — the maintenance twin of
    * `IndexBuilder.compact` (the append-only build otherwise accumulates
    * a dead ~90 KB sketch per rebuild per column forever). Returns
    * (rowsBefore, rowsAfter), from the committed files' footers.
    * Duplicates under one id (a content-fresh file re-indexed for an
    * added column re-emits its other columns) are byte-identical — bloom
    * bits are an order-independent OR — so dropDuplicates is safe. */
  def compact(spark: SparkSession, bloomRoot: String): (Long, Long) =
    IndexBuilder.compactRoot(spark, bloomRoot)(
      _.dropDuplicates("file_id", "column").write.mode("overwrite"))

  /** The sketches of `columns` in the committed files of index `idx`
    * whose file id is committed, keyed by (file path, column) — read on
    * the driver with no Spark job, `column` pushed to parquet as an IN
    * filter. The pruning decision (`graft.query.PrunedScanner`) turns
    * them into evidence. A committed file that is gone throws
    * `FileNotFoundException`. */
  private[graft] def readSketches(spark: SparkSession, idx: IndexBuilder.Root,
      columns: Set[String]): Map[(String, String), BloomFilter] = {
    val out = Map.newBuilder[(String, String), BloomFilter]
    val filter = FilterCompat.get(FilterApi.in(FilterApi.binaryColumn("column"),
      columns.map(Binary.fromString).asJava))
    val conf = Commit.conf(spark)
    for (f <- idx.files) IndexBuilder.readFile(conf, new Path(idx.dir, f.path), filter,
        more = true) { g =>
      val column = g.getString("column", 0)
      for (file <- idx.paths.get(g.getInteger("file_id", 0)) if columns(column))
        out += (file, column) -> BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(g.getBinary("bloom", 0).getBytes))
    }
    out.result()
  }
}
