package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Debug utility: read the rows one index posting points at, as the
  * reference does with `OneSplitInputFormat`
  * (`retrieval/OneSplitInputFormat.java:31-54`) and `TestIndexedReader`.
  * The `_metadata` split columns give the same block identity the
  * sparse index records, so a posting's ranges can be inspected
  * directly. */
object RangeScan {

  /** Rows of the blocks a specific index posting covers — the
    * TestIndexedReader flow: look the value up, read only its ranges.
    * Honors the live rows only (their file id is committed), same as
    * every other query path — an incrementally rebuilt file's stale
    * postings are ignored, not unioned in. */
  def readPosting(
      spark: SparkSession, indexRoot: String,
      file: String, column: String, value: String): DataFrame = {
    import graft.build.IndexBuilder
    // the file table holds canonical (scheme-less) paths; a
    // scheme-qualified caller path (file:///...) must be canonicalized
    // or it matches zero rows
    val canonicalFile = IndexBuilder.canonicalPath(file)
    val idx = IndexBuilder.readRoot(spark, indexRoot).getOrElse(
      throw new java.io.FileNotFoundException(s"no committed index at $indexRoot"))
    val postings = IndexBuilder.lookupPostings(spark, idx, Seq(Eq(column, value)), Int.MaxValue)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"a committed postings file of $indexRoot is gone"))
    val ranges = postings
      .filter(_.file == canonicalFile)
      .flatMap(_.ranges)
    if (ranges.isEmpty) return spark.read.parquet(file).limit(0)
    val df = spark.read.parquet(file)
      .withColumn("_bs", col("_metadata.file_block_start"))
    val cond = ranges.map(b => col("_bs") >= b.start && col("_bs") < b.end).reduce(_ || _)
    df.filter(cond).drop("_bs")
  }
}
