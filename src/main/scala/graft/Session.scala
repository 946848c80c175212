package graft

import org.apache.spark.sql.SparkSession

/** The one local session of the mains (Bench, Verify, Dev,
  * ScaleProbe) and every spec (through `SparkSpec`): `local[cpus]` with
  * as many shuffle partitions, UTC session time, nanosecond timestamps
  * read as longs (see `Tables.events`), AQE on and no UI. Floors and
  * plan digests are measured under exactly this configuration, so the
  * mains and every spec must share it. */
object Session {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")

  /** [[builder]]'s session, logging at WARN. */
  def local(cpus: String): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
