package graft

import graft.build.IndexBuilder
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `IndexBuilder.dataSchema` reads one footer on the driver and must
  * give the schema Spark's own inference gives, file choice included. */
class DataSchemaSpec extends AnyFunSuite with SparkSpec {

  private val work = tempDir("dataschema")

  private def write(df: DataFrame, dir: String): String = {
    df.write.mode("overwrite").parquet(dir)
    dir
  }

  private def sameAsSpark(dir: String): Unit =
    assert(IndexBuilder.dataSchema(spark, dir) == spark.read.parquet(dir).schema)

  test("flat dataset, non-nullable columns included") {
    sameAsSpark(write(spark.range(0, 300, 1, 3)
      .select(col("id"), lit(1).as("one"), (col("id") * 0.5).as("half"),
        col("id").cast("string").as("s"), current_date().as("d")), s"$work/flat"))
  }

  test("nested struct and array dataset") {
    sameAsSpark(write(spark.range(0, 100, 1, 2)
      .select(col("id"),
        struct(col("id").as("a"), struct(lit("x").as("c")).as("b")).as("st"),
        array(struct(col("id").as("k"), lit(2.0).as("v"))).as("arr"),
        map(col("id").cast("string"), array(col("id"))).as("m")), s"$work/nested"))
  }

  test("hive-partitioned dataset through Graft.read") {
    val dir = s"$work/parted"
    spark.range(0, 200, 1, 2)
      .select(col("id"), (lit(20240101) + col("id") % 3).as("day"), col("id").cast("string").as("s"))
      .write.partitionBy("day").parquet(dir)
    val read = Graft.read(spark, dir)
    assert(read.schema == spark.read.parquet(dir).schema)
    assert(read.schema.fieldNames.toSeq == Seq("id", "s", "day"))
    assert(read.filter(col("day") === 20240102).count() ==
      spark.read.parquet(dir).filter(col("day") === 20240102).count())
  }

  test("summary files: _common_metadata, else _metadata, else the first data file by path") {
    val dir = write(spark.range(0, 50, 1, 2).select(col("id")), s"$work/summary")
    val other = write(spark.range(0, 5, 1, 1).select(col("id"), lit("m").as("from_metadata")),
      s"$work/summary_m")
    val common = write(spark.range(0, 5, 1, 1).select(col("id").cast("int").as("id"),
      lit(1.0).as("from_common")), s"$work/summary_c")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def copyPart(from: String, name: String): Unit =
      FileUtil.copy(fs, IndexBuilder.listDataFiles(spark, from).map(f => new Path(f.path)).head,
        fs, new Path(s"$dir/$name"), false, spark.sparkContext.hadoopConfiguration)
    sameAsSpark(dir)
    copyPart(other, "_metadata")
    sameAsSpark(dir)
    assert(IndexBuilder.dataSchema(spark, dir).fieldNames.contains("from_metadata"))
    copyPart(common, "_common_metadata")
    sameAsSpark(dir)
    assert(IndexBuilder.dataSchema(spark, dir).fieldNames.contains("from_common"))
  }

  test("differing part-file schemas: the same first file, and Spark's merge when mergeSchema is on") {
    val dir = s"$work/merge"
    spark.range(0, 20, 1, 1).select(col("id"), lit("a").as("a")).write.parquet(dir)
    spark.range(20, 40, 1, 1).select(col("id"), lit(2L).as("b")).write.mode("append").parquet(dir)
    sameAsSpark(dir)
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      val merged = Graft.read(spark, dir).schema
      assert(merged == spark.read.parquet(dir).schema)
      assert(Set("id", "a", "b").subsetOf(merged.fieldNames.toSet))
    }
  }
}
