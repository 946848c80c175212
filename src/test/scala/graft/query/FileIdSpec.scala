package graft.query

import graft.{Graft, SparkSpec}
import graft.build.{BloomIndex, IndexBuilder}
import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One file identity: index rows name their file by the id of the
  * meta's file table. Data under paths Spark renders URL-encoded (a
  * space, a `%`) is indexed completely and every read equals a full
  * scan; a file re-indexed with new content leaves its old rows dead
  * and ids are never reused; a root with no postings file keeps the
  * postings schema; and the index bytes do not depend on where the data
  * sits. */
class FileIdSpec extends AnyFunSuite with SparkSpec {

  private val work = tempDir("file_id")

  /** 4 000 rows in 4 files under `dir`: `k` cycles through 7 values in
    * every file, file `u` holds the rows with `u = id / 1000`. */
  private def write(dir: String): String = {
    for (u <- 0 until 4)
      spark.range(u * 1000, (u + 1) * 1000, 1, 1)
        .select(col("id"), (col("id") % 7).cast("string").as("k"), lit(u.toLong).as("u"))
        .write.mode("append").parquet(dir)
    dir
  }

  private def ids(df: DataFrame): Set[Long] = df.select("id").collect().map(_.getLong(0)).toSet

  private def fullScanIds(dir: String, pred: Pred): Set[Long] =
    ids(spark.read.parquet(dir).filter(pred.toColumn))

  for (name <- Seq("sp ace", "pct%41")) test(s"data under '$name': every read equals the full scan") {
    val dir = write(s"$work/$name/data")
    val (idx, bloom) = (s"$work/$name/index", s"$work/$name/bloom")
    IndexBuilder.build(spark, dir, Seq("k", "u"), idx)
    val k3: Pred = Eq("k", "3")
    val (df, report) = PrunedScanner.scanWithReport(spark, dir, k3, idx)
    assert(ids(df) == fullScanIds(dir, k3) && ids(df).size == 571)
    assert(report.fallbackFiles == 0 && report.selectedFiles == 4)
    // the build committed every file's rows
    val files = IndexBuilder.listDataFiles(spark, dir).map(_.path)
    assert(files.size == 4 && files.forall(_.contains(name)))
    assert(IndexBuilder.postings(spark, idx).select("file").distinct().collect()
      .map(_.getString(0)).toSet == files.toSet)
    val u2: Pred = Eq("u", "2")
    val (df2, report2) = PrunedScanner.scanWithReport(spark, dir, u2, idx)
    assert(report2.fallbackFiles == 0 && report2.selectedFiles == 1)
    assert(ids(df2) == fullScanIds(dir, u2) && ids(df2).size == 1000)
    // transparent reads, and the pruned relation's input files
    Graft.registerIndex(spark, dir, idx)
    try {
      assert(ids(Graft.read(spark, dir).filter(col("k") === "3")) == fullScanIds(dir, k3))
      val q = Graft.read(spark, dir).filter(col("u") === 2)
      assert(ids(q) == fullScanIds(dir, u2))
      val matching = spark.read.parquet(dir).filter(u2.toColumn).select(input_file_name())
        .distinct().collect().map(r => IndexBuilder.renderedPath(r.getString(0))).toSet
      assert(q.inputFiles.map(IndexBuilder.renderedPath).toSet == matching && matching.size == 1)
    } finally spark.conf.unset(graft.plans.GraftPruneRule.IndexesConf)
    // bloom-pruned reads
    BloomIndex.build(spark, dir, Seq("u"), bloom)
    val (bdf, breport) = PrunedScanner.scanWithReport(spark, dir, u2, bloom)
    assert(breport.fallbackFiles == 0 && breport.selectedFiles == 1)
    assert(ids(bdf) == fullScanIds(dir, u2))
    // the verification sweep equals the full-scan group-by
    val counts = PrunedScanner.verifyCounts(spark, dir, "k", idx)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = spark.read.parquet(dir).groupBy("k").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == want && counts.size == 7)
  }

  /** One file under `dir` of 100 rows (id, k = `prefix` + digit),
    * uncompressed and dictionary-free, so two such files whose prefixes
    * have equal lengths have equal lengths. */
  private def oneFile(dir: String, prefix: String): File = {
    import spark.implicits._
    withConf("spark.sql.parquet.compression.codec" -> "uncompressed") {
      (0L until 100L).map(i => (i, s"$prefix${i % 10}")).toDF("id", "k")
        .coalesce(1).write.option("parquet.enable.dictionary", "false").parquet(dir)
    }
    new File(IndexBuilder.listDataFiles(spark, dir).head.path)
  }

  private def fileIds(idx: String): Map[String, Int] =
    IndexBuilder.readRoot(spark, idx).get.descriptors.map { case (p, d) => p -> d.fileId }

  test("a same-length, same-mtime rewrite re-indexed with checksums leaves the old rows dead; ids are never reused") {
    val (dir, idx) = (s"$work/rewrite/data", s"$work/rewrite/index")
    val victim = oneFile(dir, "a")
    val other = oneFile(s"$work/rewrite/other", "c")
    FileUtils.moveFile(other, new File(dir, other.getName))
    IndexBuilder.build(spark, dir, Seq("k"), idx, withChecksums = true)
    val seen = scala.collection.mutable.Set(fileIds(idx).values.toSeq: _*)
    assert(seen.size == 2)
    // new values, the same length, the mtime restored
    val replacement = oneFile(s"$work/rewrite/replacement", "b")
    assert(replacement.length == victim.length, "the rewrite must keep the file length")
    val mtime = victim.lastModified()
    FileUtils.copyFile(replacement, victim)
    new File(victim.getParent, s".${victim.getName}.crc").delete()
    assert(victim.setLastModified(mtime))
    assert(IndexBuilder.buildIncremental(spark, dir, Seq("k"), idx, withChecksums = true)
      .map(_.path) == Seq(victim.getPath))
    val rewrittenId = fileIds(idx)(victim.getPath)
    assert(!seen(rewrittenId), "rewritten content must take a new id")
    seen += rewrittenId
    def select(v: String): (Seq[String], PruneReport) = PrunedScanner.selectFiles(spark, dir, Eq("k", v), idx)
    for (stage <- Seq("before compact", "after compact")) {
      val (gone, goneReport) = select("a3")
      assert(gone.isEmpty && goneReport.fallbackFiles == 0, s"$stage: the old content's value selected $gone")
      assert(select("b3")._1 == Seq(victim.getPath), stage)
      assert(select("c3")._1 == Seq(new File(dir, other.getName).getPath), stage)
      if (stage == "before compact") {
        val (before, after) = IndexBuilder.compact(spark, idx)
        assert(after < before)
      }
    }
    // delete one file, add another: the new file's id was never handed out
    assert(new File(dir, other.getName).delete())
    val added = oneFile(s"$work/rewrite/added", "d")
    FileUtils.moveFile(added, new File(dir, s"z-${added.getName}"))
    IndexBuilder.buildIncremental(spark, dir, Seq("k"), idx, withChecksums = true)
    val now = fileIds(idx)
    assert(now.size == 2 && now(victim.getPath) == rewrittenId)
    val addedId = now(new File(dir, s"z-${added.getName}").getPath)
    assert(!seen(addedId), s"id $addedId was reused")
  }

  test("an index with no committed postings file keeps the postings schema") {
    val (dir, idx) = (s"$work/nulls/data", s"$work/nulls/index")
    spark.range(0, 100).select(col("id"), lit(null).cast("string").as("k"))
      .repartition(2).write.parquet(dir)
    IndexBuilder.build(spark, dir, Seq("k"), idx)
    assert(IndexBuilder.readRoot(spark, idx).get.files.isEmpty)
    val postings = IndexBuilder.postings(spark, idx)
    assert(postings.columns.toSeq == Seq("file", "column", "value", "ranges") && postings.isEmpty)
    assert(IndexBuilder.postingsTyped(spark, idx).collect().isEmpty)
    assert(PrunedScanner.verifyCounts(spark, dir, "k", idx).collect().isEmpty)
    assert(IndexBuilder.compact(spark, idx) == (0L, 0L))
  }

  test("the index bytes do not depend on the directory the data sits in") {
    val short = write(s"$work/s/data")
    val long = s"$work/${"l" * 48}/data"
    FileUtils.copyDirectory(new File(short), new File(long))
    def bytes(dir: String): Seq[Long] = {
      IndexBuilder.build(spark, dir, Seq("k", "u"), s"$dir-index")
      BloomIndex.build(spark, dir, Seq("k", "u"), s"$dir-bloom")
      Seq("index", "bloom").map(r => IndexBuilder.readRoot(spark, s"$dir-$r").get.files.map(_.len).sum)
    }
    val (a, b) = (bytes(short), bytes(long))
    assert(a == b && a.forall(_ > 0), s"$a vs $b")
  }
}
