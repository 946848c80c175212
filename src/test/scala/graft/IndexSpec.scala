package graft

import graft.build.IndexBuilder
import graft.query.{And, Between, Eq, Or, Pred, PrunedScanner}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end index machinery: build over a multi-file dataset, prune,
  * residual-filter, fall back on staleness — the index-scan ≡ full-scan
  * differential the reference proves with ScanUsingIndexJob. */
class IndexSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val work = tempDir("test_idx")
  private def dataDir = s"$work/data"
  private def indexRoot = s"$work/index"

  private lazy val prepared: Unit = {
    Tables.events(spark, sfDir)
      .repartitionByRange(8, col("event_type"), col("event_id"))
      .write.mode("overwrite").parquet(dataDir)
    IndexBuilder.build(spark, dataDir, Seq("event_type", "user_id"), indexRoot,
      capBytes = 64L * 1024 * 1024)
  }

  private def fullScanIds(pred: Pred): Set[Long] = {
    prepared
    spark.read.parquet(dataDir).filter(pred.toColumn)
      .select("event_id").collect().map(_.getLong(0)).toSet
  }

  private def prunedIds(pred: Pred): Set[Long] = {
    prepared
    PrunedScanner.scan(spark, dataDir, pred, indexRoot)
      .select("event_id").collect().map(_.getLong(0)).toSet
  }

  test("postings are valid sorted interval lists") {
    prepared
    val rows = IndexBuilder.postingsTyped(spark, indexRoot).collect()
    assert(rows.nonEmpty)
    rows.foreach { e =>
      val r = e.ranges
      assert(r.nonEmpty && e.file.nonEmpty && e.value != null)
      assert(r.sliding(2).forall { case Seq(a, b) => a.end <= b.start; case _ => true })
      assert(r.forall(b => b.start < b.end))
    }
    // descriptor model round-trip
    val d = IndexBuilder.loadDescriptors(spark, indexRoot).values.head
    val full = IndexBuilder.toDescriptor(d)
    assert(full.sourcePath == d.sourcePath && full.checksum.length == d.length)
    assert(full.indexedFields.map(_.fieldName) == d.columns)
  }

  test("EQ pruned scan == full scan") {
    val p = Eq("event_type", "error")
    assert(prunedIds(p) == fullScanIds(p))
  }

  test("AND pruned scan == full scan") {
    val p = And(Eq("event_type", "click"), Eq("user_id", "42"))
    assert(prunedIds(p) == fullScanIds(p))
  }

  test("OR pruned scan == full scan") {
    val p = Or(Eq("event_type", "signup"), Eq("user_id", "7"))
    assert(prunedIds(p) == fullScanIds(p))
  }

  test("selective EQ predicate actually drops files") {
    prepared
    val (_, report) = PrunedScanner.scanWithReport(
      spark, dataDir, Eq("event_type", "error"), indexRoot)
    assert(report.fallbackFiles == 0)
    assert(report.selectedFiles < report.totalFiles,
      s"expected pruning on range-partitioned data, got $report")
    assert(report.selectedBytes < report.totalBytes)
  }

  test("value absent from index -> zero files selected, empty result") {
    prepared
    val (df, report) = PrunedScanner.scanWithReport(
      spark, dataDir, Eq("event_type", "no_such_type"), indexRoot)
    assert(report.selectedFiles == 0 && report.fallbackFiles == 0)
    assert(df.count() == 0)
  }

  test("stale file falls back to full scan and stays correct") {
    prepared
    // grow one data file after indexing -> its descriptor fingerprint
    // (length+mtime) no longer matches -> must be fully scanned
    val staleWork = s"$work/stale"
    // copy dataset, tamper with one file, reuse the same index
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(dataDir),
      fs, new org.apache.hadoop.fs.Path(s"$staleWork/data"), false,
      spark.sparkContext.hadoopConfiguration)
    IndexBuilder.build(spark, s"$staleWork/data", Seq("event_type"), s"$staleWork/index")
    // tamper: rewrite one parquet file with extra rows of a new type
    val tampered = IndexBuilder.listDataFiles(spark, s"$staleWork/data").head
    val tamperPath = java.nio.file.Paths.get(tampered.path)
    val extra = spark.read.parquet(s"$staleWork/data")
      .limit(5).withColumn("event_type", lit("tampered_type"))
    val tmpOut = s"$staleWork/extra"
    extra.union(spark.read.parquet(tampered.path)).coalesce(1)
      .write.mode("overwrite").parquet(tmpOut)
    val newPart = IndexBuilder.listDataFiles(spark, tmpOut).head
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(newPart.path), tamperPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // drop the Hadoop LocalFileSystem .crc sidecar of the replaced file
    java.nio.file.Files.deleteIfExists(
      tamperPath.resolveSibling("." + tamperPath.getFileName.toString + ".crc"))
    // drop Spark's cached FileStatus (length) for the tampered path
    spark.catalog.refreshByPath(s"$staleWork/data")

    val (df, report) = PrunedScanner.scanWithReport(
      spark, s"$staleWork/data", Eq("event_type", "tampered_type"), s"$staleWork/index")
    assert(report.fallbackFiles >= 1, s"expected stale fallback, got $report")
    assert(df.count() == 5, "rows in the tampered file must still be found")
  }

  test("date/timestamp literals translate to their EXTERNAL string form") {
    import spark.implicits._
    val df = Seq((java.sql.Date.valueOf("2024-01-03"),
      java.sql.Timestamp.valueOf("2024-01-03 04:05:06"))).toDF("day", "at")
    // internal reps are epoch days / micros; index keys are cast-to-string
    assert(Pred.fromColumn(df, col("day") === java.sql.Date.valueOf("2024-01-03"))
      == Some(Eq("day", "2024-01-03")))
    assert(Pred.fromColumn(df, col("at") === java.sql.Timestamp.valueOf("2024-01-03 04:05:06"))
      == Some(Eq("at", "2024-01-03 04:05:06")))
  }

  test("casts around the attribute are rejected; literal casts constant-fold") {
    prepared
    val df = spark.read.parquet(dataDir)
    // type coercion wraps the long column in Cast(.., double) — index
    // keys are cast(col as string) ("7"), not "7.0": must fall back
    assert(Pred.fromColumn(df, col("user_id") === lit(7.0)).isEmpty,
      "numeric-widening cast around the attribute must not translate")
    // truncating cast around the attribute: many ts values share a date
    assert(Pred.fromColumn(df,
      col("ts").cast("date") === lit(java.sql.Date.valueOf("2024-01-03"))).isEmpty,
      "truncating cast around the attribute must not translate")
    // the index's own stringify semantics IS accepted
    assert(Pred.fromColumn(df, col("user_id").cast("string") === "42")
      == Some(Eq("user_id", "42")))
    // a literal-side cast folds to the CANONICAL key ("7", never "07")
    val folded = Pred.fromExpression(
      df.filter(col("user_id") ===
        org.apache.spark.sql.functions.expr("cast('07' as bigint)"))
        .queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        }.get)
    assert(folded == Some(Eq("user_id", "7")))
  }

  test("Pred.fromColumn translates EQ/AND/OR and rejects the rest") {
    prepared
    val df = spark.read.parquet(dataDir)
    val c = (col("event_type") === "click" && col("user_id") === 42) ||
      col("event_type") === "error"
    val p = Pred.fromColumn(df, c)
    assert(p == Some(Or(
      And(Eq("event_type", "click"), Eq("user_id", "42")),
      Eq("event_type", "error"))))
    // numeric ranges on integral columns now translate (extension)
    assert(Pred.fromColumn(df, col("user_id") > 5) ==
      Some(Between("user_id", Some(BigDecimal(5)), None, loInc = false, hiInc = false)))
    // ...but not on floating-point columns
    assert(Pred.fromColumn(df, col("value") > 5.0).isEmpty)
    assert(Pred.fromColumn(df, lit("x") === col("event_type")) ==
      Some(Eq("event_type", "x")))
    // IN desugars to an OR tree of EQs
    assert(Pred.fromColumn(df, col("event_type").isin("click", "error")) ==
      Some(Or(Eq("event_type", "click"), Eq("event_type", "error"))))
  }

  test("float EQ never prunes; non-integral BETWEEN degrades to full scan") {
    prepared
    val df = spark.read.parquet(dataDir)
    // double attr: SQL equality is not the string-key bijection
    assert(Pred.fromColumn(df, col("value") === 5.0).isEmpty)
    assert(Pred.fromColumn(df, col("value").isin(1.0, 2.0)).isEmpty)
    // hand-built Between over the double column: pruning skipped,
    // results still exactly the residual semantics
    val b = Between("value", Some(BigDecimal(100)), None, loInc = true, hiInc = false)
    val (got, report) = PrunedScanner.scanWithReport(spark, dataDir, b, indexRoot)
    assert(report.selectedFiles == 0 && report.fallbackFiles == report.totalFiles,
      s"non-integral BETWEEN must not prune: $report")
    val expect = spark.read.parquet(dataDir).filter(b.toColumn)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got.select("event_id").collect().map(_.getLong(0)).toSet == expect)
  }

  test("verifyCounts stays exact when files arrive after indexing (fallback)") {
    prepared
    val dir = s"$work/vc_data"
    val idx = s"$work/vc_index"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(dataDir),
      fs, new org.apache.hadoop.fs.Path(dir), false,
      spark.sparkContext.hadoopConfiguration)
    IndexBuilder.build(spark, dir, Seq("event_type"), idx)
    // a new un-indexed file lands afterwards (known event types)
    Tables.events(spark, sfDir).limit(50)
      .coalesce(1).write.mode("append").parquet(dir)
    spark.catalog.refreshByPath(dir)
    val got = PrunedScanner.verifyCounts(spark, dir, "event_type", idx)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = spark.read.parquet(dir).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // every index-known key must count ALL its rows, including those in
    // the fallback (un-indexed) file
    got.foreach { case (v, n) =>
      assert(n == truth(v), s"key $v: verifyCounts=$n truth=${truth(v)}")
    }
    assert(got.nonEmpty)
  }

  test("typed residual keeps string semantics for non-round-trip keys") {
    import spark.implicits._
    val df = Seq((7L, "a"), (8L, "b")).toDF("n", "s")
    // "007" parses to 7 but stringifies back to "7" -> must NOT switch
    // to the typed compare (which would wrongly match n=7); the string
    // form matches nothing, same as the index key space
    assert(df.filter(Eq("n", "007").toColumnFor(df.schema)).count() == 0)
    assert(df.filter(Eq("n", "7").toColumnFor(df.schema)).count() == 1)
    // column absent from schema falls back to the string form (error at
    // eval is fine; here just ensure construction works)
    Eq("missing", "x").toColumnFor(df.schema)
  }

  test("Between.leafMatches agrees with the SQL residual on random longs") {
    // the soundness hinge: driver-side bound checks (what prunes) and
    // the row-level residual (what survives) must decide identically
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val values = Seq.fill(300)(rnd.nextLong() % 1000)
    val df = values.toDF("n")
    (1 to 15).foreach { _ =>
      val a = rnd.nextInt(2000) - 1000
      val b = rnd.nextInt(2000) - 1000
      val pred = Between("n",
        Some(BigDecimal(math.min(a, b))), Some(BigDecimal(math.max(a, b))),
        loInc = rnd.nextBoolean(), hiInc = rnd.nextBoolean())
      val sqlSet = df.filter(pred.toColumn).as[Long].collect().toSet
      val driverSet = values.filter(v => Pred.leafMatches(pred, v.toString)).toSet
      assert(driverSet == sqlSet, s"pred=$pred")
    }
  }

  test("a 50k-value IN builds a balanced tree the recursive walkers survive") {
    val big = Pred.in("c", (1 to 50000).map(_.toString))
    assert(big.leaves.size == 50000)     // would StackOverflow on a left-leaning chain
    assert(big.columns == Set("c"))
    big.toColumn                         // residual construction must not recurse 50k deep
  }

  test("BETWEEN and IN pruned scans == full scan") {
    prepared
    val between = Between("user_id", Some(BigDecimal(5)), Some(BigDecimal(9)),
      loInc = true, hiInc = true)
    assert(prunedIds(between) == fullScanIds(between) && prunedIds(between).nonEmpty)
    val halfOpen = Between("user_id", None, Some(BigDecimal(3)), loInc = false, hiInc = false)
    assert(prunedIds(halfOpen) == fullScanIds(halfOpen) && prunedIds(halfOpen).nonEmpty)
    val inPred = Pred.in("event_type", Seq("error", "signup"))
    assert(prunedIds(inPred) == fullScanIds(inPred) && prunedIds(inPred).nonEmpty)
    val mixed = And(Between("user_id", Some(BigDecimal(0)), Some(BigDecimal(20)),
      loInc = true, hiInc = true), Eq("event_type", "click"))
    assert(prunedIds(mixed) == fullScanIds(mixed) && prunedIds(mixed).nonEmpty)
  }
}
