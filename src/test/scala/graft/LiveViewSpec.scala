package graft

import graft.build.{GenStore, GenTable}
import graft.functions.expressions.LongKeyIn
import graft.query.RaceFs
import graft.similarity.AnnIndex
import graft.text.{PostingsStore, TextIndex}
import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite
import scala.util.{Failure, Success, Try}

/** The BOUNDED live view resolves upserts on the driver: on a trusted
  * history with upsert generations, every maintained store's live view
  * is one filtered scan (no aggregate, no join, no Spark job to plan it)
  * whose rows equal full resolution — current and as of every
  * generation, and past the distinct-key and upsert-row caps too. An
  * upsert generation missing from the scan's listing is unknown and
  * takes full resolution; a zero-row one is a known empty set; a
  * compaction swapped in during a read never pairs one tree's keys with
  * another's rows. */
class LiveViewSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("LiveViewSpec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val work = java.nio.file.Files.createTempDirectory("liveview").toString

  private def emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")

  /** Generations 0..4: the base, a declared append of new ids, an
    * undeclared re-ingest with changed content (each id twice, as an
    * at-least-once batch delivers it), a delete, and an undeclared
    * re-add of two deleted ids. Upsert generations: 2, 3, 4. */
  private val Gens = 5L

  private def vectorHistory(dir: String)(build: DataFrame => Unit)(
      append: (DataFrame, Boolean) => Unit): String = {
    val isNew = col("vec_id") % 5 === 4
    build(emb.filter(!isNew))
    append(emb.filter(isNew), true)
    val changed = emb.filter(col("vec_id") < 10 && !isNew)
    append(changed.withColumn("embedding", transform(col("embedding"), x => -x))
      .unionByName(changed.withColumn("embedding", transform(col("embedding"), x => x + x))), false)
    GenStore.delete(emb.filter(col("vec_id").between(10, 19)).select("vec_id"), dir)
    append(emb.filter(col("vec_id").isin(10, 11)), false)
    dir
  }

  private lazy val ivf = vectorHistory(s"$work/ivf")(AnnIndex.buildIvf(_, s"$work/ivf", nlist = 8))(
    (d, n) => AnnIndex.appendIvf(d, s"$work/ivf", newIds = n))
  private lazy val pq = vectorHistory(s"$work/pq")(AnnIndex.buildIvfPq(_, s"$work/pq", nlist = 8))(
    (d, n) => AnnIndex.appendIvfPq(d, s"$work/pq", newIds = n))
  private lazy val banded = vectorHistory(s"$work/banded")(
    AnnIndex.buildBanded(_, s"$work/banded", nPlanes = 8, bands = 4))(
    (d, n) => AnnIndex.appendBanded(d, s"$work/banded", nPlanes = 8, bands = 4, newIds = n))
  private lazy val vecs = vectorHistory(s"$work/vecs")(AnnIndex.buildVecs(_, s"$work/vecs"))(
    (d, n) => AnnIndex.appendVecs(d, s"$work/vecs", newIds = n))

  /** The text twin of [[vectorHistory]]: the re-ingest also empties one
    * doc (a sentinel row) and the re-add brings back new text. */
  private def textHistory(dir: String): String = {
    val sp = spark
    import sp.implicits._
    def docs(ds: Seq[(Long, String)]) = ds.toDF("doc_id", "text")
    PostingsStore.build(docs((0L until 30L).map(i => i -> s"w${i % 7} w${i % 3} common")), dir)
    PostingsStore.append(docs((30L until 40L).map(i => i -> s"w${i % 5} fresh")), dir, newIds = true)
    PostingsStore.append(docs((0L until 5L).flatMap(i => Seq(i -> s"changed w$i", i -> s"w$i again")) :+
      (5L -> "")), dir)
    PostingsStore.delete((10L until 15L).toDF("doc_id"), dir)
    PostingsStore.append(docs(Seq(10L -> "readded w1", 11L -> "readded common")), dir)
    dir
  }

  private lazy val text = textHistory(s"$work/text")

  private def view(dir: String, t: GenTable, resolveAll: Boolean = false,
      asOfGen: Option[Long] = None, cap: Int = 1 << 16, rowCap: Long = 1L << 20): DataFrame =
    GenStore.live(spark, dir, t, identity, resolveAll, asOfGen, t.cols, identity, cap, rowCap)

  /** The rows as a sorted multiset, columns in name order (a resolving
    * join puts the key and gen first). */
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).toSeq.sorted

  private def resolves(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case _: Aggregate | _: Join => true
      case _ => false
    }

  /** Jobs started while `body` runs; a marker job submitted afterwards
    * flushes the listener bus. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marked = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("liveview.marker") != null)) marked.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("liveview.marker", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("liveview.marker", null)
      assert(marked.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never reported")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** Bounded ≡ full resolution, current and as of every generation;
    * bounded reads are plain filtered scans; with a cap of one key, or
    * of one upsert row read, the read resolves in full and still serves
    * the same rows. */
  private def boundedEqualsFull(dir: String, t: GenTable): Unit =
    for (asOf <- None +: (0L until Gens).map(Some(_))) {
      val want = rows(view(dir, t, resolveAll = true, asOfGen = asOf))
      val bounded = view(dir, t, asOfGen = asOf)
      assert(rows(bounded) == want, s"${t.subdir} at $dir as of $asOf")
      assert(!resolves(bounded), s"${t.subdir} as of $asOf: the bounded view must not resolve")
      // from generation 2 on the prefix holds more than one upsert key
      // and more than one upsert row
      for ((capped, which) <- Seq(view(dir, t, asOfGen = asOf, cap = 1) -> "key cap 1",
          view(dir, t, asOfGen = asOf, rowCap = 1) -> "row cap 1")) {
        assert(rows(capped) == want, s"${t.subdir} as of $asOf, $which")
        assert(resolves(capped) == asOf.forall(_ >= 2), s"${t.subdir} as of $asOf, $which")
      }
    }

  test("text postings + norms: bounded live view equals full resolution, as of every gen and past the cap") {
    boundedEqualsFull(text, GenTable.Postings)
    boundedEqualsFull(text, GenTable.Norms)
    // the history really deleted, re-added and emptied docs
    val live = PostingsStore.live(spark, text).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(live.contains(10L) && live.contains(11L) && !live.contains(12L) && !live.contains(5L))
  }

  test("IVF, banded and vecs: bounded live view equals full resolution, as of every gen and past the cap") {
    boundedEqualsFull(ivf, GenTable.Ivf)
    boundedEqualsFull(banded, GenTable.Banded)
    boundedEqualsFull(vecs, GenTable.Vecs)
  }

  test("a text search plans with no Spark job: live + normsLive + executedPlan") {
    val terms = Seq("w1", "common", "readded")
    var q: DataFrame = null
    assert(jobsDuring {
      val p = PostingsStore.live(spark, text)
      val n = PostingsStore.normsLive(spark, text)
      q = TextIndex.searchScoredWith(p, n, terms, "bm25")
      q.queryExecution.executedPlan
    } == 0)
    val want = TextIndex.searchScoredWith(PostingsStore.live(spark, text, resolveAll = true),
      PostingsStore.normsLive(spark, text, resolveAll = true), terms, "bm25")
    assert(rows(q) == rows(want) && rows(want).nonEmpty)
  }

  test("key_in: generated and interpreted evaluation agree; a null key stays null") {
    val in = ColumnBridge.column(LongKeyIn(ColumnBridge.expression(col("k")), Array(-7L, 3L, 9L)))
    // a range scan, so the projection is not folded on the driver
    val df = spark.range(-8, 11)
      .select(when(col("id") =!= 0, col("id")).as("k")).select(col("k"), in.as("hit"))
    val want = (-8L to 10L).map(k =>
      if (k == 0) "[null,null]" else s"[$k,${Set(-7L, 3L, 9L)(k)}]")
    def got = df.collect().map(_.toString).toSeq
    assert(got == want)
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(got == want)
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("one-row tables: writers leave one row per (key, gen), duplicate-id batches included") {
    for ((dir, t) <- Seq(ivf -> GenTable.Ivf, pq -> GenTable.Pq, vecs -> GenTable.Vecs,
        text -> GenTable.Norms)) {
      val perKeyGen = spark.read.parquet(t.path(dir)).groupBy(t.key, "gen").count()
      assert(perKeyGen.filter(col("count") > 1).isEmpty, s"${t.subdir} at $dir")
      assert(perKeyGen.filter(col("gen") === 2).count() > 0, s"${t.subdir} at $dir: no re-ingest")
    }
  }

  test("a zero-row upsert generation (only _SUCCESS) is a known empty set") {
    val d = s"$work/ivf_empty"
    AnnIndex.buildIvf(emb, d, nlist = 8)
    AnnIndex.appendIvf(emb.limit(0), d) // undeclared, zero rows: gen 1
    GenStore.delete(emb.filter(col("vec_id") < 3).select("vec_id"), d)
    val gen1 = new Path(s"${GenTable.Ivf.path(d)}/gen=1")
    val fs = gen1.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(gen1).map(_.getPath.getName).filterNot(_.startsWith(".")).toSeq == Seq("_SUCCESS"))
    val bounded = view(d, GenTable.Ivf)
    assert(!resolves(bounded))
    assert(rows(bounded) == rows(view(d, GenTable.Ivf, resolveAll = true)))
  }

  test("a missing upsert generation directory takes full resolution, never 'no upsert keys'") {
    val d = textHistory(s"$work/text_missing")
    val gen3 = new Path(s"${GenTable.Postings.path(d)}/gen=3")
    val fs = gen3.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(gen3, new Path(s"$d/gen3_aside")))
    try {
      val live = view(d, GenTable.Postings)
      assert(resolves(live))
      assert(rows(live) == rows(view(d, GenTable.Postings, resolveAll = true)))
    } finally assert(fs.rename(new Path(s"$d/gen3_aside"), gen3))
  }

  private def withRaceFs[T](body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.racefs.impl", classOf[RaceFs].getName)
    hc.set("fs.racefs.impl.disable.cache", "true")
    try body finally {
      RaceFs.disarm()
      hc.unset("fs.racefs.impl")
      hc.unset("fs.racefs.impl.disable.cache")
    }
  }

  /** Runs `read` with a race armed at the k-th matching call, k = 0, 1,
    * … until the race no longer fires within the read; the outcome of
    * every run, paired with whether its race fired. */
  private def sweep[T](arm: Int => Unit)(read: => T): Seq[(Boolean, Try[T])] =
    Iterator.from(0).map { k =>
      assert(k < 500, "the race kept firing")
      arm(k)
      val out = Try(read)
      val fired = RaceFs.fired
      RaceFs.disarm()
      fired -> out
    }.span(_._1) match { case (raced, rest) => raced.toList :+ rest.next() }

  test("an upsert generation missing from the scan's listing takes full resolution over a fresh one") {
    val d = textHistory(s"$work/text_raced")
    val want = rows(PostingsStore.live(spark, d, resolveAll = true))
    val data = GenTable.Postings.path(d)
    val runs = withRaceFs {
      // the delete generation is gone while the store root is listed
      // (the footer-schema walk, then the scan's listing), and back
      // before the read goes on
      sweep(RaceFs.vanishOnList(data, s"$data/gen=3", s"$d/gen3_aside", _)) {
        val live = PostingsStore.live(spark, s"racefs://$d")
        (rows(live), resolves(live))
      }
    }
    assert(runs.forall(_._2.get._1 == want))
    assert(runs.exists { case (fired, out) => fired && out.get._2 }, "no race hit the scan's listing")
  }

  test("a horizon compaction swapped in at any point of a bounded read: full-resolution rows or an error") {
    val src = textHistory(s"$work/swap_src")
    val squashed = s"$work/swap_squashed"
    FileUtils.copyDirectory(new File(src), new File(squashed))
    // upsert gens 2, 3, 4: the squash resolves 2 and 3 into gen 3
    GenStore.compactThrough(spark, squashed, 3L)
    def served(df: DataFrame) = rows(df.drop("gen"))
    val want = served(PostingsStore.live(spark, src, resolveAll = true))
    assert(served(PostingsStore.live(spark, squashed)) == want)
    var k = 0
    def fresh(): String = {
      k += 1
      FileUtils.copyDirectory(new File(src), new File(s"$work/swap_$k"))
      FileUtils.copyDirectory(new File(squashed), new File(s"$work/swap_${k}_new"))
      s"$work/swap_$k"
    }
    var d = ""
    val runs = withRaceFs {
      sweep { skip =>
        d = fresh()
        RaceFs.swapOnAccess(GenTable.Postings.path(d), skip, d, s"${d}_old", s"${d}_new")
      }(served(PostingsStore.live(spark, s"racefs://$d")))
    }
    def missingFile(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
        case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException => true
        case _ => false
      }
    info(s"${runs.size - 1} accesses swept, ${runs.count(_._2.isFailure)} failed on a vanished file")
    for (((fired, out), i) <- runs.zipWithIndex) out match {
      case Success(r) => assert(r == want, s"swap at access $i")
      case Failure(e) => assert(fired && missingFile(e), s"swap at access $i: $e")
    }
    // the swap landed inside the read and the read still served the rows
    assert(runs.exists { case (fired, out) => fired && out.isSuccess })
  }
}
