package graft

import graft.build.GenStore
import graft.text.{PostingsStore, TextIndex}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.DelegateToFileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The text postings store's maintained lifecycle (PostingsStore):
  * append ≡ rebuild exactly for declared batches (postings rows are
  * per-(term, doc) and tokenization is a pure per-doc function);
  * re-ingested docs resolve at the DOCUMENT level — dropped terms
  * disappear, emptied docs leave search entirely (the sentinel
  * mechanism); the artifact marker detects source changes; the
  * streaming twin equals the batch path. */
class PostingsStoreSpec extends AnyFunSuite with SparkSpec {

  private lazy val work = tempDir("pstore")

  private def docsDF(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Live postings as a comparable set (field, term, doc, tf, pos). */
  private def liveSet(dir: String): Set[(String, String, Long, Long, Seq[Int])] =
    PostingsStore.live(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getSeq[Int](4))).toSet

  private def builtSet(docs: DataFrame): Set[(String, String, Long, Long, Seq[Int])] =
    TextIndex.buildFieldedPostings(docs, "doc_id", Seq("text" -> "text"))
      .collect()
      .map(r => (r.getString(4), r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[Int](3))).toSet

  test("declared append ≡ rebuild, plain-regime read, exact staleness") {
    val base = docsDF(Seq(1L -> "spark joins data", 2L -> "hash join wins"))
    val delta = docsDF(Seq(3L -> "merge join spark", 4L -> "scan the table"))
    val d1 = s"$work/p1"
    PostingsStore.build(base, d1)
    PostingsStore.append(delta, d1, newIds = true)
    val d2 = s"$work/p1_full"
    PostingsStore.build(docsDF(Seq(
      1L -> "spark joins data", 2L -> "hash join wins",
      3L -> "merge join spark", 4L -> "scan the table")), d2)
    assert(liveSet(d1) == liveSet(d2), "append diverged from rebuild")
    // append-only history: the live view is a PLAIN read — no shuffle
    assert(!PostingsStore.live(spark, d1).queryExecution.executedPlan
      .toString.contains("Exchange"),
      "append-only postings store must serve a plain read")
    // exact live-row staleness: delta contributed its postings rows
    val total = liveSet(d1).size.toDouble
    val deltaRows = builtSet(delta).size.toDouble
    assert(math.abs(PostingsStore.staleness(spark, d1) - deltaRows / total) < 1e-9)
  }

  test("undeclared re-ingest with changed content: doc-level resolution drops old terms") {
    val d = s"$work/p2"
    PostingsStore.build(docsDF(Seq(
      1L -> "alpha beta gamma", 2L -> "delta epsilon", 3L -> "alpha zeta")), d)
    // doc 1 re-ingested WITHOUT beta/gamma and WITH a new term; doc 3
    // untouched — its rows must survive the anti-join unchanged
    PostingsStore.append(docsDF(Seq(1L -> "alpha omega")), d)
    val expected = builtSet(docsDF(Seq(
      1L -> "alpha omega", 2L -> "delta epsilon", 3L -> "alpha zeta")))
    assert(liveSet(d) == expected,
      "upsert view diverged from the postings of the current content")
    // the dropped term must not resurrect under a term probe either
    // (probe filters apply AFTER doc-level resolution on the upsert gen)
    assert(PostingsStore.live(spark, d, terms = Some(Seq("beta"))).count() == 0,
      "a term the re-ingest dropped leaked through the probed read")
    // exact staleness on the upsert: doc 1's live rows are its 2 new
    // ones; live = 2 (doc1) + 2 (doc2) + 2 (doc3)
    assert(math.abs(PostingsStore.staleness(spark, d) - 2.0 / 6.0) < 1e-9)
    // audit plan agrees
    assert(liveSet(d) == PostingsStore.live(spark, d, resolveAll = true)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getSeq[Int](4))).toSet)
  }

  test("an emptied re-ingest removes the doc from search (sentinel supersession)") {
    val d = s"$work/p3"
    PostingsStore.build(docsDF(Seq(1L -> "alpha beta", 2L -> "alpha")), d)
    PostingsStore.append(docsDF(Seq(1L -> "   ")), d) // tokenless re-ingest
    val live = liveSet(d)
    assert(live == builtSet(docsDF(Seq(2L -> "alpha"))),
      s"emptied doc must leave the live postings entirely, got $live")
    assert(TextIndex.searchTopK(PostingsStore.live(spark, d), Seq("alpha"), 10)
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("term probes push into the range-clustered scan — scan-output rows measured") {
    val d = s"$work/probe"
    PostingsStore.build(
      docsDF((1L to 400L).map(i => i -> s"w$i common t${i % 7}")), d)
    def scanRows(df: DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numOutputRows").value
      }.sum
    }
    val total = scanRows(PostingsStore.live(spark, d))
    val probed = scanRows(PostingsStore.live(spark, d, terms = Some(Seq("w5"))))
    // the plain-regime probe filter reaches the parquet reader and
    // skips whole row groups by the range-clustered layout's min-max
    // stats (measured: ONE of the four range files' row groups
    // survives — parquet skipping is row-group-granular, so that
    // group's rows emit and the residual filters them)
    assert(probed > 0 && probed <= total / 3,
      s"term probe must skip non-matching range files: $probed of $total rows emitted")
  }

  test("the norms sidecar equals aggregating the live postings on every history shape") {
    def normsOf(dir: String): Map[Long, Long] =
      PostingsStore.normsLive(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def aggOf(dir: String): Map[Long, Long] =
      PostingsStore.live(spark, dir).groupBy("doc_id")
        .agg(sum("tf").as("dl")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // declared history
    val d1 = s"$work/n1"
    PostingsStore.build(docsDF(Seq(1L -> "a b a", 2L -> "c")), d1)
    PostingsStore.append(docsDF(Seq(3L -> "d d")), d1, newIds = true)
    assert(normsOf(d1) == Map(1L -> 3L, 2L -> 1L, 3L -> 2L))
    assert(normsOf(d1) == aggOf(d1))
    // upsert history: superseded lengths drop, emptied docs leave
    val d2 = s"$work/n2"
    PostingsStore.build(docsDF(Seq(1L -> "a b a", 2L -> "c", 3L -> "e")), d2)
    PostingsStore.append(docsDF(Seq(1L -> "x", 3L -> " ")), d2)
    assert(normsOf(d2) == Map(1L -> 1L, 2L -> 1L),
      "norms must resolve doc-level supersession and drop emptied docs")
    assert(normsOf(d2) == aggOf(d2))
    // scored retrieval through the sidecar ≡ the derive-from-postings path
    val viaSidecar = TextIndex.searchScoredWith(
      PostingsStore.live(spark, d2), PostingsStore.normsLive(spark, d2),
      Seq("x", "c")).collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val viaAgg = TextIndex.searchScored(
      PostingsStore.live(spark, d2),
      Seq("x", "c")).collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(viaSidecar == viaAgg)
  }

  test("compact rewrites at gen 0, resets staleness, equals the from-scratch build") {
    val d = s"$work/p4"
    PostingsStore.build(docsDF(Seq(1L -> "alpha beta")), d)
    PostingsStore.append(docsDF(Seq(1L -> "alpha omega", 2L -> "beta")), d)
    assert(PostingsStore.staleness(spark, d) > 0.0)
    val current = docsDF(Seq(1L -> "alpha omega", 2L -> "beta"))
    PostingsStore.build(current, d)
    assert(PostingsStore.staleness(spark, d) == 0.0, "compact must reset staleness")
    assert(liveSet(d) == builtSet(current))
  }

  test("model/param guards: mismatched fields and tokenizer epochs throw; non-stores rejected") {
    val d = s"$work/p5"
    PostingsStore.build(docsDF(Seq(1L -> "alpha")), d)
    intercept[IllegalArgumentException] {
      PostingsStore.append(docsDF(Seq(2L -> "beta")), d,
        fields = Seq("body" -> "text"))
    }
    // a vector-store tree must not accept postings appends
    val v = s"$work/p5_vecs"
    import spark.implicits._
    graft.similarity.AnnIndex.buildVecs(
      Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding"), v)
    intercept[IllegalArgumentException] {
      PostingsStore.append(docsDF(Seq(2L -> "beta")), v)
    }
  }

  test("artifact discipline: the fingerprinted marker rebuilds on source change, reuses otherwise") {
    val corpus = tempDir("p6")
    val marker = new org.apache.hadoop.fs.Path(
      s"${graft.build.Artifact.root(corpus)}/_META_p6")
    var builds = 0
    def ensure(fp: String): Unit =
      graft.build.Artifact.ensure(spark, corpus, "p6", fp) { d =>
        builds += 1
        PostingsStore.build(docsDF(Seq(1L -> "alpha")), d)
      }: Unit
    ensure("fp-a"); ensure("fp-a")
    assert(builds == 1, "an unchanged fingerprint must reuse the artifact")
    ensure("fp-b") // the source changed: stale results must NOT be served
    assert(builds == 2, "a changed fingerprint must rebuild")
    // a complete-looking tree with a MISSING marker rebuilds too
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, false)
    ensure("fp-b")
    assert(builds == 3, "a markerless tree must rebuild, not be trusted")
  }

  test("delete retires docs from every read — ≡ compact-minus-ids, counters exact") {
    import spark.implicits._
    val corpus = Seq(1L -> "alpha beta", 2L -> "alpha gamma",
      3L -> "delta beta", 4L -> "alpha")
    val d = s"$work/del1"
    PostingsStore.build(docsDF(corpus), d)
    PostingsStore.delete(Seq(2L, 3L).toDF("doc_id"), d)
    // delete ≡ compact over the corpus minus the takedowns, row-for-row
    val c = s"$work/del1_compacted"
    PostingsStore.build(docsDF(corpus.filterNot(r => Set(2L, 3L)(r._1))), c)
    assert(liveSet(d) == liveSet(c), "delete diverged from compact-minus-ids")
    // the audit regime agrees; search can never return a deleted doc
    assert(PostingsStore.live(spark, d, resolveAll = true).collect().toSet ==
      PostingsStore.live(spark, d).collect().toSet)
    assert(TextIndex.searchTopK(PostingsStore.live(spark, d), Seq("alpha"), 10)
      .collect().map(_.getLong(0)).toSet == Set(1L, 4L))
    // norms drop the deleted docs too
    assert(PostingsStore.normsLive(spark, d).collect()
      .map(_.getLong(0)).toSet == Set(1L, 4L))
    // counters stay EXACT: deletes move live rows out, add none —
    // staleness 0 (all live rows are base); a later append is the only
    // thing that raises it, by exactly its live fraction
    assert(PostingsStore.staleness(spark, d) == 0.0)
    PostingsStore.append(docsDF(Seq(5L -> "omega")), d)
    val live = liveSet(d).size.toDouble
    assert(math.abs(PostingsStore.staleness(spark, d) - 1.0 / live) < 1e-9)
    // RE-ADD after delete: an UNDECLARED append (the GenStore contract)
    // brings the doc back with its new content
    PostingsStore.append(docsDF(Seq(2L -> "alpha reborn")), d)
    assert(TextIndex.searchTopK(PostingsStore.live(spark, d), Seq("reborn"), 10)
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(PostingsStore.live(spark, d, terms = Some(Seq("gamma"))).count() == 0,
      "a re-added doc must carry only its new content")
  }

  test("as-of-generation reads reproduce each committed state of a mixed history") {
    val d = s"$work/asof1"
    // gen 0: build; gen 1: declared append; gen 2: undeclared upsert;
    // gen 3: delete — capture the live set after every step and pin
    // asOf(n) against it
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Set[(String, String, Long, Long, Seq[Int])]]
    PostingsStore.build(docsDF(Seq(1L -> "alpha beta", 2L -> "gamma")), d)
    snaps += liveSet(d)
    PostingsStore.append(docsDF(Seq(3L -> "delta")), d, newIds = true)
    snaps += liveSet(d)
    PostingsStore.append(docsDF(Seq(1L -> "alpha omega")), d)
    snaps += liveSet(d)
    import spark.implicits._
    PostingsStore.delete(Seq(2L).toDF("doc_id"), d)
    snaps += liveSet(d)
    def asOfSet(n: Long): Set[(String, String, Long, Long, Seq[Int])] =
      PostingsStore.live(spark, d, asOfGen = Some(n)).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getSeq[Int](4))).toSet
    snaps.zipWithIndex.foreach { case (snap, n) =>
      assert(asOfSet(n.toLong) == snap, s"asOf($n) diverged from the state after gen $n")
    }
    // past-the-end as-of is just the live view; norms follow the same clock
    assert(asOfSet(99L) == snaps.last)
    assert(PostingsStore.normsLive(spark, d, asOfGen = Some(0L)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 2L, 2L -> 1L))
  }

  test("as-of FUZZ: every prefix of a random mixed text history reproduces its snapshot") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val d = s"$work/asof_fuzz"
    def docsOf(ids: Seq[Long], salt: String): DataFrame =
      docsDF(ids.map(i => i -> s"w$i $salt common"))
    PostingsStore.build(docsOf(1L to 4L, "base"), d)
    var seen = (1L to 4L).toVector
    var nextId = 5L
    val snaps = scala.collection.mutable.ArrayBuffer(liveSet(d))
    (1 to 6).foreach { step =>
      rnd.nextInt(3) match {
        case 0 => // declared append of genuinely new docs
          PostingsStore.append(docsOf(Seq(nextId, nextId + 1), s"s$step"), d,
            newIds = true)
          seen ++= Seq(nextId, nextId + 1); nextId += 2
        case 1 => // undeclared re-ingest with CHANGED content
          val id = seen(rnd.nextInt(seen.size))
          PostingsStore.append(docsOf(Seq(id), s"re$step"), d)
        case _ => // takedown
          val id = seen(rnd.nextInt(seen.size))
          PostingsStore.delete(Seq(id).toDF("doc_id"), d)
      }
      snaps += liveSet(d)
    }
    def asOfSet(n: Long) = PostingsStore.live(spark, d, asOfGen = Some(n))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getSeq[Int](4))).toSet
    snaps.zipWithIndex.foreach { case (snap, n) =>
      assert(asOfSet(n.toLong) == snap,
        s"text fuzz asOf($n) diverged from the state after gen $n")
    }
  }

  test("flat fast path: sentinel-free append-only stores serve the live view bit-for-bit, protocol-free") {
    val d = s"$work/flat1"
    PostingsStore.build(docsDF(Seq(1L -> "alpha beta", 2L -> "gamma")), d)
    PostingsStore.append(docsDF(Seq(3L -> "delta alpha")), d, newIds = true)
    val flat = PostingsStore.live(spark, d)
    // fast path ≡ the full-resolution audit plan, bit-for-bit
    assert(flat.collect().toSet ==
      PostingsStore.live(spark, d, resolveAll = true).collect().toSet)
    // and it IS the flat plan: no sentinel-filter residual (the `sent`
    // license), no exchange
    val plan = flat.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
    assert(!plan.toLowerCase.contains("isnotnull(term"),
      s"sentinel-free store must skip the whole-history sentinel filter:\n$plan")
    // a history that DID write a sentinel keeps the guarded plan — and
    // stays correct (empty doc absent from reads)
    val d2 = s"$work/flat2"
    PostingsStore.build(docsDF(Seq(1L -> "alpha", 2L -> "  ")), d2)
    assert(PostingsStore.live(spark, d2).collect().map(_.getLong(2)).toSet == Set(1L))
    assert(PostingsStore.normsLive(spark, d2).collect()
      .map(_.getLong(0)).toSet == Set(1L))
  }

  test("staleness counters exclude sentinels — exact on emptied-doc batches") {
    val d = s"$work/sent1"
    PostingsStore.build(docsDF(Seq(1L -> "a b", 2L -> "c", 3L -> "d")), d)
    // the batch empties doc 1 (sentinel) and re-ingests doc 2: live
    // rows = doc2's 1 new + doc3's 1 base; append fraction = 1/2 — a
    // counter that counted the sentinel would read 2/3
    PostingsStore.append(docsDF(Seq(1L -> " ", 2L -> "x")), d)
    assert(math.abs(PostingsStore.staleness(spark, d) - 0.5) < 1e-9,
      "sentinel rows must not enter the staleness counters")
  }

  test("fields fingerprint keys the full name→column mapping, not names alone") {
    assert(PostingsStore.fieldsKey(Seq("text" -> "text")) !=
      PostingsStore.fieldsKey(Seq("text" -> "source")),
      "same field names over different columns must fingerprint apart")
  }

  test("streaming deletes twin ≡ batch delete; replays are no-ops") {
    import spark.implicits._
    val delDir = s"$work/sd_dels"
    val store = s"$work/sd_store"
    val ckpt = s"$work/sd_ckpt"
    PostingsStore.build(docsDF(Seq(
      1L -> "alpha beta", 2L -> "alpha gamma", 3L -> "delta")), store)
    Seq(2L).toDF("doc_id").write.parquet(delDir)
    val q1 = graft.streaming.IndexMaintenance.runDeletesAvailableNow(
      spark, delDir, store, ckpt, idCol = "doc_id")
    q1.awaitTermination()
    val twin = s"$work/sd_twin"
    PostingsStore.build(docsDF(Seq(
      1L -> "alpha beta", 2L -> "alpha gamma", 3L -> "delta")), twin)
    PostingsStore.delete(Seq(2L).toDF("doc_id"), twin)
    assert(liveSet(store) == liveSet(twin), "stream delete diverged from batch")
    // drained re-run: no new generation
    val before = GenStore.lastAppliedBatch(spark, store)
    val q2 = graft.streaming.IndexMaintenance.runDeletesAvailableNow(
      spark, delDir, store, ckpt, idCol = "doc_id")
    q2.awaitTermination()
    assert(GenStore.lastAppliedBatch(spark, store) == before)
    assert(liveSet(store) == liveSet(twin))
  }

  test("a deletes stream serves a store on a filesystem registered only in the session conf") {
    import spark.implicits._
    val docs = Seq(1L -> "alpha beta", 2L -> "alpha gamma")
    val delDir = s"$work/delfs_dels"
    Seq(2L).toDF("doc_id").write.parquet(delDir)
    val twin = s"$work/delfs_twin"
    PostingsStore.build(docsDF(docs), twin)
    PostingsStore.delete(Seq(2L).toDF("doc_id"), twin)
    withConf("fs.delfs.impl" -> classOf[DeletesSessionFs].getName,
        "fs.delfs.impl.disable.cache" -> "true",
        "fs.AbstractFileSystem.delfs.impl" -> classOf[DeletesSessionAfs].getName) {
      val store = s"delfs://$work/delfs_store"
      PostingsStore.build(docsDF(docs), store)
      graft.streaming.IndexMaintenance.runDeletesAvailableNow(
        spark, delDir, store, s"$work/delfs_ckpt", idCol = "doc_id").awaitTermination()
      assert(liveSet(store) == liveSet(twin))
    }
  }

  test("streaming maintenance (AvailableNow) equals the batch path, replays are no-ops") {
    val docsDir = s"$work/stream_docs"
    val store = s"$work/stream_store"
    val ckpt = s"$work/stream_ckpt"
    val base = docsDF(Seq(1L -> "spark joins data", 2L -> "hash join wins"))
    base.write.parquet(docsDir)
    val q1 = graft.streaming.IndexMaintenance.runTextAvailableNow(
      spark, docsDir, store, ckpt, assumeNewIds = true)
    q1.awaitTermination()
    docsDF(Seq(3L -> "merge join spark")).write.mode("append").parquet(docsDir)
    val q2 = graft.streaming.IndexMaintenance.runTextAvailableNow(
      spark, docsDir, store, ckpt, assumeNewIds = true)
    q2.awaitTermination()
    // batch twin over the same history
    val b = s"$work/stream_batch_twin"
    PostingsStore.build(base, b)
    PostingsStore.append(docsDF(Seq(3L -> "merge join spark")), b, newIds = true)
    assert(liveSet(store) == liveSet(b), "stream diverged from batch")
    // a re-run with no new files must not append anything
    val genBefore = GenStore.lastAppliedBatch(spark, store)
    val q3 = graft.streaming.IndexMaintenance.runTextAvailableNow(
      spark, docsDir, store, ckpt, assumeNewIds = true)
    q3.awaitTermination()
    assert(GenStore.lastAppliedBatch(spark, store) == genBefore)
    assert(liveSet(store) == liveSet(b), "a drained re-run must be a no-op")
  }
}

/** [[graft.query.RaceFs]] under the `delfs` scheme, which only the
  * deletes-stream session-conf spec registers. */
class DeletesSessionFs extends graft.query.RaceFs {
  override def getUri: java.net.URI = java.net.URI.create("delfs:///")
}

/** [[DeletesSessionFs]] for `FileContext`, which the meta's atomic
  * rename uses. */
class DeletesSessionAfs(uri: java.net.URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new DeletesSessionFs, conf, "delfs", false)
