package graft

import graft.build.GenStore
import graft.similarity.{Ann, AnnIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r19 lifecycle verbs across the VECTOR structures: DELETE (the
  * takedown batch — tombstone generations honored by every read regime,
  * exact counters, streaming twin) and AS-OF-GENERATION reads
  * (time-travel — `asOf(n)` ≡ the state after generation n committed,
  * on mixed histories). Plus the in-stream compact's ingest-order
  * resolution (the r18 advisor's medium: a compact over a re-ingested
  * source directory must never revert an id to OLDER content because
  * it sorts higher). Text twins live in PostingsStoreSpec.
  */
class DeleteAsOfSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val work = tempDir("delasof")

  private def emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
  private def isDelta = col("vec_id") % 7 === 6
  private def deletedIds = emb.filter(isDelta).select("vec_id")

  private def assignSet(dir: String, resolveAll: Boolean = false,
      asOfGen: Option[Long] = None): Set[(Long, Long)] =
    AnnIndex.ivfAssignments(spark, dir, resolveAll = resolveAll,
        asOfGen = asOfGen)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("ivf delete: tombstones retire ids from every regime; counters exact; re-add works") {
    val d = s"$work/ivf_del"
    AnnIndex.buildIvf(emb, d, nlist = 8)
    val before = assignSet(d)
    val delIds = deletedIds.collect().map(_.getLong(0)).toSet
    GenStore.delete(deletedIds, d)
    // delete ≡ the pre-delete view minus exactly the deleted ids —
    // nothing else moved, nothing leaked (bounded regime)...
    val after = assignSet(d)
    assert(after == before.filterNot(r => delIds(r._1)))
    // ...and the trust-nothing audit regime agrees
    assert(assignSet(d, resolveAll = true) == after)
    // probed reads never see a deleted id either
    val cells = after.map(_._2).take(2).toSeq
    assert(AnnIndex.ivfAssignments(spark, d, cells = Some(cells))
      .select("vec_id").collect().map(_.getLong(0)).toSet
      .intersect(delIds).isEmpty)
    // counters: deletes move rows out, add none — staleness stays 0
    assert(GenStore.staleness(spark, d) == 0.0)
    // RE-ADD after delete must be an UNDECLARED append (GenStore doc)
    val one = emb.filter(col("vec_id").isin(delIds.head)).limit(1)
    AnnIndex.appendIvf(one, d)
    assert(assignSet(d).map(_._1).contains(delIds.head),
      "an undeclared re-add after delete must resurface the id")
    // probe end-to-end: the maintained top-k read over the deleted
    // index equals brute force over the reduced corpus (recall-exact
    // here: nprobe = nlist probes every cell)
    val d2 = s"$work/ivf_del2"
    AnnIndex.buildIvf(emb, d2, nlist = 8)
    GenStore.delete(deletedIds, d2)
    val q = emb.filter(col("vec_id") < 3)
    val viaIndex = AnnIndex.ivfTopKFromIndex(spark, d2, emb, q, 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = Ann.bruteForceTopK(emb.filter(!isDelta), q, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaIndex == exact,
      "full-probe read over the deleted index must equal brute force over corpus-minus-takedowns")
  }

  test("ivf-pq delete: the two-stage probe never returns a deleted id") {
    val d = s"$work/pq_del"
    AnnIndex.buildIvfPq(emb, d, nlist = 8)
    GenStore.delete(deletedIds, d)
    val delIds = deletedIds.collect().map(_.getLong(0)).toSet
    val q = emb.filter(col("vec_id") < 3)
    val res = AnnIndex.ivfPqTopKFromIndex(spark, d, emb, q, 5, nprobe = 8)
      .collect().map(_.getLong(1)).toSet
    assert(res.nonEmpty && res.intersect(delIds).isEmpty,
      s"PQ probe returned deleted ids: ${res.intersect(delIds)}")
  }

  test("banded delete ≡ compact over the corpus-minus-takedowns, row-for-row") {
    val d = s"$work/lsh_del"
    AnnIndex.buildBanded(emb, d, nPlanes = 8, bands = 4)
    GenStore.delete(deletedIds, d)
    // planes are seed-fixed (no training), so the equality is exact
    val c = s"$work/lsh_c"
    AnnIndex.buildBanded(emb.filter(!isDelta), c, nPlanes = 8, bands = 4)
    def rows(dir: String) = AnnIndex.bandedRowsLive(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows(d) == rows(c), "banded delete diverged from compact-minus-ids")
  }

  test("vecs delete ≡ compact-minus-ids; point reads prune and drop tombstones in every regime") {
    val d = s"$work/vecs_del"
    AnnIndex.buildVecs(emb, d)
    GenStore.delete(deletedIds, d)
    val c = s"$work/vecs_c"
    AnnIndex.buildVecs(emb.filter(!isDelta), c)
    def rows(dir: String, ids: Option[Seq[Long]] = None) =
      AnnIndex.vecsLive(spark, dir, ids).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rows(d) == rows(c), "vecs delete diverged from compact-minus-ids")
    // a point read of a DELETED id returns nothing, in the pruned path too
    val delId = deletedIds.limit(1).collect().head.getLong(0)
    assert(rows(d, ids = Some(Seq(delId))).isEmpty)
  }

  test("as-of-generation reads reproduce each committed state (ivf + vecs mixed history)") {
    val d = s"$work/ivf_asof"
    val base = emb.filter(!isDelta)
    val delta = emb.filter(isDelta)
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Set[(Long, Long)]]
    AnnIndex.buildIvf(base, d, nlist = 8)
    snaps += assignSet(d)
    AnnIndex.appendIvf(delta, d, newIds = true) // gen 1, declared
    snaps += assignSet(d)
    AnnIndex.appendIvf(delta.limit(3), d) // gen 2, undeclared upsert
    snaps += assignSet(d)
    GenStore.delete(delta.limit(2).select("vec_id"), d) // gen 3, takedown
    snaps += assignSet(d)
    snaps.zipWithIndex.foreach { case (snap, n) =>
      assert(assignSet(d, asOfGen = Some(n.toLong)) == snap,
        s"ivf asOf($n) diverged from the state after gen $n")
    }
    assert(assignSet(d, asOfGen = Some(99L)) == snaps.last)
    // probe-level as-of: the top-k read as of gen 0 ≡ the probe over an
    // index built from the base alone under the SAME centroid model
    // (assignment is a pure per-row function of the fixed model)
    val q = emb.filter(col("vec_id") < 3)
    val asOfProbe = AnnIndex.ivfTopKFromIndex(spark, d, emb, q, 5,
        nprobe = 8, asOfGen = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val baseIds = base.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(asOfProbe.map(_._2).subsetOf(baseIds),
      "as-of-gen-0 probe must never return a post-gen-0 neighbor")
    // vecs store: same clock discipline through the commuting id filter
    val v = s"$work/vecs_asof"
    AnnIndex.buildVecs(base, v)
    AnnIndex.appendVecs(delta, v)
    val delId = delta.limit(1).collect().head.getLong(0)
    assert(AnnIndex.vecsLive(spark, v, ids = Some(Seq(delId)),
      asOfGen = Some(0L)).count() == 0,
      "asOf(0) must not see the gen-1 append")
    assert(AnnIndex.vecsLive(spark, v, ids = Some(Seq(delId)),
      asOfGen = Some(1L)).count() == 1)
    // banded: the as-of prefix of a declared history is a plain read
    val b = s"$work/lsh_asof"
    AnnIndex.buildBanded(base, b, nPlanes = 8, bands = 4)
    AnnIndex.appendBanded(delta, b, nPlanes = 8, bands = 4, newIds = true)
    val full = AnnIndex.bandedRowsLive(spark, b).count()
    val asOf0 = AnnIndex.bandedRowsLive(spark, b, asOfGen = Some(0L))
    assert(asOf0.count() < full)
    assert(!asOf0.queryExecution.executedPlan.toString.contains("Exchange"),
      "the append-only as-of prefix must stay a plain read")
  }

  test("delete holds on the UNTRUSTED regime too (in-stream-compact history)") {
    val d = s"$work/ivf_del_untrusted"
    // appendOnly = false stamps the index untrusted — every read is the
    // full latest-gen resolution, the regime that trusts nothing
    AnnIndex.buildIvf(emb, d, nlist = 8, appendOnly = false)
    val before = assignSet(d)
    val delIds = deletedIds.collect().map(_.getLong(0)).toSet
    GenStore.delete(deletedIds, d)
    assert(assignSet(d) == before.filterNot(r => delIds(r._1)),
      "untrusted-regime delete leaked or over-deleted")
    // vecs twin: untrusted store, pruned point read of a deleted id
    val v = s"$work/vecs_del_untrusted"
    AnnIndex.buildVecs(emb, v, appendOnly = false)
    GenStore.delete(deletedIds, v)
    val delId = delIds.head
    assert(AnnIndex.vecsLive(spark, v, ids = Some(Seq(delId))).count() == 0,
      "untrusted-regime point read served a deleted id")
  }

  test("as-of FUZZ: every prefix of a random mixed append/upsert/delete history reproduces its snapshot") {
    val rnd = new scala.util.Random(7)
    val d = s"$work/ivf_fuzz_asof"
    // id pools by residue class: declared appends draw from unseen
    // pools (truthful newIds), upserts and deletes from seen ones
    def pool(i: Int) = emb.filter(col("vec_id") % 11 === i)
    AnnIndex.buildIvf(pool(0).unionByName(pool(1)), d, nlist = 4)
    var seen = List(0, 1)
    var unseen = (2 to 10).toList
    val snaps = scala.collection.mutable.ArrayBuffer(assignSet(d))
    (1 to 6).foreach { _ =>
      rnd.nextInt(3) match {
        case 0 if unseen.nonEmpty => // declared append of genuinely new ids
          val p = unseen.head; unseen = unseen.tail; seen ::= p
          AnnIndex.appendIvf(pool(p), d, newIds = true)
        case 1 => // undeclared upsert of already-present ids
          val p = seen(rnd.nextInt(seen.size))
          AnnIndex.appendIvf(pool(p), d)
        case _ => // takedown of some present ids
          val p = seen(rnd.nextInt(seen.size))
          GenStore.delete(pool(p).select("vec_id").limit(5), d)
      }
      snaps += assignSet(d)
    }
    snaps.zipWithIndex.foreach { case (snap, n) =>
      assert(assignSet(d, asOfGen = Some(n.toLong)) == snap,
        s"fuzz asOf($n) diverged from the state after gen $n")
      // the audit regime agrees at every prefix
      assert(assignSet(d, resolveAll = true, asOfGen = Some(n.toLong)) == snap,
        s"fuzz asOf($n) audit plan diverged")
    }
  }

  test("streaming deletes twin on a vector store ≡ batch delete; replays skip") {
    import spark.implicits._
    val store = s"$work/sd_vecs"
    val delDir = s"$work/sd_vec_dels"
    val ckpt = s"$work/sd_vec_ckpt"
    AnnIndex.buildVecs(emb, store)
    val delIds = deletedIds.limit(4).collect().map(_.getLong(0)).toSeq
    delIds.toDF("vec_id").write.parquet(delDir)
    val q1 = graft.streaming.IndexMaintenance.runDeletesAvailableNow(
      spark, delDir, store, ckpt)
    q1.awaitTermination()
    val live = AnnIndex.vecsLive(spark, store).select("bucket").collect()
      .map(_.getLong(0)).toSet
    assert(live.intersect(delIds.toSet).isEmpty)
    val before = GenStore.lastAppliedBatch(spark, store)
    val q2 = graft.streaming.IndexMaintenance.runDeletesAvailableNow(
      spark, delDir, store, ckpt)
    q2.awaitTermination()
    assert(GenStore.lastAppliedBatch(spark, store) == before,
      "a drained deletes re-run must be a no-op")
  }

  test("retiredIds = exactly the tombstoned keys; re-adds leave the set") {
    import spark.implicits._
    val d = s"$work/retired_ivf"
    AnnIndex.buildIvf(emb, d, nlist = 8)
    // delete-free stores short-circuit to empty
    assert(GenStore.retiredIds(spark, d).count() == 0)
    val delIds = deletedIds.limit(4).collect().map(_.getLong(0)).toSeq
    GenStore.delete(delIds.toDF("vec_id"), d)
    assert(GenStore.retiredIds(spark, d).collect().map(_.getLong(0)).toSet ==
      delIds.toSet)
    // an undeclared re-add takes the id back out of the retired set
    AnnIndex.appendIvf(emb.filter(col("vec_id") === delIds.head), d)
    assert(GenStore.retiredIds(spark, d).collect().map(_.getLong(0)).toSet ==
      delIds.tail.toSet)
  }

  test("in-stream compact does NOT resurrect takedowns still present in the source") {
    import spark.implicits._
    val docsDir = s"$work/resur_docs"
    val store = s"$work/resur_store"
    val ckpt = s"$work/resur_ckpt"
    val delDir = s"$work/resur_dels"
    val delCkpt = s"$work/resur_del_ckpt"
    Seq((1L, "alpha one"), (2L, "target gone"), (3L, "gamma three"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(docsDir)
    val q1 = graft.streaming.IndexMaintenance.runTextAvailableNow(
      spark, docsDir, store, ckpt)
    q1.awaitTermination()
    // the takedown feed retires doc 2 — but its rows STAY in docsDir
    Seq(2L).toDF("doc_id").write.parquet(delDir)
    val qd = graft.streaming.IndexMaintenance.runDeletesAvailableNow(
      spark, delDir, store, delCkpt, idCol = "doc_id")
    qd.awaitTermination()
    // a later ingest batch pushes staleness past the budget → in-stream
    // compact rebuilds from docsDir, which still holds doc 2's rows
    Seq((4L, "delta four")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(docsDir)
    val q2 = graft.streaming.IndexMaintenance.runTextAvailableNow(
      spark, docsDir, store, ckpt, compactAt = 1e-6)
    q2.awaitTermination()
    val PS = graft.text.PostingsStore
    assert(PS.staleness(spark, store) == 0.0, "compact must have run")
    val docs = PS.live(spark, store).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(docs == Set(1L, 3L, 4L),
      s"in-stream compact resurrected a takedown (or lost a doc): $docs")
  }

  test("in-stream compact resolves the source by INGEST ORDER, never by content sort") {
    import spark.implicits._
    val docsDir = s"$work/ing_docs"
    val store = s"$work/ing_store"
    val ckpt = s"$work/ing_ckpt"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(docsDir).getFileSystem(conf)
    // v1 sorts LEXICOGRAPHICALLY HIGHER than v2 — the content-max pick
    // would keep v1; ingest order must keep v2
    Seq((1L, "zzz old"), (2L, "keep me")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(docsDir)
    // pin the first batch's files firmly in the past so modification
    // time (the stream's own discovery order) is unambiguous
    fs.listStatus(new org.apache.hadoop.fs.Path(docsDir)).foreach { st =>
      if (st.isFile)
        fs.setTimes(st.getPath, st.getModificationTime - 120000L, -1)
    }
    val q1 = graft.streaming.IndexMaintenance.runTextAvailableNow(
      spark, docsDir, store, ckpt)
    q1.awaitTermination()
    Seq((1L, "aaa new")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(docsDir)
    // the re-ingest append pushes staleness past the threshold → the
    // in-stream compact rebuilds from docsDir, which now holds BOTH
    // versions of doc 1
    val q2 = graft.streaming.IndexMaintenance.runTextAvailableNow(
      spark, docsDir, store, ckpt, compactAt = 0.01)
    q2.awaitTermination()
    val terms = graft.text.PostingsStore.live(spark, store)
      .select("term").collect().map(_.getString(0)).toSet
    assert(terms("aaa") && terms("new") && terms("keep"),
      s"compact lost the latest content: $terms")
    assert(!terms("zzz") && !terms("old"),
      s"compact REVERTED doc 1 to older content that sorts higher: $terms")
    // the unit surface agrees
    val resolved = graft.streaming.IndexMaintenance
      .ingestResolved(spark, docsDir, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(resolved == Map(1L -> "aaa new", 2L -> "keep me"))
  }
}
