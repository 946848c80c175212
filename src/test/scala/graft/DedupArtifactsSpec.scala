package graft

import graft.dedup.{Dedup, DedupArtifacts}
import graft.operators.Components
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ingest-time dedup artifacts must be EXACTLY the from-scratch
  * operator outputs (the differential proof the oracle gate repeats at
  * sf0.01 every round), and the prepare must be an idempotent no-op
  * when fresh. */
class DedupArtifactsSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("persisted minhash pairs equal the from-scratch operator output") {
    import spark.implicits._
    val art = DedupArtifacts.minHashPairs(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    val fresh = Dedup.minHashDedupPairs(
        Tables.documents(spark, sfDir), "doc_id", "text",
        DedupArtifacts.N, DedupArtifacts.Threshold,
        DedupArtifacts.K, DedupArtifacts.Bands)
      .as[(Long, Long)].collect().toSet
    assert(art == fresh)
    assert(art.nonEmpty, "the sf0.001 corpus has planted near-dups")
  }

  test("persisted clusters equal components over the from-scratch pairs") {
    import spark.implicits._
    val art = DedupArtifacts.clusters(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    val docs = Tables.documents(spark, sfDir)
    val edges = Dedup.minHashDedupPairs(docs, "doc_id", "text",
        DedupArtifacts.N, DedupArtifacts.Threshold,
        DedupArtifacts.K, DedupArtifacts.Bands)
      .select(col("doc_i").as("src"), col("doc_j").as("dst"))
    val fresh = Components.connectedComponents(
        docs.select(col("doc_id").as("id")), edges)
      .as[(Long, Long)].collect().toSet
    assert(art == fresh)
    // every document appears exactly once
    assert(art.size == docs.count())
  }

  test("persisted phash pairs equal the from-scratch banded hamming join") {
    import spark.implicits._
    val art = DedupArtifacts.phashPairs(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    val fp = graft.multimodal.Multimodal.perceptualHashes(
        graft.multimodal.Multimodal.fromTable(
          Tables.documents(spark, sfDir).filter(length(col("text")) > 0),
          "doc_id", "text", "image"))
      .select(col("media_id").as("doc_id"), col("phash").as("simhash"))
    val fresh = Dedup.bandedCandidates(fp, DedupArtifacts.PHashMaxHamming)
      .filter(bit_count(col("a_sim").bitwiseXOR(col("b_sim")))
        <= DedupArtifacts.PHashMaxHamming)
      .select(col("a_id"), col("b_id")).distinct()
      .as[(Long, Long)].collect().toSet
    assert(art == fresh)
    assert(art.nonEmpty, "the sf0.001 corpus has planted media near-dups")
  }

  test("persisted media clusters equal components over the from-scratch pairs") {
    import spark.implicits._
    val art = DedupArtifacts.mediaClusters(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    val fp = graft.multimodal.Multimodal.perceptualHashes(
        graft.multimodal.Multimodal.fromTable(
          Tables.documents(spark, sfDir).filter(length(col("text")) > 0),
          "doc_id", "text", "image"))
      .select(col("media_id").as("doc_id"), col("phash").as("simhash"))
    val edges = Dedup.bandedCandidates(fp, DedupArtifacts.PHashMaxHamming)
      .filter(bit_count(col("a_sim").bitwiseXOR(col("b_sim")))
        <= DedupArtifacts.PHashMaxHamming)
      .select(col("a_id").as("src"), col("b_id").as("dst")).distinct()
    val fresh = Components.connectedComponents(
        fp.select(col("doc_id").as("id")), edges)
      .as[(Long, Long)].collect().toSet
    assert(art == fresh)
    assert(art.map(_._1).size == fp.count(), "every hashed media item appears")
  }

  test("persisted cut pairs equal the from-scratch cut operator output") {
    import spark.implicits._
    val art = DedupArtifacts.cutPairs(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    val fresh = Dedup.exactJaccardPairs(
        Tables.documents(spark, sfDir), "doc_id", "text",
        DedupArtifacts.N, DedupArtifacts.Threshold,
        maxShingleFreq = DedupArtifacts.MaxShingleFreq)
      .as[(Long, Long)].collect().toSet
    assert(art == fresh)
  }

  test("persisted shingle index equals the from-scratch shingle table") {
    import spark.implicits._
    val art = DedupArtifacts.shingles(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    val fresh = Dedup.shingleTable(
        Tables.documents(spark, sfDir), "doc_id", "text", DedupArtifacts.N)
      .as[(Long, Long)].collect().toSet
    assert(art == fresh)
    assert(art.nonEmpty)
  }

  test("persisted sem pairs equal the from-scratch q28 operator output") {
    import spark.implicits._
    val art = DedupArtifacts.semPairs(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    val fresh = graft.similarity.Ann
      .cosineNearDupPairs(Tables.embeddings(spark, sfDir),
        DedupArtifacts.SemThreshold)
      .as[(Long, Long)].collect().toSet
    assert(art == fresh)
    assert(art.nonEmpty)
  }

  test("incremental cluster maintenance equals the full recompute") {
    import spark.implicits._
    val incr = SparkEntry.queries("q142_incremental_clusters")(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    val full = SparkEntry.queries("q49_dedup_clusters")(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    assert(incr == full,
      s"incremental diverged: only_incr=${(incr -- full).take(3)} " +
        s"only_full=${(full -- incr).take(3)}")
  }

  test("prepare is an idempotent no-op while the source is unchanged") {
    DedupArtifacts.prepare(spark, sfDir)
    // a fresh-check no-op is one meta-file stat+read, far under a
    // rebuild (which runs MinHash + components + the cut join). MIN of
    // three runs: this host sees multi-second CPU-steal waves, and a
    // single-sample wall-clock bound was measured flaky under them.
    val secs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      DedupArtifacts.prepare(spark, sfDir)
      (System.nanoTime() - t0) / 1e9
    }.min
    assert(secs < 2.0, f"second prepare took $secs%.1f s (min of 3) — rebuilt?")
  }

  test("persisted banded/doc-set/hot-shingle state equals the from-scratch tables") {
    import spark.implicits._
    val sh = Dedup.shingleTable(
      Tables.documents(spark, sfDir), "doc_id", "text", DedupArtifacts.N)
      .localCheckpoint(eager = true)
    val bandedFresh = Dedup.bandedTable(sh, DedupArtifacts.K, DedupArtifacts.Bands)
      .as[(Long, Int, Long)].collect().toSet
    val bandedArt = DedupArtifacts.banded(spark, sfDir)
      .select("doc_id", "band", "bucket") // pb is the v12 layout column
      .as[(Long, Int, Long)].collect().toSet
    assert(bandedArt == bandedFresh)
    val setsFresh = Dedup.docSetTable(sh)
      .as[(Long, Seq[Long], Long)].collect().map(t => (t._1, t._2.toList, t._3)).toSet
    val setsArt = DedupArtifacts.docSets(spark, sfDir)
      .as[(Long, Seq[Long], Long)].collect().map(t => (t._1, t._2.toList, t._3)).toSet
    assert(setsArt == setsFresh)
    val hotFresh = sh.groupBy("sh").count()
      .filter(col("count") > DedupArtifacts.MaxShingleFreq)
      .select("sh").as[Long].collect().toSet
    val hotArt = DedupArtifacts.hotShingles(spark, sfDir)
      .as[Long].collect().toSet
    assert(hotArt == hotFresh)
  }

  test("persisted source-shingle incidence equals the from-scratch table") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val sh = Dedup.shingleTable(docs, "doc_id", "text", DedupArtifacts.N)
      .localCheckpoint(eager = true)
    val hot = sh.groupBy("sh").count()
      .filter(col("count") > DedupArtifacts.MaxShingleFreq).select("sh")
    val fresh = sh.join(hot, Seq("sh"), "left_anti")
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("sh")).distinct()
      .as[(String, Long)].collect().toSet
    val art = DedupArtifacts.sourceShingles(spark, sfDir)
      .as[(String, Long)].collect().toSet
    assert(art == fresh)
    assert(art.nonEmpty)
  }

  test("persisted perceptual hashes equal the from-scratch extraction") {
    import spark.implicits._
    val fresh = graft.multimodal.Multimodal.perceptualHashes(
        graft.multimodal.Multimodal.fromTable(
          Tables.documents(spark, sfDir).filter(length(col("text")) > 0),
          "doc_id", "text", "image"))
      .as[(Long, Long)].collect().toSet
    val art = DedupArtifacts.phashes(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    assert(art == fresh)
    assert(art.nonEmpty)
  }

  test("incremental merge composes across two successive delta batches") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val sh = Dedup.shingleTable(docs, "doc_id", "text", DedupArtifacts.N)
      .localCheckpoint(eager = true)
    val banded = Dedup.bandedTable(sh, DedupArtifacts.K, DedupArtifacts.Bands)
      .localCheckpoint(eager = true)
    val sets = Dedup.docSetTable(sh).localCheckpoint(eager = true)
    val t = DedupArtifacts.Threshold
    def res(r: Long) = col("doc_id") % DedupArtifacts.DeltaMod === r

    def fullClusters(universe: org.apache.spark.sql.DataFrame,
        cond: org.apache.spark.sql.Column) = {
      val pairs = Dedup.verifyPairsWithSets(
        Dedup.lshCandidatesFromBanded(banded.filter(cond)), sets, t)
      Components.connectedComponents(
          universe.select(col("doc_id").as("id")),
          pairs.select(col("doc_i").as("src"), col("doc_j").as("dst")))
        .select(col("id").as("doc_id"), col("comp").as("cluster_rep"))
    }
    def pairsFor(cond: org.apache.spark.sql.Column,
        isDelta: org.apache.spark.sql.Column) =
      Dedup.verifyPairsWithSets(
        Dedup.crossCandidatesFromBanded(banded.filter(cond), isDelta)
          .unionByName(Dedup.lshCandidatesFromBanded(
            banded.filter(cond && isDelta))),
        sets, t)

    // yesterday's state: clusters over residues ∉ {5, 6}
    val base0Cond = !res(5) && !res(6)
    val assign0 = fullClusters(docs.filter(base0Cond), base0Cond)
    // batch 1: residue 5 arrives
    val u1Cond = !res(6)
    val a1 = graft.operators.DedupQueries.mergeAssignments(
        docs.filter(u1Cond).select(col("doc_id")),
        assign0, pairsFor(u1Cond, res(5)))
      .localCheckpoint(eager = true)
    val full1 = fullClusters(docs.filter(u1Cond), u1Cond)
      .as[(Long, Long)].collect().toSet
    assert(a1.as[(Long, Long)].collect().toSet == full1,
      "first delta batch diverged from the full recompute")
    // batch 2: residue 6 arrives, merged into batch 1's OUTPUT — the
    // contraction must compose with its own result, not just with an
    // ingest-built base
    val a2 = graft.operators.DedupQueries.mergeAssignments(
      docs.select(col("doc_id")), a1, pairsFor(lit(true), res(6)))
    val full2 = fullClusters(docs, lit(true))
      .as[(Long, Long)].collect().toSet
    assert(a2.as[(Long, Long)].collect().toSet == full2,
      "second delta batch diverged from the full recompute")
  }

  test("media incremental merge composes across two successive delta batches") {
    import spark.implicits._
    val h = DedupArtifacts.PHashMaxHamming
    val fp = DedupArtifacts.phashes(spark, sfDir)
      .select(col("media_id").as("doc_id"), col("phash").as("simhash"))
      .localCheckpoint(eager = true)
    def res(r: Long) = col("doc_id") % DedupArtifacts.DeltaMod === r

    def fullClusters(cond: org.apache.spark.sql.Column) = {
      val sub = fp.filter(cond)
      val pairs = Dedup.bandedCandidates(sub, h)
        .filter(bit_count(col("a_sim").bitwiseXOR(col("b_sim"))) <= h)
      Components.connectedComponents(
          sub.select(col("doc_id").as("id")),
          pairs.select(col("a_id").as("src"), col("b_id").as("dst")))
        .select(col("id").as("doc_id"), col("comp").as("cluster_rep"))
    }
    def pairsFor(cond: org.apache.spark.sql.Column,
        isDelta: org.apache.spark.sql.Column) =
      Dedup.bandedCrossCandidates(fp.filter(cond), h, isDelta)
        .filter(bit_count(col("a_sim").bitwiseXOR(col("b_sim"))) <= h)
        .select(col("a_id").as("doc_i"), col("b_id").as("doc_j"))
        .distinct()

    // yesterday's state: media clusters over residues ∉ {5, 6}
    val base0Cond = !res(5) && !res(6)
    val assign0 = fullClusters(base0Cond)
    // batch 1: residue 5 arrives
    val u1Cond = !res(6)
    val a1 = graft.operators.DedupQueries.mergeAssignments(
        fp.filter(u1Cond).select(col("doc_id")),
        assign0, pairsFor(u1Cond, res(5)))
      .localCheckpoint(eager = true)
    val full1 = fullClusters(u1Cond).as[(Long, Long)].collect().toSet
    assert(a1.as[(Long, Long)].collect().toSet == full1,
      "first media delta batch diverged from the full recompute")
    // batch 2: residue 6 arrives, merged into batch 1's OUTPUT
    val a2 = graft.operators.DedupQueries.mergeAssignments(
      fp.select(col("doc_id")), a1, pairsFor(lit(true), res(6)))
    val full2 = fullClusters(lit(true)).as[(Long, Long)].collect().toSet
    assert(a2.as[(Long, Long)].collect().toSet == full2,
      "second media delta batch diverged from the full recompute")
  }

  test("persisted base sem artifacts equal the from-scratch base subset") {
    import spark.implicits._
    val t = DedupArtifacts.SemThreshold
    val emb = Tables.embeddings(spark, sfDir)
    val isBase = col("vec_id") % DedupArtifacts.DeltaMod =!= DedupArtifacts.DeltaRem
    val freshPairs = graft.similarity.Ann
      .cosineNearDupPairs(emb.filter(isBase), t)
      .as[(Long, Long)].collect().toSet
    assert(DedupArtifacts.baseSemPairs(spark, sfDir)
      .as[(Long, Long)].collect().toSet == freshPairs)
    val freshClusters = Components.connectedComponents(
        emb.filter(isBase).select(col("vec_id").as("id")),
        graft.similarity.Ann.cosineNearDupPairs(emb.filter(isBase), t)
          .select(col("id_i").as("src"), col("id_j").as("dst")))
      .as[(Long, Long)].collect().toSet
    assert(DedupArtifacts.baseSemClusters(spark, sfDir)
      .as[(Long, Long)].collect().toSet == freshClusters)
  }

  test("semantic incremental merge composes across two successive delta batches") {
    import spark.implicits._
    val t = DedupArtifacts.SemThreshold
    val emb = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").localCheckpoint(eager = true)
    def res(r: Long) = col("vec_id") % DedupArtifacts.DeltaMod === r

    def fullClusters(cond: org.apache.spark.sql.Column) = {
      val sub = emb.filter(cond)
      Components.connectedComponents(
          sub.select(col("vec_id").as("id")),
          graft.similarity.Ann.cosineNearDupPairs(sub, t)
            .select(col("id_i").as("src"), col("id_j").as("dst")))
        .select(col("id").as("vec_id"), col("comp").as("cluster_rep"))
    }
    def pairsFor(cond: org.apache.spark.sql.Column,
        isDelta: org.apache.spark.sql.Column) =
      graft.similarity.Ann.cosineCrossPairs(
          emb.filter(cond && !isDelta), emb.filter(cond && isDelta), t)
        .unionByName(
          graft.similarity.Ann.cosineNearDupPairs(emb.filter(cond && isDelta), t))
        .select(col("id_i").as("doc_i"), col("id_j").as("doc_j"))

    // yesterday's state: semantic clusters over residues ∉ {5, 6}
    val base0Cond = !res(5) && !res(6)
    val assign0 = fullClusters(base0Cond)
      .select(col("vec_id").as("doc_id"), col("cluster_rep"))
    // batch 1: residue 5 arrives
    val u1Cond = !res(6)
    val a1 = graft.operators.DedupQueries.mergeAssignments(
        emb.filter(u1Cond).select(col("vec_id").as("doc_id")),
        assign0, pairsFor(u1Cond, res(5)))
      .localCheckpoint(eager = true)
    val full1 = fullClusters(u1Cond).as[(Long, Long)].collect().toSet
    assert(a1.as[(Long, Long)].collect().toSet == full1,
      "first semantic delta batch diverged from the full recompute")
    // batch 2: residue 6 arrives, merged into batch 1's OUTPUT — the
    // contraction must compose with its own result
    val a2 = graft.operators.DedupQueries.mergeAssignments(
      emb.select(col("vec_id").as("doc_id")), a1, pairsFor(lit(true), res(6)))
    val full2 = fullClusters(lit(true)).as[(Long, Long)].collect().toSet
    assert(a2.as[(Long, Long)].collect().toSet == full2,
      "second semantic delta batch diverged from the full recompute")
  }

  test("BANDED semantic incremental merge composes across two successive delta batches") {
    // the q161/q163 PRODUCTION machinery (persisted banded index,
    // candidates from (band, bucket), exact-cosine verify) must compose
    // across days exactly like the brute kernels above — the planted
    // 0.9 regime, where the pigeonhole budget makes the banded pair set
    // exact
    import spark.implicits._
    val DA = DedupArtifacts
    val t = DA.SemProdThreshold
    val emb = DA.plantedEmbeddings(spark, sfDir)
      .localCheckpoint(eager = true)
    val banded = graft.similarity.Ann.bandedSignatures(
        emb, nPlanes = DA.SemPlanes, bands = DA.SemBands, seed = DA.SemSeed)
      .localCheckpoint(eager = true)
    def res(r: Long) = col("vec_id") % DA.DeltaMod === r

    def fullClusters(cond: org.apache.spark.sql.Column) = {
      val sub = emb.filter(cond)
      Components.connectedComponents(
          sub.select(col("vec_id").as("id")),
          graft.similarity.Ann.cosineNearDupPairs(sub, t)
            .select(col("id_i").as("src"), col("id_j").as("dst")))
        .select(col("id").as("vec_id"), col("comp").as("cluster_rep"))
    }
    def pairsFor(cond: org.apache.spark.sql.Column,
        isDelta: org.apache.spark.sql.Column) = {
      val b = banded.filter(cond)
      graft.similarity.Ann.verifyCosinePairs(
          graft.similarity.Ann.crossCandidatesFromBanded(b, isDelta)
            .unionByName(graft.similarity.Ann.selfCandidatesFromBanded(
              b.filter(isDelta))),
          emb.filter(cond), t, broadcastCand = true)
        .select(col("id_i").as("doc_i"), col("id_j").as("doc_j"))
    }

    val base0Cond = !res(5) && !res(6)
    val assign0 = fullClusters(base0Cond)
      .select(col("vec_id").as("doc_id"), col("cluster_rep"))
    val u1Cond = !res(6)
    val a1 = graft.operators.DedupQueries.mergeAssignments(
        emb.filter(u1Cond).select(col("vec_id").as("doc_id")),
        assign0, pairsFor(u1Cond, res(5)))
      .localCheckpoint(eager = true)
    val full1 = fullClusters(u1Cond).as[(Long, Long)].collect().toSet
    assert(a1.as[(Long, Long)].collect().toSet == full1,
      "first banded semantic delta batch diverged from the full recompute")
    val a2 = graft.operators.DedupQueries.mergeAssignments(
      emb.select(col("vec_id").as("doc_id")), a1, pairsFor(lit(true), res(6)))
    val full2 = fullClusters(lit(true)).as[(Long, Long)].collect().toSet
    assert(a2.as[(Long, Long)].collect().toSet == full2,
      "second banded semantic delta batch diverged from the full recompute")
  }

  test("v12 layout: a cap-bounded probe join reads only its matching pb directories") {
    import spark.implicits._
    // small probe (3 docs' bucket neighborhoods) against the persisted
    // text banded artifact: the pruned base scan must touch a strict
    // subset of the pb= directories, and the candidate set must equal
    // the unpruned join's (the filter is a superset of the join keys)
    val banded = DedupArtifacts.banded(spark, sfDir)
    val isProbe = col("doc_id") < 3
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.sum
    }
    val allFiles = filesRead(banded.filter(!isProbe))
    val prunedBase = graft.build.Layout.pruneToProbe(
      banded.filter(!isProbe), banded.filter(isProbe))
    val prunedFiles = filesRead(prunedBase)
    assert(prunedFiles < allFiles,
      s"probe must prune pb directories: read $prunedFiles of $allFiles files")
    // exactness: pruned candidate generation ≡ unpruned join
    val pruned = Dedup.crossCandidatesFromBanded(banded, isProbe)
      .as[(Long, Long)].collect().toSet
    val unpruned = broadcast(banded.filter(isProbe)).as("a")
      .join(banded.filter(!isProbe).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(least(col("a.doc_id"), col("b.doc_id")),
        greatest(col("a.doc_id"), col("b.doc_id")))
      .as[(Long, Long)].collect().toSet
    assert(pruned == unpruned)
    // the sem artifact carries the same layout: same probe economics
    val semBanded = DedupArtifacts.semBanded(spark, sfDir)
    val semProbe = col("vec_id") < 3
    val semAll = filesRead(semBanded.filter(!semProbe))
    val semPruned = filesRead(graft.build.Layout.pruneToProbe(
      semBanded.filter(!semProbe), semBanded.filter(semProbe)))
    assert(semPruned < semAll,
      s"sem probe must prune pb directories: read $semPruned of $semAll files")
    // a probe past the cap declines to prune (no collect-driven filter)
    val uncapped = graft.build.Layout.pruneToProbe(
      banded.filter(!isProbe), banded.filter(isProbe), cap = 1)
    assert(uncapped.columns.sameElements(banded.columns))
    assert(filesRead(uncapped) == allFiles)
  }

  test("v13 layout: the media band table prunes to a small probe's pb directories, artifact ≡ in-query") {
    import spark.implicits._
    // the media twin of the v12 test: a small probe (3 media items'
    // pigeonhole bands) against the persisted phash band table
    val banded = DedupArtifacts.phashBanded(spark, sfDir)
    val fp = DedupArtifacts.phashes(spark, sfDir)
      .select(col("media_id").as("doc_id"), col("phash").as("simhash"))
    val probeBands = Dedup.simHashBands(
      fp.filter(col("doc_id") < 3), DedupArtifacts.PHashMaxHamming)
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.sum
    }
    val allFiles = filesRead(banded)
    val prunedFiles = filesRead(graft.build.Layout.pruneToProbe(banded, probeBands))
    assert(prunedFiles < allFiles,
      s"media probe must prune pb directories: read $prunedFiles of $allFiles files")
    // exactness: candidates through the pruned persisted artifact equal
    // the in-query re-banding path (q150/q154's pre-v13 shape)
    val viaArtifact = Dedup.crossCandidatesFromSimhashBanded(banded, probeBands)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val inQuery = Dedup.bandedCrossCandidates(
        fp, DedupArtifacts.PHashMaxHamming, col("doc_id") < 3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(viaArtifact == inQuery,
      "artifact-served media candidates diverged from the in-query banding")
  }

  test("bandedCrossCandidates keeps (id, sim) correspondence after normalization") {
    import spark.implicits._
    val fp = DedupArtifacts.phashes(spark, sfDir)
      .select(col("media_id").as("doc_id"), col("phash").as("simhash"))
    val lookup = fp.as[(Long, Long)].collect().toMap
    val cand = Dedup.bandedCrossCandidates(
        fp, DedupArtifacts.PHashMaxHamming,
        col("doc_id") % DedupArtifacts.DeltaMod === DedupArtifacts.DeltaRem)
      .as[(Long, Long, Long, Long)].collect()
    assert(cand.nonEmpty)
    cand.foreach { case (aId, aSim, bId, bSim) =>
      assert(aId < bId, "ids must be normalized a_id < b_id")
      assert(lookup(aId) == aSim, s"a_sim does not correspond to a_id=$aId")
      assert(lookup(bId) == bSim, s"b_sim does not correspond to b_id=$bId")
    }
  }

  test("pruneToProbe: probes with the same buckets in another row order plan identically") {
    import spark.implicits._
    val base = spark.range(200).select(col("id").as("bucket"),
      pmod(col("id"), lit(graft.build.Layout.ProbePartitions)).cast("int").as("pb"))
    def plan(buckets: Seq[Long]): String =
      graft.build.Layout.pruneToProbe(base, buckets.toDF("bucket")).queryExecution.optimizedPlan.toString
    assert(plan(Seq(17L, 3L, 140L, 9L)) == plan(Seq(9L, 140L, 3L, 17L)))
  }
}
