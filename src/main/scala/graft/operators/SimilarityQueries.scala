package graft.operators

import graft.Tables
import graft.similarity.Ann
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`array<float>`,
  * 64-dim): embedding-cosine near-dup pairs, exact brute-force top-k
  * ANN, and the LSH-bucketed scale path. Cosines are computed in double
  * precision on both engines; thresholds sit in wide gaps of the data's
  * similarity distribution, so the comparison is ulp-robust.
  */
object SimilarityQueries extends QueryModule {

  /** Embedding-cosine near-duplicate pairs (threshold inside a
    * [0.449, 0.452] gap of the pair-sim distribution). */
  private def q28EmbedNearDup(s: SparkSession, dir: String): DataFrame =
    Ann.cosineNearDupPairs(Tables.embeddings(s, dir), 0.45)

  private val q28Sql =
    """SELECT a.vec_id AS id_i, b.vec_id AS id_j
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]),
      |                             CAST(b.embedding AS DOUBLE[])) >= 0.45""".stripMargin

  /** The LSH-bucketed near-dup SCALE path, held to an EXACT oracle — so
    * the plan that survives 100 TB is the one the oracle verifies
    * (q28's crossJoin stays as the exact-baseline anchor). The corpus is
    * the natural one plus PLANTED near-dups: a x0.5-scaled copy of the
    * first 50 vectors (scaling by a power of two is exact in float, so
    * signatures and cosines are preserved bit-for-bit — planted cosine
    * ~1.0 against a widest-possible gap, next natural pair <= 0.52).
    * This is the regime LSH banding is FOR (true near-dups, tiny
    * signature hamming): recall is deterministically 1.0 by the
    * pigeonhole band guarantee with enormous margin — asserted in
    * LshNearDupSpec, which also MEASURES recall on the natural
    * threshold-0.45 distribution where the ~63-degree angle makes any
    * disjoint banding boundary-blind by construction. */
  private def q51EmbedNearDupLsh(s: SparkSession, dir: String): DataFrame = {
    // 64 planes / 8 bands = 8-bit buckets: ~256 buckets per band keeps
    // candidate volume ~n^2/256 per band (the 2-bit default generates
    // MORE pairs than brute force at this corpus size), while the
    // pigeonhole guarantee still covers every pair within 7 differing
    // signature bits — planted near-dups sit at hamming 0
    Ann.lshNearDupPairs(plantedCorpus(s, dir), 0.9, nPlanes = 64, bands = 8)
  }

  /** The planted-near-dup corpus shared by q51 and q78: the natural
    * embeddings plus an exact x0.5-scaled copy of the first
    * [[PlantedCutoff]] vectors (power-of-two scaling is exact in float,
    * so signatures and cosines are preserved bit-for-bit; planted
    * cosine ~1.0, next natural pair <= 0.52). ONE construction in Scala
    * and ONE in SQL, shared by both queries' engine sides and oracles —
    * q78's determinism argument leans on exactly these corpus
    * properties, so the two queries must never drift apart. */
  private def plantedCorpus(s: SparkSession, dir: String): DataFrame =
    graft.dedup.DedupArtifacts.plantedEmbeddings(s, dir)

  private val PlantedCutoff = graft.dedup.DedupArtifacts.PlantedCutoff
  private val PlantedIdShift = graft.dedup.DedupArtifacts.PlantedIdShift

  private val plantedCorpusSql =
    s"""SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $PlantedIdShift, list_transform(embedding, x -> x * CAST(0.5 AS FLOAT))
       |  FROM embeddings WHERE vec_id < $PlantedCutoff""".stripMargin

  private val q51Sql =
    s"""WITH corpus AS (
      |  $plantedCorpusSql
      |)
      |SELECT a.vec_id AS id_i, b.vec_id AS id_j
      |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      |WHERE LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]),
      |                             CAST(b.embedding AS DOUBLE[])) >= 0.9""".stripMargin

  /** Exact brute-force cosine top-5 for three query vectors. */
  private def q29AnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), 5)
  }

  private val q29Sql =
    """SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]),
      |                                      CAST(c.embedding AS DOUBLE[])) DESC,
      |               c.vec_id) AS rank
      |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 3)
      |WHERE rank <= 5""".stripMargin

  /** Recall-at-k of an approximate top-k against the exact brute-force
    * top-k, reduced to a hash-checkable row per query: (query_id,
    * n_ret, recall_ok). Both engines can state the EXPECTED values —
    * n_ret = k (buckets at this corpus always fill the top-k) and
    * recall_ok = TRUE for a floor the deterministic (seeded) structure
    * clears with margin — so an ANN regression flips a bit the driver's
    * hash compare catches, where a raw neighbor list (legitimately
    * engine-specific) could only ever be rows-only-checked. */
  private def recallCheck(approx: DataFrame, exact: DataFrame, minHits: Int): DataFrame = {
    // the approx side feeds BOTH aggregates below (hits and n_ret) —
    // without a materialization boundary the whole index-probe subtree
    // (scan → ADC/assignment join → shortlist window → rerank; 30+
    // operators on the maintained reads) plans TWICE and AQE's stage
    // reuse does not collapse the copies (the two consumers differ above
    // the exchange). k·|queries| rows, so the checkpoint is tiny; guide
    // §2.4 (remove duplicate subtree work) + §3.3 (materialize to
    // truncate very large plans).
    val a = approx.localCheckpoint(eager = false)
    // both sides are k·|queries| rows; broadcast so the diagnostic can
    // never plan a shuffle join whatever the stats say
    val hits = a
      .join(broadcast(exact.select("query_id", "neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    a.groupBy("query_id").agg(count(lit(1)).as("n_ret"))
      .join(broadcast(hits), Seq("query_id"), "left")
      .select(col("query_id"), col("n_ret"),
        (coalesce(col("hits"), lit(0L)) >= minHits).as("recall_ok"))
  }

  /** LSH-bucketed ANN (sign-LSH, 16 planes, 8 bands of 2 bits) —
    * approximate by design; the registered output is the recall BOUND
    * vs brute force (floor 2 of 5), which is deterministic because the
    * hyperplanes are seeded.
    *
    * Band structure MEASURED, r12 (LshRecallProbe, per-query exact
    * hits at all three scales): the original 4-band/16-plane structure
    * scored 0 hits for query 1 at sf0.1 — its exact top-5 there sit at
    * LOW cosines, and no 4-bit-band structure clears the floor with
    * margin (24/6, 28/7, 32/8 all measured at 1-2 hits for that
    * query). 2-bit bands are the high-recall/low-selectivity point:
    * 5/5 hits for every query at every scale. At this corpus that
    * means near-exhaustive candidates (bucket = corpus/4 per band);
    * the gate semantics stay honest because the rerank is exact —
    * q51's banding remains the selectivity-oriented scale path, and a
    * production deployment tunes (planes, bands) per corpus exactly
    * like this probe did. */
  private def q30AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 3)
    recallCheck(Ann.lshTopK(emb, q, 5, nPlanes = 16, bands = 8),
      Ann.bruteForceTopK(emb, q, 5), minHits = 2)
  }

  /** Oracle for the recall-bound queries. The floor the engine must
    * clear is interpolated as a comment so the SQL records which bound
    * it asserts (TRUE = "hits >= minHits"): the call-site floor and the
    * oracle text cannot silently diverge. */
  private def recallSql(minHits: Int): String =
    s"""-- recall_ok asserts hits >= $minHits of 5 exact neighbors
       |SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_ret, TRUE AS recall_ok
       |FROM embeddings WHERE vec_id < 3""".stripMargin

  /** IVF ANN (centroid cells, nprobe probing, exact rerank) — the
    * second scale path beside sign-LSH; registered output is the recall
    * bound (measured 4-5 of 5 exact hits; floor 4 — probing half the
    * cells on isotropic data is near-exhaustive). */
  private def q45AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 3)
    recallCheck(Ann.ivfTopK(emb, q, 5, nlist = 16, nprobe = 8),
      Ann.bruteForceTopK(emb, q, 5), minHits = 4)
  }

  /** ANN THROUGH THE MAINTAINED IVF INDEX — q45's probe served from the
    * PERSISTED `AnnIndex` lifecycle instead of an in-query build: the
    * artifact (`AnnArtifacts`) carries a real maintenance history
    * (gen-0 full build + a gen-1 re-ingest upsert of the standard delta
    * batch), and the read path serves the BOUNDED tracked-upsert live
    * view (r16): untouched ids are a plain read with the probe cells'
    * partition filters pushed into the scan behind a broadcast
    * anti-join; only the recorded upsert generation is reduced.
    * Assignment under a fixed model is a pure function, so the
    * resolved view is bit-identical to the from-scratch build and the
    * oracle's recall bound (4 of 5, q45's) holds with the same
    * determinism — this is what puts the maintained-index READ path
    * under the DuckDB gate rather than only under specs. */
  private def q164AnnIvfMaintained(s: SparkSession, dir: String): DataFrame = {
    graft.similarity.AnnArtifacts.ensure(s, dir)
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 3)
    recallCheck(
      graft.similarity.AnnIndex.ivfTopKFromIndex(
        s, graft.similarity.AnnArtifacts.ivfDir(dir), emb, q, 5, nprobe = 8),
      Ann.bruteForceTopK(emb, q, 5), minHits = 4)
  }

  /** ANN THROUGH THE MAINTAINED BANDED LSH INDEX — q30's probe served
    * from the persisted banded signature table (same seeded planes,
    * same candidate set). The artifact history is APPEND-ONLY (base
    * build + newIds delta append — exact, since banded rows are a
    * per-vector property of seed/planes alone), so this query gates the
    * PLAIN live-view read: no latest-gen shuffle, and the query-side
    * (band, bucket) keys push below the view into the range-clustered
    * artifact as a superset filter, skipping non-matching buckets' row
    * groups. Exact rerank keeps the recall bound (2 of 5, q30's)
    * oracle-checkable; q164 gates the upsert-RESOLUTION read path with
    * the IVF twin. */
  private def q165AnnLshMaintained(s: SparkSession, dir: String): DataFrame = {
    graft.similarity.AnnArtifacts.ensure(s, dir)
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 3)
    recallCheck(
      graft.similarity.AnnIndex.lshTopKFromIndex(
        s, graft.similarity.AnnArtifacts.lshDir(dir), emb, q, 5,
        nPlanes = graft.similarity.AnnArtifacts.LshPlanes,
        bands = graft.similarity.AnnArtifacts.LshBands),
      Ann.bruteForceTopK(emb, q, 5), minHits = 2)
  }

  /** ANN THROUGH THE COMPACTED MAINTAINED IVF INDEX — the third
    * lifecycle stage under the oracle (q164 gates tracked-upsert
    * resolution, q165 the append-only plain read, this the POST-COMPACT
    * read): the artifact's `ivfc` history is base build + delta append
    * + a full compacting `buildIvf` retrain (a new committed version), so the probe reads
    * one generation at staleness 0 — a plain, cell-partition-pruned
    * scan. The compact retrains on the same corpus with the same
    * trainer, so the read is bit-identical to the from-scratch q45
    * build and its recall bound (4 of 5) holds deterministically. */
  private def q166AnnIvfCompacted(s: SparkSession, dir: String): DataFrame = {
    graft.similarity.AnnArtifacts.ensure(s, dir)
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 3)
    recallCheck(
      graft.similarity.AnnIndex.ivfTopKFromIndex(
        s, graft.similarity.AnnArtifacts.ivfCompactDir(dir), emb, q, 5,
        nprobe = 8),
      Ann.bruteForceTopK(emb, q, 5), minHits = 4)
  }

  /** ANN THROUGH THE MAINTAINED BANDED INDEX UNDER AN UNDECLARED
    * APPEND — the BOUNDED tracked-upsert BANDED read regime under the
    * oracle (the regime matrix: q164 = bounded IVF, q165 = plain
    * banded, q166 = post-compact IVF, this = bounded banded, q168 =
    * untrusted full resolution). Same base/delta history as q165 but
    * the append takes
    * the conservative default, so the meta records gen 1 as an upsert
    * generation and the live view serves the base as a probe-filtered
    * plain read behind the broadcast anti-join with only gen 1 reduced.
    * Banded rows are per-vector, so the resolved view is exactly
    * base∪delta and q30's recall bound (2 of 5) holds with q165's
    * determinism. */
  private def q167AnnLshUpsert(s: SparkSession, dir: String): DataFrame = {
    graft.similarity.AnnArtifacts.ensure(s, dir)
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 3)
    recallCheck(
      graft.similarity.AnnIndex.lshTopKFromIndex(
        s, graft.similarity.AnnArtifacts.lshUpsertDir(dir), emb, q, 5,
        nPlanes = graft.similarity.AnnArtifacts.LshPlanes,
        bands = graft.similarity.AnnArtifacts.LshBands),
      Ann.bruteForceTopK(emb, q, 5), minHits = 2)
  }

  /** ANN THROUGH THE UNTRUSTED MAINTAINED IVF INDEX — the FOURTH and
    * last read regime under the oracle, completing the matrix (q164 =
    * bounded tracked-upsert, q165 = plain append-only, q166 =
    * post-compact, q167 = bounded banded, this = UNTRUSTED full
    * resolution). The artifact's `ivfu` history replays the in-stream
    * compact hazard batch-side: a compacting `buildIvf(appendOnly = false)`
    * whose corpus snapshot already covered a batch the checkpoint had
    * not delivered, followed by that batch's `newIds = true` re-append
    * — truthful from the stream's view, duplicate content in fact,
    * which is exactly why the compact's own meta commit stamped the
    * declarations untrusted. The read therefore takes the
    * full-latest-gen-resolution plan (probe filters strictly
    * post-reduce — the resurrect hazard); assignment under a fixed
    * model is a pure function, so the content-identical duplicates
    * collapse to the corpus assignment and q45's recall bound (4 of 5)
    * holds deterministically. StreamingIndexSpec pins the duplicate
    * collapse row-for-row; this puts it under DuckDB. */
  private def q168AnnIvfUntrusted(s: SparkSession, dir: String): DataFrame = {
    graft.similarity.AnnArtifacts.ensure(s, dir)
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 3)
    recallCheck(
      graft.similarity.AnnIndex.ivfTopKFromIndex(
        s, graft.similarity.AnnArtifacts.ivfUntrustedDir(dir), emb, q, 5,
        nprobe = 8),
      Ann.bruteForceTopK(emb, q, 5), minHits = 4)
  }

  /** ANN THROUGH THE MAINTAINED IVF-PQ INDEX — q124's ADC+refine served
    * from the persisted CODE-CARRYING index (FAISS IVFADC): the probe
    * reads nprobe/nlist of the index's code files (8 small ints per
    * vector — ~2% of the raw-vector bytes, the layout that stays
    * cache-resident at 100 TB where float inverted lists cannot), ADC-
    * scores them against the persisted codebook's distance table, and
    * exact-reranks only the broadcast-small shortlist from the corpus.
    * The artifact's `ivfpq` history is base build + declared delta
    * append under the PERSISTED models (append ≡ rebuild exact —
    * AnnIndexSpec pins it bit-for-bit against the in-query q124 build
    * at nprobe = nlist). Floor 2 of 5, q124's bound: the coarse
    * quantizer only restricts the candidate set q124 scores in full.
    * MEASURED at nprobe 8 (floor-bisection at all three scales, v10
    * codebook): >= 3 of 5 at sf0.01 and sf0.1; exactly the floor at
    * sf0.001 (3 not cleared there) — deterministic either way, the
    * gate is seeded structure on fixed data. */
  private def q169AnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    graft.similarity.AnnArtifacts.ensure(s, dir)
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 3)
    recallCheck(
      graft.similarity.AnnIndex.ivfPqTopKFromIndex(
        s, graft.similarity.AnnArtifacts.ivfPqDir(dir), emb, q, 5,
        nprobe = 8, shortlist = 50),
      Ann.bruteForceTopK(emb, q, 5), minHits = 2)
  }

  /** ANN THROUGH THE MAINTAINED IVF-PQ INDEX UNDER AN UNDECLARED APPEND
    * — the BOUNDED tracked-upsert CODED read regime under the oracle,
    * extending the regime matrix to the third persisted structure
    * (q164 = bounded raw-IVF, q167 = bounded banded, this = bounded
    * coded). Same base/delta history as q169 but the append takes the
    * conservative default, so the meta records gen 1 as an upsert
    * generation and the ADC stage reads untouched ids as a
    * cell-pruned plain scan behind the broadcast anti-join with only
    * gen 1 reduced. The hazard this regime guards is SHARPER for codes
    * than for assignments: a duplicate or resurrected code row does not
    * just duplicate an output row — it DOUBLES that vector's summed ADC
    * distance and shifts the shortlist. The delta's ids are genuinely
    * new, so the resolved view is exactly base∪delta and q169's bound
    * (floor 2) holds deterministically. */
  private def q170AnnIvfPqUpsert(s: SparkSession, dir: String): DataFrame = {
    graft.similarity.AnnArtifacts.ensure(s, dir)
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 3)
    recallCheck(
      graft.similarity.AnnIndex.ivfPqTopKFromIndex(
        s, graft.similarity.AnnArtifacts.ivfPqUpsertDir(dir), emb, q, 5,
        nprobe = 8, shortlist = 50),
      Ann.bruteForceTopK(emb, q, 5), minHits = 2)
  }

  /** ANN THROUGH THE MAINTAINED IVF-PQ INDEX WITH A POINT-LOOKUP
    * REFINE FETCH — the fully index-served two-stage read: ADC over the
    * probed cells' codes (nprobe/nlist of the CODE files), then the
    * exact rerank fetches ONLY the shortlist ids' vectors from the
    * id-bucketed `vecs` artifact (pb-directory pruning + exact id set —
    * the reference's point-lookup economics applied to the rerank). At
    * 100 TB this is the difference between "the rerank scans the
    * corpus" and "the rerank reads ≤ |shortlist| id-buckets"; at every
    * scale it is bit-identical to q169's broadcast-corpus rerank
    * (AnnIndexSpec pins equality and measures the files-read drop), so
    * q169's recall bound gates it deterministically. Since r17 the
    * `vecs` table is itself a MAINTAINED store (build → gen-append →
    * compact, base + declared delta append here), so this also gates
    * the store's plain live-view read — the last persisted structure
    * to join the lifecycle. */
  private def q171AnnIvfPqPointFetch(s: SparkSession, dir: String): DataFrame = {
    graft.similarity.AnnArtifacts.ensure(s, dir)
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 3)
    recallCheck(
      graft.similarity.AnnIndex.ivfPqTopKPointFetch(
        s, graft.similarity.AnnArtifacts.ivfPqDir(dir),
        graft.similarity.AnnArtifacts.vecsDir(dir), q, 5,
        nprobe = 8, shortlist = 50),
      Ann.bruteForceTopK(emb, q, 5), minHits = 2)
  }

  /** THE POINT-LOOKUP REFINE FETCH THROUGH THE UPSERT REGIMES — the
    * regime-matrix column the r16 verdict flagged as the gap: q171's
    * two-stage read with BOTH sides under undeclared-append histories.
    * The ADC shortlist reads the `ivfpqu` codes through the BOUNDED
    * tracked-upsert resolution (q170's plan), and the rerank fetches
    * the shortlist ids' vectors from the `vecsu` MAINTAINED store's
    * bounded live view — where the id filter COMMUTES with the
    * latest-gen reduce (bucket = id), so even the upsert regime's
    * fetch stays a pruned point read: pb-directory pruning + the exact
    * id set push into the scan in every regime. The delta's ids are
    * genuinely new, so both resolved views are exactly base∪delta and
    * q169's bound (floor 2) holds deterministically; AnnIndexSpec pins
    * bit-identity against the corpus-scan rerank over the same
    * histories. */
  private def q172AnnIvfPqLookupUpsert(s: SparkSession, dir: String): DataFrame = {
    graft.similarity.AnnArtifacts.ensure(s, dir)
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 3)
    recallCheck(
      graft.similarity.AnnIndex.ivfPqTopKPointFetch(
        s, graft.similarity.AnnArtifacts.ivfPqUpsertDir(dir),
        graft.similarity.AnnArtifacts.vecsUpsertDir(dir), q, 5,
        nprobe = 8, shortlist = 50),
      Ann.bruteForceTopK(emb, q, 5), minHits = 2)
  }

  /** ANN THROUGH THE MAINTAINED IVF INDEX AFTER AN INCREMENTAL
    * TAKEDOWN (r19 — the delete verb under the oracle): the artifact's
    * `ivfd` history indexes the FULL corpus at gen 0, then the standard
    * delta batch's ids arrive as a DELETED-IDS batch
    * ([[graft.build.GenStore.delete]] — ONE tombstone generation,
    * no compact, no corpus rewrite). The probe must see exactly the
    * corpus minus the takedowns: the bounded regime anti-joins the
    * deleted ids out of the plain branch and the resolution drops each
    * deleted id at its tombstone. Two assertions ride the output: the
    * recall bound vs brute force over the corpus-MINUS-takedowns
    * (q45's floor 4 — assignment under a fixed model is a pure
    * function, so the surviving ids' view is bit-identical to indexing
    * the reduced corpus), and `n_takedown` = the count of returned
    * neighbors that SHOULD have been deleted, which the oracle pins to
    * 0 — one leaked tombstoned id flips the hash compare. */
  private def q177AnnIvfDeleted(s: SparkSession, dir: String): DataFrame = {
    graft.similarity.AnnArtifacts.ensure(s, dir)
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 3)
    val deltaMod = graft.dedup.DedupArtifacts.DeltaMod
    val deltaRem = graft.dedup.DedupArtifacts.DeltaRem
    // consumed by recallCheck (twice) AND the n_takedown aggregate —
    // materialize the k·|queries|-row result once instead of planning
    // the bounded-regime index probe three times (guide §2.4)
    val approx = graft.similarity.AnnIndex.ivfTopKFromIndex(
      s, graft.similarity.AnnArtifacts.ivfDeleteDir(dir), emb, q, 5,
      nprobe = 8).localCheckpoint(eager = false)
    val exact = Ann.bruteForceTopK(
      emb.filter(col("vec_id") % deltaMod =!= deltaRem), q, 5)
    recallCheck(approx, exact, minHits = 4)
      .join(approx.groupBy("query_id").agg(
          sum(when(col("neighbor_id") % deltaMod === deltaRem, 1L)
            .otherwise(0L)).as("n_takedown")),
        Seq("query_id"))
  }

  private val q177Sql =
    """-- recall_ok asserts hits >= 4 of 5 exact neighbors over the
      |-- corpus MINUS the takedown batch; n_takedown pins that no
      |-- deleted id is ever returned
      |SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_ret,
      |  TRUE AS recall_ok, CAST(0 AS BIGINT) AS n_takedown
      |FROM embeddings WHERE vec_id < 3""".stripMargin

  /** ANN AS-OF A GENERATION (r19 — time-travel under the oracle, the
    * vector twin of q178): the artifact's `ivfb` history indexes the
    * BASE at gen 0 and appends the delta batch as a DECLARED gen-1
    * ingest day. The probe runs AS OF generation 0 — "yesterday's
    * corpus" — through [[graft.similarity.AnnIndex.ivfTopKFromIndex]]'s
    * `asOfGen` (the restricted meta re-derives the prefix regime: an
    * all-declared history as of gen 0 is a PLAIN partition-pruned read,
    * the gen-1 files never touched). Two assertions: the recall bound
    * vs brute force over the BASE corpus (the pre-append state), and
    * `n_post_asof` = returned neighbors from the gen-1 batch, pinned 0
    * by the oracle — one leaked post-as-of row flips the compare. */
  private def q179AnnIvfAsOf(s: SparkSession, dir: String): DataFrame = {
    graft.similarity.AnnArtifacts.ensure(s, dir)
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 3)
    val deltaMod = graft.dedup.DedupArtifacts.DeltaMod
    val deltaRem = graft.dedup.DedupArtifacts.DeltaRem
    // same three-consumer shape as q177 — one materialization, one probe
    val approx = graft.similarity.AnnIndex.ivfTopKFromIndex(
      s, graft.similarity.AnnArtifacts.ivfBaseDeltaDir(dir), emb, q, 5,
      nprobe = 8, asOfGen = Some(0L)).localCheckpoint(eager = false)
    val exact = Ann.bruteForceTopK(
      emb.filter(col("vec_id") % deltaMod =!= deltaRem), q, 5)
    recallCheck(approx, exact, minHits = 4)
      .join(approx.groupBy("query_id").agg(
          sum(when(col("neighbor_id") % deltaMod === deltaRem, 1L)
            .otherwise(0L)).as("n_post_asof")),
        Seq("query_id"))
  }

  private val q179Sql =
    """-- recall_ok asserts hits >= 4 of 5 exact neighbors over the BASE
      |-- (pre-append) corpus; n_post_asof pins that no gen-1 neighbor
      |-- leaks past the as-of commit pointer
      |SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_ret,
      |  TRUE AS recall_ok, CAST(0 AS BIGINT) AS n_post_asof
      |FROM embeddings WHERE vec_id < 3""".stripMargin

  /** SEMANTIC DEDUP (SemDeDup) held to an exact-pair oracle: the
    * engine clusters the q51 planted-near-dup corpus with
    * [[Ann.semanticDedup]] (IVF cells, within-cell drop of close
    * smaller-id neighbors) and reports, for every EXACT cosine>=0.9
    * pair, whether cluster-scoped dedup resolved it (at least one
    * endpoint dropped). Cell assignment is cosine-based and therefore
    * scale-invariant, so each planted x0.5 copy lands in its
    * original's cell EXACTLY and `handled` is deterministically TRUE —
    * which is what the oracle asserts alongside the SQL-computed exact
    * pair list. A regression that splits dup pairs across cells (the
    * failure mode cluster-scoped dedup risks) flips the bit and fails
    * the hash compare. The engine-side pair list reuses the verified
    * LSH scale path (recall deterministically 1.0 for the planted
    * pairs at signature hamming 0, precision exact). */
  private def q78SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val corpus = plantedCorpus(s, dir)
    // one row per vector, consumed by BOTH endpoint joins below —
    // materialize so the semanticDedup subtree (IVF cells + within-cell
    // neighbor drop) plans and runs once, not twice (guide §2.4)
    val verdicts = Ann.semanticDedup(corpus, 0.9, nlist = 16)
      .select(col("vec_id"), col("kept"))
      .localCheckpoint(eager = false)
    val pairs = Ann.lshNearDupPairs(corpus, 0.9, nPlanes = 64, bands = 8)
    pairs
      .join(verdicts.select(col("vec_id").as("id_i"), col("kept").as("kept_i")), "id_i")
      .join(verdicts.select(col("vec_id").as("id_j"), col("kept").as("kept_j")), "id_j")
      .select(col("id_i"), col("id_j"),
        (!(col("kept_i") && col("kept_j"))).as("handled"))
  }

  private val q78Sql =
    s"""WITH corpus AS (
      |  $plantedCorpusSql
      |)
      |SELECT a.vec_id AS id_i, b.vec_id AS id_j, TRUE AS handled
      |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      |WHERE LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]),
      |                             CAST(b.embedding AS DOUBLE[])) >= 0.9""".stripMargin

  /** Hard-negative mining (contrastive-training data prep): exact
    * top-5 different-label cosine neighbors for the three probe
    * vectors. Same exact-oracle shape as q29 — the label inequality is
    * the only delta, so the rank list is fully SQL-checkable. */
  private def q89HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Ann.hardNegativesTopK(emb, emb.filter(col("vec_id") < 3), 5)
  }

  private val q89Sql =
    """SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]),
      |                                      CAST(c.embedding AS DOUBLE[])) DESC,
      |               c.vec_id) AS rank
      |  FROM embeddings q JOIN embeddings c
      |    ON c.vec_id <> q.vec_id AND c.label <> q.label
      |  WHERE q.vec_id < 3)
      |WHERE rank <= 5""".stripMargin

  /** HYBRID RETRIEVAL with reciprocal-rank fusion — the standard
    * two-tower serving pattern reduced to its batch form: for each
    * probe document, a LEXICAL top-10 (exact 3-shingle Jaccard, the
    * inverted-index join of the dedup family) and a SEMANTIC top-10
    * (exact cosine over embeddings, q29's machinery), fused by
    * RRF(60): score = Σ 1/(60+rank), final top-5 per probe. Rank
    * fusion needs no score calibration between the two systems — only
    * the INTEGER ranks cross the boundary, which is also what makes
    * the output hash-checkable (1/(60+int) is bit-identical in both
    * engines; ties break on candidate id).
    *
    * Scale shape: the probe set's shingles broadcast onto the corpus
    * gram stream (no corpus self-join — candidates only, like q83);
    * per-doc shingle counts ride the same exploded stream (q95's
    * narrow-stage lesson); the semantic side is q29's broadcast
    * cross-score. Both lists are top-k-bounded before the fusion
    * join, so fusion touches O(|probes| * k) rows. */
  private def q96HybridRrf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val sh = graft.dedup.Dedup.shingleTable(docs, "doc_id", "text", 3)
    // one (doc_id, n) row per doc, joined into lex TWICE (nq and nc
    // legs) — materialize so the corpus tokenize→shingle subtree under
    // the aggregate runs once, not once per leg (guide §2.4; the sh
    // stream itself stays unmaterialized per the measured shingle-table
    // lesson in Dedup)
    // r20 re-check: a calm-window A/B of this boundary vs none measured
    // parity (min-of-5 1.256 vs 1.304 at equal q27 gauge); r19's
    // equal-gauge A/B measured the boundary clearly ahead (1.59 → 1.23),
    // so it stays.
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false)
    val qsh = sh.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("sh"))
    val wl = Window.partitionBy("query_id")
      .orderBy(col("jac").desc, col("cand_id").asc)
    val lex = sh.join(broadcast(qsh), "sh")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id").as("cand_id"))
      .agg(count(lit(1)).as("i"))
      .join(counts.withColumnRenamed("doc_id", "query_id")
        .withColumnRenamed("n", "nq"), "query_id")
      .join(counts.withColumnRenamed("doc_id", "cand_id")
        .withColumnRenamed("n", "nc"), "cand_id")
      .withColumn("jac", col("i") / (col("nq") + col("nc") - col("i")))
      .withColumn("lrank", row_number().over(wl))
      .filter(col("lrank") <= 10)
      .select(col("query_id"), col("cand_id"), col("lrank"))
    val emb = Tables.embeddings(s, dir)
    val sem = Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), 10)
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        col("rank").as("srank"))
    val wf = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("cand_id").asc)
    lex.join(sem, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("score",
        coalesce(lit(1.0) / (lit(60) + col("lrank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60) + col("srank")), lit(0.0)))
      .withColumn("rrf_rank", row_number().over(wf))
      .filter(col("rrf_rank") <= 5)
      .select(col("query_id"), col("cand_id"), col("rrf_rank"),
        round(col("score"), 6).as("rrf_score"))
  }

  private val q96Sql =
    """WITH toks AS (
      |  SELECT doc_id,
      |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'), x -> LEN(x) > 0) AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, LIST_DISTINCT(
      |    [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN RANGE(1, LEN(t) - 1)]) AS s
      |  FROM toks WHERE LEN(t) >= 3),
      |lex0 AS (
      |  SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
      |    LEN(LIST_INTERSECT(q.s, c.s)) AS i, LEN(q.s) AS nq, LEN(c.s) AS nc
      |  FROM sh q JOIN sh c ON q.doc_id < 3 AND c.doc_id <> q.doc_id),
      |lex AS (
      |  SELECT query_id, cand_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY CAST(i AS DOUBLE) / (nq + nc - i) DESC, cand_id) AS lrank
      |  FROM lex0 WHERE i > 0),
      |sem AS (
      |  SELECT query_id, cand_id, rank AS srank FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]),
      |                                        CAST(c.embedding AS DOUBLE[])) DESC,
      |                 c.vec_id) AS rank
      |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id < 3)
      |  WHERE rank <= 10),
      |fused AS (
      |  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
      |    COALESCE(l.cand_id, s.cand_id) AS cand_id,
      |    COALESCE(CAST(1 AS DOUBLE) / (60 + l.lrank), 0) +
      |      COALESCE(CAST(1 AS DOUBLE) / (60 + s.srank), 0) AS score
      |  FROM (SELECT * FROM lex WHERE lrank <= 10) l
      |  FULL OUTER JOIN sem s
      |    ON l.query_id = s.query_id AND l.cand_id = s.cand_id)
      |SELECT query_id, cand_id, CAST(rrf_rank AS INT) AS rrf_rank,
      |  ROUND(score, 6) AS rrf_score
      |FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, cand_id) AS rrf_rank
      |  FROM fused)
      |WHERE rrf_rank <= 5""".stripMargin

  /** EMBEDDING MASS PROFILE per label — which dimension carries each
    * class's energy (the quick drift/collapse diagnostic for an
    * embedding pipeline: a class whose top dimension shifts between
    * snapshots changed its encoder). Exactness argument: every float
    * is exact in double, and a sum of ~corpus-per-(label,dim) such
    * values needs mantissa-range + log2(count) bits, far under
    * double's 53 — so the per-dim sums are EXACT regardless of
    * aggregation order and the argmax is engine-independent (ties
    * break on dimension index; the rounded mass is deterministic
    * because the input to ROUND is exact).
    *
    * Scale shape: posexplode then one (label, dim) aggregate with
    * map-side partials — |labels|x|dims| groups; the argmax window
    * runs over that tiny table. */
  private def q102LabelDims(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), (col("pos") + 1).as("dim"),
        abs(col("x").cast("double")).as("v"))
      .groupBy("label", "dim").agg(sum("v").as("mass"))
    val w = Window.partitionBy("label").orderBy(col("mass").desc, col("dim"))
    d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("label"), col("dim").cast("int").as("top_dim"),
        round(col("mass"), 6).as("mass"))
  }

  private val q102Sql =
    """WITH z AS (
      |  SELECT label, UNNEST(list_zip(embedding, range(1, LEN(embedding) + 1))) AS p
      |  FROM embeddings),
      |d AS (
      |  SELECT label, CAST(p[2] AS INT) AS dim, ABS(CAST(p[1] AS DOUBLE)) AS v
      |  FROM z),
      |g AS (SELECT label, dim, SUM(v) AS mass FROM d GROUP BY 1, 2)
      |SELECT label, CAST(dim AS INT) AS top_dim, ROUND(mass, 6) AS mass FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY label
      |    ORDER BY mass DESC, dim) AS rn FROM g)
      |WHERE rn = 1""".stripMargin

  private val PqSub = 8 // subspaces over the 64-dim embedding
  private val PqDim = 8 // dims per subspace
  private val PqK = 16  // centroids per subspace

  /** PRODUCT-QUANTIZATION CODE ASSIGNMENT (Jégou et al. 2011) — compress
    * each embedding to [[PqSub]] one-byte codes by snapping every
    * [[PqDim]]-dim subvector to its nearest subspace centroid: the
    * memory layout every large-scale ANN index (IVF-PQ, DiskANN) stores
    * instead of raw floats (here 64 floats → 8 codes, 32×). The
    * codebook is DETERMINISTIC — the first [[PqK]] vectors' subvectors —
    * because codebook TRAINING (k-means, q45's bounded-sample pattern)
    * is a pluggable input; the operator under oracle test is the
    * assignment, and the plan is identical under a trained codebook.
    * Distances are exact doubles accumulated in index order on both
    * engines, ties to the lower centroid id, so the argmin is
    * engine-independent.
    *
    * Scale shape: the codebook is [[PqK]]·[[PqSub]] = 128 tiny rows,
    * broadcast; distance evaluation is map-side behind that broadcast
    * join, and the per-(vector, subspace) argmin pre-combines in the
    * partial `min` aggregate, so the only shuffle carries
    * [[PqSub]] rows per vector — never the embeddings. */
  private def q123PqCodes(s: SparkSession, dir: String): DataFrame =
    Ann.pqCodes(Tables.embeddings(s, dir), PqSub, PqDim, PqK)
      .select(col("vec_id"), col("sub").cast("int").as("subspace"),
        col("code").cast("int").as("code"))

  /** PQ-ADC SEARCH (the read side of q123's codes): asymmetric-distance
    * shortlist over the 32x-compressed codes, exact cosine rerank of the
    * shortlist only — the IVF-PQ + refine query path. Registered output
    * is the recall bound vs brute force, q30/q45's convention. */
  private def q124PqAdc(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 3)
    recallCheck(Ann.pqAdcTopK(emb, q, 5, shortlist = 50, PqSub, PqDim, PqK),
      Ann.bruteForceTopK(emb, q, 5), minHits = PqAdcFloor)
  }

  private val PqAdcFloor = 2

  private val q123Sql = {
    val terms = (1 to PqDim).map(i =>
      s"(CAST(xv[$i] AS DOUBLE)-CAST(cv[$i] AS DOUBLE))*" +
        s"(CAST(xv[$i] AS DOUBLE)-CAST(cv[$i] AS DOUBLE))").mkString("\n    + ")
    s"""WITH sub AS (SELECT UNNEST(RANGE(0, $PqSub)) AS sub),
       |c AS (
       |  SELECT vec_id AS cid, sub,
       |    LIST_SLICE(embedding, sub*$PqDim+1, sub*$PqDim+$PqDim) AS cv
       |  FROM embeddings CROSS JOIN sub WHERE vec_id < $PqK),
       |x AS (
       |  SELECT vec_id, sub,
       |    LIST_SLICE(embedding, sub*$PqDim+1, sub*$PqDim+$PqDim) AS xv
       |  FROM embeddings CROSS JOIN sub),
       |d AS (
       |  SELECT x.vec_id, x.sub, c.cid,
       |    $terms AS d2
       |  FROM x JOIN c USING (sub))
       |SELECT vec_id, CAST(sub AS INT) AS subspace, CAST(cid AS INT) AS code
       |FROM d
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) = 1""".stripMargin
  }

  /** INT8 SCALAR QUANTIZATION (symmetric absmax, the standard 4×
    * embedding-storage compression next to q123's PQ): code_d =
    * floor(x_d / amax · 127 + 0.5), amax the vector's largest |x| —
    * per-vector scale, saturation only at ±amax. Every step is the
    * same IEEE double op in the same order on both engines (floats
    * cast to double first; an all-zero vector codes to all zeros), so
    * the registered audit row — saturation count, code sum/min/max,
    * and the md5 of the full code list — is bit-exact.
    *
    * Scale shape: pure map over the embeddings, no shuffle at all; each
    * derived array gets its own projection step so the HOFs evaluate
    * once per row (CollapseProject never inlines non-cheap expressions
    * into multiple consumers). */
  private def q130Int8Quant(s: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), v => v.cast("double")).as("xd"))
      .select(col("vec_id"), col("xd"),
        array_max(transform(col("xd"), v => abs(v))).as("amax"))
      .select(col("vec_id"),
        when(col("amax") === 0.0, transform(col("xd"), _ => lit(0)))
          .otherwise(transform(col("xd"),
            v => floor(v / col("amax") * 127.0 + 0.5).cast("int"))).as("codes"))
      .select(col("vec_id"),
        size(filter(col("codes"), c => abs(c) === 127)).as("n_sat"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"),
        md5(array_join(transform(col("codes"), c => c.cast("string")), ","))
          .as("code_digest"))
  }

  private val q130Sql =
    """WITH e AS (
      |  SELECT vec_id, LIST_TRANSFORM(embedding, v -> CAST(v AS DOUBLE)) AS xd
      |  FROM embeddings),
      |a AS (
      |  SELECT vec_id, xd, LIST_MAX(LIST_TRANSFORM(xd, v -> ABS(v))) AS amax FROM e),
      |c AS (
      |  SELECT vec_id,
      |    CASE WHEN amax = 0 THEN LIST_TRANSFORM(xd, v -> 0)
      |         ELSE LIST_TRANSFORM(xd, v -> CAST(FLOOR(v / amax * 127.0 + 0.5) AS INT))
      |    END AS codes
      |  FROM a)
      |SELECT vec_id,
      |  CAST(LEN(LIST_FILTER(codes, c -> ABS(c) = 127)) AS INT) AS n_sat,
      |  CAST(LIST_SUM(codes) AS BIGINT) AS code_sum,
      |  CAST(LIST_MIN(codes) AS INT) AS code_min,
      |  CAST(LIST_MAX(codes) AS INT) AS code_max,
      |  MD5(ARRAY_TO_STRING(LIST_TRANSFORM(codes, c -> CAST(c AS VARCHAR)), ','))
      |    AS code_digest
      |FROM c""".stripMargin

  /** INCREMENTAL SEMANTIC PAIR MAINTENANCE — the embedding twin of
    * q150: merge today's embedding batch into the PERSISTED semantic
    * pair set without re-scoring the base corpus. Base-internal pairs
    * stream from the v10 `DedupArtifacts.baseSemPairs` artifact (a
    * filter of the ingest-persisted pair set — nothing is re-embedded
    * or re-scored); today's work is one broadcast cross evaluation
    * (delta broadcasts with precomputed norms, the base streams
    * map-side) plus the delta-internal O(|delta|^2) — and the three
    * sets are DISJOINT by endpoint parity (base/base, base/delta,
    * delta/delta), each internally duplicate-free, so the union needs
    * no distinct: today's shuffle volume is zero on the base side.
    * The oracle is the FULL from-scratch recompute (q28's O(n^2)
    * cosine), unchanged — incremental must hash-match from-scratch.
    *
    * 100 TB shape: yesterday's corpus contributes one artifact read;
    * today's batch pays |base|×|delta| map-side work, which at real
    * scale is first cut by the ANN candidate index (q51's banding) with
    * this exact kernel as the verify stage. */
  private def q157IncrSemPairs(s: SparkSession, dir: String): DataFrame = {
    val DA = graft.dedup.DedupArtifacts
    val emb = Tables.embeddings(s, dir)
    val isDelta = col("vec_id") % DA.DeltaMod === DA.DeltaRem
    val cross = Ann.cosineCrossPairs(
      emb.filter(!isDelta), emb.filter(isDelta), DA.SemThreshold)
    val internal = Ann.cosineNearDupPairs(emb.filter(isDelta), DA.SemThreshold)
    DA.baseSemPairs(s, dir).unionByName(cross).unionByName(internal)
  }

  // incremental-vs-full is the whole claim (q150's lesson): the oracle
  // recomputes the complete pair set from the embeddings, same as q28's
  private val q157Sql = q28Sql

  /** INCREMENTAL SEMANTIC CLUSTER MAINTENANCE — the embedding twin of
    * q142/q154, completing the incremental family's third quadrant
    * (text/media/semantic × pairs/clusters): merge today's embedding
    * batch into yesterday's persisted semantic cluster assignment
    * (`DedupArtifacts.baseSemClusters`, v10) via the SAME
    * [[DedupQueries.mergeAssignments]] label contraction — valid here
    * because the base assignment's labels are min ids of their
    * clusters, which is all the contraction requires. Today's new
    * pairs are the q157 delta neighborhoods (broadcast cross +
    * delta-internal); the contraction graph is bounded by the new pair
    * count, never corpus size; the merged mapping broadcasts back onto
    * the embedding universe in one map join. The oracle is the
    * FULL-RECOMPUTE transitive closure over the exact cosine pair set
    * — incremental must hash-match from-scratch. */
  private def q158IncrSemClusters(s: SparkSession, dir: String): DataFrame = {
    val DA = graft.dedup.DedupArtifacts
    val emb = Tables.embeddings(s, dir)
    val isDelta = col("vec_id") % DA.DeltaMod === DA.DeltaRem
    val newPairs = Ann.cosineCrossPairs(
        emb.filter(!isDelta), emb.filter(isDelta), DA.SemThreshold)
      .unionByName(Ann.cosineNearDupPairs(emb.filter(isDelta), DA.SemThreshold))
      .select(col("id_i").as("doc_i"), col("id_j").as("doc_j"))
    DedupQueries.mergeAssignments(
        emb.select(col("vec_id").as("doc_id")),
        DA.baseSemClusters(s, dir)
          .select(col("vec_id").as("doc_id"), col("cluster_rep")),
        newPairs)
      .select(col("doc_id").as("vec_id"), col("cluster_rep"))
  }

  private val q158Sql =
    """WITH RECURSIVE pairs AS (
      |  SELECT a.vec_id AS pa, b.vec_id AS pb
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]),
      |                               CAST(b.embedding AS DOUBLE[])) >= 0.45),
      |edges AS (
      |  SELECT pa AS ea, pb AS eb FROM pairs
      |  UNION ALL SELECT pb, pa FROM pairs),
      |reach AS (
      |  SELECT vec_id AS id, vec_id AS r FROM embeddings
      |  UNION
      |  SELECT e.eb AS id, reach.r FROM reach JOIN edges e ON e.ea = reach.id)
      |SELECT id AS vec_id, MIN(r) AS cluster_rep FROM reach GROUP BY id""".stripMargin

  /** SEMANTIC CLUSTERS AFTER AN INCREMENTAL TAKEDOWN (r19 — q180's
    * embedding twin, completing the takedown matrix across the dedup
    * tiers): cosine near-dup pair membership is a property of a pair's
    * two endpoints alone (the similarity of two vectors doesn't depend
    * on the rest of the corpus), so the pair set of
    * corpus-minus-takedowns IS the persisted sem pair artifact FILTERED
    * by endpoint — no vector re-compared — and the cluster assignment
    * is one edge-scale components contraction over the filtered edges.
    * Removing a BRIDGE vector splits its cluster, which the
    * connectivity rerun yields for free where a read-time membership
    * filter would keep split clusters silently merged. The oracle
    * recomputes the FULL transitive closure over the reduced corpus's
    * exact cosine pairs — filter-plus-contraction must hash-match
    * from-scratch. */
  private def q182SemClustersAfterTakedown(s: SparkSession, dir: String): DataFrame = {
    val DA = graft.dedup.DedupArtifacts
    val isDel = DA.isDeltaId _
    val kept = DA.semPairs(s, dir)
      .filter(!isDel(col("id_i")) && !isDel(col("id_j")))
      .select(col("id_i").as("src"), col("id_j").as("dst"))
    Components.connectedComponents(
        Tables.embeddings(s, dir).filter(!isDel(col("vec_id")))
          .select(col("vec_id").as("id")), kept)
      .select(col("id").as("vec_id"), col("comp").as("cluster_rep"))
  }

  private val q182Sql =
    """WITH RECURSIVE cur AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 6),
      |pairs AS (
      |  SELECT a.vec_id AS pa, b.vec_id AS pb
      |  FROM cur a JOIN cur b ON a.vec_id < b.vec_id
      |  WHERE LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]),
      |                               CAST(b.embedding AS DOUBLE[])) >= 0.45),
      |edges AS (
      |  SELECT pa AS ea, pb AS eb FROM pairs
      |  UNION ALL SELECT pb, pa FROM pairs),
      |reach AS (
      |  SELECT vec_id AS id, vec_id AS r FROM cur
      |  UNION
      |  SELECT e.eb AS id, reach.r FROM reach JOIN edges e ON e.ea = reach.id)
      |SELECT id AS vec_id, MIN(r) AS cluster_rep FROM reach GROUP BY id""".stripMargin

  /** BANDED INCREMENTAL SEMANTIC PAIR MAINTENANCE — the PRODUCTION twin
    * of q157 (the q27/q146 anchor/twin pattern): merge today's embedding
    * batch into the persisted production-threshold pair set with
    * candidate generation from the PERSISTED sign-LSH banded signature
    * index instead of brute-force scoring the whole base. Runs in the
    * q51 regime (planted corpus, cosine >= 0.9) where the pigeonhole
    * band budget provably covers every qualifying pair (LshNearDupSpec),
    * so the banded path must HASH-MATCH the full from-scratch O(n^2)
    * recompute oracle — q157 stays the 0.45 boundary-regime exact
    * anchor, where LshNearDupSpec measures why no disjoint banding can
    * guarantee a 63-degree threshold.
    *
    * Today's work: base-internal pairs are an artifact read; cross
    * candidates come from the broadcast delta probing the base's
    * persisted (band, bucket) index — the base is consumed by a
    * map-side hash join and never scans beyond matching buckets (the
    * scale fix for q157's |base|x|delta| evaluation); delta-internal
    * candidates are the delta's own banded self-join (banded rows are
    * per-vector properties, so filtering the artifact IS the subset's
    * index). Exact-cosine verify runs on CANDIDATES ONLY, with the same
    * dot/(na*nb) kernel as q157's cross evaluation. The three pair sets
    * are disjoint by endpoint parity, so the union needs no distinct.
    * Per-batch cost is bounded by the delta's bucket neighborhoods,
    * never |base| — the property the 30x-organic probe row records. */
  /** Today's NEW production-threshold pairs from the persisted banded
    * index — the delta's cross (broadcast probe of the base's buckets)
    * plus delta-internal (the delta's own banded self-join), exact-
    * cosine verified on candidates only. Shared by q161 (pair
    * maintenance) and q163 (cluster maintenance) so the two twins can
    * never diverge in what "today's work" means. The two sets are
    * disjoint by endpoint parity and each internally distinct. */
  private def bandedSemNewPairs(s: SparkSession, dir: String): DataFrame = {
    val DA = graft.dedup.DedupArtifacts
    val corpus = plantedCorpus(s, dir)
    val isDelta = col("vec_id") % DA.DeltaMod === DA.DeltaRem
    val banded = DA.semBanded(s, dir)
    val cross = Ann.verifyCosinePairs(
      Ann.crossCandidatesFromBanded(banded, isDelta),
      corpus, DA.SemProdThreshold, broadcastCand = true)
    val internal = Ann.verifyCosinePairs(
      Ann.selfCandidatesFromBanded(banded.filter(isDelta)),
      corpus.filter(isDelta), DA.SemProdThreshold, broadcastCand = true)
    cross.unionByName(internal)
  }

  private def q161BandedIncrSemPairs(s: SparkSession, dir: String): DataFrame =
    graft.dedup.DedupArtifacts.baseSemPairsProd(s, dir)
      .unionByName(bandedSemNewPairs(s, dir))

  // the oracle is q51's FULL-RECOMPUTE O(n^2) at the production
  // threshold: the banded incremental path must hash-match recomputing
  // the complete pair set from scratch
  private val q161Sql = q51Sql

  /** BANDED INCREMENTAL SEMANTIC CLUSTER MAINTENANCE — q158's
    * production twin, completing the twin symmetry for the cluster
    * quadrant (text q142 and media q154 already merge from banded
    * candidates; the semantic quadrant's cluster merge was still
    * brute-force): merge today's embedding batch into yesterday's
    * persisted PRODUCTION-threshold cluster assignment
    * (`base_sem_clusters_prod`) via the same
    * [[DedupQueries.mergeAssignments]] label contraction, with today's
    * new pairs coming from the persisted banded index
    * ([[bandedSemNewPairs]]) instead of re-scoring the base. The
    * contraction graph is bounded by the new pair count; the oracle is
    * the FULL-RECOMPUTE transitive closure over the exact cosine pair
    * set at the production threshold — incremental banded must
    * hash-match from-scratch. */
  private def q163BandedIncrSemClusters(s: SparkSession, dir: String): DataFrame = {
    val DA = graft.dedup.DedupArtifacts
    DedupQueries.mergeAssignments(
        plantedCorpus(s, dir).select(col("vec_id").as("doc_id")),
        DA.baseSemClustersProd(s, dir)
          .select(col("vec_id").as("doc_id"), col("cluster_rep")),
        bandedSemNewPairs(s, dir)
          .select(col("id_i").as("doc_i"), col("id_j").as("doc_j")))
      .select(col("doc_id").as("vec_id"), col("cluster_rep"))
  }

  private val q163Sql =
    s"""WITH RECURSIVE corpus AS (
      |  $plantedCorpusSql
      |),
      |pairs AS (
      |  SELECT a.vec_id AS pa, b.vec_id AS pb
      |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      |  WHERE LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]),
      |                               CAST(b.embedding AS DOUBLE[])) >= 0.9),
      |edges AS (
      |  SELECT pa AS ea, pb AS eb FROM pairs
      |  UNION ALL SELECT pb, pa FROM pairs),
      |reach AS (
      |  SELECT vec_id AS id, vec_id AS r FROM corpus
      |  UNION
      |  SELECT e.eb AS id, reach.r FROM reach JOIN edges e ON e.ea = reach.id)
      |SELECT id AS vec_id, MIN(r) AS cluster_rep FROM reach GROUP BY id""".stripMargin

  override def queries: Seq[Q] = Seq(
    Q("q28_embed_neardup", q28EmbedNearDup, Some(q28Sql)),
    Q("q157_incr_sem_pairs", q157IncrSemPairs, Some(q157Sql)),
    Q("q161_banded_incr_sem_pairs", q161BandedIncrSemPairs, Some(q161Sql)),
    Q("q163_banded_incr_sem_clusters", q163BandedIncrSemClusters, Some(q163Sql)),
    Q("q158_incr_sem_clusters", q158IncrSemClusters, Some(q158Sql)),
    Q("q182_sem_clusters_after_takedown", q182SemClustersAfterTakedown,
      Some(q182Sql)),
    Q("q130_int8_quant", q130Int8Quant, Some(q130Sql)),
    Q("q123_pq_codes", q123PqCodes, Some(q123Sql)),
    Q("q124_pq_adc", q124PqAdc, Some(recallSql(PqAdcFloor))),
    Q("q89_hard_negatives", q89HardNegatives, Some(q89Sql)),
    Q("q96_hybrid_rrf", q96HybridRrf, Some(q96Sql)),
    Q("q102_label_dims", q102LabelDims, Some(q102Sql)),
    Q("q51_embed_neardup_lsh", q51EmbedNearDupLsh, Some(q51Sql)),
    Q("q29_ann_bruteforce", q29AnnBruteForce, Some(q29Sql)),
    Q("q30_ann_lsh", q30AnnLsh, Some(recallSql(2))),
    Q("q45_ann_ivf", q45AnnIvf, Some(recallSql(4))),
    Q("q164_ann_ivf_maintained", q164AnnIvfMaintained, Some(recallSql(4))),
    Q("q165_ann_lsh_maintained", q165AnnLshMaintained, Some(recallSql(2))),
    Q("q166_ann_ivf_compacted", q166AnnIvfCompacted, Some(recallSql(4))),
    Q("q167_ann_lsh_upsert", q167AnnLshUpsert, Some(recallSql(2))),
    Q("q168_ann_ivf_untrusted", q168AnnIvfUntrusted, Some(recallSql(4))),
    Q("q169_ann_ivfpq", q169AnnIvfPq, Some(recallSql(2))),
    Q("q170_ann_ivfpq_upsert", q170AnnIvfPqUpsert, Some(recallSql(2))),
    Q("q171_ann_ivfpq_lookup", q171AnnIvfPqPointFetch, Some(recallSql(2))),
    Q("q172_ann_ivfpq_lookup_upsert", q172AnnIvfPqLookupUpsert, Some(recallSql(2))),
    Q("q177_ann_ivf_deleted", q177AnnIvfDeleted, Some(q177Sql)),
    Q("q179_ann_ivf_asof", q179AnnIvfAsOf, Some(q179Sql)),
    Q("q78_semantic_dedup", q78SemanticDedup, Some(q78Sql)))
}
