package graft.similarity

import graft.Tables
import graft.build.{Artifact, GenStore}
import graft.dedup.DedupArtifacts
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The MAINTAINED ANN indexes as per-corpus ingest artifacts — the
  * [[AnnIndex]] lifecycle (build → gen-stamped append → live-view read
  * → compact) persisted once per (corpus fingerprint, params) and read
  * by the oracle-gated maintained-index queries (q164–q172), the
  * same persist-once economics as `DedupArtifacts` (reference:
  * `AbstractBlockIndexingJob.java:122-152` — index at build time, every
  * query reads it).
  *
  * Nine GENUINE maintenance histories — deliberately DIFFERENT, so
  * each live-view read regime is under the oracle:
  *  - IVF (`ivf`): gen 0 indexes the full corpus, then the standard
  *    delta batch (id ≡ DeltaRem mod DeltaMod) is RE-INGESTED as a
  *    gen-1 UPSERT (the re-embedded-documents scenario) — q164 reads
  *    through the BOUNDED tracked-upsert resolution (the meta records
  *    gen 1 as the upsert generation; the driver reads gen 1's ids and
  *    the view is one filtered scan: untouched ids from gen 0, the
  *    re-ingested ones from gen 1).
  *    Assignment under a fixed model is a pure per-row function, so the
  *    resolved view is bit-identical to the gen-0 build and q45's
  *    recall bound holds deterministically.
  *  - LSH (`lsh`): gen 0 indexes the BASE, the delta appends as gen 1
  *    with `newIds = true` (banded signatures are a per-vector property
  *    of seed/planes alone — no training, so base∪delta ≡ full rebuild
  *    exactly) — q165 reads the APPEND-ONLY PLAIN view with the probe's
  *    bucket filters pushed below it, the common-case economics.
  *  - COMPACTED IVF (`ivfc`): base build + delta append + a full
  *    compacting `buildIvf` retrain — q166 reads THROUGH the compacted index
  *    (one generation, plain, staleness 0), gating the post-compact
  *    read path. The compact retrains on the same corpus with the same
  *    trainer, so the result is bit-identical to the from-scratch q45
  *    build.
  *  - LSH UPSERT (`lshu`): the same base/delta split as `lsh` but the
  *    append takes the conservative default — q167 reads through the
  *    BOUNDED banded resolution (banded rows are per-vector, so the
  *    resolved view is still exactly base∪delta).
  *  - UNTRUSTED IVF (`ivfu`): the in-stream-compact hazard REPLAYED
  *    BATCH-SIDE — base build, then a compacting `buildIvf(appendOnly = false)`
  *    over the FULL corpus (the compact's snapshot covered a batch the
  *    checkpoint had not delivered), then that batch re-appends
  *    declaring `newIds = true` (truthfully, from the stream's view —
  *    but the content is already in gen 0, which is exactly why the
  *    compact stamped the declarations untrusted). q168 reads through
  *    the FULL latest-gen resolution this meta forces; the
  *    content-identical duplicates collapse and q45's bound holds.
  *  - IVF-PQ (`ivfpq`): the CODE-CARRYING index (FAISS IVFADC — codes
  *    ~2-3% of the raw-vector bytes, the layout that stays
  *    cache-resident at 100 TB where inverted lists of floats cannot) —
  *    base build, delta appended `newIds = true` under the PERSISTED
  *    codebook/centroids. q169 reads ADC over the probed cells' codes +
  *    exact rerank of the shortlist.
  *  - IVF-PQ UPSERT (`ivfpqu`): the same base/delta split appended
  *    UNDECLARED — q170 reads the codes through the BOUNDED
  *    tracked-upsert resolution (a duplicate or resurrected code row
  *    would DOUBLE a vector's summed ADC distance and shift the
  *    shortlist — the regime matrix's sharpest hazard).
  *  - VECS (`vecs`, NEW r17): the point-fetch VECTOR STORE under the
  *    SAME lifecycle — base `buildVecs` + declared delta append — so
  *    q171's refine fetch reads a MAINTAINED id-bucketed table's plain
  *    live view instead of a write-once artifact (pre-r17, the one
  *    persisted structure rebuilt wholesale per corpus change).
  *  - VECS UPSERT (`vecsu`, NEW r17): the undeclared-append store —
  *    q172 routes the point-lookup rerank through the bounded-upsert
  *    PQ index (`ivfpqu`) AND the bounded-upsert vector store, the
  *    regime-matrix column the r16 verdict flagged as missing. The id
  *    filter commutes with the latest-gen reduce (bucket = id), so the
  *    fetch stays a pruned point read in every regime.
  *
  * STALENESS is PER HISTORY: each history is one [[Artifact.ensure]]
  * tree whose fingerprint is `h<version>:<params>:<sourceFp>` — a
  * single history's version bump (or a param change scoped to its
  * family) rebuilds ONLY that tree, in place. The two PQ histories
  * share a third artifact, `ivfpq_base` (the trained and coded base
  * corpus), which each copies before its own append: a stale PQ history
  * rebuilds from the base without retraining it. Partial state (a
  * missing marker) rebuilds that history alone.
  */
object AnnArtifacts {

  /** Index parameters — MUST mirror the registered q45/q30 builds
    * (`SimilarityQueries.q45AnnIvf`/`q30AnnLsh`): same trainer inputs,
    * same seeded planes, or the maintained read path would not be
    * comparable to the oracle's asserted recall bounds. */
  val IvfNlist = 16
  val LshPlanes = 16
  val LshBands = 8

  /** PQ model — MUST mirror the registered q123/q124 parameters
    * (`SimilarityQueries`: 8 subspaces × 8 dims, 16 centroids per
    * subspace, deterministic lowest-present-ids codebook) for the same
    * comparability reason. */
  val PqNSub = 8
  val PqSubDim = 8
  val PqNCent = 16

  /** Per-history epoch versions: bump ONE to rebuild ONE tree. (The
    * relocation into the `h/` root plus the r17 dense-cid codebook fix
    * and the maintained vecs store reset every history once — recorded
    * here as the common epoch 1; the versioned store layout with its
    * committed file list reset them all again — epoch 2.) */
  private val HistoryVersions: Map[String, Int] = Map(
    "ivf" -> 2, "lsh" -> 2, "ivfc" -> 2, "lshu" -> 2, "ivfu" -> 2,
    "ivfpq_base" -> 2, "ivfpq" -> 2, "ivfpqu" -> 2, "vecs" -> 2, "vecsu" -> 2,
    "ivfd" -> 2, "ivfb" -> 2)

  private def dirOf(sfDir: String, name: String): String =
    s"${Artifact.root(sfDir)}/$name"
  def ivfDir(sfDir: String): String = dirOf(sfDir, "ivf")
  def lshDir(sfDir: String): String = dirOf(sfDir, "lsh")
  def ivfCompactDir(sfDir: String): String = dirOf(sfDir, "ivfc")
  def lshUpsertDir(sfDir: String): String = dirOf(sfDir, "lshu")
  def ivfUntrustedDir(sfDir: String): String = dirOf(sfDir, "ivfu")
  def ivfPqDir(sfDir: String): String = dirOf(sfDir, "ivfpq")
  def ivfPqUpsertDir(sfDir: String): String = dirOf(sfDir, "ivfpqu")

  /** The TAKEDOWN history (r19 — the delete verb under the oracle):
    * gen 0 indexes the FULL corpus, then the standard delta batch's ids
    * arrive as a DELETED-IDS batch ([[GenStore.delete]] — one tombstone
    * generation, no compact). q177 probes through it and must see the
    * corpus-minus-takedowns exactly. */
  def ivfDeleteDir(sfDir: String): String = dirOf(sfDir, "ivfd")

  /** The AS-OF history (r19): gen 0 indexes the BASE, gen 1 appends the
    * delta batch DECLARED new (a genuine dated-ingest day) — so an
    * as-of-gen-0 read must reproduce the pre-append corpus exactly.
    * q177's delete twin for time-travel. */
  def ivfBaseDeltaDir(sfDir: String): String = dirOf(sfDir, "ivfb")

  /** The corpus vectors as a MAINTAINED point-fetch store
    * ([[AnnIndex.buildVecs]]'s gen-stamped pb layout): the REFINE-FETCH
    * table — a driver-bounded shortlist prunes its vector reads to
    * matching directories + exact ids (the reference's MapFile
    * point-lookup economics, `BlockIndexedFileInputFormat
    * .java:419-431`), so the PQ two-stage read never scans the corpus:
    * ADC reads nprobe/nlist of the CODES, rerank reads ≤ |shortlist|
    * id-buckets of the VECTORS. */
  def vecsDir(sfDir: String): String = dirOf(sfDir, "vecs")

  /** [[vecsDir]]'s undeclared-append twin (q172's fetch side). */
  def vecsUpsertDir(sfDir: String): String = dirOf(sfDir, "vecsu")

  /** Per-family parameter fingerprints: a change rebuilds only the
    * histories it affects. */
  private def ivfParams = s"ivf$IvfNlist"
  private def lshParams = s"lsh$LshPlanes/$LshBands"
  private def pqParams = s"ivf$IvfNlist:pq$PqNSub/$PqSubDim/$PqNCent"
  private def vecsParams = s"pb${graft.build.Layout.ProbePartitions}"

  private def emb(s: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(s, sfDir).select("vec_id", "embedding")

  /** Build-or-reuse the maintained index histories for `sfDir`'s
    * embeddings — each history independently (per-history staleness). */
  def ensure(s: SparkSession, sfDir: String): Unit = {
    val srcFp = Artifact.fingerprint(s, s"$sfDir/embeddings.parquet")
    def build(name: String, params: String)(body: String => Unit): Unit =
      Artifact.ensure(s, sfDir, name,
        s"h${HistoryVersions(name)}:$params:$srcFp")(body): Unit

    lazy val e = emb(s, sfDir)
    lazy val isDelta =
      col("vec_id") % DedupArtifacts.DeltaMod === DedupArtifacts.DeltaRem
    lazy val delta = e.filter(isDelta)
    lazy val base = e.filter(!isDelta)

    build("ivf", ivfParams) { d =>
      AnnIndex.buildIvf(e, d, nlist = IvfNlist)
      AnnIndex.appendIvf(delta, d) // re-ingest upsert, gen 1
    }
    build("ivfd", ivfParams) { d =>
      AnnIndex.buildIvf(e, d, nlist = IvfNlist)
      GenStore.delete(delta.select("vec_id"), d) // takedown batch, gen 1
    }
    build("ivfb", ivfParams) { d =>
      AnnIndex.buildIvf(base, d, nlist = IvfNlist)
      AnnIndex.appendIvf(delta, d, newIds = true) // dated ingest, gen 1
    }
    build("lsh", lshParams) { d =>
      AnnIndex.buildBanded(base, d, nPlanes = LshPlanes, bands = LshBands)
      AnnIndex.appendBanded(delta, d,
        nPlanes = LshPlanes, bands = LshBands, newIds = true)
    }
    build("ivfc", ivfParams) { d =>
      AnnIndex.buildIvf(base, d, nlist = IvfNlist)
      AnnIndex.appendIvf(delta, d, newIds = true)
      AnnIndex.buildIvf(e, d, nlist = IvfNlist) // the compaction
    }
    // the UNDECLARED banded append (same base/delta split as `lsh`, but
    // the conservative default): the meta records gen 1 as an upsert
    // generation and q167 reads through the BOUNDED banded resolution
    build("lshu", lshParams) { d =>
      AnnIndex.buildBanded(base, d, nPlanes = LshPlanes, bands = LshBands)
      AnnIndex.appendBanded(delta, d, nPlanes = LshPlanes, bands = LshBands)
    }
    // the untrusted history (q168): the in-stream-compact hazard,
    // batch-replayed — the compact's corpus snapshot already contains
    // the delta batch the checkpoint has not delivered, and its
    // `appendOnly = false` meta stamps the index untrusted IN its
    // own commit; the late delivery then re-appends the same content
    // under `newIds = true` (truthful from the stream's view), and the
    // untrusted meta routes every read through full latest-gen
    // resolution, collapsing the content-identical duplicates
    build("ivfu", ivfParams) { d =>
      AnnIndex.buildIvf(base, d, nlist = IvfNlist)
      AnnIndex.buildIvf(e, d, nlist = IvfNlist, appendOnly = false)
      AnnIndex.appendIvf(delta, d, newIds = true)
    }
    // the two PQ histories share an identical deterministic gen-0 tree
    // (the append≡rebuild spec pins that determinism): it is built once
    // as its own artifact and copied before each history's divergent
    // append, instead of paying the heaviest stage (train both models
    // + code the whole base corpus) per history
    def fromPqBase(d: String): Unit = {
      val pqBase = Artifact.ensure(s, sfDir, "ivfpq_base",
        s"h${HistoryVersions("ivfpq_base")}:$pqParams:$srcFp") { b =>
        AnnIndex.buildIvfPq(base, b,
          nlist = IvfNlist, nSub = PqNSub, subDim = PqSubDim, nCent = PqNCent)
      }
      val conf = graft.build.Commit.conf(s)
      val fs = new Path(pqBase).getFileSystem(conf)
      FileUtil.copy(fs, new Path(pqBase), fs, new Path(d), false, conf): Unit
    }
    build("ivfpq", pqParams) { d =>
      fromPqBase(d); AnnIndex.appendIvfPq(delta, d, newIds = true)
    }
    build("ivfpqu", pqParams) { d =>
      fromPqBase(d); AnnIndex.appendIvfPq(delta, d) // undeclared: bounded
    }
    // the refine-fetch stores (q171/q172): maintained id-bucketed
    // vector tables — declared append-only and undeclared-upsert twins
    build("vecs", vecsParams) { d =>
      AnnIndex.buildVecs(base, d)
      AnnIndex.appendVecs(delta, d, newIds = true)
    }
    build("vecsu", vecsParams) { d =>
      AnnIndex.buildVecs(base, d)
      AnnIndex.appendVecs(delta, d) // undeclared: bounded fetch regime
    }
  }
}
