package graft.build

import graft.build.Commit.{Table, conf, fsOf, relation}
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.parquet.filter2.compat.FilterCompat
import graft.functions.expressions.LongKeyIn
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.LongType

/** The ONE gen-stamped-store lifecycle protocol, shared by every
  * persisted maintained structure in the engine — the vector indexes
  * (`graft.similarity.AnnIndex`: raw-IVF, IVF-PQ, banded LSH, the
  * point-fetch vector store) and the text postings store
  * (`graft.text.PostingsStore`). Extracted in r18 so the regimes cannot
  * drift between structures (the r17 verdict's unification item): one
  * definition of the meta, the generation reservation, the versioned
  * commit, the three read regimes, and the staleness counters. Each
  * structure is a [[GenTable]] descriptor plus its kernel, and every
  * verb — [[build]], [[append]], [[delete]], [[live]],
  * [[compactThrough]], [[retiredIds]], [[staleness]] — is derived from
  * the descriptor here, once.
  *
  * PROTOCOL — the `_INDEX_META` commit ([[Commit]], shared with the
  * postings and bloom roots) is the store's only source of truth:
  *  - LAYOUT: a store's data and model files live under a VERSION root
  *    `<dir>/v=K/` — each table's generations at
  *    `v=K/<subdir>/gen=N/`, model files (centroids, codebook) and the
  *    retired sidecar beside them;
  *  - COMMIT: one atomic [[MetaIO.write]] of `_INDEX_META` records the
  *    version, the gen counter, history flags, staleness counters, the
  *    last applied streaming batch AND, for every table, its data schema
  *    and each committed generation's files (path relative to `<dir>`,
  *    length, mtime). It then deletes every entry of `<dir>` except the
  *    meta and the live `v=K` — plus `v=K-1` when the commit switched
  *    versions (a store read has no fallback, so it keeps one grace
  *    version): an older version, the leftover of a crashed build or
  *    compaction, a pre-version tree;
  *  - BUILD (and every full compact, which IS a build) writes gen 0 and
  *    the model files into `v=K+1/` beside the live `v=K/` and commits a
  *    meta that points at it — nothing is renamed, and a crash before
  *    the commit leaves the last committed view readable (the next build
  *    clears the partial `v=K+1/` first);
  *  - APPEND reserves the next generation from the meta (O(1)), writes
  *    ONLY the delta into its own `gen=N` directory of the live version
  *    with overwrite semantics (file-idempotent replays), and commits;
  *  - READS build their relation from the meta's file list — no
  *    directory listing, no schema walk — and resolve through three
  *    regimes decided by the meta: PLAIN (append-only history — no
  *    shuffle, probe filters push into the scan), BOUNDED tracked-upsert
  *    (the recorded upsert generations' keys are read on the driver from
  *    the committed files and folded into one key filter over the scan —
  *    no shuffle, no join, no Spark job before the query's own; past a
  *    cap on upsert rows read or on distinct upsert keys, full
  *    resolution), UNTRUSTED (full latest-gen resolution). A compaction's
  *    commit keeps the version it replaced until the store's next
  *    commit, so a read survives any ONE compaction that overlaps it
  *    unless an append or delete also commits before the read ends;
  *  - A meta without a version (a pre-version tree) is treated like a
  *    missing one: appends and reads throw, a build replaces it.
  *
  * STALENESS COUNTERS (exact since r18): `rows0`/`rowsa` are LIVE row
  * counters — rows of gen 0 / of append generations that a full
  * latest-gen resolution would return. Declared (`newIds = true`)
  * appends on trusted histories add their written rows to `rowsa` and
  * touch nothing else (the declaration guarantees no supersession — the
  * common case pays zero extra work). An UNDECLARED append (or any
  * append onto an untrusted history) additionally counts the live rows
  * its ids supersede with one broadcast semi-join of the (delta-scale)
  * id set against the committed generations' (key, gen) columns — a
  * column-pruned thin scan, output O(|delta|) — and moves them out of
  * the counters, so `appendRows / (baseRows + appendRows)` IS the live
  * append-row fraction exactly, on every history shape (the r17 ≤2×
  * upsert band is gone). Every readable meta carries them.
  *
  * SENTINELS AND TOMBSTONES (r19 — the counters count what readers
  * serve): some structures write rows that exist only for SUPERSESSION,
  * never for serving — the text store's empty-doc sentinel (term = "")
  * and every structure's DELETE tombstone. Those rows occupy their key's
  * generation (so resolution drops the superseded live rows) but the
  * live views filter them out after resolution, so the counters must
  * exclude them too: generation writers count only serving rows as
  * `written`, and [[deadCounts]] takes a per-row `weight` (0 for
  * sentinel/tombstone rows) so a superseded sentinel never moves a
  * phantom row out of the counters. `staleness` therefore stays the
  * exact live SERVED-row append fraction on delete-bearing histories.
  *
  * DELETE (r19 — the lifecycle's last CRUD verb): a takedown batch is an
  * UNDECLARED append of tombstone rows — one row per deleted key,
  * encoded per structure so the shared machinery needs no schema change
  * (text: the sentinel row `term = ""`; IVF/PQ assignments: `cell = -1`
  * with a null payload; banded: `band = -1`; point-fetch vecs: a null
  * vector). Deletion then falls out of the existing regimes: the delete
  * generation is recorded as an upsert gen, so the bounded read's filter
  * keeps only the deleted keys' tombstones (their winning generation),
  * full resolution picks the tombstone as the key's latest row, and the
  * post-selection filter drops it — no read path changes shape.
  * Tombstones count `written = 0` and move the rows they supersede out
  * of the counters (`weight` above), so staleness stays exact; compact
  * rebuilds from the caller's corpus (minus the takedowns) and drops
  * them. RE-ADDING a deleted key MUST be an undeclared append: a
  * `newIds = true` declaration means never-before-seen — a re-add under
  * it would land in a non-upsert generation and the bounded regime's
  * filter (which keeps a delete gen's keys only in that gen) would
  * remove the new row.
  * Deletes add no live rows, so they don't raise staleness; a
  * delete-heavy deployment compacts on tracked-generation count
  * (`upsertGens.size`) instead.
  */
private[graft] object GenStore {

  /** The store's durable control state: `gen` is the next-append
    * generation (commit pointer: only gens below it are visible),
    * `appendOnly` keeps the plain live view, `trusted` says `newIds`
    * declarations held for the whole history (false after an in-stream
    * compact), `upsertGens` are the generations whose append was an
    * upsert (bounded-resolution read path), `batch` is the last applied
    * streaming batch, `params` the model parameters, `version` the
    * live version root `v=K` and `tables` the committed files by table
    * subdirectory.
    *
    * `baseRows`/`appendRows` are the O(1) exact staleness counters (see
    * class doc); -1 only on the in-memory as-of view. */
  final case class Meta(
      gen: Long, appendOnly: Boolean, batch: Long,
      trusted: Boolean = true, upsertGens: Seq[Long] = Nil,
      baseRows: Long = 0L, appendRows: Long = 0L,
      params: Map[String, String] = Map.empty,
      version: Long = 0L, tables: Map[String, Table] = Map.empty)

  private val ReservedKeys =
    Set("gen", "plain", "batch", "trust", "ugens", "rows0", "rowsa", "ver")

  /** The version root of `m`: the directory its data and model files
    * live under. */
  def root(dir: String, m: Meta): String = s"$dir/${version(m)}"

  private def version(m: Meta): String = Commit.version(m.version)

  /** Missing keys default CONSERVATIVELY: an ambiguous meta must route
    * readers through full upsert resolution (`plain` and `trust`
    * default false — serving a truncated/foreign meta as a plain read
    * could return superseded duplicate rows; resolving an
    * actually-append-only history is merely slower, never wrong). A meta
    * without a version or without the row counters is a pre-version
    * tree: None, as if absent. After the control line comes the
    * [[Commit]] file list. */
  def readMeta(s: SparkSession, dir: String): Option[Meta] =
    Commit.read(s, dir).flatMap { case (v, kv, lines) =>
      def long(k: String) = kv.get(k).flatMap(_.toLongOption)
      for (g <- long("gen"); r0 <- long("rows0"); ra <- long("rowsa"))
        yield Meta(g,
          kv.get("plain").exists(_ == "true"),
          long("batch").getOrElse(-1L),
          kv.get("trust").exists(_ == "true"),
          kv.get("ugens").toSeq.flatMap(_.split(',').flatMap(_.toLongOption)),
          r0, ra, kv -- ReservedKeys, v, Commit.tablesOf(lines))
    }

  /** The COMMIT ([[Commit.write]]). When the commit `switches` to a new
    * version (a build, a compaction) it keeps the version it replaced,
    * so a read that started on it survives this compaction. The
    * replaced version goes at the store's next commit: keeping it
    * through appends would hold a second copy of the store on disk
    * until the next compaction. */
  private def writeMeta(s: SparkSession, dir: String, m: Meta, switches: Boolean): Unit = {
    val extra = m.params.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
    val ugens =
      if (m.upsertGens.isEmpty) Nil else Seq(s"ugens=${m.upsertGens.mkString(",")}")
    val control = Seq(s"gen=${m.gen}", s"plain=${m.appendOnly}", s"batch=${m.batch}",
      s"trust=${m.trusted}") ++ ugens ++ Seq(s"rows0=${m.baseRows}",
      s"rowsa=${m.appendRows}") ++ extra
    Commit.write(s, dir, m.version, control, Commit.fileLines(m.tables), keepPrevious = switches)
  }

  /** Whether a COMPLETE store lives at `dir` — true only once the
    * build's meta (written after every data file) landed. */
  def isComplete(s: SparkSession, dir: String): Boolean =
    readMeta(s, dir).isDefined

  /** The last streaming batch id applied (-1 when none) — the replay
    * guard for exactly-once foreachBatch maintenance. The batch id
    * rides the SAME meta write as the append's gen/flag/counter update,
    * so "recorded" always means "fully applied". */
  def lastAppliedBatch(s: SparkSession, dir: String): Long =
    readMeta(s, dir).map(_.batch).getOrElse(-1L)

  /** Upsert generations tracked for bounded resolution before the
    * history degrades to untrusted full resolution: past this many
    * undeclared appends the per-read driver key read and its filter stop
    * paying relative to one resolve (and staleness should have
    * compacted long before). */
  val MaxTrackedUpsertGens = 64

  /** Next-append bookkeeping shared by every structure: reserve the
    * generation from the meta (O(1)); an undeclared (possibly-upsert)
    * append flips the plain flag off AND records its generation, which
    * is what keeps the read-side resolution bounded. Returns
    * (reserved gen, the meta to commit after the write, the PREVIOUS
    * meta — the appender needs its flags to decide whether the exact
    * dead-row count must run). A meta-less tree is a partial or
    * pre-version build and must be rebuilt, not appended to — throws. */
  private def reserveGen(s: SparkSession, dir: String, newIds: Boolean,
      batchId: Long): (Long, Meta, Meta) =
    readMeta(s, dir) match {
      case Some(m) =>
        val ugens = if (newIds) m.upsertGens else m.upsertGens :+ m.gen
        val next =
          if (ugens.size > MaxTrackedUpsertGens)
            m.copy(gen = m.gen + 1, appendOnly = false,
              batch = math.max(m.batch, batchId),
              trusted = false, upsertGens = Nil)
          else m.copy(gen = m.gen + 1, appendOnly = m.appendOnly && newIds,
            batch = math.max(m.batch, batchId), upsertGens = ugens)
        (m.gen, next, m)
      case None => throw new IllegalStateException(
        s"no complete index at $dir (missing ${Commit.metaPath(dir)}): build it " +
          "first — a partial or pre-version tree must be rebuilt, not appended to")
    }

  /** Validate caller-passed model parameters against the meta's — a
    * mismatched append or read would silently operate under a DIFFERENT
    * model, the failure mode persisting the parameters exists to
    * prevent. A meta without the parameter is a pre-params legacy tree:
    * rebuilt, never guessed at. */
  def requireParam(m: Meta, dir: String, key: String, expected: Long): Unit =
    m.params.get(key).flatMap(_.toLongOption) match {
      case Some(v) if v == expected => ()
      case Some(v) => throw new IllegalArgumentException(
        s"index at $dir was built with $key=$v, caller passed $expected — " +
          "parameters are fixed at build time; compact/rebuild to change them")
      case None => throw new IllegalStateException(
        s"index at $dir has no persisted $key (pre-params legacy tree): rebuild it")
    }

  /** The meta as the READ-SIDE contract: a meta-less tree is partial or
    * pre-version and must not be silently served. */
  def metaOrThrow(s: SparkSession, dir: String): Meta =
    readMeta(s, dir).getOrElse(throw new IllegalStateException(
      s"no complete index at $dir (missing ${Commit.metaPath(dir)}): build it " +
        "first — a partial or pre-version tree must be rebuilt, not read"))

  /** Commit an append's counters: the written generation's rows join
    * the live append set; the superseded live rows (`dead` = base,
    * append split) leave theirs. */
  private def appendCounters(m: Meta, written: Long, dead: (Long, Long)): Meta =
    m.copy(baseRows = m.baseRows - dead._1,
      appendRows = m.appendRows - dead._2 + written)

  /** The EXACT superseded-live-row count behind [[appendCounters]]:
    * among the committed generations' rows (`raw` — only the `keyCol`,
    * `gen`, and weight-input columns are read, a column-pruned thin
    * scan), the live rows whose key appears in the (broadcast,
    * delta-scale) `ids` set, split (gen-0 rows, append-gen rows).
    * Exactness rests on one invariant that holds in EVERY regime: a
    * key's live generation is its MAX generation over the raw rows
    * (declared appends never re-add an existing id on trusted
    * histories; untrusted histories resolve by global max-gen by
    * definition). Every row of a key's live generation counts (one-row
    * structures have exactly one), weighted by `weight` — 1 for serving
    * rows, 0 for sentinel/tombstone rows (class doc): a sentinel decides
    * its key's live generation but never counts as a live row, because
    * the views never serve it. */
  private def deadCounts(raw: DataFrame, keyCol: String, ids: DataFrame,
      weight: Column = lit(1L), baseGen: Long = 0L): (Long, Long) =
    liveSplit(raw.select(col(keyCol), col("gen").cast("long").as("gen"),
        weight.cast("long").as("w"))
      .join(broadcast(ids.select(col(keyCol))), Seq(keyCol), "left_semi"), keyCol, baseGen)

  /** The live weight of `rows` (`keyCol`, long `gen`, weight `w`): every
    * row of its key's max generation, summed as (rows at `baseGen`, rows
    * above it). The split is at `baseGen`, NOT a literal 0: after a
    * HORIZON compact the base generation is the squash point (the gen
    * clock is preserved so as-of reads keep working), and a superseded
    * squashed-base row must leave `baseRows`, not `appendRows`. */
  private def liveSplit(rows: DataFrame, keyCol: String, baseGen: Long): (Long, Long) = {
    val r = rows.join(rows.groupBy(keyCol).agg(max("gen").as("gen")), Seq(keyCol, "gen"))
      .agg(coalesce(sum(when(col("gen") === baseGen, col("w"))), lit(0L)),
        coalesce(sum(when(col("gen") > baseGen, col("w"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Whether an append must pay the [[deadCounts]] job: undeclared
    * appends always (their ids may supersede); declared appends only on
    * UNTRUSTED histories (the declarations themselves are unreliable
    * there — content-identical re-appends after an in-stream compact).
    * Declared appends on trusted histories — the common streaming case —
    * pay nothing. */
  private def needsDeadCount(prev: Meta, newIds: Boolean): Boolean =
    !newIds || !prev.trusted

  /** The meta RESTRICTED to generations ≤ `n` — the AS-OF read
    * (time-travel): stores retain their full generation history until
    * compact, so "the corpus as of generation N" is the same three-
    * regime view over the prefix. The restricted meta's commit pointer
    * is `n + 1` (callers' raw reads take only the committed files below
    * it, so the later generations are never listed or read), its upsert
    * gens are the recorded ones inside the prefix, and the regime
    * decision re-derives: a trusted history whose recorded upserts all
    * land AFTER `n` was append-only as of `n` — plain read; an
    * untrusted history (in-stream compact, or upsert tracking
    * overflowed) stays untrusted — the prefix's declarations can't be
    * reconstructed, so the as-of read pays full resolution of the
    * prefix (correct, conservatively). Counters describe the FULL
    * history, so the restricted meta drops them (staleness is not an
    * as-of concept). `n` at or past the last committed generation is
    * just the live view.
    *
    * RETENTION: the as-of horizon ends at the last FULL compact —
    * compaction rewrites the store as one generation, deliberately
    * discarding the history it resolves (that IS its storage/read-cost
    * win); the generation clock restarting at 0 makes a post-compact
    * as-of(n) read the compacted state for every n, never a silent
    * wrong answer. A deployment with a reproducibility window keeps it
    * open with the HORIZON compact instead ([[compactThrough]]):
    * generations ≤ h are
    * squashed into ONE resolved base generation AT clock h — tombstoned
    * keys dropped, the gen clock preserved — while every later
    * generation survives byte-identical, so `asOf(n ≥ h)` still
    * reproduces exactly and the read/storage cost of the deep history
    * is reclaimed. Below the squash point the history no longer exists:
    * the meta records `horizon = h` and an `asOf(n < h)` THROWS (the
    * snapshot-before-compacting advice, enforced) — never a silent
    * approximation by the squashed state. */
  private def asOf(m: Meta, n: Long): Meta = {
    val h = horizonOf(m)
    if (n < h) throw new IllegalArgumentException(
      s"as-of generation $n predates the store's compaction horizon $h: " +
        "generations below the horizon were squashed by compactThrough " +
        "and cannot be reconstructed — snapshot the store tree before " +
        "horizon-compacting if older reads must stay reproducible")
    val g = math.min(m.gen, n + 1)
    val ug = m.upsertGens.filter(_ < g)
    m.copy(gen = g,
      appendOnly = m.appendOnly || (m.trusted && ug.isEmpty),
      upsertGens = ug, baseRows = -1L, appendRows = -1L)
  }

  /** The store's squash point: generations below it no longer exist
    * (horizon compact); 0 on never-horizon-compacted stores. This is
    * also the BASE generation for the staleness counters' split —
    * appenders pass it to [[deadCounts]]. */
  def horizonOf(m: Meta): Long =
    m.params.get("horizon").flatMap(_.toLongOption).getOrElse(0L)

  /** Meta surgery after a horizon squash at `h`: the upsert gens inside
    * the squashed prefix are resolved away, the regime re-derives
    * (a trusted history whose remaining tracked upserts are gone reads
    * PLAIN again), and squashing the ENTIRE history (h = head) restores
    * full trust — the squashed generation is single-gen-per-key by
    * construction, exactly a fresh build's shape, so even an untrusted
    * store comes back plain-readable. Counters are set by the caller
    * (recounted from the new version); the streaming batch clock is
    * PRESERVED — a horizon compact must not reopen replayed batches. */
  private def horizonMeta(m: Meta, h: Long): Meta = {
    val ug = m.upsertGens.filter(_ > h)
    val headSquash = h == m.gen - 1
    m.copy(
      appendOnly = m.appendOnly || (m.trusted && ug.isEmpty) || headSquash,
      trusted = m.trusted || headSquash,
      upsertGens = ug,
      params = m.params + ("horizon" -> h.toString))
  }

  // ------------------------------------------------------- versions

  /** Stage a HORIZON compact into version `next`: byte-copy what the
    * squash KEEPS from the live version `m` — model files and each
    * table's committed tail generations (`gen > h`, from the meta's
    * file list) — nothing recomputed, and crucially nothing of the
    * squashed prefix copied only to be thrown away (the prefix is the
    * BULK of a deep store; copying it would double the compact's I/O for
    * no reason). Returns `next` with the copied files recorded; the
    * caller writes the resolved base generation at `gen=h` and commits.
    * Byte copy, not move: the live version stays intact and readable
    * through the commit and after it (object stores copy server-side;
    * the cost is tail + model I/O only, no shuffle or recompute). */
  private def stageTail(s: SparkSession, dir: String, t: GenTable, m: Meta,
      next: Meta, h: Long): Meta = {
    val fs = fsOf(s, dir)
    def copy(src: Path, dst: Path): Unit =
      if (!FileUtil.copy(fs, src, fs, dst, false, true, conf(s)))
        throw new java.io.IOException(s"horizon stage: could not copy $src to $dst")
    val tableDirs = (t.subdirs :+ RetiredTable).toSet
    for (child <- fs.listStatus(new Path(root(dir, m))); n = child.getPath.getName
         if !tableDirs(n) && !n.startsWith("."))
      copy(child.getPath, new Path(s"${root(dir, next)}/$n"))
    val tables = m.tables.removed(RetiredTable).map { case (name, tb) =>
      name -> tb.copy(files = tb.files.filter(_.gen > h).map { f =>
        val p = s"${version(next)}/${f.path.stripPrefix(s"${version(m)}/")}"
        copy(new Path(dir, f.path), new Path(dir, p))
        val st = fs.getFileStatus(new Path(dir, p))
        f.copy(path = p, len = st.getLen, mtime = st.getModificationTime)
      })
    }
    next.copy(tables = tables)
  }

  // ------------------------------------------- retired-key sidecar

  /** The RETIRED-KEY SIDECAR (table `retired` of the version root, one
    * key column): a horizon squash drops a tombstoned key's rows from
    * the squashed base — which would also destroy the only durable
    * record that the key was TAKEN DOWN. That record is load-bearing:
    * `retiredIds` feeds the in-stream full compact's source exclusion,
    * and a source directory still physically holds deleted ids' rows,
    * so losing it would let the next full compact RESURRECT every
    * takedown the squash absorbed. The squash therefore writes the
    * dropped keys (unioned with any prior sidecar) into the new version
    * — committed with it — and `retiredIds` unions the sidecar back in
    * (minus currently-live keys, so a re-add leaves the set). A FULL
    * compact/build starts a version without the sidecar: that is the
    * existing full-compact contract — it consumes the retired set at
    * rebuild time (the corpus passed in is already takedown-filtered),
    * after which takedown durability belongs to the source pipeline. */
  private val RetiredTable = "retired"

  /** The sidecar's keys, if `m` committed one (None on never-squashed
    * or delete-free stores — zero cost there). */
  private def readRetired(s: SparkSession, dir: String, m: Meta, keyCol: String): Option[DataFrame] =
    m.tables.get(RetiredTable).map(t =>
      relation(s, dir, s"${version(m)}/$RetiredTable", t.schema, t.files).toDF(keyCol))

  /** Write the sidecar into `m`'s version (tiny: one row per retired
    * key, coalesced to one file), recorded at the squash point `h`. */
  private def writeRetired(s: SparkSession, keys: DataFrame, dir: String, m: Meta,
      h: Long): Meta = {
    val out = s"${version(m)}/$RetiredTable"
    keys.distinct().coalesce(1).write.mode("overwrite").parquet(s"$dir/$out")
    m.copy(tables = Commit.record(s, dir, m.tables, RetiredTable, h, out)._1)
  }

  // ------------------------------------------------------- live views

  /** Latest-generation-wins over `rows` (gen included): a ONE-ROW-PER-
    * KEY table (IVF/PQ rows, the vector store, norms) reduces each key
    * to the struct max of (gen, data columns) — gen leads, so the
    * trailing payload never decides; a MULTI-ROW table (banded
    * signatures, postings) keeps every row of the key's max generation
    * by a join. Output keeps `rows`' columns. */
  private def resolve(rows: DataFrame, keyCol: String, multiRow: Boolean): DataFrame =
    if (multiRow)
      rows.join(rows.groupBy(keyCol).agg(max("gen").as("gen")), Seq(keyCol, "gen"))
    else {
      val dataCols = rows.columns.toSeq.filterNot(c => c == keyCol || c == "gen")
      rows.groupBy(keyCol)
        .agg(max(struct(col("gen") +: dataCols.map(col): _*)).as("m"))
        .select(col(keyCol) +: dataCols.map(c => col(s"m.$c").as(c)) :+
          col("m.gen").as("gen"): _*)
    }

  /** Distinct upsert keys the bounded regime folds into its filter, and
    * upsert-generation rows it may read on the driver to find them; past
    * either cap the read resolves in full. */
  private val MaxUpsertKeys = 1 << 16
  private val MaxUpsertRows = 1L << 20

  /** The BOUNDED regime's row selection over `rows` (the committed
    * generations of `m`), resolved on the driver: the key column of each
    * upsert generation's files as `m` committed them is read with
    * parquet-mr (no Spark job), each key's winning generation is its
    * latest upsert generation, and the selection is one filter
    * `(gen ∉ ug ∧ key ∉ K) ∨ ⋁_g (gen = g ∧ key ∈ K_g)`, each key set a
    * sorted array probed by binary search ([[LongKeyIn]]) — the
    * untouched generations minus every upsert key, plus each key's rows
    * of its winning generation. On a trusted history a key outside the
    * upsert generations lives in exactly one untouched generation, so
    * this is latest-gen resolution. For one-row tables it equals the
    * struct max because writers leave one row per (key, gen) (batches
    * are deduped by id, deletes write one tombstone per key;
    * LiveViewSpec pins it). Keys and scan come from the same meta, so
    * they always describe one committed state; an upsert generation
    * with no committed file is a zero-row batch — no keys. None — the
    * caller resolves in full — past `maxRows` rows read or `maxKeys`
    * distinct keys (the read stops there, so the driver's work is
    * bounded by the caps), and on a null key or a key type other than
    * bigint. */
  private def upsertFilter(s: SparkSession, t: GenTable, dir: String, m: Meta,
      rows: DataFrame, maxKeys: Int, maxRows: Long): Option[Column] = {
    val hc = conf(s)
    val ug = m.upsertGens
    val files = tableOf(m, dir, t).files.filter(f => ug.contains(f.gen)).sortBy(f => (f.gen, f.path))
    val win = scala.collection.mutable.HashMap.empty[Long, Long]
    var known = rows.schema(t.key).dataType == LongType
    var read = 0L
    def more = known && read <= maxRows && win.size <= maxKeys
    for (f <- files if more)
      IndexBuilder.readFile(hc, new Path(dir, f.path), FilterCompat.NOOP, more,
          columns = Seq(t.key)) { r =>
        read += 1
        if (r.getFieldRepetitionCount(0) == 0 ||
            r.getType.getType(0).asPrimitiveType.getPrimitiveTypeName != PrimitiveTypeName.INT64)
          known = false
        else win(r.getLong(0, 0)) = f.gen
      }
    def in(keys: Iterable[Long]): Column =
      ColumnBridge.column(LongKeyIn(ColumnBridge.expression(col(t.key)), keys.toArray.sorted))
    if (!more) None
    else {
      val gen = col("gen")
      val untouched = !gen.isin(ug: _*) && (col(t.key).isNull || !in(win.keys))
      Some(win.groupMap(_._2)(_._1).toSeq.sortBy(_._1).foldLeft(untouched) {
        case (f, (g, keys)) => f || (gen === g && in(keys))
      })
    }
  }

  /** Throws unless the structure the tree's meta names stores table
    * `t` — a verb of one structure must never read or append another's
    * rows. */
  def requireKind(m: Meta, dir: String, t: GenTable): Unit = {
    val held = GenTable.of(m)
    if (!held.stores(t)) throw new IllegalArgumentException(
      s"tree at $dir holds a '${held.marker}' store, not a '${t.marker}' " +
        "one: use the verbs of the structure it holds")
  }

  /** Table `t`'s committed files below `m`'s commit pointer as one
    * relation, gen and any directory column discovered from the paths —
    * built from the meta's file list and schema ([[relation]]): no
    * listing, no footer read. An orphan gen directory from a crashed,
    * never-replayed append is not in the list, so it is invisible. */
  private def scan(s: SparkSession, t: GenTable, dir: String, m: Meta): DataFrame = {
    val table = tableOf(m, dir, t)
    relation(s, dir, t.path(version(m)), table.schema, table.files.filter(_.gen < m.gen))
  }

  private def tableOf(m: Meta, dir: String, t: GenTable): Table =
    m.tables.getOrElse(t.subdir, throw new IllegalStateException(
      s"the store at $dir committed no rows of table '${t.subdir}'"))

  /** The COMMITTED-GEN RAW READER: table `t`'s rows of the generations
    * below `m.gen`, `cols` in read order plus gen as long. `pre` narrows
    * the scan before the projection (key-commuting filters: the vector
    * store's directory pruning). */
  private def raw(s: SparkSession, t: GenTable, dir: String, m: Meta,
      cols: Seq[String], pre: DataFrame => DataFrame): DataFrame =
    pre(scan(s, t, dir, m))
      .select(cols.map(t.readCol) :+ col("gen").cast("long").as("gen"): _*)

  private def raw(s: SparkSession, t: GenTable, dir: String, m: Meta): DataFrame =
    raw(s, t, dir, m, t.cols, identity)

  /** The LIVE rows of table `t`: latest generation per key, through the
    * regime the meta decides —
    *  - PLAIN (append-only history): the committed scan, `probe` pushed
    *    into it;
    *  - BOUNDED (trusted, with recorded upsert generations): the same
    *    scan under one key filter resolved on the driver from the same
    *    meta's files ([[upsertFilter]]), `probe` pushed into every
    *    generation — row selection no longer depends on the probe, so no
    *    probe can resurrect a superseded row; past `maxUpsertRows` upsert
    *    rows or `maxUpsertKeys` distinct upsert keys it resolves in full
    *    instead;
    *  - FULL (untrusted history, or `resolveAll` — the audit path):
    *    [[resolve]] over every committed row, `probe` applied after it
    *    (pruning a superseded key's old partition out from under the
    *    resolve would resurrect its stale row; a filter on the key itself
    *    commutes with the resolve and belongs in `pre`).
    * Tombstones are dropped after the selection ([[GenTable.dropsTombs]]);
    * `cols` (plus gen) are kept. `asOfGen` reads the store as of
    * generation N ([[asOf]]). A counted store that never wrote a
    * tombstone, read current and append-only, serves the FLAT plan: the
    * write-once scan of the committed files, no tombstone filter, no
    * projection — the maintained read's residual cost on a fresh or
    * just-compacted store is zero, not "small". The count describes the
    * FULL history, so an as-of read never takes it. */
  def live(s: SparkSession, dir: String, t: GenTable,
      probe: DataFrame => DataFrame, resolveAll: Boolean, asOfGen: Option[Long],
      cols: Seq[String], pre: DataFrame => DataFrame,
      maxUpsertKeys: Int = MaxUpsertKeys, maxUpsertRows: Long = MaxUpsertRows): DataFrame = {
    val full = metaOrThrow(s, dir)
    requireKind(full, dir, t)
    val meta = asOfGen.fold(full)(asOf(full, _))
    if (!resolveAll && asOfGen.isEmpty && meta.appendOnly &&
        t.tombCount.exists(k => full.params.get(k).contains("0")))
      probe(pre(scan(s, t, dir, meta)))
    else {
      val post: DataFrame => DataFrame =
        if (t.dropsTombs(full)) df => probe(df).filter(t.serving) else probe
      val rows = raw(s, t, dir, meta, cols, pre)
      post(
        if (!resolveAll && meta.appendOnly) rows
        else if (resolveAll || !meta.trusted || meta.upsertGens.isEmpty)
          resolve(rows, t.key, t.multiRow)
        else upsertFilter(s, t, dir, meta, rows, maxUpsertKeys, maxUpsertRows)
          .fold(resolve(rows, t.key, t.multiRow))(rows.filter))
    }
  }

  def live(s: SparkSession, dir: String, t: GenTable): DataFrame =
    live(s, dir, t, identity, resolveAll = false, asOfGen = None, t.cols, identity)

  // ------------------------------------------------------------ verbs

  /** The GENERATION WRITER: lay `rows` out as generation `gen` of table
    * `t` (its [[GenLayout]]) in `m`'s version with overwrite semantics —
    * a replayed crash-append overwrites its own partial output — then
    * write each derived sidecar from the rows just written (a re-read of
    * the recorded files, never a recompute of the rows' subtree). `est`
    * sizes a range layout's fan-out (the batch's rows; -1 = a build at
    * session width) and is evaluated only there. Returns `m` with the
    * written files recorded, and (serving rows, tombstone rows) of the
    * generation in one pass. An EMPTY write records nothing and counts
    * (0, 0): a zero-row streaming micro-batch must not wedge the
    * maintenance loop on a throw. */
  private def writeGen(t: GenTable, rows: DataFrame, dir: String, m: Meta, gen: Long,
      est: => Long): (Meta, Long, Long) = {
    lazy val n = est
    val (m1, written) = layOut(t, rows, dir, m, gen, n)
    written.fold((m1, 0L, 0L)) { w =>
      val m2 = t.derived.foldLeft(m1) { case (acc, (d, derive)) =>
        layOut(d, derive(w), dir, acc, gen, n)._1
      }
      val r = w.agg(count(lit(1)), coalesce(sum(when(t.tomb, 1L)), lit(0L))).head()
      (m2, r.getLong(0) - r.getLong(1), r.getLong(1))
    }
  }

  /** Write `rows` as generation `gen` of table `t` in its layout and
    * record the files ([[Commit.record]]). */
  private def layOut(t: GenTable, rows: DataFrame, dir: String, m: Meta, gen: Long,
      est: => Long): (Meta, Option[DataFrame]) = {
    val out = s"${t.path(version(m))}/gen=$gen"
    val writer = t.layout match {
      case HashDirs(d, derive, parts, sortBy) =>
        val r = derive.fold(rows)(rows.withColumn(d, _))
        val p = parts.fold(r.repartition(col(d)))(r.repartition(_, col(d)))
        (if (sortBy.isEmpty) p else p.sortWithinPartitions(sortBy.map(col): _*))
          .write.mode("overwrite").partitionBy(d)
      case RangeClustered(by, sortBy, perFile) =>
        val width = rows.sparkSession.sessionState.conf.numShufflePartitions
        val parts =
          if (est < 0) width
          else math.max(1L, math.min(width.toLong, (est + perFile - 1) / perFile)).toInt
        rows.repartitionByRange(parts, by.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
          .write.mode("overwrite")
    }
    writer.parquet(s"$dir/$out")
    val (tables, written) = Commit.record(rows.sparkSession, dir, m.tables, t.subdir, gen, out)
    (m.copy(tables = tables), written)
  }

  /** BUILD: write gen 0 of `rows` into a new version beside the live
    * one and commit the meta that points at it (the completion marker —
    * a crash before the commit leaves the last committed view as it
    * was, and the next build clears the partial version). `rows`
    * receives the new version root: kernels lay down their model files
    * (centroids, codebook) there. A full COMPACT is this verb over the
    * current corpus. `appendOnly = false` stamps the store
    * upsert-possible-and-untrusted ATOMICALLY in that same meta write —
    * the in-stream compact's flag (its corpus snapshot may cover
    * undelivered batches that later re-append as `newIds` duplicates). */
  def build(s: SparkSession, t: GenTable, dir: String, batchId: Long,
      appendOnly: Boolean, params: Map[String, String])(rows: String => DataFrame): Unit = {
    val m0 = Meta(gen = 1L, appendOnly = appendOnly, batch = batchId,
      trusted = appendOnly, params = params ++ t.tombCount.map(_ -> "0"),
      version = readMeta(s, dir).fold(0L)(_.version + 1))
    val (m, n0, tombs) = writeGen(t, rows(Commit.startVersion(s, dir, m0.version)), dir, m0, 0L, -1L)
    writeMeta(s, dir, t.addTombs(m.copy(baseRows = n0), tombs), switches = true)
  }

  /** APPEND: reserve the next generation, let the kernel validate the
    * meta and produce the batch — (its deduped ids, the rows to write,
    * the row estimate sizing a range layout) — count the live rows the
    * ids supersede when the history needs it ([[needsDeadCount]]),
    * write the rows into their own `gen=N` directory and commit the
    * counters. O(|delta|): nothing of the base is rewritten. */
  def append(s: SparkSession, dir: String, newIds: Boolean, batchId: Long)
      (batch: Meta => (DataFrame, DataFrame, Long)): Unit = {
    val (gen, next, prev) = reserveGen(s, dir, newIds, batchId)
    val (ids, rows, est) = batch(next)
    val t = GenTable.of(next)
    val dead = deadCount(s, t, dir, prev, newIds, ids)
    val (m, n, tombs) = writeGen(t, rows, dir, next, gen, est)
    writeMeta(s, dir, t.addTombs(appendCounters(m, n, dead), tombs), switches = false)
  }

  /** The EXACT superseded-row count behind an append, when the history
    * requires one: a column-pruned thin scan of the committed
    * generations, semi-joined with the (broadcast, delta-scale) ids. A
    * key-derived directory layout first prunes the scan to the ids'
    * directories (≤ ProbePartitions values — a tiny driver collect), so
    * an upsert micro-batch on the vector store reads only its buckets. */
  private def deadCount(s: SparkSession, t: GenTable, dir: String, prev: Meta,
      newIds: Boolean, ids: DataFrame): (Long, Long) =
    if (!needsDeadCount(prev, newIds)) (0L, 0L)
    else {
      val keys = ids.select(t.key)
      val pre: DataFrame => DataFrame = t.keyDirs.fold(identity[DataFrame] _) {
        case (d, f) =>
          val vs = keys.select(f).distinct().collect().map(_.get(0)).toSeq
          _.filter(col(d).isin(vs: _*))
      }
      deadCounts(raw(s, t, dir, prev, t.cols, pre), t.key, keys, t.weight,
        baseGen = horizonOf(prev))
    }

  /** TAKEDOWN: retire the keys in `ids` (column `idCol`, default the
    * structure's id) from every read incrementally, at delete-batch
    * cost. One generation of the structure's TOMBSTONE rows
    * ([[GenTable.tombRow]], typed by the stored schema), appended
    * UNDECLARED, so every regime resolves each key to its tombstone and
    * the views' post-resolution drop removes it (class doc). Tombstones
    * count 0 written and the keys' live rows move out, so a deleted
    * fraction reads as shrinkage, not staleness; the meta records the
    * tombstones written ([[GenTable.addTombs]]). */
  def delete(ids: DataFrame, dir: String, idCol: Option[String] = None,
      batchId: Long = -1L): Unit = {
    val s = ids.sparkSession
    val (gen, next, prev) = reserveGen(s, dir, newIds = false, batchId)
    val t = GenTable.of(next)
    val sch = tableOf(next, dir, t).schema
    val keys = ids.select(col(idCol.getOrElse(t.idCol))
      .cast(sch(t.key).dataType).as(t.key)).distinct()
    val dead = deadCount(s, t, dir, prev, newIds = false, keys)
    val lits = keys.select(t.cols.map(c =>
      if (c == t.key) col(c) else t.tombRow.getOrElse(c, lit(null)).as(c)): _*)
    // cast only what differs from the stored type: casting an array
    // literal would also flip its element nullability in the footer
    val tombs = lits.select(lits.schema.fields.toSeq.map(f =>
      sch.find(_.name == f.name).filter(_.dataType.simpleString != f.dataType.simpleString)
        .fold(col(f.name))(st => col(f.name).cast(st.dataType).as(f.name))): _*)
    val (m, _, n) = writeGen(t, tombs, dir, next, gen, keys.count())
    writeMeta(s, dir, t.addTombs(appendCounters(m, 0L, dead), n), switches = false)
  }

  /** HORIZON compact: squash generations ≤ `h` into ONE resolved base
    * generation at clock `h`, keeping every later generation (and every
    * model file) byte-identical — the retention-window compact ([[asOf]]
    * doc). A full compact reclaims the history's read/storage cost by
    * discarding it; this one reclaims the same cost for the prefix while
    * `asOf(n ≥ h)` keeps reproducing exactly. The squashed base is the
    * prefix's resolved serving state: tombstoned keys are dropped from
    * it and RECORDED in the retired sidecar ([[RetiredTable]]), so
    * [[retiredIds]] keeps protecting future full compacts from
    * resurrecting them out of the source. Needs no source corpus and no
    * model retrain (all generations share the build-time model — that
    * invariant is what makes the squash a pure row-level resolve). It
    * writes a new version beside the live one ([[stageTail]]) and
    * commits it like a build. The committed meta carries recounted LIVE
    * serving rows split at `h` and the tombstone rows that PHYSICALLY
    * remain — physical, not live-resolved: a tail tombstone superseded
    * by a re-add still decides its key's state for as-of reads inside
    * the window, so the views' drop must stay on while any such row
    * exists. Squashing the whole history (`h` = last gen) restores an
    * untrusted store to trusted plain reads with the clock preserved
    * ([[horizonMeta]]). */
  def compactThrough(s: SparkSession, dir: String, h: Long): Unit = {
    val full = metaOrThrow(s, dir)
    val t = GenTable.of(full)
    val h0 = horizonOf(full)
    require(h >= h0 && h < full.gen,
      s"horizon $h outside [$h0, ${full.gen - 1}] for the store at $dir " +
        "(below the existing horizon the history is already squashed)")
    val next = full.copy(version = full.version + 1)
    Commit.startVersion(s, dir, next.version)
    val resolved = resolve(raw(s, t, dir, full.copy(gen = h + 1)), t.key, t.multiRow)
    val (based, _, _) = writeGen(t, resolved.filter(t.serving).select(t.cols.map(col): _*),
      dir, stageTail(s, dir, t, full, next, h), h, -1L)
    val prevRetired = readRetired(s, dir, full, t.idCol)
    val staged =
      if (prevRetired.isEmpty && !t.tombsPresent(full)) based
      else {
        val dropped = resolved.filter(t.tomb).select(col(t.key).as(t.idCol))
        writeRetired(s, prevRetired.fold(dropped)(_.unionByName(dropped)), dir, based, h)
      }
    val rows = raw(s, t, dir, staged)
    val (base, appended) = liveSplit(
      rows.select(col(t.key), col("gen"), t.weight.as("w")), t.key, h)
    writeMeta(s, dir, t.recountTombs(
      horizonMeta(staged, h).copy(baseRows = base, appendRows = appended),
      rows.filter(t.tomb).count()), switches = true)
  }

  /** The RETIRED keys: present in the store's generations (or in the
    * retired sidecar a horizon squash left) but not live — the takedown
    * set an in-stream full compact must EXCLUDE from its source-
    * directory rebuild, or it would resurrect deleted keys still
    * physically present in the source. A re-add leaves the set (the
    * anti-join is against the CURRENT live keys). One resolution scan —
    * compact-scale callers only; stores with no tombstone and no
    * sidecar short-circuit to empty. One column, the structure's id. */
  def retiredIds(s: SparkSession, dir: String): DataFrame = {
    val meta = metaOrThrow(s, dir)
    val t = GenTable.of(meta)
    val sidecar = readRetired(s, dir, meta, t.idCol)
    if (!t.tombsPresent(meta) && sidecar.isEmpty) {
      import s.implicits._
      Seq.empty[Long].toDF(t.idCol)
    } else {
      val present = raw(s, t, dir, meta).select(col(t.key).as(t.idCol)).distinct()
      sidecar.fold(present)(sc => present.unionByName(sc).distinct())
        .join(live(s, dir, t).select(col(t.key).as(t.idCol)).distinct(),
          Seq(t.idCol), "left_anti")
    }
  }

  /** Fraction of LIVE serving rows that arrived by append — the drift /
    * fan-out signal a deployment compacts on. O(1) from the meta's
    * exact counters (class doc), so a per-micro-batch compaction
    * decision never scans the store. */
  def staleness(s: SparkSession, dir: String): Double = {
    val m = metaOrThrow(s, dir)
    val total = m.baseRows + m.appendRows
    if (total == 0) 0.0 else m.appendRows.toDouble / total
  }
}
