package graft.text

import graft.build.{GenStore, GenTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The document-level TEXT POSTINGS table under the SAME maintained
  * lifecycle as every other persisted structure ([[graft.build
  * .GenStore]]): build → gen-stamped append → three-regime live read →
  * staged compact. This closes the last artifact-discipline exception
  * (r17 verdict #1): the postings table was a write-once,
  * fingerprint-less cache — the one persisted artifact that would
  * silently serve stale search results after an in-place corpus
  * rewrite, and the one index with no O(|delta|) maintenance path.
  *
  * Reference analog: the Lucene module's whole operating model is
  * per-day index construction over NEW data, never a corpus rebuild
  * (`indexing/StatusesIndexManager.java:42-144` — day-partitioned index
  * collections; `AbstractLuceneIndexingJob.run:92-150`). Here a day's
  * new documents are one postings append: tokenize the delta, write its
  * (field, term, doc_id, tf, positions) rows into their own `gen=N`
  * directory — O(|delta|), nothing of the base re-read or rewritten.
  *
  * APPEND ≡ REBUILD is exact for declared-new batches by construction:
  * postings rows are per-(field, term, doc), and tokenization under the
  * fixed analyzer is a pure per-document function — the banded table's
  * argument. RE-INGESTED documents resolve at the DOCUMENT level (the
  * multi-row [[GenStore.live]] view, key = doc_id): every postings
  * row of the doc's latest generation wins, so a term the new version
  * DROPPED disappears (its row simply doesn't exist in the winning
  * generation — no tombstones needed). Documents whose re-ingest has NO
  * tokens at all leave a zero-cost SENTINEL row (term = "", tf = 0) in
  * their generation, so the doc still occupies the generation for
  * supersession — without it an emptied doc would vanish from the
  * upsert-key set and its stale rows would stay selected. The
  * sentinel never matches a query term (the analyzer drops empties) and
  * [[live]] filters it out after resolution. The store is the
  * [[graft.build.GenTable.Postings]] descriptor (with its norms sidecar)
  * plus this kernel: tokenization, the sentinels and the readers.
  *
  * PHYSICAL LAYOUT: each generation's rows are range-clustered by
  * (field, term) with (field, term, doc_id)-sorted row groups, so a
  * term lookup (or a prefix's [lo, hi) range) skips whole files and row
  * groups by parquet min-max stats — the same probe economics as the
  * banded index, keyed by term. Append generations size their file
  * fan-out to the batch (a micro-batch lands in one file).
  *
  * MEASURED (the `text` benchmark: 3000 docs, two declared appends and
  * one delete, so searches read the bounded regime; 4 vCPUs, traced
  * seed 1): while the bounded view was a Spark-planned distinct +
  * broadcast anti-join + resolve join, a search started 9.67 Spark jobs
  * (one of them the live view's schema inference); with the upsert
  * keys resolved on the driver it starts 3.83, all of them its own,
  * and building the live view starts none. BM25 reads the persisted
  * norms sidecar ([[normsLive]]), so no search aggregates the whole
  * postings table.
  *
  * The probe filter here is on `term`/`field`, NOT the reduce key. It
  * pushes into the plain scan and into the bounded regime's filtered
  * scan, whose row selection is decided by (doc_id, gen) alone; under
  * full resolution it is applied after the reduce — filtering a doc's
  * rows by term BEFORE doc-level resolution would resurrect a dropped
  * term's old row, the same hazard the banded probe has.
  *
  * r19 verbs: [[delete]] retires docs incrementally (a takedown batch =
  * one sentinel generation — the emptied-re-ingest mechanism exposed as
  * the verb; GenStore class doc); [[live]]/[[normsLive]] take `asOfGen`
  * (time-travel: the state after generation N, the reproducibility
  * read); and a FLAT FAST PATH serves append-only sentinel-free
  * histories (`sent = 0` in the meta) the write-once plan — no sentinel
  * filter, no resolution protocol — so a fresh or just-compacted
  * store's read pays nothing for the freshness rule.
  */
object PostingsStore {

  import GenTable.{Norms, Postings}

  /** Analyzer/layout epoch persisted in the meta: bump when the
    * tokenizer or row schema changes, so appends under a different
    * analyzer THROW instead of silently mixing token models across
    * generations (the text twin of the banded seed/planes check). */
  private val TokenizerEpoch = 1L

  /** The full field mapping (name AND source column) as the store's
    * persisted `pfields` key — what appends validate, and what artifact
    * fingerprints must carry (hashing names alone would reuse a stale
    * store across two configurations that index different columns under
    * the same field names). */
  private[graft] def fieldsKey(fields: Seq[(String, String)]): String =
    fields.map { case (n, c) => s"$n:$c" }.mkString(",")

  /** One coherent (doc_id, columns...) row per doc id — the
    * at-least-once batch surface, same deterministic whole-struct pick
    * as the vector appends. `dedup = false` skips the shuffle for
    * curated batch corpora. */
  private def normalized(docs: DataFrame, idCol: String,
      fields: Seq[(String, String)], dedup: Boolean): DataFrame = {
    val cols = fields.map(_._2).distinct
    val base = docs.select(col(idCol).as("doc_id") +: cols.map(col): _*)
    if (!dedup) base
    else base.groupBy("doc_id").agg(max(struct(cols.map(col): _*)).as("m"))
      .select(col("doc_id") +: cols.map(c => col(s"m.$c").as(c)): _*)
  }

  /** The batch's postings rows + the empty-doc sentinels (class doc) —
    * the descriptor's tombstone row, one per doc without tokens. */
  private def postingsRows(docs: DataFrame,
      fields: Seq[(String, String)]): DataFrame = {
    val p = TextIndex.buildFieldedPostings(docs, "doc_id", fields)
    val sentinels = docs.select(col("doc_id"))
      .join(p.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id") +: Postings.tombRow.map { case (c, v) => v.as(c) }.toSeq: _*)
    p.unionByName(sentinels)
  }

  /** Build the postings store from a corpus: gen 0 (postings + norms
    * sidecar), meta LAST (the [[GenStore.build]] protocol, crash cases
    * included). A stream-invoked build (`batchId >= 0`) dedups
    * duplicate-id first batches like every other structure. "norms"
    * marks a store whose every generation carries the sidecar (stores
    * from before it fall back to the aggregate). */
  def build(docs: DataFrame, dir: String,
      idCol: String = "doc_id",
      fields: Seq[(String, String)] = Seq("text" -> "text"),
      batchId: Long = -1L, appendOnly: Boolean = true): Unit = {
    require(fields.nonEmpty, "at least one (fieldName, column) pair")
    GenStore.build(docs.sparkSession, Postings, dir, batchId, appendOnly,
      Map("text" -> "1", "tok" -> TokenizerEpoch.toString, "norms" -> "1",
        "pfields" -> fieldsKey(fields)))(
      postingsRows(normalized(docs, idCol, fields, dedup = batchId >= 0), fields))
  }

  /** Tokenize ONLY the delta batch under the persisted analyzer epoch
    * and write its postings into the next `gen=N` directory —
    * O(|delta|) ([[GenStore.append]]: undeclared appends pay the exact
    * dead-row count; declared ones pay nothing). The normalized delta
    * is cached: it feeds the fan-out count, the dead-row semi-join and
    * the tokenize — one dedup shuffle, not one per consumer. */
  def append(delta: DataFrame, dir: String,
      idCol: String = "doc_id",
      fields: Seq[(String, String)] = Seq("text" -> "text"),
      newIds: Boolean = false, batchId: Long = -1L): Unit = {
    val one = normalized(delta, idCol, fields, dedup = true).cache()
    try GenStore.append(delta.sparkSession, dir, newIds, batchId) { m =>
      GenStore.requireKind(m, dir, Postings)
      GenStore.requireParam(m, dir, "tok", TokenizerEpoch)
      if (!m.params.get("pfields").contains(fieldsKey(fields)))
        throw new IllegalArgumentException(
          s"postings store at $dir was built with fields " +
            s"${m.params.getOrElse("pfields", "<none>")}, caller passed " +
            s"${fieldsKey(fields)} — fields are fixed at build time; " +
            "compact/rebuild to change them")
      (one, postingsRows(one, fields), one.count())
    } finally one.unpersist()
  }

  /** TAKEDOWN ([[GenStore.delete]]): one generation of sentinel rows
    * (plus dl = 0 norms) for the deleted docs — exactly what an emptied
    * re-crawl writes. Re-ingesting a deleted doc later must be an
    * undeclared append (GenStore class doc). */
  def delete(ids: DataFrame, dir: String, idCol: String = "doc_id",
      batchId: Long = -1L): Unit =
    GenStore.delete(ids, dir, Some(idCol), batchId)

  /** Re-tokenize the current corpus and rewrite at gen 0 under the
    * shared staged-swap/recover protocol — the compaction step once
    * [[staleness]] or upsert-history read cost crosses the budget. */
  def compact(docs: DataFrame, dir: String,
      idCol: String = "doc_id",
      fields: Seq[(String, String)] = Seq("text" -> "text"),
      batchId: Long = -1L, appendOnly: Boolean = true): Unit =
    GenStore.stagedCompact(docs.sparkSession, dir)(tmp =>
      build(docs, tmp, idCol, fields, batchId, appendOnly))

  /** The LIVE postings (field, term, doc_id, tf, positions): document-
    * level latest-generation resolution through [[GenStore.live]] —
    * plain read on append-only histories (term/field probe filters push
    * into the range-clustered scan), BOUNDED resolution over the
    * recorded upsert generations (one driver-resolved filter over the
    * same scan, probes pushed too), or full resolution, per the meta;
    * the flat write-once plan while no sentinel was ever written.
    * Sentinel rows are dropped AFTER resolution. The output is drop-in
    * for every [[TextIndex]] reader and [[QueryLang]] (which scope by
    * `field`). */
  def live(s: SparkSession, dir: String,
      field: Option[String] = None, terms: Option[Seq[String]] = None,
      resolveAll: Boolean = false, asOfGen: Option[Long] = None): DataFrame = {
    def probe(df: DataFrame): DataFrame = {
      val f1 = field.fold(df)(f => df.filter(col("field") === f))
      terms.fold(f1)(ts =>
        f1.filter(col("term").isin(ts.map(_.toLowerCase): _*)))
    }
    GenStore.live(s, dir, Postings, probe, resolveAll, asOfGen, Postings.cols, identity)
      .select("field", "term", "doc_id", "tf", "positions")
  }

  /** The LIVE document norms (doc_id, doc_len) — the persisted
    * Lucene-norms-file parity: scored retrieval ([[TextIndex
    * .searchScoredWith]]) reads this tiny one-row-per-doc sidecar
    * through the ONE-ROW live view instead of re-aggregating every
    * postings row per query (measured 0.453 → the aggregate was the
    * whole overhead of the maintained read on the BM25 shape). Emptied
    * docs (dl = 0 sentinels) participate in resolution, then drop —
    * exactly the old derive-from-postings semantics, where an empty doc
    * had no rows. A store from before the sidecar (no `norms` param)
    * falls back to aggregating the live postings. */
  def normsLive(s: SparkSession, dir: String,
      resolveAll: Boolean = false, asOfGen: Option[Long] = None): DataFrame =
    if (GenStore.metaOrThrow(s, dir).params.contains("norms"))
      GenStore.live(s, dir, Norms, identity, resolveAll, asOfGen, Norms.cols, identity)
        .select(col("doc_id"), col("dl").as("doc_len"))
    else
      live(s, dir, resolveAll = resolveAll, asOfGen = asOfGen)
        .groupBy("doc_id").agg(sum("tf").as("doc_len"))

  /** Fraction of LIVE postings rows that arrived by append
    * ([[GenStore.staleness]]: O(1) from the meta's exact counters). */
  def staleness(s: SparkSession, dir: String): Double =
    GenStore.staleness(s, dir)
}
