package graft.operators

import graft.Tables
import graft.build.{Artifact, GenStore}
import graft.dedup.DedupArtifacts
import graft.text.{PostingsStore, TextIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text retrieval over the `documents` table through the persisted
  * postings index (SURVEY.md §3.3): top-k, doc fetch, count, sample.
  * Oracles recompute the same scores from raw text in DuckDB — index
  * path vs full-tokenization path, the text analog of the index-scan ≡
  * full-scan differential.
  *
  * The postings artifacts are MAINTAINED stores under the full
  * [[GenStore]] discipline since r18 (the last write-once,
  * fingerprint-less cache in the engine — an in-place corpus rewrite
  * used to silently serve stale search results): each carries a
  * source-fingerprinted marker (rebuild iff the corpus or params
  * changed), and is built as a genuine base + delta-append HISTORY —
  * gen 0 indexes the base documents, the standard delta batch appends
  * as gen 1 (declared new, truthfully: the split is by doc id), the
  * reference's day-partitioned Lucene ingest reshaped
  * (`StatusesIndexManager.java:42-144`). Every search below therefore
  * reads through a maintained (base + append) postings history.
  */
object TextQueries extends QueryModule {

  /** Artifact epoch: bump to rebuild the postings stores alone.
    * (2 = the norms sidecar joined the generations; 3 = the sentinel-
    * free `sent` counter joined the meta — the flat fast path's
    * license; 4 = the versioned layout with its committed file list.) */
  private val PostingsEpoch = 4

  private def isDelta =
    col("doc_id") % DedupArtifacts.DeltaMod === DedupArtifacts.DeltaRem

  /** Build-or-reuse a fingerprinted maintained postings store: gen 0 =
    * base docs, gen 1 = the delta batch appended (`newIds` per the
    * caller — true models the dated-ingest day, false the re-ingest
    * upsert). One definition for all three text artifacts. */
  private def ensurePostings(s: SparkSession, sfDir: String, name: String,
      fields: Seq[(String, String)], deltaNewIds: Boolean): String =
    // the FULL field mapping (names AND columns — PostingsStore
    // .fieldsKey, the key the store itself validates on append) rides
    // the fingerprint: hashing names alone would reuse a stale store
    // across two configurations indexing different columns under the
    // same field names (r18 nit)
    ensureStore(s, sfDir, name, PostingsStore.fieldsKey(fields)) { (docs, d) =>
      PostingsStore.build(docs.filter(!isDelta), d, "doc_id", fields)
      PostingsStore.append(docs.filter(isDelta), d, "doc_id", fields,
        newIds = deltaNewIds)
    }

  /** One postings-store artifact `name` of `sfDir`: fingerprinted on the
    * documents table, the epoch and the store's `params`; `build` writes
    * its history from the documents at the directory it is handed. */
  private def ensureStore(s: SparkSession, sfDir: String, name: String,
      params: String)(build: (DataFrame, String) => Unit): String =
    Artifact.ensure(s, sfDir, name, s"e$PostingsEpoch:$params:" +
        Artifact.fingerprint(s, s"$sfDir/documents.parquet"))(
      build(Tables.documents(s, sfDir), _))

  /** The flagship single-field postings history (base + declared delta
    * append — plain-regime reads, the common-case economics). */
  private def postingsDirM(s: SparkSession, sfDir: String): String =
    ensurePostings(s, sfDir, "text_postings_m",
      Seq("text" -> "text"), deltaNewIds = true)

  private def postings(s: SparkSession, sfDir: String): DataFrame =
    PostingsStore.live(s, postingsDirM(s, sfDir))

  /** Top-10 docs for an OR query, with doc fetch (source field) —
    * search + fetchDoc in one plan; the doc join is broadcast (top-k is
    * tiny by construction). */
  private def q21TextTopK(s: SparkSession, dir: String): DataFrame = {
    val top = TextIndex.searchTopK(postings(s, dir), Seq("spark", "query"), 10)
    val docs = Tables.documents(s, dir).select("doc_id", "source")
    broadcast(top).join(docs, "doc_id").select("doc_id", "score", "source")
  }

  private val q21Sql =
    """WITH toks AS (
      |  SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+')) AS tok
      |  FROM documents),
      |hits AS (
      |  SELECT doc_id, COUNT(*) AS score FROM toks
      |  WHERE tok IN ('spark', 'query') GROUP BY doc_id)
      |SELECT h.doc_id, h.score, d.source
      |FROM (SELECT * FROM hits ORDER BY score DESC, doc_id LIMIT 10) h
      |JOIN documents d USING (doc_id)""".stripMargin

  /** Hit count for an OR query (A4). */
  private def q22TextCount(s: SparkSession, dir: String): DataFrame =
    TextIndex.countHits(postings(s, dir), Seq("vector", "stream"))

  private val q22Sql =
    """SELECT COUNT(DISTINCT doc_id) AS n FROM (
      |  SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+')) AS tok
      |  FROM documents)
      |WHERE tok IN ('vector', 'stream')""".stripMargin

  /** Deterministic sample of hits (O3 analog). */
  private def q23TextSample(s: SparkSession, dir: String): DataFrame =
    TextIndex.sampleHits(postings(s, dir), Seq("merge"), "0")

  private val q23Sql =
    """WITH toks AS (
      |  SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+')) AS tok
      |  FROM documents),
      |hits AS (
      |  SELECT doc_id, COUNT(*) AS score FROM toks
      |  WHERE tok IN ('merge') GROUP BY doc_id)
      |SELECT doc_id, score FROM hits
      |WHERE SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'""".stripMargin

  /** Conjunctive AND query (every term required) through the postings —
    * the other half of the reference's QueryParser surface; oracle
    * recomputes from raw text requiring all distinct terms present. */
  private def q54TextAnd(s: SparkSession, dir: String): DataFrame =
    TextIndex.searchAll(postings(s, dir), Seq("vector", "stream"))

  private val q54Sql =
    """WITH toks AS (
      |  SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+')) AS tok
      |  FROM documents),
      |hits AS (
      |  SELECT doc_id, tok, COUNT(*) AS c FROM toks
      |  WHERE tok IN ('vector', 'stream') GROUP BY doc_id, tok)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score
      |FROM hits GROUP BY doc_id HAVING COUNT(*) = 2""".stripMargin

  /** PHRASE query ("hash join") answered from positional postings; the
    * oracle recounts adjacent occurrences from the raw token arrays. */
  private def q55TextPhrase(s: SparkSession, dir: String): DataFrame =
    TextIndex.searchPhrase(postings(s, dir), Seq("hash", "join"))

  private val q55Sql =
    """WITH toks AS (
      |  SELECT doc_id,
      |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'), x -> LEN(x) > 0) AS t
      |  FROM documents)
      |SELECT doc_id, CAST(occ AS BIGINT) AS occ FROM (
      |  SELECT doc_id,
      |    LEN([i FOR i IN RANGE(1, LEN(t)) IF t[i] = 'hash' AND t[i+1] = 'join']) AS occ
      |  FROM toks)
      |WHERE occ > 0""".stripMargin

  /** BM25-scored retrieval (pluggable-similarity parity with the
    * reference's Lucene similarity hook): every hit scored with the
    * k1=1.2, b=0.75 formula, mirrored term-for-term in the oracle.
    * Scores round to 6dp on both sides; inputs are exact integers so
    * the doubles agree bit-for-bit before rounding. */
  private def q56TextBm25(s: SparkSession, dir: String): DataFrame = {
    val d = postingsDirM(s, dir)
    // the norms come from the PERSISTED sidecar (Lucene's norms file —
    // one row per doc, maintained per generation), not a per-query
    // corpus-wide aggregation of the postings
    TextIndex.searchScoredWith(PostingsStore.live(s, d),
        PostingsStore.normsLive(s, d), Seq("spark", "query"), "bm25")
      .select(col("doc_id"), round(col("score"), 6).as("score"))
  }

  // empties FILTERED before UNNEST: q56's corpus-wide stats (n, avgdl)
  // must not count an empty/whitespace-only document as one ''-token —
  // Spark's tokenizer drops empties, and a single phantom doc in the
  // norms shifts EVERY BM25 score
  private val q56Sql =
    """WITH toks AS (
      |  SELECT doc_id,
      |    UNNEST(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'),
      |                       x -> LEN(x) > 0)) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
      |norms AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
      |stats AS (SELECT COUNT(*) AS n,
      |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM norms),
      |dfs AS (SELECT tok, COUNT(*) AS df FROM tf
      |        WHERE tok IN ('spark', 'query') GROUP BY tok)
      |SELECT t.doc_id,
      |  ROUND(SUM(LN(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) *
      |            (t.c * 2.2) / (t.c + 1.2 * (0.25 + 0.75 * nm.dl / s.avgdl))), 6)
      |    AS score
      |FROM tf t
      |JOIN dfs d USING (tok)
      |JOIN norms nm USING (doc_id)
      |CROSS JOIN stats s
      |GROUP BY t.doc_id""".stripMargin

  /** The multi-field postings history (text + source) behind the
    * query-language queries — same maintained-store discipline. */
  private def fieldedPostings(s: SparkSession, sfDir: String): DataFrame =
    PostingsStore.live(s,
      ensurePostings(s, sfDir, "fielded_postings_m",
        Seq("text" -> "text", "source" -> "source"), deltaNewIds = true))

  /** The QUERY LANGUAGE end-to-end: boolean operators, a phrase, and a
    * MUST_NOT clause in one parsed string, compiled to an index-only
    * plan (QueryParser parity: `HDFSQueryEngine.java:75-82`). The
    * oracle recomputes every clause from raw text and composes them
    * with the same additive-score set algebra. */
  private def q61TextQueryLang(s: SparkSession, dir: String): DataFrame =
    graft.text.QueryLang.run(fieldedPostings(s, dir),
      """spark AND (query OR "hash join") AND NOT slow""", "text")

  private val q61Sql =
    """WITH toks AS (
      |  SELECT doc_id,
      |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'), x -> LEN(x) > 0) AS t
      |  FROM documents),
      |tfc AS (
      |  SELECT doc_id, tok, COUNT(*) AS c
      |  FROM (SELECT doc_id, UNNEST(t) AS tok FROM toks) GROUP BY doc_id, tok),
      |spark_m AS (SELECT doc_id, c AS s FROM tfc WHERE tok = 'spark'),
      |query_m AS (SELECT doc_id, c AS s FROM tfc WHERE tok = 'query'),
      |phrase_m AS (
      |  SELECT doc_id,
      |    LEN([i FOR i IN RANGE(1, LEN(t)) IF t[i] = 'hash' AND t[i+1] = 'join']) AS s
      |  FROM toks
      |  WHERE LEN([i FOR i IN RANGE(1, LEN(t)) IF t[i] = 'hash' AND t[i+1] = 'join']) > 0),
      |orpart AS (
      |  SELECT doc_id, SUM(s) AS s
      |  FROM (SELECT * FROM query_m UNION ALL SELECT * FROM phrase_m) GROUP BY doc_id),
      |slow_m AS (SELECT DISTINCT doc_id FROM tfc WHERE tok = 'slow')
      |SELECT sm.doc_id, CAST(sm.s + o.s AS BIGINT) AS score
      |FROM spark_m sm JOIN orpart o USING (doc_id)
      |WHERE sm.doc_id NOT IN (SELECT doc_id FROM slow_m)""".stripMargin

  /** FIELD-SCOPED query term (`source:src3`) AND'd with a default-field
    * term — the `bio:engineer` surface of the reference's parser. */
  private def q62TextFieldScoped(s: SparkSession, dir: String): DataFrame =
    graft.text.QueryLang.run(fieldedPostings(s, dir), "source:src3 AND vector", "text")

  private val q62Sql =
    """WITH toks AS (
      |  SELECT doc_id, UNNEST(LIST_FILTER(
      |    REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'), x -> LEN(x) > 0)) AS tok
      |  FROM documents),
      |vector_m AS (SELECT doc_id, COUNT(*) AS c FROM toks WHERE tok = 'vector' GROUP BY doc_id),
      |src_m AS (SELECT doc_id, 1 AS c FROM documents WHERE LOWER(TRIM(source)) = 'src3')
      |SELECT v.doc_id, CAST(s.c + v.c AS BIGINT) AS score
      |FROM vector_m v JOIN src_m s USING (doc_id)""".stripMargin

  /** PREFIX query (`s*`, Lucene trailing-wildcard surface — the stock
    * QueryParser accepts `engineer*` for free, `HDFSQueryEngine.java:
    * 75-82`) AND'd with a plain term: the prefix compiles to a range
    * scan of the term-sorted postings ([s, t) bounds reach the parquet
    * row-group stats), scoring the summed tf of every matching term
    * (6 distinct terms on this corpus). Oracle recomputes with LIKE. */
  private def q65TextPrefix(s: SparkSession, dir: String): DataFrame =
    graft.text.QueryLang.run(fieldedPostings(s, dir), "s* AND part", "text")

  private val q65Sql =
    """WITH toks AS (
      |  SELECT doc_id, UNNEST(LIST_FILTER(
      |    REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'), x -> LEN(x) > 0)) AS tok
      |  FROM documents),
      |pm AS (SELECT doc_id, COUNT(*) AS c FROM toks WHERE tok LIKE 's%' GROUP BY doc_id),
      |tm AS (SELECT doc_id, COUNT(*) AS c FROM toks WHERE tok = 'part' GROUP BY doc_id)
      |SELECT pm.doc_id, CAST(pm.c + tm.c AS BIGINT) AS score
      |FROM pm JOIN tm USING (doc_id)""".stripMargin

  /** Block-granular text index scan (Lucene DocType.BLOCK analog): find
    * docs containing a term via the term->byte-range index over a
    * multi-file copy of documents; oracle is the plain contains filter. */
  private def q38TextBlockScan(s: SparkSession, dir: String): DataFrame = {
    val dataDir = Artifact.ensure(s, dir, "docs_data",
        Artifact.fingerprint(s, s"$dir/documents.parquet")) { d =>
      Tables.documents(s, dir).repartitionByRange(4, col("doc_id")).write.parquet(d)
    }
    val indexRoot = s"${Artifact.root(dir)}/docs_text_index"
    synchronized(graft.text.BlockTextIndex.build(s, dataDir, "text", indexRoot))
    graft.text.BlockTextIndex.scanForTerm(s, dataDir, "text", "dup", indexRoot)
      ._1.select("doc_id", "lang")
  }

  private val q38Sql =
    """SELECT doc_id, lang FROM documents
      |WHERE LIST_CONTAINS(
      |  LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'), x -> LEN(x) > 0),
      |  'dup')""".stripMargin

  /** Query terms for q126 — two planted typos (a substitution of "scan",
    * a deletion from "table") and one exact vocabulary word. */
  private val FuzzyQueries = Seq("scon", "tble", "hash")

  /** All one-character deletions of `t`, plus `t` itself — the SymSpell
    * deletion neighborhood (Garbe's symmetric-delete algorithm): two
    * terms within Levenshtein distance 1 ALWAYS share a member (equal →
    * the original; substitution → delete the differing position from
    * both; insertion/deletion → the shorter string is itself a variant
    * of the longer), so the variant equi-join is a complete candidate
    * generator and only transposition-style false positives reach the
    * exact verify. */
  private def delVariants(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_union(array(t),
      transform(sequence(lit(1), length(t)),
        i => concat(substr(t, lit(1), i - 1), substr(t, i + 1, length(t)))))

  /** FUZZY TERM MATCH (typo-tolerant lookup): every vocabulary term
    * within edit distance 1 of each query term, with its document
    * frequency — the "did you mean" / dirty-OCR recovery primitive of a
    * text pipeline. SymSpell candidate generation + exact
    * `levenshtein` verify, the engine's standard approximate-then-exact
    * shape (q25/q53's pattern on strings).
    *
    * Scale shape: a length-L term emits L+1 deletion variants, so the
    * index is (L+1)·|vocab| short rows — built once per corpus and, at
    * scale, persisted next to the postings index; the query side's
    * variants BROADCAST, so lookup is a map-side hash join over the
    * variant index however large the vocabulary, never a per-query
    * vocabulary scan (which is exactly what the DuckDB oracle does —
    * index path ≡ scan path, the text-index differential again). */
  private def q126FuzzyTerms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // df = docs containing the term: dedup INSIDE the token array (free,
    // map-side) so the shuffle carries distinct (doc, term) pairs and
    // the aggregate is a plain pre-combined count, not a COUNT DISTINCT
    // over the raw token stream
    val vocab = graft.dedup.Dedup.tokenTable(Tables.documents(s, dir), "doc_id", "text")
      .select(explode(array_distinct(col("toks"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val vIndex = vocab.select(col("term"), col("df"),
      explode(delVariants(col("term"))).as("variant"))
    val qIndex = FuzzyQueries.toDF("query")
      .select(col("query"), explode(delVariants(col("query"))).as("variant"))
    vIndex.join(broadcast(qIndex), "variant")
      .select(col("query"), col("term"), col("df"))
      .distinct()
      .filter(levenshtein(col("query"), col("term")) <= 1)
  }

  private val q126Sql =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    UNNEST(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+'),
       |                       x -> LEN(x) > 0)) AS term
       |  FROM documents),
       |vocab AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
       |q AS (SELECT UNNEST(['scon', 'tble', 'hash']) AS query)
       |SELECT q.query, v.term, CAST(v.df AS BIGINT) AS df
       |FROM q CROSS JOIN vocab v
       |WHERE LEVENSHTEIN(q.query, v.term) <= 1""".stripMargin

  /** TOP-K SEARCH THROUGH AN UPSERT-MAINTAINED POSTINGS HISTORY
    * (r18 — the oracle gate on the new text lifecycle's resolution-
    * bearing regime): gen 0 indexes the FULL corpus, then the delta
    * batch is RE-INGESTED WITH CHANGED CONTENT (each delta doc gains a
    * trailing `graftmark` token) as an UNDECLARED append — the
    * re-crawled-documents scenario. The live read resolves at the
    * document level through the bounded tracked-upsert regime: the
    * delta docs' gen-0 rows are superseded ENTIRELY (their old token
    * counts must not leak into scores), the new `graftmark` rows rank,
    * and untouched docs stay a plain pruned read behind the broadcast
    * anti-join. The oracle recomputes top-k from the CURRENT corpus
    * (raw text with the delta docs' modification applied in SQL) — the
    * maintained index path must equal the from-scratch scan of the
    * corpus as it now stands. */
  /** The UPSERT-history store behind q173/q178: gen 0 indexes the FULL
    * corpus, gen 1 re-ingests the delta batch WITH CHANGED CONTENT
    * (each delta doc gains a trailing `graftmark` token) as an
    * UNDECLARED append — the re-crawled-documents scenario. */
  private def upsertStoreDir(s: SparkSession, dir: String): String =
    ensureStore(s, dir, "text_postings_u", "u") { (docs, d) =>
      PostingsStore.build(docs, d)
      PostingsStore.append(
        docs.filter(isDelta)
          .withColumn("text", concat(col("text"), lit(" graftmark"))),
        d) // undeclared: the bounded doc-level resolution regime
    }

  /** The TAKEDOWN-history store behind q176: gen 0 indexes the full
    * corpus, then the standard delta batch's ids arrive as a DELETED-IDS
    * batch (the GDPR/opt-out feed) — one tombstone generation via
    * [[PostingsStore.delete]], no compact. */
  private def takedownStoreDir(s: SparkSession, dir: String): String =
    ensureStore(s, dir, "text_postings_d", "d") { (docs, d) =>
      PostingsStore.build(docs, d)
      PostingsStore.delete(docs.filter(isDelta).select("doc_id"), d)
    }

  /** The HORIZON-COMPACTED store behind q181: gen 0 indexes the full
    * corpus, gen 1 re-ingests the delta with ONE trailing `graftmark`
    * (undeclared), gen 2 re-ingests it again with TWO (undeclared) —
    * then `compactThrough(1)` squashes gens 0–1 into one resolved base
    * generation AT clock 1 while gen 2 survives byte-identical. The
    * retention story: yesterday's deep history is reclaimed, this
    * week's stays reproducible. */
  private def horizonStoreDir(s: SparkSession, dir: String): String =
    ensureStore(s, dir, "text_postings_hz", "hz") { (docs, d) =>
      PostingsStore.build(docs, d)
      PostingsStore.append(
        docs.filter(isDelta)
          .withColumn("text", concat(col("text"), lit(" graftmark"))), d)
      PostingsStore.append(
        docs.filter(isDelta)
          .withColumn("text",
            concat(col("text"), lit(" graftmark graftmark"))), d)
      GenStore.compactThrough(s, d, 1L)
    }

  /** Pre-build every per-corpus postings store — the bench calls this
    * UNTIMED (artifact builds are ingest cost, not read cost; r18 #5),
    * and each ensure is fingerprint-gated so a warm dir is a no-op. */
  def ensureStores(s: SparkSession, sfDir: String): Unit = {
    postingsDirM(s, sfDir): Unit
    ensurePostings(s, sfDir, "fielded_postings_m",
      Seq("text" -> "text", "source" -> "source"), deltaNewIds = true): Unit
    upsertStoreDir(s, sfDir): Unit
    takedownStoreDir(s, sfDir): Unit
    horizonStoreDir(s, sfDir): Unit
  }

  private def q173TextMaintainedUpsert(s: SparkSession, dir: String): DataFrame = {
    val d = upsertStoreDir(s, dir)
    TextIndex.searchTopK(
      PostingsStore.live(s, d, terms = Some(Seq("merge", "graftmark"))),
      Seq("merge", "graftmark"), 10)
  }

  private val q173Sql =
    """WITH cur AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 6 THEN text || ' graftmark' ELSE text END AS text
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+')) AS tok
      |  FROM cur),
      |hits AS (
      |  SELECT doc_id, COUNT(*) AS score FROM toks
      |  WHERE tok IN ('merge', 'graftmark') GROUP BY doc_id)
      |SELECT doc_id, score FROM hits
      |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** TOP-K SEARCH AFTER AN INCREMENTAL TAKEDOWN (r19 — the delete verb
    * under the DuckDB gate): the maintained store indexed the FULL
    * corpus, then the delta batch's ids were DELETED as one tombstone
    * generation ([[PostingsStore.delete]] — no compact, no corpus
    * rewrite). Every read regime must resolve the deleted docs to their
    * sentinel generation and drop them: the oracle recomputes top-k
    * from the corpus MINUS the takedowns, so a single leaked (or
    * over-deleted) doc flips the hash compare. */
  private def q176TextTakedown(s: SparkSession, dir: String): DataFrame = {
    val d = takedownStoreDir(s, dir)
    TextIndex.searchTopK(
      PostingsStore.live(s, d, terms = Some(Seq("merge", "join"))),
      Seq("merge", "join"), 10)
  }

  private val q176Sql =
    """WITH cur AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 6),
      |toks AS (
      |  SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+')) AS tok
      |  FROM cur),
      |hits AS (
      |  SELECT doc_id, COUNT(*) AS score FROM toks
      |  WHERE tok IN ('merge', 'join') GROUP BY doc_id)
      |SELECT doc_id, score FROM hits
      |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** AS-OF-GENERATION SEARCH (r19 — time-travel under the DuckDB gate):
    * the same upsert history as q173 (gen 0 = the full corpus, gen 1 =
    * the delta re-ingested with changed content), read AS OF GENERATION
    * 0 — "reproduce yesterday's corpus exactly", the reproducibility
    * requirement the deterministic-sampling operators exist to serve.
    * The as-of read must serve the PRE-APPEND state: no `graftmark`
    * token exists at gen 0, so the oracle recomputes from the
    * UNMODIFIED corpus — a single gen-1 row leaking past the as-of
    * commit pointer would surface a graftmark hit and flip the
    * compare. */
  private def q178TextAsOf(s: SparkSession, dir: String): DataFrame = {
    val d = upsertStoreDir(s, dir)
    TextIndex.searchTopK(
      PostingsStore.live(s, d, terms = Some(Seq("merge", "graftmark")),
        asOfGen = Some(0L)),
      Seq("merge", "graftmark"), 10)
  }

  private val q178Sql =
    """WITH toks AS (
      |  SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+')) AS tok
      |  FROM documents),
      |hits AS (
      |  SELECT doc_id, COUNT(*) AS score FROM toks
      |  WHERE tok IN ('merge', 'graftmark') GROUP BY doc_id)
      |SELECT doc_id, score FROM hits
      |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** SEARCH AS-OF THROUGH A HORIZON-COMPACTED HISTORY (r19 — the
    * retention-window compact under the DuckDB gate): the store's gens
    * 0–1 were SQUASHED into one resolved base generation at clock 1
    * ([[GenStore.compactThrough]]) after a gen-2 re-ingest landed
    * on top — so the `asOf(1)` read is served from the squashed base
    * with gen 2 partition-pruned away. The oracle recomputes from the
    * corpus WITH the gen-1 modification applied (each delta doc one
    * trailing `graftmark`): a squash that lost the gen-1 upsert (or a
    * gen-2 row leaking past the as-of pointer — its docs carry THREE
    * graftmark tokens) flips the compare. `asOf(0)` on this store
    * throws (below the horizon) — that contract is spec-pinned, the
    * oracle gates the surviving read. */
  private def q181TextAsOfHorizon(s: SparkSession, dir: String): DataFrame = {
    val d = horizonStoreDir(s, dir)
    TextIndex.searchTopK(
      PostingsStore.live(s, d, terms = Some(Seq("merge", "graftmark")),
        asOfGen = Some(1L)),
      Seq("merge", "graftmark"), 10)
  }

  override def queries: Seq[Q] = Seq(
    Q("q21_text_topk", q21TextTopK, Some(q21Sql)),
    Q("q173_text_maintained_upsert", q173TextMaintainedUpsert, Some(q173Sql)),
    Q("q176_text_takedown", q176TextTakedown, Some(q176Sql)),
    Q("q178_text_asof", q178TextAsOf, Some(q178Sql)),
    // same oracle as q173 BY DESIGN: asOf(1) through the squashed base
    // must equal the corpus with exactly the gen-1 modification applied
    Q("q181_text_asof_horizon", q181TextAsOfHorizon, Some(q173Sql)),
    Q("q126_fuzzy_terms", q126FuzzyTerms, Some(q126Sql)),
    Q("q22_text_count", q22TextCount, Some(q22Sql)),
    Q("q23_text_sample", q23TextSample, Some(q23Sql)),
    Q("q38_text_block_scan", q38TextBlockScan, Some(q38Sql)),
    Q("q54_text_and", q54TextAnd, Some(q54Sql)),
    Q("q55_text_phrase", q55TextPhrase, Some(q55Sql)),
    Q("q56_text_bm25", q56TextBm25, Some(q56Sql)),
    Q("q61_text_querylang", q61TextQueryLang, Some(q61Sql)),
    Q("q62_text_field_scoped", q62TextFieldScoped, Some(q62Sql)),
    Q("q65_text_prefix", q65TextPrefix, Some(q65Sql)))
}
