package graft

import graft.dedup.Dedup
import graft.functions.{TextFunctions, Vectors}
import graft.similarity.Ann
import graft.text.TextIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit-level behavior of the dedup / similarity / text operators that
  * the DuckDB gate can't see (recall bounds, edge cases, invariants). */
class OperatorsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("OperatorsSpec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  /** Fixture datasets live under a fresh directory per run. */
  private lazy val fixtures = java.nio.file.Files.createTempDirectory("operators").toString

  test("wordShingles: fewer than n tokens yields empty, shingles distinct") {
    import spark.implicits._
    val df = Seq("a b", "a b c d", "x x x x").toDF("text")
      .select(TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3).as("sh"))
    val got = df.collect().map(_.getSeq[String](0))
    assert(got(0) == Seq.empty)
    assert(got(1) == Seq("a b c", "b c d"))
    assert(got(2) == Seq("x x x")) // distinct collapses repeats
  }

  test("wordNGrams keeps multiplicity; repetitionStats counts it") {
    import spark.implicits._
    val grams = Seq("x y x y x").toDF("text")
      .select(TextFunctions.wordNGrams(TextFunctions.tokens(col("text")), 2).as("g"))
      .first().getSeq[String](0)
    assert(grams == Seq("x y", "y x", "x y", "y x")) // no dedupe
    val stats = graft.operators.TextAnalysisQueries.repetitionStats(
        Seq((1L, "x y x y x"), (2L, "a b c d e"), (3L, "q")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5))).toMap
    // doc 1: grams (x y)x2 (y x)x2 -> top2=2, rep_occ=4, n2=4; both flags fail
    assert(stats(1L) == ((2L, 4L, 4L, false, false)))
    // doc 2: all grams unique -> top2=1, rep_occ=0; top 1*10<=4 fails, rep ok
    assert(stats(2L) == ((1L, 0L, 4L, false, true)))
    assert(!stats.contains(3L)) // <2 tokens: no grams, no row
  }

  test("redactPii scrubs emails and phones, untouched text passes through") {
    import spark.implicits._
    val got = Seq(
      "mail me at jo.doe@site.org or call 555-0199 or 555-1234",
      "no pii here").toDF("t")
      .select(TextFunctions.redactPii(col("t")).as("r"),
        regexp_count(col("t"), lit(TextFunctions.EmailRe)).as("ne"),
        regexp_count(col("t"), lit(TextFunctions.PhoneRe)).as("np"))
      .collect()
    assert(got(0).getString(0) == "mail me at <EMAIL> or call <PHONE> or <PHONE>")
    assert(got(0).getInt(1) == 1 && got(0).getInt(2) == 2)
    assert(got(1).getString(0) == "no pii here")
    assert(got(1).getInt(1) == 0 && got(1).getInt(2) == 0)
  }

  test("cosine of a vector with itself is 1.0") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val c = df.select(Vectors.cosine(col("a"), col("b"))).first().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("native dot product is bit-identical to the HOF fold on real embeddings") {
    val emb = Tables.embeddings(spark, sfDir).limit(50)
    val a = emb.select(col("vec_id").as("i"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("j"), col("embedding").as("vb"))
    val pairs = a.crossJoin(b).filter(col("i") < col("j"))
    val diff = pairs.select(
        Vectors.dot(col("va"), col("vb")).as("native"),
        Vectors.dotHof(col("va"), col("vb")).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diff == 0L, "codegen dot must match the HOF fold exactly")
  }

  test("dot product handles null arrays and length mismatch") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f, 9.0f))),
      (None, Some(Seq(1.0f)))).toDF("a", "b")
    // mismatched lengths null the result, same as the HOF baseline
    // (zip_with pads with nulls and null*x propagates through the fold)
    val rows = df.select(
      Vectors.dot(col("a"), col("b")).as("native"),
      Vectors.dotHof(col("a"), col("b")).as("hof")).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
  }

  test("dot product nulls out on null ELEMENTS, matching the HOF baseline") {
    import spark.implicits._
    val df = Seq(
      (Seq(Some(1.0f), None, Some(2.0f)), Seq(Some(1.0f), Some(1.0f), Some(1.0f))),
      (Seq(Some(1.0f), Some(2.0f)), Seq(Some(3.0f), Some(4.0f)))).toDF("a", "b")
    val rows = df.select(
      Vectors.dot(col("a"), col("b")).as("native"),
      Vectors.dotHof(col("a"), col("b")).as("hof")).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(1).getDouble(0) == 11.0 && rows(1).getDouble(1) == 11.0)
  }

  test("saltedJoin rejects join types it cannot preserve") {
    val e = Tables.events(spark, sfDir)
    val users = e.select(col("user_id")).distinct()
    intercept[IllegalArgumentException] {
      graft.operators.Skew.saltedJoin(e, users, "user_id", 4, "right")
    }
  }

  test("identical texts get identical simhash; disjoint texts differ") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark merge table scan query filter join"),
      (2L, "spark merge table scan query filter join"),
      (3L, "zebra yak xylophone walrus vulture termite")).toDF("doc_id", "text")
    val fp = Dedup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) > 10)
  }

  test("minhash LSH pairs match exact ngram jaccard pairs on documents") {
    val docs = Tables.documents(spark, sfDir)
    val exact = Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minHashDedupPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(mh == exact)
  }

  test("LSH ANN recall@5 vs brute force is reasonable") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val bf = Ann.bruteForceTopK(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall >= 0.5, s"LSH recall@5 too low: $recall")
  }

  test("LSH near-dup pairs: exact precision, reasonable recall vs n^2 truth") {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Ann.cosineNearDupPairs(emb, 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshNearDupPairs(emb, 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "every LSH pair must pass the exact threshold (precision 1.0)")
    if (exact.nonEmpty)
      assert(lsh.size.toDouble / exact.size >= 0.5,
        s"recall too low: ${lsh.size}/${exact.size}")
  }

  test("LSH paths return empty results on an empty corpus (no crash)") {
    val empty = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 0)
    assert(Ann.lshNearDupPairs(empty, 0.5).count() == 0)
    assert(Ann.lshTopK(empty, empty, 5).count() == 0)
  }

  test("IVF ANN recall@5 vs brute force; Lloyd refinement does not hurt it") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val bf = Ann.bruteForceTopK(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(iters: Int, nprobe: Int): (Double, Array[org.apache.spark.sql.Row]) = {
      val rows = Ann.ivfTopK(emb, queries, 5, nlist = 16, nprobe = nprobe,
        lloydIters = iters).collect()
      val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      ((bf & got).size.toDouble / bf.size, rows)
    }
    // this corpus is ISOTROPIC (within-label avg cosine ~ cross-label):
    // Lloyd cannot sharpen structureless data, so here we only require
    // the registered configuration stays strong at generous probing —
    // the structured-corpus win is asserted in the next test
    val (recall8, rows) = recallOf(2, 8)
    assert(recall8 >= 0.6, s"IVF recall@5 at nprobe=8 too low: $recall8")
    // each query returns at most k ranks, 1..n with no gaps
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      val ranks = rs.map(_.getInt(2)).sorted
      assert(ranks.length <= 5 && ranks.sameElements(1 to ranks.length))
    }
  }

  test("Lloyd refinement beats seed centroids at tight probing on CLUSTERED data") {
    // derive a clustered corpus from real vectors: 8 centers (the first
    // 8 embeddings), each member pulled 80% toward its center — the
    // data shape IVF k-means exists for (the natural corpus is
    // isotropic, where no centroid choice can matter)
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val centers = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    val clustered = emb.withColumn("c_id", col("vec_id") % 8)
      .join(broadcast(centers), "c_id")
      .select(col("vec_id"),
        zip_with(col("cv"), col("embedding"),
          (c, x) => c * lit(0.6f) + x * lit(0.4f)).as("embedding"))
    val queries = clustered.filter(col("vec_id") < 10)
    val bf = Ann.bruteForceTopK(clustered, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(iters: Int): Double = {
      val got = Ann.ivfTopK(clustered, queries, 5, nlist = 16, nprobe = 1,
        lloydIters = iters).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (bf & got).size.toDouble / bf.size
    }
    val seed = recallOf(0)
    val lloyd = recallOf(2)
    info(s"clustered-corpus IVF recall@5 at nprobe=1: seed $seed vs lloyd $lloyd")
    // small tolerance: recall moves in 1/|bf| quanta and a boundary
    // assignment can flip on last-ulp centroid arithmetic
    assert(lloyd >= seed - 0.04,
      s"Lloyd must not lose on clustered data: $seed -> $lloyd")
    assert(lloyd >= 0.8, s"refined recall on clustered data too low: $lloyd")
  }

  test("text search top-k is deterministically ordered and capped") {
    val postings = TextIndex.buildPostings(Tables.documents(spark, sfDir), "doc_id", "text")
    val top = TextIndex.searchTopK(postings, Seq("spark", "query"), 5).collect()
    assert(top.length == 5)
    val scores = top.map(_.getLong(1))
    assert(scores.sameElements(scores.sortBy(-_)))
  }

  test("approx_count_distinct stays within its error bound") {
    // q40's registered output IS the bound check: (event_type,
    // exact_users, hll_ok) with hll_ok = |approx-exact| <= 5% of exact
    val rows = SparkEntry.queries("q40_approx_distinct")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0, s"empty group ${r.getString(0)}")
      assert(r.getBoolean(2),
        s"HLL error above 5% for ${r.getString(0)} (exact=${r.getLong(1)})")
    }
  }

  test("simhash maxHamming=0 buckets by the full fingerprint (no mask wrap)") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    // hamming 0 = identical fingerprints; with the 1L<<64 wrap bug every
    // doc landed in bucket 0 and this degenerated to all-pairs
    val pairs = Dedup.simHashDedupPairs(docs, "doc_id", "text", 3, 0.8, maxHamming = 0)
    val fps = Dedup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.collect().foreach { r =>
      assert(fps(r.getLong(0)) == fps(r.getLong(1)),
        "maxHamming=0 pairs must have identical fingerprints")
    }
  }

  test("contamination hit counts match a driver-side set intersection") {
    val docs = Tables.documents(spark, sfDir)
    val grams = docs.select(col("doc_id"),
      TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3).as("s"))
    // independent oracle: collect the eval-gram set and intersect each
    // non-eval doc's gram array driver-side (a different plan from the
    // query's broadcast semi-join)
    val evalSet = grams.filter(col("doc_id") < 20)
      .select(explode(col("s")).as("g")).distinct()
      .collect().map(_.getString(0)).toSet
    val expected = grams.filter(col("doc_id") >= 20).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).count(evalSet).toLong)
      .filter(_._2 > 0).toMap
    val got = SparkEntry.queries("q69_contamination")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty, "corpus shares no grams with the eval set")
    assert(got == expected)
  }

  test("vocab counts match a driver-side wordcount") {
    val docs = Tables.documents(spark, sfDir)
    val all = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val occ = all.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val dfq = all.distinct.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expected = occ.filter(_._2 >= 50)
      .map { case (t, n) => t -> ((n, dfq(t))) }
    val got = SparkEntry.queries("q70_vocab")(spark, sfDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.nonEmpty, "no token reaches the occurrence threshold")
    assert(got == expected)
  }

  test("stratified sample caps large strata and keeps small ones whole") {
    val docs = Tables.documents(spark, sfDir)
    val strata = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // independent oracle: recompute the hash threshold in plain Scala
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .take(2).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val expected = docs.select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter { case (id, lang) => bucket(id) * strata(lang) < 100L * 65536L }
      .toSet
    val got = SparkEntry.queries("q71_stratified_sample")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == expected)
    val kept = got.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    strata.foreach { case (lang, n) =>
      if (n <= 100) assert(kept(lang) == n, s"small stratum $lang must be kept whole")
      else assert(kept(lang) > 50 && kept(lang) < 150,
        s"stratum $lang: expected ~100 of $n kept, got ${kept(lang)}")
    }
  }

  test("exact dedup keeps the smallest id per digest") {
    import spark.implicits._
    val docs = Seq((5L, "same text"), (2L, "same text"), (9L, "other")).toDF("doc_id", "text")
    val got = Dedup.exactDedup(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 2L), (9L, 1L)))
  }

  test("keep-best picks the longest doc per source, ties to the smallest id") {
    // independent oracle: driver-side argmax with the same total order
    val docs = Tables.documents(spark, sfDir)
      .select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = docs.groupBy(_._1).view.mapValues(
      _.maxBy { case (_, id, n) => (n, -id) }).values.toSet
    val got = SparkEntry.queries("q72_keep_best")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("doc chunks tile the token stream: strided starts, clipped tails") {
    val got = SparkEntry.queries("q73_doc_chunks")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(got.nonEmpty)
    val byDoc = got.groupBy(_._1)
    val nToks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(TextFunctions.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    byDoc.foreach { case (doc, chunks) =>
      val n = nToks(doc)
      val starts = chunks.map(_._2).sorted.toList
      assert(starts == (1 to n by 48).toList,
        s"doc $doc strides wrong: ${starts.mkString(",")}")
      chunks.foreach { case (_, start, len) =>
        assert(len == math.min(64, n - start + 1), s"doc $doc chunk at $start")
      }
    }
  }

  test("semantic dedup: scaled copies share their original's cell and only the copy drops") {
    import spark.implicits._
    // 8 orthogonal unit vectors (pairwise cosine 0) + exact x0.5 copies
    // of the first 3 (cosine 1.0 to their originals, scale-invariant
    // cell scores => provably the same cell)
    val base = (0L until 8L).map { i =>
      (i, Array.tabulate(8)(d => if (d == i) 1f else 0f))
    }
    val copies = base.take(3).map { case (i, v) => (i + 1000L, v.map(_ * 0.5f)) }
    val emb = (base ++ copies).toDF("vec_id", "embedding")
    val d = Ann.semanticDedup(emb, 0.95, nlist = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    copies.foreach { case (cid, _) =>
      val (origCell, origKept) = d(cid - 1000L)
      val (copyCell, copyKept) = d(cid)
      assert(copyCell == origCell, s"copy $cid must land in its original's cell")
      assert(origKept && !copyKept, s"original kept, copy $cid dropped")
    }
    assert(d.values.count(_._2) == 8, "every vector without a close neighbor is kept")
  }

  test("paragraph dedup drops cross-doc repeated blocks from ALL docs, keeps within-doc repeats") {
    import spark.implicits._
    // blocks are 20 tokens; four docs, block-aligned by construction:
    //  d1 = [shared][u1], d2 = [shared][u2]  -> shared recurs in 2 docs, dropped from both
    //  d3 = [u3]                             -> untouched
    //  d4 = [rep][rep]                       -> repeats only WITHIN d4 (doc-df = 1), kept
    def blk(p: String) = (0 until 20).map(i => s"$p$i").mkString(" ")
    Seq(
      (1L, blk("s") + " " + blk("u1")),
      (2L, blk("s") + " " + blk("u2")),
      (3L, blk("u3")),
      (4L, blk("rep") + " " + blk("rep"))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_para_docs/documents.parquet")
    val got = SparkEntry.queries("q75_para_dedup")(spark, s"$fixtures/test_para_docs")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((2L, 1L)) && got(2L) == ((2L, 1L)),
      "the shared block must be dropped from BOTH carriers (boilerplate, not canonical-copy)")
    assert(got(3L) == ((1L, 1L)))
    assert(got(4L) == ((2L, 2L)),
      "a block repeated only within one doc has doc-frequency 1 and must survive")
  }

  test("DSIR weights tilt toward the target domain: en-typical positive, off-domain negative") {
    import spark.implicits._
    Seq(
      (1L, "alpha alpha alpha", "en"),
      (2L, "beta beta beta", "fr")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$fixtures/test_dsir_docs/documents.parquet")
    val got = SparkEntry.queries("q76_dsir_weights")(spark, s"$fixtures/test_dsir_docs")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // alpha's bucket: target count 3 of 3, raw 3 of 6 -> ratio > 1 -> positive;
    // beta's bucket: target count 0 (smoothed) -> ratio < 1 -> negative
    assert(got(1L) > 0, s"target-typical doc must weigh positive, got ${got(1L)}")
    assert(got(2L) < 0, s"off-domain doc must weigh negative, got ${got(2L)}")
    assert(got(1L) > got(2L))
  }

  test("unigram-LM score is order-correct: rare-token docs score higher") {
    import spark.implicits._
    // 'zzz' appears once in a 4-token corpus; 'the' three times
    Seq((1L, "the the the"), (2L, "zzz")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_lm_docs/documents.parquet")
    // q74 reads the documents table from a dir; point it at the fixture
    val fixture = s"$fixtures/test_lm_docs"
    val got = SparkEntry.queries("q74_unigram_lm")(spark, fixture)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // -ln(3/4) ~= 0.2877 ; -ln(1/4) ~= 1.3863
    assert(math.abs(got(1L) - 0.287682) < 1e-6)
    assert(math.abs(got(2L) - 1.386294) < 1e-6)
    assert(got(2L) > got(1L), "rare tokens must score higher than common ones")
  }

  test("train split partitions the corpus 90/5/5 into bounded shards") {
    import spark.implicits._
    (0L until 1000L).map(i => (i, 10L)).toDF("doc_id", "n_chars")
      .write.mode("overwrite").parquet(s"$fixtures/test_split_docs/documents.parquet")
    val rows = SparkEntry.queries("q81_train_split")(spark, s"$fixtures/test_split_docs")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._3).sum == 1000L, "splits must partition every doc exactly once")
    assert(rows.map(_._4).sum == 10000L)
    assert(rows.map(_._1).toSet.subsetOf(Set("train", "val", "test")))
    assert(rows.forall(r => r._2 >= 0 && r._2 < 8), "shard ids must be 0..NumShards-1")
    val train = rows.filter(_._1 == "train").map(_._3).sum
    assert(train > 850 && train < 950,
      s"train fraction must sit near 0.90 of 1000 docs, got $train")
  }

  test("tfidf keywords: corpus-global df, slice-local tf, exact score") {
    import spark.implicits._
    Seq(
      (1L, "apple apple apple common"),
      (2L, "common banana"),
      (3L, "common common")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_tfidf_docs/documents.parquet")
    val got = SparkEntry.queries("q82_tfidf_terms")(spark, s"$fixtures/test_tfidf_docs")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // only (d1, apple) clears tf >= 3; common has tf <= 2 everywhere
    assert(got.toSeq == Seq((1L, "apple", 3L, 1L, 3.295837)),
      s"expected the one planted keyword row, got ${got.toSeq}")
  }

  test("BPE merge picks the top sliding pair but applies greedily non-overlapping") {
    import spark.implicits._
    // vocab: aaa x5, ab x3, ba x2. Sliding pairs: aa=10 (two per 'aaa'),
    // ab=3, ba=2 -> top = aa. Applying: 'aaa' takes ONE aa merge
    // (greedy left-to-right), so n_types=1, n_apply = 1 * 5.
    Seq((1L, "aaa aaa aaa aaa aaa ab ab ab ba ba")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_bpe_docs/documents.parquet")
    val got = SparkEntry.queries("q86_bpe_merge")(spark, s"$fixtures/test_bpe_docs")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("aa", 10L, 1L, 5L)),
      s"expected the hand-computed merge report, got ${got.toSeq}")
  }

  test("BPE encode: priority-ordered static merges, greedy non-overlap, exact digest") {
    import spark.implicits._
    // vocab: abab x2, aaa x1, cd x1. Static sliding pairs (corpus-
    // weighted): ab=4, ba=2, aa=2, cd=1 -> merge ranks (count desc,
    // pair asc): ab=U+E000, aa=U+E001 (tie with ba broken lexically),
    // ba=U+E002, cd=U+E003.
    //  abab -> replace ab: \ue000\ue000 (later merges see merge RESULTS
    //          as single symbols -> ba never fires inside it)
    //  aaa  -> replace aa greedy left-to-right non-overlapping:
    //          \ue001a (2 ids, NOT 1 — 'aaa' takes ONE aa merge)
    //  cd   -> \ue003
    Seq((7L, "abab abab aaa cd")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_bpe_enc/documents.parquet")
    val got = SparkEntry.queries("q159_bpe_encode")(spark, s"$fixtures/test_bpe_enc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val seq = Seq("\ue000\ue000", "\ue000\ue000", "\ue001a", "\ue003")
      .mkString(" ")
    val md = java.security.MessageDigest.getInstance("MD5")
    val expectDigest = md.digest(seq.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got.toSeq == Seq((7L, 4L, 7L, expectDigest)),
      s"expected the hand-computed encode row, got ${got.toSeq}")
  }

  test("BPE encode with no learnable pairs is the identity encoding") {
    import spark.implicits._
    // all tokens are single chars -> the pair table is EMPTY, the merge
    // fold is a no-op, and the encode must degrade to the normalized
    // token stream itself (n_ids = n_toks here, one char per token)
    Seq((3L, "a b c"), (4L, "   ")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_bpe_id/documents.parquet")
    val got = SparkEntry.queries("q159_bpe_encode")(spark, s"$fixtures/test_bpe_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val md = java.security.MessageDigest.getInstance("MD5")
    val expectDigest = md.digest("a b c".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // doc 4 (whitespace only -> zero tokens) must drop out entirely
    assert(got.toSeq == Seq((3L, 3L, 3L, expectDigest)),
      s"expected the identity encode of doc 3 only, got ${got.toSeq}")
  }

  test("syndication report spans clusters across sources; singletons are excluded") {
    import spark.implicits._
    val article = (1 to 30).map(i => s"a$i").mkString(" ")
    val local = (1 to 30).map(i => s"b$i").mkString(" ")
    Seq(
      (1L, article, "en", "siteA"),   // 3-copy cluster across 2 sources,
      (2L, article, "en", "siteB"),   // 2 langs -> the syndication signal
      (3L, article, "fr", "siteB"),
      (10L, local, "en", "siteC"),    // 2-copy cluster inside ONE source
      (11L, local, "en", "siteC"),
      (20L, (1 to 30).map(i => s"c$i").mkString(" "), "en", "siteD")) // singleton
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$fixtures/test_synd_docs/documents.parquet")
    val got = SparkEntry.queries("q85_syndication")(spark, s"$fixtures/test_synd_docs")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(1L -> ((3L, 2L, 2L)), 10L -> ((2L, 1L, 1L))),
      s"expected the two planted clusters keyed by min doc_id, got $got")
  }

  test("mix budget caps dominant sources and allocates epochs by capped share") {
    import spark.implicits._
    // source "big": 3 docs x 20k+ tokens -> capped at 20000
    // source "small": 1 doc x 100 tokens -> kept whole
    val bigDoc = (1 to 10000).map(_ => "w").mkString(" ") // 10k tokens
    Seq(
      (1L, bigDoc, "big"), (2L, bigDoc, "big"), (3L, bigDoc, "big"),
      (4L, (1 to 100).map(_ => "v").mkString(" "), "small"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$fixtures/test_mix_docs/documents.parquet")
    val got = SparkEntry.queries("q84_mix_budget")(spark, s"$fixtures/test_mix_docs")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    // total_alloc = 20000 + 100 = 20100
    assert(got("big") == ((3L, 30000L, 20000L,
      math.rint(20000.0 / 20100 * 1e6) / 1e6,
      // same division chain as the query (divide twice, never multiply
      // the two long denominators — ANSI overflow at real scale)
      math.rint((200000L * 20000L).toDouble / 20100 / 30000 * 1e6) / 1e6)),
      s"capped source: got ${got("big")}")
    assert(got("small")._3 == 100L, "an under-cap source keeps its full token count")
    assert(got("small")._5 > 1.0,
      "a tiny source under a capped mixture must be oversampled (epochs > 1)")
  }

  test("minhash decontamination pairs eval docs with corpus copies only across the boundary") {
    import spark.implicits._
    val evalText = (1 to 10).map(i => s"w$i").mkString(" ")
    Seq(
      (1L, evalText),            // eval
      (2L, evalText),            // eval near-dup of 1 — same side, excluded
      (100L, evalText),          // corpus copy of eval doc 1 -> the leak
      (101L, (1 to 10).map(i => s"z$i").mkString(" ")), // unrelated corpus doc
      (102L, "x1 x2 x3 x4 x5"), (103L, "x1 x2 x3 x4 x5") // corpus-corpus dup, excluded
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_decontam_docs/documents.parquet")
    val got = SparkEntry.queries("q83_decontam_minhash")(spark, s"$fixtures/test_decontam_docs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 100L), (2L, 100L)),
      s"only eval-to-corpus pairs may surface, got $got")
  }

  test("pack efficiency: magnitude buckets, pad-to-512 waste, sample counts") {
    import spark.implicits._
    def words(n: Int) = (1 to n).map(_ => "w").mkString(" ")
    // token counts 1, 3, 512, 513 -> buckets 0, 1, 9, 9
    Seq((1L, words(1)), (2L, words(3)), (3L, words(512)), (4L, words(513)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_pack_docs/documents.parquet")
    val got = SparkEntry.queries("q88_pack_efficiency")(spark, s"$fixtures/test_pack_docs")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      0 -> ((1L, 1L, 511L, 1L)),       // 1 token: pads 511, one sample
      1 -> ((1L, 3L, 509L, 1L)),       // 3 tokens: pads 509
      9 -> ((2L, 1025L, 511L, 3L))),   // 512 exact-fit + 513 spilling to 2 samples
      s"hand-computed histogram mismatch: $got")
  }

  test("hard negatives exclude same-label neighbors however close") {
    import spark.implicits._
    def e(x: Float, y: Float) = Array(x, y)
    // query 0 (label 0) at e1; vec 100 is an exact same-label copy and
    // must NOT appear; different-label 101..106 rank by cosine
    Seq(
      (0L, e(1f, 0f), 0),
      (100L, e(1f, 0f), 0),          // same label, cosine 1.0 — excluded
      (101L, e(10f, 1f), 1),         // closest different-label
      (102L, e(10f, 2f), 1),
      (103L, e(10f, 3f), 2),
      (104L, e(10f, 4f), 2),
      (105L, e(10f, 5f), 3),
      (106L, e(10f, 6f), 3))         // 6th best — cut by k=5
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$fixtures/test_hardneg_emb/embeddings.parquet")
    val got = SparkEntry.queries("q89_hard_negatives")(spark, s"$fixtures/test_hardneg_emb")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.sortBy(_._3).toSeq ==
      Seq((0L, 101L, 1), (0L, 102L, 2), (0L, 103L, 3), (0L, 104L, 4), (0L, 105L, 5)),
      s"expected the five closest different-label vectors in cosine order, got ${got.toSeq}")
  }

  test("quality terciles cut per source with deterministic tie order") {
    import spark.implicits._
    // doc i = unique word repeated i times: lm_score = -ln(i/21),
    // strictly decreasing in i -> ascending-score order is 6,5,4,3,2,1
    val docs = (1 to 6).map(i => (i.toLong, (1 to i).map(_ => s"u$i").mkString(" "), "s"))
    docs.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$fixtures/test_tercile_docs/documents.parquet")
    val got = SparkEntry.queries("q90_ppl_terciles")(spark, s"$fixtures/test_tercile_docs")
      .collect().map(r => r.getInt(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    // tier1 = docs {6,5} (11 tokens), tier2 = {4,3} (7), tier3 = {2,1} (3)
    assert(got == Map(1 -> ((2L, 11L)), 2 -> ((2L, 7L)), 3 -> ((2L, 3L))),
      s"tercile membership mismatch: $got")
  }

  test("cdc chunking: identical docs share all chunks; an insertion only disturbs the head") {
    import spark.implicits._
    val base = (1 to 100).map(i => s"tok$i").mkString(" ")
    Seq((1L, base), (2L, base)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_cdc_docs/documents.parquet")
    val Array((chunks, unique, dup)) =
      SparkEntry.queries("q92_cdc_chunks")(spark, s"$fixtures/test_cdc_docs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every digest's count doubles (two identical docs), so chunk count
    // is even, no digest is unique, and the dedup savings cover at
    // least one full copy (a digest seen 2c times saves (2c-1) >= c
    // lengths). Exact pairing can't be asserted: a doc may repeat one
    // of its own chunks (e.g. "tokN "-boundary coincidences).
    assert(chunks % 2 == 0 && unique <= chunks / 2 && dup >= base.length.toLong,
      s"identical docs must dedup to one copy: chunks=$chunks unique=$unique dup=$dup")

    // content-defined boundaries re-synchronize after an insertion: the
    // copies diverge only until the first boundary past the edit, so
    // most of the shared suffix still dedups (a fixed-width chunker
    // would share nothing). Deterministic for this fixed content.
    Seq((1L, base), (2L, "edit edit edit " + base)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_cdc_docs2/documents.parquet")
    val Array((_, _, dup2)) =
      SparkEntry.queries("q92_cdc_chunks")(spark, s"$fixtures/test_cdc_docs2")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(dup2 > base.length / 2,
      s"chunking must re-synchronize after the insertion, shared=$dup2 of ${base.length}")
  }

  test("novelty counts corpus-unique shingles; all-shared docs hit zero") {
    import spark.implicits._
    Seq(
      (1L, "a b c d"),   // shingles {a b c, b c d}; first is shared
      (2L, "a b c x"),   // shingles {a b c, b c x}
      (3L, "q r s"),     // fully novel singleton
      (4L, "a b c"))     // its only shingle is shared -> n_novel 0
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_novel_docs/documents.parquet")
    val got = SparkEntry.queries("q95_novelty")(spark, s"$fixtures/test_novel_docs")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((2L, 1L)), 2L -> ((2L, 1L)),
      3L -> ((1L, 1L)), 4L -> ((1L, 0L))),
      s"hand-computed novelty mismatch: $got")
  }

  test("hybrid RRF ranks a both-lists candidate above either single-list winner") {
    import spark.implicits._
    Seq(
      (0L, "a b c d e"),    // probe
      (10L, "a b c d x"),   // lexical rank 1, semantic rank 2
      (20L, "z1 z2 z3"),    // no lexical overlap, semantic rank 1
      (30L, "a b c q r"))   // lexical rank 2, semantic rank 3
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_rrf/documents.parquet")
    Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (10L, Array(1f, 0.3f, 0f), 0), // cosine ~0.96
      (20L, Array(2f, 0f, 0f), 0),   // cosine 1.0
      (30L, Array(0f, 0f, 1f), 0))   // cosine 0
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$fixtures/test_rrf/embeddings.parquet")
    val got = SparkEntry.queries("q96_hybrid_rrf")(spark, s"$fixtures/test_rrf")
      .collect().map(r => (r.getInt(2), r.getLong(1))).sortBy(_._1).map(_._2).toSeq
    // RRF: doc10 = 1/61+1/62, doc30 = 1/62+1/63, doc20 = 1/61 alone
    assert(got == Seq(10L, 30L, 20L),
      s"expected both-list candidates to outrank single-list ones, got $got")
  }

  test("label mass profile: abs-sum argmax per label, ties to the lower dim") {
    import spark.implicits._
    Seq(
      (1L, Array(0f, 3f, 0f), 0),
      (2L, Array(0f, -1f, 0.5f), 0),  // |.| sums: dim2 = 4, dim3 = 0.5
      (3L, Array(2f, 0f, 2f), 1))     // dim1 == dim3: tie -> dim 1
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$fixtures/test_dims/embeddings.parquet")
    val got = SparkEntry.queries("q102_label_dims")(spark, s"$fixtures/test_dims")
      .collect().map(r => r.getInt(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(got == Map(0 -> ((2, 4.0)), 1 -> ((1, 2.0))),
      s"argmax/tie-break mismatch: $got")
  }

  test("retention counts a user as returning only on consecutive days") {
    import spark.implicits._
    def at(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    Seq(
      (1L, at(1), 1L, "view", 1.0, "{}"),
      (2L, at(2), 1L, "view", 1.0, "{}"),   // consecutive -> returning on day 2
      (3L, at(2), 1L, "click", 1.0, "{}"),  // same day, dedupes
      (4L, at(4), 1L, "view", 1.0, "{}"),   // gap -> NOT returning on day 4
      (5L, at(2), 2L, "view", 1.0, "{}"))   // first-ever day -> not returning
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$fixtures/test_ret_events/events.parquet")
    val got = SparkEntry.queries("q103_retention")(spark, s"$fixtures/test_ret_events")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("2024-01-01" -> ((1L, 0L)), "2024-01-02" -> ((2L, 1L)),
      "2024-01-04" -> ((1L, 0L))),
      s"hand-computed retention mismatch: $got")
  }

  test("json extraction skips missing and null payloads in the aggregates") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq(
      (1L, t, 1L, "view", 1.0, """{"k": 5}"""),
      (2L, t, 1L, "view", 1.0, """{"k": 7}"""),
      (3L, t, 1L, "view", 1.0, "{}"),            // missing key -> NULL
      (4L, t, 1L, "view", 1.0, """{"k": null}""")) // explicit null
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$fixtures/test_json_events/events.parquet")
    val got = SparkEntry.queries("q104_json_extract")(spark, s"$fixtures/test_json_events")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(("view", 2L, 12L, 5L, 7L)),
      s"null payloads must not enter the aggregates, got ${got.toSeq}")
  }

  test("span corruption masks 3 of every 20 tokens at hash-pinned positions") {
    import spark.implicits._
    def md5int8(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    Seq(
      (1L, (1 to 40).map(i => s"w$i").mkString(" ")), // 2 full blocks
      (2L, (1 to 7).map(i => s"v$i").mkString(" ")))  // too short: no span
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_span_docs/documents.parquet")
    val got = SparkEntry.queries("q101_span_corruption")(spark, s"$fixtures/test_span_docs")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // independent reimplementation of the mask rule for doc 1
    val expFp = (0L to 1L).flatMap { b =>
      val start = md5int8(s"1:$b") % 18 + 1
      (start to start + 2).map(off => md5int8(s"1:${b * 20 + off}"))
    }.sum
    assert(got == Map(1L -> ((40L, 2L, 6L, expFp)), 2L -> ((7L, 0L, 0L, 0L))),
      s"hash-pinned mask positions mismatch: $got (expected fp $expFp)")
  }

  test("source overlap counts shared distinct shingles per source pair") {
    import spark.implicits._
    Seq(
      (1L, "a b c d", "en", "srcA"),  // {a b c, b c d}
      (2L, "a b c x", "en", "srcB"),  // {a b c, b c x} -> shares 1 with A
      (3L, "q r s", "en", "srcC"))    // disjoint -> no row
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$fixtures/test_overlap/documents.parquet")
    val got = SparkEntry.queries("q105_source_overlap")(spark, s"$fixtures/test_overlap")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(("srcA", "srcB", 1L, 2L, 2L)),
      s"expected only the one overlapping pair, got ${got.toSeq}")
  }

  test("dedup funnel: raw >= exact-canonical >= cluster-reps, token-exact") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"x$i")
    Seq(
      (1L, base.mkString(" ")),                      // cluster {1,2,3} rep
      (2L, base.mkString(" ")),                      // exact copy of 1
      (3L, (base.init :+ "y").mkString(" ")),        // near-dup of 1 (29/31 shingle-ish)
      (4L, (1 to 10).map(i => s"z$i").mkString(" ")), // unique
      (5L, "s t"), (6L, "s t"))  // exact dups TOO SHORT to shingle: no
                                 // MinHash edge, both are singleton reps —
                                 // the intersection with the exact stage
                                 // must still drop doc 6
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_funnel_docs/documents.parquet")
    val got = SparkEntry.queries("q100_dedup_funnel")(spark, s"$fixtures/test_funnel_docs")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "raw" -> ((6L, 104L)),      // 30+30+30+10+2+2 tokens
      "exact" -> ((4L, 72L)),     // doc 2 collapses into 1; doc 6 into 5
      "neardup" -> ((3L, 42L))),  // cluster {1,2,3} -> doc 1; {4}; {5}
      s"hand-computed funnel mismatch: $got")
  }

  test("dedup agreement buckets lexical and semantic pairs independently") {
    import spark.implicits._
    val copyA = (1 to 30).map(i => s"a$i").mkString(" ")
    val copyB = (1 to 30).map(i => s"b$i").mkString(" ")
    Seq(
      (1L, copyA), (2L, copyA),   // lexical pair, orthogonal embeddings
      (3L, (1 to 30).map(i => s"c$i").mkString(" ")),
      (4L, (1 to 30).map(i => s"d$i").mkString(" ")), // semantic pair only
      (5L, copyB), (6L, copyB))   // both lexical and semantic
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_agree/documents.parquet")
    // one-hot axes: every non-planted cosine is exactly 0 (q28's 0.45
    // threshold would otherwise catch diagonal near-pairs)
    def axis(i: Int, scale: Float) =
      Array.tabulate(4)(j => if (j == i) scale else 0f)
    Seq(
      (1L, axis(0, 1f), 0), (2L, axis(1, 1f), 0),
      (3L, axis(2, 1f), 0), (4L, axis(2, 2f), 0),
      (5L, axis(3, 1f), 0), (6L, axis(3, 2f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$fixtures/test_agree/embeddings.parquet")
    val got = SparkEntry.queries("q93_dedup_agreement")(spark, s"$fixtures/test_agree")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("both" -> 1L, "lexical_only" -> 1L, "semantic_only" -> 1L),
      s"expected one planted pair per bucket, got $got")
  }

  test("funnel counts stages only in strict view -> click -> purchase order") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    Seq(
      (1L, at(0), 1L, "view", 1.0, ""),      // user 1: the full ordered funnel
      (2L, at(10), 1L, "click", 1.0, ""),
      (3L, at(20), 1L, "purchase", 1.0, ""),
      (4L, at(0), 2L, "purchase", 1.0, ""),  // user 2: purchase BEFORE the click
      (5L, at(10), 2L, "view", 1.0, ""),
      (6L, at(20), 2L, "click", 1.0, ""),
      (7L, at(0), 3L, "click", 1.0, ""),     // user 3: click before any view
      (8L, at(10), 3L, "view", 1.0, ""),
      (9L, at(20), 3L, "purchase", 1.0, "")) // ...so no qualifying click -> no stage 3
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$fixtures/test_funnel_events/events.parquet")
    val got = SparkEntry.queries("q94_funnel")(spark, s"$fixtures/test_funnel_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    assert(got == ((3L, 2L, 1L)),
      s"expected (3 viewers, 2 ordered clickers, 1 ordered purchaser), got $got")
  }

  test("moving stats use an inclusive one-hour RANGE frame per type") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    Seq(
      (1L, at(0), 1L, "click", 10.0, ""),
      (2L, at(30), 1L, "click", 20.0, ""),
      (3L, at(90), 1L, "click", 40.0, ""),  // 60 min after ev2: still IN (inclusive bound)
      (4L, at(10), 1L, "view", 99.0, ""))   // other type: separate partition
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$fixtures/test_move_events/events.parquet")
    val got = SparkEntry.queries("q97_moving_stats")(spark, s"$fixtures/test_move_events")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map(
      1L -> ((1L, 10.0)), 2L -> ((2L, 15.0)),
      3L -> ((2L, 30.0)),   // ev1 fell out of the hour; ev2 at exactly -1h stays
      4L -> ((1L, 99.0))),
      s"hand-computed trailing-hour frames mismatch: $got")
  }

  test("sessionize splits on >30min gaps and sums in-session time only") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    Seq(
      (1L, at(0), 1L, "view", 1.0, ""),    // user 1, session 1
      (2L, at(10), 1L, "click", 1.0, ""),  // 10min gap — same session
      (3L, at(50), 1L, "view", 1.0, ""),   // 40min gap — new session
      (4L, at(0), 2L, "view", 1.0, ""))    // user 2, singleton
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$fixtures/test_sess_events/events.parquet")
    val got = SparkEntry.queries("q91_sessionize")(spark, s"$fixtures/test_sess_events")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(1L -> ((2L, 2L, 600L)), 2L -> ((1L, 1L, 0L))),
      s"expected 2 sessions for user 1 (best of 2 events, 600 s in-session), got $got")
  }

  test("substring-dup profile flags cross-doc runs only; intra-doc repeats stay clean") {
    import spark.implicits._
    def t(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    // d1/d2 share exactly their first 8-token window; d3 is all-unique;
    // d4 repeats an 8-token window WITHIN itself only (doc-df 1 -> not
    // duplicated); d5/d6 share 10 consecutive tokens -> a run of 3
    // consecutive duplicated windows
    Seq(
      (1L, t("s", 8) + " " + t("a", 8)),
      (2L, t("s", 8) + " " + t("b", 8)),
      (3L, t("c", 16)),
      (4L, t("r", 8) + " " + t("r", 8)),
      (5L, t("t", 10) + " " + t("e", 6)),
      (6L, t("t", 10) + " " + t("f", 6)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_dupsub_docs/documents.parquet")
    val got = SparkEntry.queries("q106_dup_substring")(spark, s"$fixtures/test_dupsub_docs")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((9L, 1L, 1L)), s"d1: only its first window is shared, got ${got(1L)}")
    assert(got(2L) == ((9L, 1L, 1L)))
    assert(got(3L) == ((9L, 0L, 0L)), "an all-unique doc has nothing flagged")
    assert(got(4L) == ((9L, 0L, 0L)),
      "a window repeated only within one doc is intra-doc repetition (q67), not a cross-doc dup")
    assert(got(5L) == ((9L, 3L, 3L)),
      s"10 shared tokens = 3 consecutive shared 8-windows, got ${got(5L)}")
    assert(got(6L) == ((9L, 3L, 3L)))
  }

  test("hash classifier margin matches an independent md5 computation, keep = sign") {
    import spark.implicits._
    // independent reimplementation of the model: md5 first 4 hex chars
    // -> bucket % 997 - 498
    def w(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex = d.take(2).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 997L - 498L
    }
    val toks = Seq("alpha", "bravo", "charlie", "delta")
    Seq((1L, toks.mkString(" ")), (2L, toks.head))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_cls_docs/documents.parquet")
    val got = SparkEntry.queries("q107_hash_classifier")(spark, s"$fixtures/test_cls_docs")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    val m1 = toks.map(w).sum
    val (n1, s1, k1) = got(1L)
    assert(n1 == 4L)
    assert(math.abs(s1 - BigDecimal(m1.toDouble / (4 * 498.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
      s"score must equal the hand-computed margin/4*498, got $s1 vs margin $m1")
    assert(k1 == (m1 > 0), "keep is exactly the sign of the integer margin")
    val (n2, s2, k2) = got(2L)
    assert(n2 == 1L && k2 == (w(toks.head) > 0) &&
      math.abs(s2 - BigDecimal(w(toks.head).toDouble / 498.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("incremental dedup classifies delta docs: base hit > batch first-claim > new") {
    import spark.implicits._
    def head(p: String) = (0 until 16).map(i => s"$p$i").mkString(" ")
    // ids ≡ 4 (mod 5) are the delta batch; everything else is base.
    // h1: in base (id 0) and delta (id 4)        -> 4 = dup_base
    // h2: twice in the delta only (ids 9, 14)    -> 9 = new, 14 = dup_delta
    // h3: once in the delta (id 19)              -> 19 = new
    // id 24: under 16 tokens                     -> excluded entirely
    Seq(
      (0L, head("h1") + " basetail"),
      (4L, head("h1") + " deltatail"),
      (9L, head("h2") + " first"),
      (14L, head("h2") + " second"),
      (19L, head("h3") + " only"),
      (24L, "too short"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_incr_docs/documents.parquet")
    val got = SparkEntry.queries("q109_incr_dedup")(spark, s"$fixtures/test_incr_docs")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(4L -> "dup_base", 9L -> "new", 14L -> "dup_delta", 19L -> "new"),
      s"planted delta classifications mismatch: $got")
  }

  test("table checksum equals an independent md5-xor and ignores row order") {
    import spark.implicits._
    def fp(row: (Long, String, String, String, Long)): Long = {
      val s = s"${row._1}|${row._2}|${row._3}|${row._4}|${row._5}"
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val rows = Seq(
      (1L, "alpha text", "en", "web", 10L),
      (2L, "beta text", "fr", "book", 9L))
    // write in REVERSED order: the checksum must not care
    rows.reverse.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(3)
      .write.mode("overwrite").parquet(s"$fixtures/test_cksum_docs/documents.parquet")
    val got = SparkEntry.queries("q110_table_checksum")(spark, s"$fixtures/test_cksum_docs")
      .collect().head
    val fps = rows.map(fp)
    assert(got.getLong(0) == 2L)
    assert(got.getLong(1) == fps.reduce(_ ^ _),
      s"xor checksum must match the independent computation: ${got.getLong(1)} vs ${fps.reduce(_ ^ _)}")
    assert(got.getLong(2) == fps.min && got.getLong(3) == fps.max)
  }

  test("vocab growth charges each shingle type to its first-occurrence decile") {
    import spark.implicits._
    // ids 0..9 make each doc its own decile; doc5 re-uses doc0's shingle
    // "a b c" (not new) and introduces "b c d", which doc9 then repeats
    val docs = (0L to 9L).map {
      case 0L => (0L, "a b c")
      case 5L => (5L, "a b c d")
      case 9L => (9L, "b c d")
      case i => (i, s"u$i v$i w$i")
    }
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_growth_docs/documents.parquet")
    val got = SparkEntry.queries("q111_vocab_growth")(spark, s"$fixtures/test_growth_docs")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == ((1L, 1L, 1L)))
    assert(got(5L) == ((2L, 1L, 6L)),
      s"doc5 has 2 shingles but only 'b c d' is NEW, got ${got(5L)}")
    assert(got(9L) == ((1L, 0L, 9L)),
      s"doc9's only shingle was first seen in decile 5, got ${got(9L)}")
    assert(got(1L) == ((1L, 1L, 2L)) && got(8L) == ((1L, 1L, 9L)))
  }

  test("table profile counts nulls per column and ignores them in distinct/min/max") {
    import spark.implicits._
    Seq(
      (1L, Some("b"), None: Option[String], Some("web"), Some(5L)),
      (2L, None: Option[String], Some("en"), Some("web"), None: Option[Long]),
      (3L, Some("a"), Some("en"), None: Option[String], Some(7L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$fixtures/test_profile_docs/documents.parquet")
    val got = SparkEntry.queries("q112_table_profile")(spark, s"$fixtures/test_profile_docs")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))))
      .toMap
    assert(got("doc_id") == ((3L, 0L, 3L, "1", "3")))
    assert(got("text") == ((3L, 1L, 2L, "a", "b")),
      s"null text must count as null and drop out of distinct/min/max: ${got("text")}")
    assert(got("lang") == ((3L, 1L, 1L, "en", "en")))
    assert(got("source") == ((3L, 1L, 1L, "web", "web")))
    assert(got("n_chars") == ((3L, 1L, 2L, "5", "7")))
  }

  test("ref integrity counts orphans incl. NULL child keys; dup parent keys never inflate") {
    import spark.implicits._
    val dir = s"$fixtures/test_ri"
    Seq((Some(1L), 1.0), (Some(2L), 1.0), (Some(3L), 1.0), (None: Option[Long], 1.0))
      .toDF("l_orderkey", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // order key 1 appears TWICE: the distinct-keys anti-join must not
    // double-count lineitem rows against it
    Seq((1L, 10L), (1L, 10L), (2L, 99L))
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, 0L)).toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq(Tuple1(0L)).toDF("n_nationkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val got = SparkEntry.queries("q113_ref_integrity")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("lineitem.l_orderkey->orders") == ((4L, 2L)),
      s"key 3 and the NULL key are orphans: ${got("lineitem.l_orderkey->orders")}")
    assert(got("orders.o_custkey->customer") == ((3L, 1L)),
      s"custkey 99 is the one orphan: ${got("orders.o_custkey->customer")}")
    assert(got("customer.c_nationkey->nation") == ((1L, 0L)))
  }

  test("event paths count consecutive triples with deterministic tiebreak order") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    Seq(
      (1L, at(0), 1L, "view", 1.0, ""),
      // same timestamp as event 3: event_id must break the tie -> click before purchase
      (2L, at(1), 1L, "click", 1.0, ""),
      (3L, at(1), 1L, "purchase", 1.0, ""),
      (4L, at(2), 1L, "view", 1.0, ""),
      (5L, at(0), 2L, "view", 1.0, ""))   // user 2: too short for a triple
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$fixtures/test_paths_events/events.parquet")
    val got = SparkEntry.queries("q114_event_paths")(spark, s"$fixtures/test_paths_events")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("view>click>purchase" -> 1L, "click>purchase>view" -> 1L),
      s"expected the two tiebreak-ordered triples of user 1 only: $got")
  }

  test("source divergence equals the hand-computed total-variation distance") {
    import spark.implicits._
    // A: {x:2, y:1}, B: {y:1, z:1}; corpus {x:2, y:2, z:1}, N=5
    // TV(A) = 1/2 (|2/3-2/5| + |1/3-2/5| + 1/5) = 4/15; TV(B) = 0.4
    Seq((1L, "x x y", "A"), (2L, "y z", "B"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$fixtures/test_tv_docs/documents.parquet")
    val got = SparkEntry.queries("q115_source_divergence")(spark, s"$fixtures/test_tv_docs")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got("A")._1 == 3L && got("B")._1 == 2L)
    assert(math.abs(got("A")._2 - 0.266667) < 1e-9, s"TV(A) must be 4/15 rounded: ${got("A")}")
    assert(math.abs(got("B")._2 - 0.4) < 1e-9, s"TV(B) must be 0.4: ${got("B")}")
  }

  test("quality canonical keeps the LONGEST cluster member, not the lowest id") {
    import spark.implicits._
    val base = (0 until 12).map(i => s"w$i").mkString(" ")
    // doc 2 = doc 1 plus a tail token: 3-shingle Jaccard 10/11 >= 0.8,
    // so they cluster; doc 2 is longer and must be kept despite the
    // higher id. doc 3 is a singleton and keeps itself.
    val docs = Seq((1L, base), (2L, base + " extratoken"), (3L, "totally different words here"))
    docs.map { case (id, t) => (id, t, t.length.toLong) }
      .toDF("doc_id", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$fixtures/test_qcanon_docs/documents.parquet")
    val got = SparkEntry.queries("q117_quality_canonical")(spark, s"$fixtures/test_qcanon_docs")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((2L, 2L, docs(1)._2.length.toLong)),
      s"cluster {1,2} must keep doc 2 (longer), got ${got(1L)}")
    assert(got(3L) == ((1L, 3L, docs(2)._2.length.toLong)))
  }

  test("snapshot diff classifies ids across versions by digest compare") {
    import spark.implicits._
    // id 9 is dropped from v1 (appears: added); id 10 is dropped from v2
    // (disappears: removed); id 3 is in both with v2-marked text
    // (changed); id 1 is in both, identical (unchanged)
    Seq((1L, "same"), (3L, "marked"), (9L, "gone"), (10L, "fresh"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_snap_docs/documents.parquet")
    val got = SparkEntry.queries("q116_snapshot_diff")(spark, s"$fixtures/test_snap_docs")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("unchanged" -> 1L, "changed" -> 1L, "removed" -> 1L, "added" -> 1L),
      s"one id per class expected: $got")
  }

  test("range shards split a uniform length distribution into exact quartiles") {
    import spark.implicits._
    (1L to 100L).map(i => (i, "x", i)).toDF("doc_id", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$fixtures/test_shard_docs/documents.parquet")
    val got = SparkEntry.queries("q108_range_shards")(spark, s"$fixtures/test_shard_docs")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == Map(
      0 -> ((25L, 1L, 25L, (1L to 25L).sum)),
      1 -> ((25L, 26L, 50L, (26L to 50L).sum)),
      2 -> ((25L, 51L, 75L, (51L to 75L).sum)),
      3 -> ((25L, 76L, 100L, (76L to 100L).sum))),
      s"lengths 1..100 must split at PERCENTILE_DISC boundaries 25/50/75: $got")
  }

  test("group-quota sample equals the single-window answer and binds the quota") {
    import spark.implicits._
    import java.security.MessageDigest
    // two sources: 'big' with 40 docs (quota 10 binds), 'tiny' with 3
    // (undersized stratum comes back whole)
    val rows = (1L to 40L).map(i => (i, "x", "big")) ++
      (100L to 102L).map(i => (i, "x", "tiny"))
    rows.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$fixtures/test_quota_docs/documents.parquet")
    val got = SparkEntry.queries("q118_group_quota_sample")(spark, s"$fixtures/test_quota_docs")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    // independent reimplementation of the selection rule: md5-rank the
    // ids per source, take the first 10
    def md5hex(v: String) = MessageDigest.getInstance("MD5").digest(v.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val want = rows.groupBy(_._3).flatMap { case (src, rs) =>
      rs.map(_._1).sortBy(i => (md5hex(i.toString), i)).take(10)
        .zipWithIndex.map { case (id, i) => (src, id, i + 1) }
    }.toSet
    assert(got.length == 13, s"10 of 40 + all 3 expected, got ${got.length}")
    assert(got.toSet == want, "salted two-pass top-N must equal the single-window rank")
  }

  test("charset audit counts replacement, control, and non-ascii chars exactly") {
    import spark.implicits._
    Seq((1L, "plain ascii text", "a"),
      (2L, "bad � byte and bell  here", "a"),
      (3L, "café naïve 世界", "b"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$fixtures/test_charset_docs/documents.parquet")
    val got = SparkEntry.queries("q119_charset_audit")(spark, s"$fixtures/test_charset_docs")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // source a: 2 docs, 1 with U+FFFD; the bell is the one control char;
    // U+FFFD itself is non-ascii (1 char)
    assert(got("a") == ((2L, 1L, 1L, 1L, 16L + 26L)), s"source a: ${got("a")}")
    // source b: é, ï, 世, 界 = 4 non-ascii code points, no controls
    assert(got("b") == ((1L, 0L, 0L, 4L, 13L)), s"source b: ${got("b")}")
  }

  test("line filter audit partitions lines and pins the reassembled text") {
    import spark.implicits._
    val text = Seq(
      "This line is kept verbatim.",   // kept
      "too short",                      // short (2 words)
      "three words no punctuation",     // nopunct
      "accept our cookie policy now.",  // marker
      "A second keeper stays here!"     // kept
    ).mkString("\n")
    Seq((7L, text, "s")).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$fixtures/test_c4_docs/documents.parquet")
    val r = SparkEntry.queries("q120_line_filter")(spark, s"$fixtures/test_c4_docs")
      .collect().head
    val (nLines, nShort, nNopunct, nMarker, nKept) =
      (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))
    assert((nLines, nShort, nNopunct, nMarker, nKept) == ((5, 1, 1, 1, 2)), r.toString)
    assert(nShort + nNopunct + nMarker + nKept == nLines, "rules must partition the lines")
    val clean = "This line is kept verbatim.\nA second keeper stays here!"
    assert(r.getInt(6) == clean.length)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(clean.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getString(7) == md, "digest must pin the order-preserving reassembly")
  }

  test("dup degree histogram: triangle gives three degree-2 docs, singleton degree 0") {
    import spark.implicits._
    val t = (0 until 12).map(i => s"w$i").mkString(" ")
    Seq((1L, t), (2L, t), (3L, t), (4L, "entirely different words over here yes"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_degree_docs/documents.parquet")
    val got = SparkEntry.queries("q122_dup_degree_hist")(spark, s"$fixtures/test_degree_docs")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(2L -> 3L, 0L -> 1L),
      s"identical triple = triangle (three degree-2), unique doc degree 0: $got")
  }

  test("pq codes snap constant vectors to their centroid, ties to the lower id") {
    import spark.implicits._
    // centroids: vec j = constant j across all 64 dims (j = 0..15);
    // vec 16 sits nearest centroid 3 in every subspace; vec 17 is
    // exactly between centroids 4 and 5 -> tie resolves to 4
    val rows = (0 until 16).map(j => (j.toLong, Array.fill(64)(j.toFloat), 0)) ++
      Seq((16L, Array.fill(64)(3.2f), 0), (17L, Array.fill(64)(4.5f), 0))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$fixtures/test_pq_embeddings/embeddings.parquet")
    val got = SparkEntry.queries("q123_pq_codes")(spark, s"$fixtures/test_pq_embeddings")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(got.size == 18 * 8, s"8 codes per vector expected, got ${got.size}")
    (0 until 8).foreach { sub =>
      (0 until 16).foreach(j => assert(got((j.toLong, sub)) == j, s"centroid $j self-codes"))
      assert(got((16L, sub)) == 3, s"3.2 snaps to centroid 3 in subspace $sub")
      assert(got((17L, sub)) == 4, s"the 4/5 tie must resolve to the lower id, sub $sub")
    }
  }

  test("group mode picks the dominant label, count ties to the last language") {
    import spark.implicits._
    // source a: de x2 beats en x1; source b: en/fr tie at 2 -> 'fr'
    // (lexicographically last) by the deterministic rule
    val rows = Seq((1L, "x", "de", "a"), (2L, "x", "de", "a"), (3L, "x", "en", "a"),
      (4L, "x", "en", "b"), (5L, "x", "en", "b"), (6L, "x", "fr", "b"), (7L, "x", "fr", "b"))
    rows.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$fixtures/test_mode_docs/documents.parquet")
    val got = SparkEntry.queries("q139_group_mode")(spark, s"$fixtures/test_mode_docs")
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("a") == (("de", 2L, 3L)), s"a: ${got("a")}")
    assert(got("b") == (("fr", 2L, 4L)), s"b must tie-break to the later lang: ${got("b")}")
  }

  test("nfc audit: decomposed accents are flagged and recomposed, ascii untouched") {
    import spark.implicits._
    // "cafe" + COMBINING ACUTE: 5 code points that NFC composes to 4
    val decomposed = "cafe\u0301"
    val composed = "caf\u00e9"
    val direct = Seq((decomposed, composed)).toDF("d", "c")
      .select(TextFunctions.nfc(col("d")).as("n"), col("c"))
      .collect().head
    assert(direct.getString(0) == direct.getString(1),
      "the codegen expression must compose e+U+0301 into U+00E9")
    Seq((1L, decomposed, "a"), (2L, "plain ascii", "a"), (3L, composed, "b"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$fixtures/test_nfc_docs/documents.parquet")
    val got = SparkEntry.queries("q133_nfc_audit")(spark, s"$fixtures/test_nfc_docs")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // source a: decomposed doc flagged, 5 cp -> 4; ascii 11 cp unchanged
    assert(got("a") == ((2L, 1L, 5L + 11L, 4L + 11L)), s"a: ${got("a")}")
    // source b: already composed -> no change
    assert(got("b") == ((1L, 0L, 4L, 4L)), s"b: ${got("b")}")
  }

  test("cdc boundaries: kernel equals the composed explode+md5 formulation") {
    import spark.implicits._
    val w = 16
    // ascii fast path, multibyte fallback (é forces the char-based
    // walk), supplementary-plane (emoji = one code point like Spark
    // substr, two UTF-16 units), and an exactly-w-length edge doc
    val docs = Seq(
      (1L, ("the quick brown fox jumps over the lazy dog " * 8).trim),
      (2L, ("café au lait crème brûlée " * 12).trim),
      (3L, "exactly sixteen!"),
      (4L, ("smile 😀 wave 👋 clap 👏 again " * 10).trim))
      .toDF("doc_id", "text")
    val kernel = docs
      .select(col("doc_id"),
        explode(TextFunctions.cdcBoundaries(col("text"), w)).as("i"))
      .as[(Long, Int)].collect().toSet
    val composed = docs
      .filter(length(col("text")) >= w)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (w - 1))).as("i"))
      .filter(col("i") === 1 ||
        substring(md5(col("text").substr(col("i"), lit(w))), 1, 1) === "0")
      .as[(Long, Int)].collect().toSet
    assert(kernel == composed,
      s"kernel/composed diverged: only_k=${(kernel -- composed).take(3)} " +
        s"only_c=${(composed -- kernel).take(3)}")
    assert(kernel.exists(_._1 == 2L), "multibyte doc must chunk")
    assert(kernel.count(_._1 == 3L) == 1, "w-length doc = single boundary")
  }

  test("skew report ranks hot keys and cross-multiplies the ratios exactly") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // user 7 owns 6 of 10 rows; users 1..4 one row each -> n_keys 5,
    // skew = 6*5*1000 div 10 = 3000; ppm(7) = 600000
    val rows = (1L to 6L).map(i => (i, t, 7L, "click", 1.0, "")) ++
      (1L to 4L).map(i => (10 + i, t, i, "view", 1.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$fixtures/test_skew_events/events.parquet")
    val got = SparkEntry.queries("q132_skew_report")(spark, s"$fixtures/test_skew_events")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(7L) == ((6L, 600000L, 5L, 3000L)), s"hot key: ${got(7L)}")
    assert(got.size == 5 && got(1L) == ((1L, 100000L, 5L, 3000L)), s"$got")
  }

  test("horizon dedup keeps the first of a burst and anything past the hour") {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    val t2h = java.sql.Timestamp.valueOf("2026-01-01 02:00:00")
    // user 1 clicks at 0, +10min (suppressed), +2h (kept: > 1h after the
    // 10min one); user 2's single view kept; different type not confused
    Seq((1L, ts(0), 1L, "click", 1.0, ""), (2L, ts(10), 1L, "click", 1.0, ""),
        (3L, t2h, 1L, "click", 1.0, ""), (4L, ts(5), 2L, "view", 1.0, ""),
        (5L, ts(6), 1L, "view", 1.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$fixtures/test_horizon_events/events.parquet")
    val got = SparkEntry.queries("q131_horizon_dedup")(spark, s"$fixtures/test_horizon_events")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("click" -> ((3L, 2L)), "view" -> ((2L, 2L))), s"$got")
  }

  test("int8 quantization: hand-computed codes, saturation only at the absmax") {
    import spark.implicits._
    import java.security.MessageDigest
    Seq((1L, Array(1.0f, -0.5f, 0.25f, 0.0f), 0), (2L, Array(0.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$fixtures/test_quant_embeddings/embeddings.parquet")
    val got = SparkEntry.queries("q130_int8_quant")(spark, s"$fixtures/test_quant_embeddings")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getString(5)))).toMap
    def md5(s: String) = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // amax 1.0: 1.0->127 (saturated), -0.5->floor(-63.0)=-63,
    // 0.25->floor(32.25)=32, 0->0
    assert(got(1L) == ((1, 96L, -63, 127, md5("127,-63,32,0"))), s"v1: ${got(1L)}")
    // all-zero vector codes to zeros, not NaN
    assert(got(2L) == ((0, 0L, 0, 0, md5("0,0"))), s"v2: ${got(2L)}")
  }

  test("budget sample admits greedy md5-order prefix until the token budget fills") {
    import spark.implicits._
    import java.security.MessageDigest
    // ten 300-token docs in one source, budget 1000: tokens consumed
    // before the Nth admitted doc are 300(N-1), so docs 1-4 are admitted
    // (900 < 1000) and the 5th (1200) is not
    val text = (0 until 300).map(i => s"w$i").mkString(" ")
    val rows = (1L to 10L).map(i => (i, text, "s"))
    rows.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$fixtures/test_budget_docs/documents.parquet")
    val got = SparkEntry.queries("q128_budget_sample")(spark, s"$fixtures/test_budget_docs")
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getLong(3)))
    def md5hex(v: String) = MessageDigest.getInstance("MD5").digest(v.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val wantIds = (1L to 10L).sortBy(i => (md5hex(i.toString), i)).take(4).toSet
    assert(got.length == 4 && got.map(_._1).toSet == wantIds,
      s"the first four docs in md5 order must be admitted: ${got.toSeq} vs $wantIds")
    assert(got.forall(_._2 == 300) && got.map(_._3).max == 1200L,
      s"cumulative token counts must reflect the greedy prefix: ${got.toSeq}")
  }

  test("fuzzy terms: deletion-neighborhood candidates, transposition rejected by verify") {
    import spark.implicits._
    // hast = substitution (lev 1), ash = deletion (lev 1), hsah =
    // transposition (lev 2) — it SHARES deletion variants with hash
    // ("hsh"/"hah") so it reaches candidates and must die in the verify
    Seq((1L, "hash hast"), (2L, "ash hsah"), (3L, "hash"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixtures/test_fuzzy_docs/documents.parquet")
    val got = SparkEntry.queries("q126_fuzzy_terms")(spark, s"$fixtures/test_fuzzy_docs")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("hash", "hash") -> 2L, ("hash", "hast") -> 1L,
      ("hash", "ash") -> 1L),
      s"expected exactly the lev<=1 neighbors of 'hash' with doc freqs: $got")
  }

  test("salted join equals the plain join: heavy users flagged by lifetime spend") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // user 10 totals 600 (heavy); user 11 totals 100 (light)
    Seq((1L, t, 10L, "click", 300.0, ""), (2L, t, 10L, "click", 300.0, ""),
        (3L, t, 11L, "view", 100.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$fixtures/test_salted_events/events.parquet")
    val rows = SparkEntry.queries("q125_salted_join")(spark, s"$fixtures/test_salted_events")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows("click").getLong(1) == 2L && rows("click").getLong(2) == 2L &&
      rows("click").getDouble(3) == 600.0, s"click: ${rows("click")}")
    assert(rows("view").getLong(1) == 1L && rows("view").getLong(2) == 0L &&
      rows("view").isNullAt(3), s"view: ${rows("view")}")
  }

  test("pq-adc shortlist + exact rerank clears the registered recall floor with margin") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < 3)
    val exact = Ann.bruteForceTopK(emb, q, 5)
    val approx = Ann.pqAdcTopK(emb, q, 5, shortlist = 50)
    val hits = approx.join(exact.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    info(s"pq-adc hits of 5 at $sfDir: $hits")
    assert(hits.size == 3 && hits.values.forall(_ >= 2),
      s"every query must clear the q124 floor of 2: $hits")
  }

  test("source octiles from the histogram match PERCENTILE_DISC on 1..80") {
    import spark.implicits._
    // uniform 1..80 in one source: octile d = first value with
    // cum >= d/8*80 = 10d; a 3-row source hits ties/undersized paths
    val rows = (1L to 80L).map(i => (i, "x", "u", i)) ++
      Seq((200L, "x", "tiny", 5L), (201L, "x", "tiny", 5L), (202L, "x", "tiny", 9L))
    rows.toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$fixtures/test_octile_docs/documents.parquet")
    val got = SparkEntry.queries("q121_source_octiles")(spark, s"$fixtures/test_octile_docs")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    (1 to 7).foreach { d =>
      assert(got(("u", d)) == 10L * d, s"uniform octile $d: ${got(("u", d))}")
    }
    // tiny: n=3, cum(5)=2, cum(9)=3; d/8*3 crosses 2 at d<=5, 3 at d>=6
    (1 to 5).foreach(d => assert(got(("tiny", d)) == 5L, s"tiny octile $d"))
    (6 to 7).foreach(d => assert(got(("tiny", d)) == 9L, s"tiny octile $d"))
  }
}
