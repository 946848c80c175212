package perfbench

import graft.text.{PostingsStore, QueryLang, TextIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The `text` workload: cold `PostingsStore.build`s of a seeded
  * Zipf-vocabulary corpus (the timed set-up), a few `append` generations
  * and one `delete`, then a search mix over the live store. */
object Text {
  final case class Size(docs: Int, len: Int, vocab: Int, appends: Int, appendDocs: Int, deletes: Int)

  /** One search: how to run it against the live postings and norms, and
    * whether a result matches the reference. */
  final case class Search(label: String, args: Seq[String],
      plan: (DataFrame, () => DataFrame) => DataFrame,
      collect: DataFrame => Any, ok: Any => Boolean)

  private def sums(df: DataFrame, score: String): DataFrame =
    df.agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L)),
      coalesce(sum(col(score)).cast("long"), lit(0L)))
  private def sumsOf(m: Map[Long, Long]): (Long, Long, Long) = (m.size.toLong, m.keys.sum, m.values.sum)
  private def rowSums(r: Any): (Long, Long, Long) = {
    val x = r.asInstanceOf[Row]
    (x.getLong(0), x.getLong(1), x.getLong(2))
  }
  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** The search op stream: top-k OR, AND, phrase, BM25 with stored norms,
    * hit count and a boolean `QueryLang` query in turn. Terms are drawn in
    * fixed roles: common ones from the Zipf vocabulary, rare ones uniformly
    * from frequency ranks V/10 until V/2, which occur in a few dozen
    * documents. Fixed roles keep each kind's result sizes, and so the
    * stages Spark can skip on empty inputs, alike across seeds. */
  def search(seed: Long, size: Size, zipf: Gen.Zipf, live: IndexedSeq[Gen.Doc], oracle: TextOracle, i: Long): Search = {
    def common(salt: Long): String = Gen.word(zipf(i * 16 + salt))
    def rare(salt: Long): String =
      Gen.word(zipf.ofRank(size.vocab / 10 + ((Gen.mix(seed, salt, i) >>> 1) % (size.vocab * 2 / 5)).toInt))
    val (a, b, c) = (common(1), rare(2), common(3))
    Math.floorMod(i, 6L).toInt match {
      case 0 =>
        Search("topk", Seq(a, b, c), (p, _) => TextIndex.searchTopK(p, Seq(a, b, c), 10),
          q => q.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq,
          _ == oracle.topK(Seq(a, b, c), 10))
      case 1 =>
        Search("and", Seq(a, c), (p, _) => sums(TextIndex.searchAll(p, Seq(a, c)), "score"),
          q => rowSums(q.collect().head), _ == sumsOf(oracle.allOf(Seq(a, c))))
      case 2 =>
        val d = live(((Gen.mix(seed, 4, i) >>> 1) % live.size).toInt)
        val at = ((Gen.mix(seed, 5, i) >>> 1) % (d.tokens.length - 1)).toInt
        val words = Seq(d.tokens(at), d.tokens(at + 1))
        Search("phrase", words, (p, _) => sums(TextIndex.searchPhrase(p, words), "occ"),
          q => rowSums(q.collect().head), _ == sumsOf(oracle.phrase(words)))
      case 3 =>
        Search("bm25", Seq(a, b),
          (p, norms) => TextIndex.searchScoredWith(p, norms(), Seq(a, b), "bm25")
            .orderBy(col("score").desc, col("doc_id").asc).limit(10),
          q => q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
          { got =>
            val g = got.asInstanceOf[Seq[(Long, Double)]]
            val want = oracle.bm25(Seq(a, b))
            val top = want.values.toSeq.sorted(Ordering[Double].reverse).take(10)
            g.size == top.size && g.map(_._2).zip(top).forall { case (x, y) => close(x, y) } &&
              g.forall { case (d, s) => want.get(d).exists(close(s, _)) }
          })
      case 4 =>
        Search("count", Seq(a, b), (p, _) => TextIndex.countHits(p, Seq(a, b)),
          q => q.collect().head.getLong(0), _ == oracle.anyOf(Seq(a, b)).size.toLong)
      case _ =>
        val (query, want) =
          if ((i / 6) % 2 == 0) (s"$a AND ($b OR $c)", oracle.docsWith(a) & (oracle.docsWith(b) | oracle.docsWith(c)))
          else (s"$a AND NOT $c", oracle.docsWith(a) -- oracle.docsWith(c))
        Search("qlang", Seq(query), (p, _) => QueryLang.run(p, query, "text")
            .agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L))),
          q => { val r = q.collect().head; (r.getLong(0), r.getLong(1)) },
          _ == ((want.size.toLong, want.sum)))
    }
  }

  def apply(run: Run, size: Size): Unit = {
    val spark = run.spark
    import spark.implicits._
    val tr = run.tracer
    val zipf = new Gen.Zipf(size.vocab, 1.0, run.seed, 5)
    val base = Gen.docs(run.seed, 1, 0L, size.docs, size.len, zipf)
    val batches = (0 until size.appends).map(k =>
      Gen.docs(run.seed, 2 + k, size.docs.toLong + k.toLong * size.appendDocs, size.appendDocs, size.len, zipf))
    val deleted = (0 until size.deletes).map(j => (Gen.mix(run.seed, 40, j) >>> 1) % size.docs).distinct
    val corpus = run.path("corpus")
    Gen.writeDocs(spark, base, s"$corpus/base", 4)
    batches.zipWithIndex.foreach { case (b, k) => Gen.writeDocs(spark, b, s"$corpus/append$k", 1) }
    val store = run.path("postings")

    run.setup {
      run.time(tr.span("text.build")(PostingsStore.build(spark.read.parquet(s"$corpus/base"), store)))._2
    }
    run.phase("append")
    (0 until size.appends).foreach { k =>
      val dt = run.time(tr.span("text.append") {
        PostingsStore.append(spark.read.parquet(s"$corpus/append$k"), store, newIds = true)
      })._2
      run.sample("append", dt)
    }
    run.phase("delete")
    tr.span("text.delete")(PostingsStore.delete(deleted.toDF("doc_id"), store))
    run.values("text.staleness") = PostingsStore.staleness(spark, store)

    run.phase("oracle")
    val gone = deleted.toSet
    val live = (base ++ batches.flatten).filterNot(d => gone(d.id))
    val oracle = new TextOracle(live)
    run.loop(cycle = 6, warmup = 6) { i =>
      val s = search(run.seed, size, zipf, live, oracle, i)
      val (got, dt) = run.time(run.attempt(s"text ${s.label}") {
        tr.span("op") {
          val postings = tr.span("text.live")(PostingsStore.live(spark, store))
          val q = tr.span("text.plan") {
            val q = s.plan(postings, () => PostingsStore.normsLive(spark, store))
            q.queryExecution.executedPlan
            q
          }
          tr.span("text.exec")(s.collect(q))
        }
      })
      got.foreach(g => run.check(s"text ${s.label}", s.ok(g), s"unexpected result $g for ${s.args.mkString(" ")}"))
      dt
    }
    run.values("index_space_ratio") = run.bytesUnder(store).toDouble / run.bytesUnder(corpus)
  }
}
