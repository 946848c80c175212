package perfbench

import graft.build.IndexBuilder
import org.apache.spark.sql.functions.col

/** The benchmark's own checks: `SelfTest --work <dir>`.
  *  - the same seed gives the same data and the same op streams, and
  *    another seed does not;
  *  - the answer checker counts an injected wrong answer (a dropped row);
  *  - it prints the metric names, which `test_perfbench.py` compares with
  *    `BENCHMARK.json`.
  * Exits non-zero when a check fails. */
object SelfTest {
  private var failed = 0
  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failed += 1
  }

  def main(args: Array[String]): Unit = {
    val work = new java.io.File(args(args.indexOf("--work") + 1)).getAbsolutePath
    val spark = Main.session(work)
    val run = new Run(spark, 7L, trace = false, work)
    val size = Events.Size(files = 4, rowsPerFile = 200)

    // same seed, same rows and op streams; another seed, different ones
    def rows(seed: Long) = Gen.baseSpecs(seed, size.files, size.rowsPerFile)
      .flatMap(s => (0 until s.rows).map(i => Gen.event(seed, s.salt, s.firstEvent + i, s.owners(i / Gen.RunLen))))
    expect("events rows repeat for a seed", rows(7) == rows(7))
    expect("events rows change with the seed", rows(7) != rows(8))
    def lookups(seed: Long) = {
      val z = new Gen.Zipf(size.users, 1.1, seed, 3)
      (0L until 50L).map(Events.lookupRead(seed, z, _)).map(r => (r.label, r.pred, r.transparent))
    }
    expect("lookup op stream repeats for a seed", lookups(7) == lookups(7))
    expect("lookup op stream changes with the seed", lookups(7) != lookups(8))
    def writes(seed: Long) = {
      val w = Events.writes(seed, size)
      (w.batch :+ w.stale).map(s => (s.name, s.firstEvent, s.owners.toSeq, s.salt))
    }
    expect("lookup set-up writes repeat for a seed", writes(7) == writes(7))
    expect("lookup set-up writes change with the seed", writes(7) != writes(8))
    val ts = Text.Size(docs = 200, len = 12, vocab = 300, appends = 1, appendDocs = 20, deletes = 5)
    def searches(seed: Long) = {
      val z = new Gen.Zipf(ts.vocab, 1.0, seed, 5)
      val docs = Gen.docs(seed, 1, 0L, ts.docs, ts.len, z)
      val oracle = new TextOracle(docs)
      (docs.map(_.text), (0L until 24L).map(i => Text.search(seed, ts, z, docs, oracle, i)).map(s => (s.label, s.args)))
    }
    expect("text corpus and search stream repeat for a seed", searches(7) == searches(7))
    expect("text corpus and search stream change with the seed", searches(7) != searches(8))

    // written files: same content for the same seed
    def written(dir: String): Seq[Answer] = {
      Gen.writeFiles(spark, 7L, dir, Gen.baseSpecs(7L, size.files, size.rowsPerFile))
      IndexBuilder.listDataFiles(spark, dir).sortBy(_.path.split('/').last)
        .map(f => Answer.collect(Answer.agg(spark.read.parquet(f.path))))
    }
    val dir = run.path("a")
    expect("written files repeat for a seed", written(dir) == written(run.path("b")))

    // the checker: a right answer passes, a dropped row is counted
    val oracle = new EventOracle(spark)
    oracle.refresh(IndexBuilder.listDataFiles(spark, dir).map(_.path))
    val r = Events.inUsers(Seq(0L, 1L, 2L))
    val want = oracle.expect(r.users, r.typeOk)._1
    val rows3 = spark.read.parquet(dir).filter(r.column)
    val right = Answer.collect(Answer.agg(rows3))
    run.check("right answer", right == want, s"$right vs $want")
    expect("checker passes the right answer", run.failures.isEmpty && right.rows > 1)
    val dropped = Answer.collect(Answer.agg(rows3.orderBy(col("event_id")).limit(right.rows.toInt - 1)))
    run.check("dropped row", dropped == want, s"$dropped vs $want")
    expect("checker counts a dropped row", run.failures.size == 1 && run.attempted == 2)

    println("names " + (Metrics.EndToEnd ++ Metrics.PerLayer).map(_._1).mkString(","))
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
