package perfbench

import graft.Graft
import graft.build.IndexBuilder
import graft.plans.GraftPruneRule
import graft.query._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The `lookup` workload: selective reads of seeded events data indexed
  * on (event_type, user_id), against an index that a writer batch,
  * `buildIncremental` and `compact` have maintained and that lags one
  * rewritten file. */
object Events {
  val IndexColumns: Seq[String] = Seq("event_type", "user_id")

  final case class Size(files: Int, rowsPerFile: Int) {
    def users: Int = Gen.users(files, rowsPerFile)
    def runsPerFile: Int = rowsPerFile / Gen.RunLen
  }

  /** One events read: the index predicate, the same predicate as a Spark
    * column for the transparent path, and the keys the oracle sums. */
  final case class Read(
      label: String, pred: Pred, column: Column,
      users: Seq[Long], typeOk: String => Boolean, transparent: Boolean)

  def eqUser(u: Long, transparent: Boolean = false): Read =
    Read("eq", Eq("user_id", u.toString), col("user_id") === u, Seq(u), _ => true, transparent)

  def typeAndUser(t: String, u: Long, transparent: Boolean = false): Read =
    Read("and", And(Eq("event_type", t), Eq("user_id", u.toString)),
      col("event_type") === t && col("user_id") === u, Seq(u), _ == t, transparent)

  def inUsers(us: Seq[Long], transparent: Boolean = false): Read = {
    val d = us.distinct
    Read("in", Pred.in("user_id", d.map(_.toString)), col("user_id").isin(d: _*), d, _ => true, transparent)
  }

  /** The `lookup` op stream: EQ user, AND(type, user) and IN of 5 users in
    * turn, users Zipf-skewed, in a fixed cycle of 12 ops whose first three
    * (one of each kind) go through the transparent
    * `Graft.read(...).filter(...)` path — a quarter of all ops — so every
    * seed gets the same mix, and the first 6 ops cover every (kind, path)
    * pair. */
  def lookupRead(seed: Long, zipf: Gen.Zipf, i: Long): Read = {
    val k = Math.floorMod(i, 12L).toInt
    val transparent = k < 3
    k % 3 match {
      case 0 => eqUser(zipf(i * 8).toLong, transparent)
      case 1 => typeAndUser(Gen.EventTypes(((Gen.mix(seed, 7, i) >>> 1) % 8).toInt), zipf(i * 8).toLong, transparent)
      case _ => inUsers((0 until 5).map(j => zipf(i * 8 + j).toLong), transparent)
    }
  }

  /** Run one read through the program, time it, and check it. The timed
    * part is the prune decision (or planning) plus the Spark action. */
  def timedRead(run: Run, oracle: EventOracle, dataDir: String, indexRoot: String, r: Read): Double = {
    val tr = run.tracer
    val traced = tr.active
    val prune0 = PruneStats.counters()._4
    var report: Option[PruneReport] = None
    var scanned: DataFrame = null
    val (got, dt) = run.time(run.attempt(s"lookup ${r.label}") {
      tr.span("op") {
        if (r.transparent) {
          val q = tr.span("plans") {
            val q = Answer.agg(Graft.read(run.spark, dataDir).filter(r.column))
            q.queryExecution.executedPlan
            q
          }
          tr.span("exec")(Answer.collect(q))
        } else {
          val (df, rep) = tr.span("query.prune") {
            PrunedScanner.scanWithReport(run.spark, dataDir, r.pred, indexRoot)
          }
          report = Some(rep)
          scanned = df
          tr.span("exec")(Answer.collect(Answer.agg(df)))
        }
      }
    })
    got.foreach { a =>
      val (want, holding) = oracle.expect(r.users, r.typeOk)
      run.check(s"lookup ${r.label}", a == want, s"got $a, expected $want for ${r.pred}")
      if (traced) {
        run.sample("exec.result_rows", a.rows.toDouble)
        if (r.transparent) run.sample("plans.prune_ms", (PruneStats.counters()._4 - prune0).toDouble)
        report.foreach { rep =>
          run.sample("query.files_read_frac", (rep.selectedFiles + rep.fallbackFiles).toDouble / rep.totalFiles)
          run.sample("query.bytes_read_frac", rep.selectedBytes.toDouble / rep.totalBytes)
          run.sample("query.fallback_files", rep.fallbackFiles.toDouble)
          val read = scanned.inputFiles.map(IndexBuilder.canonicalPath).toSet
          run.sample("query.files_read", read.size.toDouble)
          run.sample("query.files_hit", read.count(holding).toDouble)
        }
      }
    }
    dt
  }

  /** The files of one set-up. The base is written first; after the cold
    * build a writer batch lands 2 files of existing users and rewrites 1
    * base file, which `buildIncremental` indexes and `compact` cleans up
    * after; then a second base file is rewritten and left unindexed, so
    * its descriptor is stale and every read falls back to scanning it in
    * full. All of it is derived from the seed. */
  final case class Writes(base: Seq[Gen.FileSpec], batch: Seq[Gen.FileSpec], stale: Gen.FileSpec)

  def writes(seed: Long, size: Size): Writes = {
    val base = Gen.baseSpecs(seed, size.files, size.rowsPerFile)
    def owners(salt: Long) = Array.tabulate(size.runsPerFile)(r => (Gen.mix(seed, salt, r) >>> 1) % size.users)
    val landed = (0 until 2).map { j =>
      val f = size.files + j
      Gen.FileSpec(f"f$f%05d", f.toLong * size.rowsPerFile, size.rowsPerFile, owners(60 + j), 0)
    }
    val picks = Gen.shuffle(Array.tabulate(size.files)(identity), seed, 70)
    val rewritten = base(picks(0)).copy(owners = owners(62), salt = 1)
    val stale = base(picks(1)).copy(owners = owners(63), salt = 2)
    Writes(base, landed :+ rewritten, stale)
  }

  /** One cold set-up into fresh directories `events<k>` and `index<k>`:
    * the writes are off the clock; the returned time is `build` +
    * `buildIncremental` + `compact`. */
  def maintainedIndex(run: Run, size: Size, w: Writes, k: Int): (String, String, Double) = {
    val spark = run.spark
    val tr = run.tracer
    val dataDir = run.path(s"events$k")
    val indexRoot = run.path(s"index$k")
    Gen.writeFiles(spark, run.seed, dataDir, w.base)
    val full = run.time(tr.span("build.full") {
      IndexBuilder.build(spark, dataDir, IndexColumns, indexRoot, overwrite = true)
    })._2
    if (tr.active) run.sample("build.files_indexed", size.files.toDouble)
    Gen.writeFiles(spark, run.seed, dataDir, w.batch)
    val (indexed, incr) = run.time(tr.span("build.incr") {
      IndexBuilder.buildIncremental(spark, dataDir, IndexColumns, indexRoot)
    })
    run.check("lookup buildIncremental", indexed.size == w.batch.size,
      s"indexed ${indexed.size} files, expected ${w.batch.size}")
    if (tr.active) run.sample("build.files_indexed", indexed.size.toDouble)
    val ((before, after), compact) = run.time(tr.span("build.compact")(IndexBuilder.compact(spark, indexRoot)))
    run.check("lookup compact", after < before, s"compact kept all $before postings rows")
    if (tr.active) run.sample("build.dead_rows", (before - after).toDouble)
    Gen.writeFiles(spark, run.seed, dataDir, Seq(w.stale))
    run.sample("index_build", full)
    run.sample("append", incr)
    run.sample("compact", compact)
    (dataDir, indexRoot, full + incr + compact)
  }

  /** The full-scan counterfactual: the same reads through plain
    * `spark.read` with no index registered, timed outside the loop. */
  def baseline(run: Run, oracle: EventOracle, dataDir: String, reads: Seq[Read]): Unit = {
    val spark = run.spark
    val saved = spark.conf.getOption(GraftPruneRule.IndexesConf)
    spark.conf.unset(GraftPruneRule.IndexesConf)
    try reads.foreach { r =>
      val (got, dt) = run.time(Answer.collect(Answer.agg(spark.read.parquet(dataDir).filter(r.column))))
      run.check(s"baseline ${r.label}", got == oracle.expect(r.users, r.typeOk)._1, s"got $got for ${r.pred}")
      run.sample("baseline.fullscan", dt)
    } finally saved.foreach(spark.conf.set(GraftPruneRule.IndexesConf, _))
  }

  def lookup(run: Run, size: Size): Unit = {
    val w = writes(run.seed, size)
    var dirs = ("", "")
    run.setup {
      val (d, i, dt) = maintainedIndex(run, size, w, run.setupSeconds.size)
      dirs = (d, i)
      dt
    }
    val (dataDir, indexRoot) = dirs
    Graft.registerIndex(run.spark, dataDir, indexRoot)
    run.phase("oracle")
    val oracle = new EventOracle(run.spark)
    oracle.refresh(IndexBuilder.listDataFiles(run.spark, dataDir).map(_.path))
    val zipf = new Gen.Zipf(size.users, 1.1, run.seed, 3)
    run.loop(cycle = 12, warmup = 6)(i => timedRead(run, oracle, dataDir, indexRoot, lookupRead(run.seed, zipf, i)))
    run.values("index_space_ratio") = run.bytesUnder(indexRoot).toDouble / run.bytesUnder(dataDir)
    if (run.trace) {
      baseline(run, oracle, dataDir, (0L until 6L).map(lookupRead(run.seed, zipf, _)))
      run.values("build.postings_rows") = IndexBuilder.postings(run.spark, indexRoot).count().toDouble
      run.values("build.index_bytes") = run.bytesUnder(indexRoot).toDouble
    }
  }
}
