package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The dev tool — `runMain graft.Dev <command> ...`, one command per
  * experiment over one shared setup: Bench's session ([[Session]]) on
  * `SPARK_GRAFT_CPUS` cores (default 32), with `SPARK_GRAFT_CONF="k=v,k=v"`
  * overriding any of its settings for A/B runs without a recompile; the
  * corpus from `SPARK_GRAFT_SF_DIR` (default sf0.1); and one query
  * filter — `all`, or comma-separated substrings of `SparkEntry.queries`
  * names, each validated up front (a typo in position k must fail before
  * queries 1..k-1 have burned minutes of timing).
  *
  *  - `run <queries> [sfDir] [iters]`: run each selected query `iters`
  *    times (default 2), round-robin in one JVM, printing one `[runone]`
  *    line per run: wall time, rows, and the Spark jobs split into plan
  *    construction (driver-side collects inside the query function —
  *    probe cells, shortlists, centroid reads) and the action.
  *  - `plans <outDir> <suffix> <queries>`: `.explain("formatted")` of
  *    each query to `<outDir>/<q>_<suffix>.txt`. Plan construction only
  *    — no jobs run except any artifact ensure a query performs while
  *    building its plan.
  *  - `digests <outDir> <suffix> <queries>`: the floors-epoch plan
  *    digest (`[digestdump] <q> <digest>`) and the normalized analyzed
  *    plan it hashes, to `<outDir>/<q>_<suffix>.txt`. Two runs in two
  *    fresh JVMs let a diff localize any session-dependent token that
  *    leaks through the normalization (each such token is a spurious
  *    floor epoch reset in the bench).
  */
object Dev {
  private val Usage = "usage: graft.Dev run <queries> [sfDir] [iters] | " +
    "plans <outDir> <suffix> <queries> | digests <outDir> <suffix> <queries>"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.toList match {
      case "run" :: queries :: rest =>
        val names = select(queries)
        withSession(run(_, names, rest.headOption.getOrElse(sfDir),
          rest.lift(1).fold(2)(_.toInt)))
      case "plans" :: outDir :: suffix :: queries :: Nil =>
        val names = select(queries)
        withSession(dump(_, names, sfDir, outDir, suffix, "plandump") { (df, n) =>
          (df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode), s"wrote $n")
        })
      case "digests" :: outDir :: suffix :: queries :: Nil =>
        val names = select(queries)
        withSession(dump(_, names, sfDir, outDir, suffix, "digestdump") { (df, n) =>
          val digest = Bench.planDigest(df)
          (s"digest: $digest\n${Bench.normalizedAnalyzed(df)}", s"$n $digest")
        })
      case _ => throw new IllegalArgumentException(Usage)
    }
  }

  /** The registered queries `spec` selects, sorted by name. */
  private def select(spec: String): Seq[String] = {
    val subs = spec.split(',').toSeq
    val all = SparkEntry.queries.keys.toSeq.sorted
    val unknown = subs.filterNot(t => t == "all" || all.exists(_.contains(t)))
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(",")} — each must be `all` or " +
        "part of a SparkEntry.queries key")
    all.filter(n => subs.contains("all") || subs.exists(n.contains))
  }

  private def withSession(body: SparkSession => Unit): Unit = {
    var builder = Session.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(',').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => builder = builder.config(k.trim, v.trim)
        case _ => ()
      }
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try body(spark) finally spark.stop()
  }

  private def run(spark: SparkSession, names: Seq[String], sfDir: String,
      iters: Int): Unit = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet(): Unit
      })
    (1 to iters).foreach { i =>
      names.foreach { n0 =>
        val fn = SparkEntry.queries(n0)
        val j0 = jobs.get()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val j1 = jobs.get()
        val n = df.count()
        val t2 = System.nanoTime()
        // listener delivery is async; a short settle keeps the counts
        // honest at the cost of not being part of the timed region
        Thread.sleep(50)
        val j2 = jobs.get()
        println(f"[runone] $n0 iter $i: ${(t2 - t0) / 1e9}%.3f s rows=$n " +
          f"(construct ${(t1 - t0) / 1e9}%.3f s/${j1 - j0} jobs, " +
          f"action ${(t2 - t1) / 1e9}%.3f s/${j2 - j1} jobs)")
      }
    }
  }

  /** Write `render(df, q)._1` to `<outDir>/<q>_<suffix>.txt` for each
    * query and print `[tag] render(df, q)._2`; a query that fails to
    * plan is reported on stderr and skipped. */
  private def dump(spark: SparkSession, names: Seq[String], sfDir: String,
      outDir: String, suffix: String, tag: String)(
      render: (DataFrame, String) => (String, String)): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      try {
        val (text, line) = render(SparkEntry.queries(n)(spark, sfDir), n)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), text)
        println(s"[$tag] $line")
      } catch {
        case e: Throwable =>
          System.err.println(s"[$tag] $n failed: ${e.getMessage}")
      }
    }
  }
}
