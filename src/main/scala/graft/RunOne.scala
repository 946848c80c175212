package graft

/** Dev tool: run one named SparkEntry query repeatedly and print its
  * wall time per iteration — `runMain graft.RunOne q27_dedup_simhash
  * <sfDir> 3`. Uses Bench's session ([[Session]]).
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    var builder = Session.builder(cpus)
    // experiment hook: SPARK_GRAFT_CONF="k=v,k=v" overrides any of the
    // session's settings for A/B timing runs without a recompile
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(',').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => builder = builder.config(k.trim, v.trim)
        case _ => ()
      }
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // comma-separated names run round-robin (A/B several queries in one
    // JVM without paying a session start per query); each prints its own
    // per-iter line, so min-of-N is a grep away
    val names = name.split(',').toSeq
    // validate every name up front — a typo in position k must fail
    // before queries 1..k-1 have burned minutes of timing (r19 advisor)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(",")} — names must match " +
        "SparkEntry.queries keys exactly")
    // Spark-job counter: how many jobs each query spawns, split into
    // plan-construction jobs (driver-side collects inside fn — probe
    // cells, shortlists, centroid reads) and action jobs. The q171/q172
    // serialized-driver-action work needs exactly this evidence.
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
    spark.stop()
  }
}
