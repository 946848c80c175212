package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run:
  * `Main --workload <name> --seed <n> --trace <0|1> --work <dir> [--trace-out <file>]`.
  * It generates its inputs from the seed under `--work`, sets up, runs
  * a fixed number of cycles of the workload's closed loop, checks every
  * answer, and prints one line per reported number followed by the
  * result JSON. */
object Main {
  /** Input sizes, fixed so that every workload's run stays short enough to
    * be repeated many times on a 4-core machine. */
  val LookupSize: Events.Size = Events.Size(files = 32, rowsPerFile = 2000)
  val TextSize: Text.Size = Text.Size(docs = 3000, len = 24, vocab = 3000, appends = 2, appendDocs = 200, deletes = 50)

  val Workloads: Map[String, Run => Unit] = Map(
    "lookup" -> (r => Events.lookup(r, LookupSize)),
    "text" -> (r => Text(r, TextSize)))

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // keep Spark's own per-job bookkeeping small, so the live heap after
      // a run reflects the library's state rather than how many ops ran
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def json(v: Double): String = if (v.isNaN || v.isInfinite) "0.0" else v.toString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val body = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload' (have: ${Workloads.keys.toSeq.sorted.mkString(", ")})")
      sys.exit(2)
    })
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opts("work")).getAbsolutePath
    val spark = session(work)
    val run = new Run(spark, opts("seed").toLong, trace, work)
    run.phase("generate")
    body(run)
    run.values("heap_live_mb") = Gauges.liveHeapMb()

    Metrics.report(workload, run).foreach { case (n, v, u, k) =>
      println(f"report $workload%-6s $n%-22s $v%14.6f $u%-5s n=$k")
    }
    run.failures.take(20).foreach(f => println(s"failed $f"))
    val (names, values) =
      if (trace) (Metrics.PerLayer, Metrics.perLayer(run)) else (Metrics.EndToEnd, Metrics.endToEnd(run))
    opts.get("trace-out").filter(_ => trace).foreach(run.tracer.write)
    val metrics = names.map { case (n, u) => s""""$n": {"value": ${json(values(n))}, "unit": "$u"}""" }
    println(s"""{"correct": ${run.failures.isEmpty}, "attempted": ${math.max(1L, run.attempted)}, """ +
      s""""failed": ${run.failures.size}, "metrics": {${metrics.mkString(", ")}}}""")
    run.phase("stop")
    spark.stop()
  }
}
