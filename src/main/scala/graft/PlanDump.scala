package graft

/** Dev tool: dump `.explain("formatted")` for named SparkEntry queries
  * to files — `runMain graft.PlanDump <outDir> <suffix> q27,q53` (or
  * `all`). Mirrors Bench's session configuration so the captured plans
  * are the benched ones. Plan construction only — no jobs run except
  * any artifact ensure() a query performs while building its plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val subs = args(2).split(',').toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => subs.contains("all") || subs.exists(n.contains))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
        println(s"[plandump] wrote $n")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
