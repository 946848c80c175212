package graft

/** Dev tool: dump the floors-epoch plan digest AND the normalized
  * analyzed-plan string it hashes for named SparkEntry queries —
  * `runMain graft.DigestDump <outDir> <suffix> q77,q26` (or `all`).
  * Two runs in two fresh JVMs let a diff localize any session-dependent
  * token that leaks through the normalization (each such token is a
  * spurious floor epoch reset in the bench).
  */
object DigestDump {
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
        val digest = Bench.planDigest(df)
        val norm = Bench.normalizedAnalyzed(df)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
          s"digest: $digest\n$norm")
        println(s"[digestdump] $n $digest")
      } catch {
        case e: Throwable =>
          System.err.println(s"[digestdump] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
