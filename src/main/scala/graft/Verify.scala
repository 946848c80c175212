package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeoutException

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * SIGNAL-FIRST by construction (the round-6 lesson: one hung query
  * zeroed all 63 queries' evidence because the oracle map was written
  * last and the loop had no timeout):
  *  - `oracle_sql.json` is written BEFORE any query runs — the driver
  *    can always pair whatever dumps exist with their oracles;
  *  - every query runs under a watchdog (Future + job-group cancel):
  *    a pathological query costs its own row, never the round;
  *  - per-query progress goes to stderr, so a tail of the run log
  *    shows exactly where time went or a hang happened.
  */
object Verify {

  /** Per-query cap. Generous: every healthy query at sf0.01 runs in
    * seconds; the driver's whole-run budget is the scarce resource. */
  private val QueryTimeout = 120.seconds

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated name substrings — targeted
    // re-dumps after a change (pairs with selfcheck.py's filter)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(',').toSeq) else None
    // match the stated local[32] environment unless the caller overrides
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus)
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    import scala.concurrent.ExecutionContext.Implicits.global
    val sc = spark.sparkContext
    // returns true when the dump was written, false on timeout
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean = {
      val t0 = System.nanoTime()
      val task = Future {
        sc.setJobGroup(s"verify-$name", name, interruptOnCancel = true)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        finally sc.clearJobGroup()
      }
      try {
        Await.result(task, QueryTimeout)
        System.err.println(
          f"[verify] $name: ok (${(System.nanoTime() - t0) / 1e9}%.1f s)")
        true
      } catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(s"verify-$name")
          System.err.println(s"[verify] $name: timeout after $QueryTimeout")
          // a cancelled query's tasks die between rows, not instantly;
          // wait for the scheduler to go idle (bounded) so the orphans
          // don't poison the next query's run
          drain(sc, 60.seconds)
          false
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          true // a real failure won't improve on retry; move on
      }
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
      // never START a query while a host steal wave is running: a
      // 10-80x wall-clock inflation turns a 3 s query into a false
      // timeout, and every false timeout costs a correctness row
      Contention.waitCalm(60000L)
      if (!runOnce(name, fn)) {
        // the timeout itself usually IS the wave; re-gate and give the
        // query one more chance before conceding its row
        Contention.waitCalm(60000L)
        if (!runOnce(name, fn))
          System.err.println(s"[verify] $name: SKIPPED after retry")
      }
    }
    spark.stop()
  }

  /** Poll until no Spark job is active, or `max` elapses. */
  private def drain(sc: org.apache.spark.SparkContext, max: FiniteDuration): Unit = {
    val deadline = System.nanoTime() + max.toNanos
    while (sc.statusTracker.getActiveJobIds().nonEmpty &&
      System.nanoTime() < deadline) Thread.sleep(200)
  }
}
