package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the tracer, the op counters
  * and the observations the metrics are computed from. */
final class Run(
    val spark: SparkSession,
    val seed: Long,
    val trace: Boolean,
    val work: String) {

  val tracer = new Tracer(spark.sparkContext, trace)

  var attempted = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Latencies of the workload's primary op; in a traced run, of the
    * untraced half of the ops. */
  val latencies: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  /** In a traced run, latencies of the traced half. */
  val tracedLatencies: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val setupSeconds: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  /** Named samples: secondary latencies and per-op layer observations. */
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  /** Single values measured once per run. */
  val values: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** CPU steal share and GC seconds over the measured window. */
  var stealFrac = 0.0
  var gcSeconds = 0.0

  def sample(name: String, x: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += x

  def path(name: String): String = s"$work/$name"

  private val born = System.nanoTime()
  /** Progress on stderr, with seconds since the run began. */
  def phase(what: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - born) / 1e9}%7.2f s  $what")

  /** Count one checked answer; a mismatch is a failed op. */
  def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) failures += s"$what: $detail"
  }

  /** Run a program call; an exception is a failed op, not a crash. */
  def attempt[A](what: String)(body: => A): Option[A] =
    try Some(body)
    catch {
      case e: Exception =>
        attempted += 1
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Set up three times from cold; `setup_s` is the median. `body`
    * returns the seconds of its timed part, so that it can leave the
    * writing of inputs off the clock. */
  def setup(body: => Double): Unit = {
    phase("set-up")
    (1 to 3).foreach(_ => setupSeconds += body)
  }

  /** The closed loop: one client, the next op only after the previous one
    * returned. `warmup` unrecorded ops, the first ones of the workload's
    * cycle of `cycle` ops (negative op numbers, so other keys than the
    * measured ops), warm every kind's code paths. Then it measures exactly
    * [[Run.Cycles]] cycles, whatever the host's speed: every run sees the
    * same mix of kinds, and every run measures the same ops at the same
    * distance from JVM start, so that JIT warm-up cannot favour a faster
    * host or commit with more, warmer samples. `--seconds` therefore does
    * not set the window; the phase line reports how long it took. `op`
    * returns the latency of its timed part. In a traced run half of the
    * ops run untraced, so the two halves give the tracing overhead; the
    * half flips every cycle, so both halves see every kind of op. */
  def loop(cycle: Int, warmup: Int)(op: Long => Double): Unit = {
    require(cycle >= 2, "a cycle of at least two ops, for the traced/untraced halves")
    tracer.active = false
    phase("warm-up")
    (0 until warmup).foreach(k => op(k - 1000L * cycle))
    System.gc() // set-up garbage is not collected on the clock
    phase("measure")
    val gc0 = Gauges.gcSeconds()
    val cpu0 = Gauges.cpuJiffies()
    val t0 = System.nanoTime()
    val ops = Run.Cycles * cycle
    for (i <- 0L until ops) {
      tracer.active = trace && (i + i / cycle) % 2 == 1
      tracer.beginOp(i)
      val dt = op(i)
      if (tracer.active) tracedLatencies += dt else latencies += dt
    }
    tracer.active = trace
    phase(f"measured $ops ops in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    stealFrac = Gauges.stealFrac(cpu0, Gauges.cpuJiffies())
    gcSeconds = Gauges.gcSeconds() - gc0
  }

  /** Bytes of the regular files under `dir`, checksum sidecars excluded. */
  def bytesUnder(dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.endsWith(".crc")) n += f.getLen
      }
      n
    }
  }
}

object Run {
  /** Op cycles every run measures. On a 4-vCPU machine whose own speed
    * drifts by about a tenth between runs, more cycles do not make the
    * medians repeat more closely, and about twenty runs of each workload
    * must stay short enough for one regression comparison. */
  val Cycles = 2
}
