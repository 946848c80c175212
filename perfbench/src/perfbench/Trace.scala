package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: counts from the listener, summed
  * over the jobs started while the span's job group was set. */
final class Work {
  var jobs, tasks, taskRunMs, taskCpuNs, inputBytes, inputRows, shuffleBytes, spillBytes = 0L
}

/** Sums task metrics per job group. Each span sets its own group, so a
  * job counts toward the innermost span that started it. */
final class GroupListener extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val work = new java.util.concurrent.ConcurrentHashMap[String, Work]()
  private def of(g: String): Work = work.computeIfAbsent(g, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    of(g).synchronized(of(g).jobs += 1)
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val g = stageGroup.get(e.stageId)
    if (m != null && g != null) {
      val w = of(g)
      w.synchronized {
        w.tasks += 1
        w.taskRunMs += m.executorRunTime
        w.taskCpuNs += m.executorCpuTime
        w.inputBytes += m.inputMetrics.bytesRead
        w.inputRows += m.inputMetrics.recordsRead
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def apply(g: String): Work = Option(work.get(g)).getOrElse(new Work)
}

final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def group: String = s"perfbench-$id"
}

/** Spans recorded from the benchmark's own calls into the program. With
  * tracing off, [[span]] only runs its body. Spans stay in memory and are
  * written out once, at the end of the run. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val listener = new GroupListener
  if (enabled) sc.addSparkListener(listener)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var op = 0L
  /** Tracing can be paused per op, so that a traced run can also time
    * untraced ops and report the overhead. */
  var active: Boolean = enabled

  def beginOp(i: Long): Unit = op = i

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setJobGroup(s"perfbench-$id", name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"perfbench-$p", "")
          case None => sc.clearJobGroup()
        }
        done += Span(id, parent, op, name, t0, t1)
      }
    }

  /** Wait for the listener to see every finished task, then the spans. */
  def spans: Seq[Span] = {
    if (enabled) org.apache.spark.PerfbenchBridge.drain(sc)
    done.toSeq
  }

  def work(s: Span): Work = listener(s.group)

  /** Span time not covered by its child spans. */
  def selfSeconds: Map[Int, Double] = {
    val all = spans
    val childTime = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    all.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }

  /** One JSON object per span, in start order. */
  def write(path: String): Unit = {
    val self = selfSeconds
    val lines = spans.sortBy(_.startNs).map { s =>
      val w = work(s)
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f""""start_ns":${s.startNs},"dur_s":${s.seconds},"self_s":${self(s.id)},""" +
        f""""jobs":${w.jobs},"tasks":${w.tasks},"task_cpu_s":${w.taskCpuNs / 1e9},""" +
        f""""input_bytes":${w.inputBytes},"shuffle_bytes":${w.shuffleBytes}}"""
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.asJava)
  }
}

/** Host and JVM gauges sampled around a measurement window. */
object Gauges {
  /** (steal, total) jiffies from the first line of /proc/stat, if any. */
  def cpuJiffies(): Option[(Long, Long)] =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val xs = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        Some((if (xs.length > 7) xs(7) else 0L, xs.sum))
      } finally f.close()
    } catch { case _: Exception => None }

  def stealFrac(before: Option[(Long, Long)], after: Option[(Long, Long)]): Double =
    (before, after) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => 0.0
    }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** Heap in use after full collections, in MB: the least of three, so
    * that objects freed by Spark's reference-queue cleaner in between are
    * not counted. */
  def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
}

object Stats {
  /** Percentile of a non-empty sample, interpolated linearly between the
    * closest ranks (the "inclusive" method), so a median of an even count
    * is the mean of the middle two. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val at = p * (s.length - 1)
    val lo = math.floor(at).toInt
    val hi = math.min(s.length - 1, lo + 1)
    s(lo) + (at - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
