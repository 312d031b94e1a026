package perfbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Interval arithmetic over `[start, end)` pairs on one clock. */
object Intervals {

  /** Length of the union of `ivs`, each clipped to `[lo, hi)`. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var runStart = 0L
    var runEnd = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > runEnd) {
        if (runEnd != Long.MinValue) total += runEnd - runStart
        runStart = s
        runEnd = e
      } else if (e > runEnd) runEnd = e
    }
    if (runEnd != Long.MinValue) total += runEnd - runStart
    total
  }
}

/** One finished span. Times are `System.nanoTime` values; `cpu` is the
  * process CPU time spent while the span was open and `stolen` the
  * machine's stolen time over the same interval, both in seconds.
  */
final case class SpanRec(id: Int, name: String, parent: Int, start: Long, end: Long,
                         cpu: Double = 0.0, counters: Map[String, Double] = Map.empty,
                         stolen: Double = 0.0) {
  def wall: Long = end - start

  /** Wall seconds with the stolen share taken out; see [[ProcessCpu.unstolen]]. */
  def unstolenS: Double = ProcessCpu.unstolen(wall / 1e9, cpu, stolen)
}

/** CPU time from the kernel's accounting, in seconds. */
object ProcessCpu {
  private val ticksPerSecond = 100.0

  private def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")

  /** This process, all threads. */
  def seconds(): Double = {
    val stat = read("/proc/self/stat")
    // fields after the parenthesised command name; utime and stime are 14 and 15
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) / ticksPerSecond
  }

  /** Time the hypervisor ran other guests on this machine's CPUs, all CPUs. */
  def stolenSeconds(): Double =
    read("/proc/stat").linesIterator.next().trim.split("\\s+")(8).toLong / ticksPerSecond

  /** `wall` seconds as they would have read had the hypervisor taken no
    * CPU time away: scaled by the share of the CPU time the process asked
    * for that it got, `cpu / (cpu + stolen)`. The kernel's steal-time
    * accounting keeps stolen time out of a process's CPU time, so `cpu` is
    * the time the process ran and `stolen` the time it was kept waiting
    * while another guest ran. On a machine nobody shares, `stolen` is 0
    * and this is `wall`.
    */
  def unstolen(wall: Double, cpu: Double, stolen: Double): Double =
    if (cpu + stolen <= 0) wall else wall * cpu / (cpu + math.max(stolen, 0.0))
}

/** One Spark job, attributed to the span that submitted it. */
final case class JobRec(span: Int, start: Long, end: Long, tasks: Int, taskNanos: Long)

/** A span with its derived figures. `jobs`, `tasks` and `taskNanos` are
  * inclusive of descendant spans. `selfNanos` is wall time not covered by
  * child spans; `driverNanos` is wall time during which no job of the
  * span's subtree was running.
  */
final case class SpanStats(rec: SpanRec, selfNanos: Long, driverNanos: Long,
                           jobs: Int, tasks: Int, taskNanos: Long)

object SpanStats {
  def of(spans: Seq[SpanRec], jobs: Seq[JobRec]): Seq[SpanStats] = {
    val children = spans.groupBy(_.parent)
    def subtree(id: Int): Seq[Int] = id +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    val jobsBySpan = jobs.groupBy(_.span)
    spans.map { s =>
      val own = subtree(s.id).flatMap(id => jobsBySpan.getOrElse(id, Nil))
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      SpanStats(s,
        selfNanos = s.wall - Intervals.covered(kids, s.start, s.end),
        driverNanos = s.wall - Intervals.covered(own.map(j => (j.start, j.end)), s.start, s.end),
        jobs = own.size, tasks = own.map(_.tasks).sum, taskNanos = own.map(_.taskNanos).sum)
    }
  }
}

/** Records a tree of named spans around the calls a workload makes. On
  * its own it keeps names, wall times and process CPU times, which costs
  * nothing a measurement could see; with a [[JobTracer]] attached each
  * span also collects its Spark jobs and the files it wrote.
  */
final class Recorder(tracer: Option[JobTracer] = None) {
  private val open = mutable.ArrayBuffer.empty[Int]
  private val done = mutable.ArrayBuffer.empty[SpanRec]
  private val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.lastOption.getOrElse(-1)
    tracer.foreach(_.enter(id))
    val cpu0 = ProcessCpu.seconds()
    val stolen0 = ProcessCpu.stolenSeconds()
    val start = System.nanoTime()
    open += id
    try body
    finally {
      val end = System.nanoTime()
      val cpu = ProcessCpu.seconds() - cpu0
      val stolen = ProcessCpu.stolenSeconds() - stolen0
      open.remove(open.length - 1)
      tracer.foreach(_.exit(id, parent))
      done += SpanRec(id, name, parent, start, end, cpu, stolen = stolen)
    }
  }

  /** Adds `v` to counter `key` of the innermost open span. */
  def count(key: String, v: Double): Unit = open.lastOption.foreach { id =>
    val m = counters.getOrElseUpdate(id, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }

  def spans: Seq[SpanRec] = done.toSeq.sortBy(_.id).map { s =>
    val c = counters.get(s.id).fold(Map.empty[String, Double])(_.toMap)
    val f = tracer.fold(Map.empty[String, Double])(_.filesOf(s.id))
    s.copy(counters = c ++ f)
  }
}

/** The traced run's Spark listener. Jobs are attributed to spans through
  * a local property set while the span is open; Spark copies local
  * properties into threads created under it, so jobs submitted from an
  * operator's helper threads land in the right span too. File counters
  * come from snapshots of the workspace before and after each span.
  */
final class JobTracer(sc: SparkContext, workspace: String) extends SparkListener {
  private val Key = "perfbench.span"
  // listener events carry epoch milliseconds; spans use nanoTime
  private val nanos0 = System.nanoTime()
  private val millis0 = System.currentTimeMillis()
  private def toNanos(ms: Long): Long = nanos0 + (ms - millis0) * 1000000L

  private final class Job(val span: Int, val start: Long) {
    var end: Long = Long.MaxValue
    var tasks = 0
    var taskNanos = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val before = mutable.Map.empty[Int, Map[String, Fs.Version]]
  private val files = mutable.Map.empty[Int, Map[String, Double]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).fold(-1)(_.toInt)
    jobs(e.jobId) = new Job(span, toNanos(e.time))
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = toNanos(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      j.taskNanos += Option(e.taskMetrics).fold(0L)(_.executorRunTime) * 1000000L
    }
  }

  def enter(id: Int): Unit = {
    before(id) = Fs.snapshot(workspace)
    sc.setLocalProperty(Key, id.toString)
  }

  def exit(id: Int, parent: Int): Unit = {
    sc.setLocalProperty(Key, if (parent >= 0) parent.toString else null)
    val (n, b) = Fs.written(before.remove(id).getOrElse(Map.empty), Fs.snapshot(workspace))
    files(id) = Map("files_written" -> n.toDouble, "bytes_written" -> b.toDouble)
  }

  def filesOf(id: Int): Map[String, Double] = files.getOrElse(id, Map.empty)

  /** Every job seen so far, once the listener bus has delivered them all. */
  def jobRecs(): Seq[JobRec] = {
    BenchBus.drain(sc)
    synchronized {
      jobs.values.map(j => JobRec(j.span, j.start, j.end, j.tasks, j.taskNanos)).toSeq
    }
  }

  /** Forgets recorded jobs and spans, so a new iteration starts clean. */
  def reset(): Unit = {
    BenchBus.drain(sc)
    synchronized { jobs.clear(); stageJob.clear(); files.clear(); before.clear() }
  }
}
