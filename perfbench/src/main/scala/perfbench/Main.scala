package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.engine.Sessions

/** The benchmark: one seeded workload in one `local[cores]` session.
  *
  * Untraced (`--trace 0`): sets up three times (session, inputs,
  * reference answers), runs two warm-up iterations, then iterates for
  * `--seconds`, gating every iteration outside its timed region, and
  * reports the end-to-end metrics as medians.
  *
  * Traced (`--trace 1`): drives every workload once with a listener and
  * span recorder attached, so that every per-layer figure is measured.
  * The requested workload runs warm (a warm-up first) and also once
  * untraced: the difference is the tracing overhead. The others run
  * cold, within the run's time limit: their counts are exact, their
  * times include warm-up. Reports the per-layer metrics and writes the
  * spans to `--trace-out`.
  *
  * The last line of standard output is the result line.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
                        work: String, traceOut: String)

  /** Scale factor per workload, sized so one run fits its time budget. */
  val Scale: Map[String, Double] =
    Map("spectrify_etl" -> 0.01, "cdc_lifecycle" -> 0.01, "entity_index" -> 0.02)

  val SetupRuns = 3
  /** The JIT compiles much of the engine's code during the first two
    * iterations; timed iterations come after them.
    */
  val WarmUps = 2
  val MinIterations = 1
  /** No iteration starts after this many seconds of the run. */
  val HardStopS = 150

  private val t0 = System.nanoTime()
  private val bootS =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  private def elapsedS: Double = bootS + (System.nanoTime() - t0) / 1e9

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    val w = Workloads.byName(need("workload")).name
    Opts(w, need("seed").toLong, need("seconds").toInt, trace,
      kv.get("cores").fold(Runtime.getRuntime.availableProcessors)(_.toInt),
      need("work"), kv.getOrElse("trace-out", s"${need("work")}/trace.json"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val line = if (o.trace) traced(o) else timed(o)
    println(line)
    sys.exit(0)
  }

  private def session(o: Opts): SparkSession = {
    // one shuffle partition per core, as the engine's own bench sizes it
    val s = Sessions.builder(s"local[${o.cores}]", shufflePartitions = o.cores)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Inputs and artifacts; Spark's scratch space lives beside it. */
  private def data(o: Opts): String = s"${o.work}/data"


  /** Outcome counts across every iteration of a run. */
  private final class Tally {
    var attempted = 0
    var failed = 0
  }

  /** One iteration: its wall time and spans, or None when it threw. `cpu`
    * is the process CPU time and `stolen` the machine's stolen time
    * during it; `gc` and `jit` are the collector's and the JIT
    * compilers' time, reported on standard error only.
    */
  private final case class Iter(wall: Double, cpu: Double, stolen: Double, gc: Double,
                                jit: Double, spans: Seq[SpanRec], stored: Long) {
    def unstolen: Double = ProcessCpu.unstolen(wall, cpu, stolen)
  }

  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def iterate(p: Prepared, rec: Recorder, dir: String, traced: Boolean,
                      tally: Tally): Option[Iter] = {
    tally.attempted += p.ops
    try {
      val (cpu0, st0, gc0, jit0) = (ProcessCpu.seconds(), ProcessCpu.stolenSeconds(), gcS, jitS)
      val start = System.nanoTime()
      val gate = p.iterate(rec, dir, traced)
      val wall = (System.nanoTime() - start) / 1e9
      val it = Iter(wall, ProcessCpu.seconds() - cpu0, ProcessCpu.stolenSeconds() - st0,
        gcS - gc0, jitS - jit0, Nil, 0L)
      val wrong = gate()
      wrong.foreach(m => System.err.println(s"[perfbench] wrong answer: $m"))
      tally.failed += math.min(wrong.size, p.ops)
      Some(it.copy(spans = rec.spans, stored = p.stored(dir).map(Fs.bytes).sum))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] iteration failed: $e")
        e.printStackTrace()
        tally.failed += p.ops
        None
    } finally p.cleanup(dir)
  }

  /** The unstolen wall seconds of an iteration's top-level spans `name`. */
  private def topLevel(it: Iter, name: String): Seq[Double] =
    it.spans.filter(s => s.parent < 0 && s.name == name).map(_.unstolenS)

  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  private val stolen0 = ProcessCpu.stolenSeconds()

  def timed(o: Opts): String = {
    val w = Workloads.byName(o.workload)
    val src = s"${data(o)}/src"
    var spark: SparkSession = null
    var prep: Prepared = null
    // the first set-up also carries JVM start-up, and all the CPU time
    // the process has had
    val setups = (1 to SetupRuns).map { i =>
      val start = if (i == 1) t0 - (bootS * 1e9).toLong else System.nanoTime()
      val cpu0 = if (i == 1) 0.0 else ProcessCpu.seconds()
      val st0 = if (i == 1) stolen0 else ProcessCpu.stolenSeconds()
      spark = session(o)
      val mid = System.nanoTime()
      prep = w.prepare(spark, o.seed, Scale(w.name), src)
      val dt = (System.nanoTime() - start) / 1e9
      val cpu = ProcessCpu.seconds() - cpu0
      val st = ProcessCpu.stolenSeconds() - st0
      System.err.println(f"[perfbench] set-up $i: $dt%.3f s cpu $cpu%.2f s stolen $st%.2f s " +
        f"(session ${(mid - start) / 1e9}%.3f s)")
      if (i < SetupRuns) { spark.stop(); Fs.delete(src) }
      ProcessCpu.unstolen(dt, cpu, st)
    }
    val tally = new Tally
    for (k <- 1 to WarmUps)
      iterate(prep, new Recorder(), s"${data(o)}/warm$k", traced = false, tally).foreach(i =>
        System.err.println(
          f"[perfbench] warm-up $k: ${i.wall}%.3f s cpu ${i.cpu}%.2f s jit ${i.jit}%.2f s"))
    val iters = mutable.ArrayBuffer.empty[Iter]
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    var n = 1
    var last = 0.0
    // an iteration starts only if it should end by the deadline, judged
    // by the one before
    while ((n <= MinIterations || System.nanoTime() + last * 1e9 < deadline) &&
           elapsedS + 1.5 * last < HardStopS) {
      val it = iterate(prep, new Recorder(), s"${data(o)}/it$n", traced = false, tally)
      it.foreach { i =>
        iters += i
        last = i.wall
        System.err.println(
          f"[perfbench] iteration $n: ${i.wall}%.3f s (unstolen ${i.unstolen}%.3f) cpu ${i.cpu}%.2f s " +
          f"stolen ${i.stolen}%.2f s gc ${i.gc}%.2f s jit ${i.jit}%.2f s " +
          i.spans.filter(_.parent < 0).map(s => f"${s.name}=${s.wall / 1e9}%.3f/${s.cpu}%.2f").mkString(" "))
      }
      n += 1
    }
    spark.stop()
    // stolen time is CPU time the hypervisor gave to other guests: it
    // inflates wall times, so every reported time has its share taken out
    System.err.println(f"[perfbench] ${w.name} seed=${o.seed} cores=${o.cores} " +
      f"scale=${Scale(w.name)} iterations=${iters.size} process cpu ${ProcessCpu.seconds()}%.1f s " +
      f"stolen ${ProcessCpu.stolenSeconds() - stolen0}%.1f s")
    val metrics =
      if (iters.isEmpty) Nil
      else {
        val m = Metrics.median _
        Seq(
          ("setup_s", "s", m(setups)),
          ("iteration_s", "s", m(iters.map(_.unstolen).toSeq)),
          ("build_s", "s", m(iters.flatMap(topLevel(_, "build")).toSeq)),
          ("step_s", "s", m(iters.flatMap(topLevel(_, "step")).toSeq)),
          ("stored_bytes_ratio", "ratio", m(iters.map(_.stored.toDouble).toSeq) / prep.sourceBytes),
          ("peak_rss_mb", "MB", peakRssMb()))
      }
    Metrics.resultLine(tally.failed == 0 && iters.nonEmpty, tally.attempted, tally.failed, metrics)
  }

  def traced(o: Opts): String = {
    val boot = new Recorder()
    val spark = boot.span("engine.Sessions.builder") { session(o) }
    val tracer = new JobTracer(spark.sparkContext, data(o))
    val tally = new Tally
    val first = Workloads.byName(o.workload)
    val tracedIters = mutable.ArrayBuffer(SpanStats.of(boot.spans, Nil))
    // every workload is traced, so that every per-layer figure is
    // measured; the requested one runs warm, and once untraced for the
    // overhead
    val reports = (first +: Workloads.all.filterNot(_ == first)).map { w =>
      val src = s"${data(o)}/src/${w.name}"
      val prep = w.prepare(spark, o.seed, Scale(w.name), src)
      def run(n: Int, rec: Recorder, traced: Boolean) =
        iterate(prep, rec, s"${data(o)}/${w.name}-it$n", traced, tally)
      val warm = w == first
      val plain =
        if (warm) { run(0, new Recorder(), traced = false); run(1, new Recorder(), traced = false) }
        else None
      tracer.reset()
      spark.sparkContext.addSparkListener(tracer)
      val withTrace =
        try run(2, new Recorder(Some(tracer)), traced = true)
          .map(it => it -> SpanStats.of(it.spans, tracer.jobRecs()))
        finally spark.sparkContext.removeSparkListener(tracer)
      Fs.delete(src)
      tracedIters ++= withTrace.map(_._2)
      // the scan-only read runs in the traced pass only: not overhead
      val overhead = for (p <- plain; (t, _) <- withTrace) yield
        t.wall - t.spans.filter(_.name == "sources.UnloadCsv.read").map(_.wall / 1e9).sum - p.wall
      ListMap(
        "workload" -> w.name,
        "scale" -> Scale(w.name),
        "warm" -> warm,
        "untraced_iteration_s" -> plain.map(_.wall),
        "traced_iteration_s" -> withTrace.map(_._1.wall),
        "tracing_overhead_s" -> overhead,
        "top_level_s" -> withTrace.map(_._1.spans.filter(_.parent < 0).map(_.wall / 1e9).sum),
        "spans" -> withTrace.map(_._2.map(spanJson)))
    }
    spark.stop()
    val perLayer = Metrics.perLayer(tracedIters.toSeq)
    val doc = ListMap(
      "workload" -> o.workload,
      "seed" -> o.seed,
      "cores" -> o.cores,
      "session" -> spanJson(SpanStats.of(boot.spans, Nil).head),
      "workloads" -> reports,
      "per_layer" -> ListMap(perLayer.map { case (n, u, v) =>
        n -> ListMap("value" -> v, "unit" -> u) }: _*))
    val out = Paths.get(o.traceOut)
    Option(out.getParent).foreach(Files.createDirectories(_))
    Files.write(out, (Json.render(doc) + "\n").getBytes(StandardCharsets.UTF_8))
    reports.foreach(r => System.err.println(
      s"[perfbench] ${r("workload")}: tracing overhead ${Json.render(r("tracing_overhead_s"))} s"))
    Metrics.resultLine(tally.failed == 0, tally.attempted, tally.failed, perLayer)
  }

  private def spanJson(s: SpanStats): ListMap[String, Any] = ListMap(
    "id" -> s.rec.id, "name" -> s.rec.name, "parent" -> s.rec.parent,
    "wall_s" -> s.rec.wall / 1e9, "self_s" -> s.selfNanos / 1e9,
    "driver_s" -> s.driverNanos / 1e9, "jobs" -> s.jobs, "tasks" -> s.tasks,
    "task_s" -> s.taskNanos / 1e9, "cpu_s" -> s.rec.cpu, "stolen_s" -> s.rec.stolen) ++
    s.rec.counters
}
