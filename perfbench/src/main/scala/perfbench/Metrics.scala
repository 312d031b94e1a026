package perfbench

/** Metric names, units and the result line. */
object Metrics {

  /** End-to-end metrics, reported by every workload in an untraced run. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "iteration_s" -> "s", "build_s" -> "s", "step_s" -> "s",
    "stored_bytes_ratio" -> "ratio", "peak_rss_mb" -> "MB")

  /** Session start runs no Spark job and writes nothing, so only its wall
    * time is reported.
    */
  val SessionStart = "engine.Sessions.builder"

  /** The engine calls the traced run measures, `<module>.<Object>.<call>`. */
  val Calls: Seq[String] = Seq(
    "pipeline.CsvExporter.export",
    "sources.UnloadCsv.read",
    "sources.UnloadCsv.readManifest",
    "sinks.ParquetSink.write",
    "pipeline.TableTransformer.createTable",
    "operators.JoinView.build",
    "operators.JoinView.ingestCdc",
    "operators.AggIndex.build",
    "operators.AggIndex.ingestCdc",
    "operators.AggIndex.merged",
    "operators.FastSsIndex.build",
    "operators.FastSsIndex.ingest",
    "operators.FastSsIndex.candidates",
    "operators.EntityBlockIndex.verifyTypo")

  /** What the traced run measures per call, with units. */
  val Kinds: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "self_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "task_s" -> "s", "driver_s" -> "s", "bytes_written" -> "bytes", "files_written" -> "count")

  val UsefulRatio = "operators.EntityBlockIndex.verifyTypo.useful_ratio"
  val BytesPerRow = "sinks.ParquetSink.write.bytes_per_row"

  val PerLayer: Seq[(String, String)] =
    Seq(s"$SessionStart.wall_s" -> "s") ++
      Calls.flatMap(c => Kinds.map { case (k, u) => s"$c.$k" -> u }) ++
      Seq(UsefulRatio -> "ratio", BytesPerRow -> "bytes/row")

  private val Layer =
    """(engine|sources|pipeline|sinks|ddl|operators)\.[A-Z][A-Za-z0-9]*\.[a-z][A-Za-z0-9]*\.[a-z][a-z_]*""".r

  /** A metric name the result line accepts: at most 64 characters of
    * letters, digits, `_`, `.` and `-`, starting with a letter or digit.
    */
  def validName(n: String): Boolean = n.length <= 64 && n.matches("[A-Za-z0-9][A-Za-z0-9_.-]*")

  /** A per-layer name: `<module>.<Object>.<call>.<metric>` over the
    * engine's modules.
    */
  def validLayerName(n: String): Boolean = validName(n) && Layer.matches(n)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Per-layer values from traced iterations. A call's figure is its sum
    * over one iteration, then the median over the iterations it ran in.
    */
  def perLayer(iterations: Seq[Seq[SpanStats]]): Seq[(String, String, Double)] = {
    def perIteration(f: Seq[SpanStats] => Option[Double]): Double = {
      val vs = iterations.flatMap(f)
      if (vs.isEmpty) 0.0 else median(vs)
    }
    def calls(it: Seq[SpanStats], call: String) = it.filter(_.rec.name == call)
    def sumOf(call: String, v: SpanStats => Double)(it: Seq[SpanStats]): Option[Double] = {
      val cs = calls(it, call)
      if (cs.isEmpty) None else Some(cs.map(v).sum)
    }
    def counter(s: SpanStats, key: String) = s.rec.counters.getOrElse(key, 0.0)
    def ratio(num: Seq[SpanStats] => Option[Double], den: Seq[SpanStats] => Option[Double])(
        it: Seq[SpanStats]): Option[Double] =
      for (n <- num(it); d <- den(it) if d > 0) yield n / d
    val values: Map[String, Seq[SpanStats] => Option[Double]] = Calls.flatMap { c =>
      Seq(
        s"$c.wall_s" -> sumOf(c, _.rec.wall / 1e9) _,
        s"$c.self_s" -> sumOf(c, _.selfNanos / 1e9) _,
        s"$c.jobs" -> sumOf(c, _.jobs.toDouble) _,
        s"$c.tasks" -> sumOf(c, _.tasks.toDouble) _,
        s"$c.task_s" -> sumOf(c, _.taskNanos / 1e9) _,
        s"$c.driver_s" -> sumOf(c, _.driverNanos / 1e9) _,
        s"$c.bytes_written" -> sumOf(c, counter(_, "bytes_written")) _,
        s"$c.files_written" -> sumOf(c, counter(_, "files_written")) _)
    }.toMap ++ Map(
      s"$SessionStart.wall_s" -> sumOf(SessionStart, _.rec.wall / 1e9) _,
      UsefulRatio -> ratio(sumOf("operators.EntityBlockIndex.verifyTypo", counter(_, "verified")),
        sumOf("operators.FastSsIndex.candidates", counter(_, "candidates"))) _,
      BytesPerRow -> ratio(sumOf("sinks.ParquetSink.write", counter(_, "bytes_written")),
        sumOf("sinks.ParquetSink.write", counter(_, "rows"))) _)
    PerLayer.map { case (n, u) => (n, u, perIteration(values(n))) }
  }

  /** The result line: the benchmark's last line of standard output. */
  def resultLine(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(String, String, Double)]): String = {
    val ms = metrics.map { case (n, u, v) =>
      s"""${Json.str(n)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Just enough JSON writing for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** A number with all its digits; whole values print without a fraction. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  /** Renders nested Maps, Seqs, Strings, numbers and Booleans. */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${render(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
