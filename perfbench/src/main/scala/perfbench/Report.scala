package perfbench

/** Per-layer metrics of a traced run, `<span>.<metric>`, aggregated
  * over every call of the span. Every name is reported on every
  * workload; a layer the workload does not reach reads 0.
  */
object Report {

  private val meta = Seq("self_s", "jobs", "out_files", "calls")
  private val compute = Seq("self_s", "jobs", "cpu_s", "shuffle_mb", "spill_mb")
  private val write = Seq("self_s", "jobs", "out_mb")

  val Layers: Seq[(String, Seq[String])] = Seq(
    "meta.init" -> meta,
    "meta.audit_event" -> meta,
    "meta.update_control" -> meta,
    "meta.record_dq" -> meta,
    "meta.update_dictionary" -> meta,
    "bronze.ingest" -> write,
    "silver.sql" -> compute,
    "gold.upsert" -> Seq("self_s", "jobs", "cpu_s", "out_files"),
    "gold.overwrite" -> Seq("self_s", "jobs", "cpu_s", "out_files"),
    "maintenance.compact" -> write,
    "queries.tpch" -> compute,
    "queries.graph" -> compute)

  private val units = Map("self_s" -> "s", "jobs" -> "count", "cpu_s" -> "CPU-s",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB", "out_mb" -> "MB",
    "out_files" -> "files", "calls" -> "count")

  private def value(ss: Seq[Span], m: String): Double = m match {
    case "self_s" => ss.map(_.selfNs).sum / 1e9
    case "jobs" => ss.map(_.jobs).sum.toDouble
    case "cpu_s" => ss.map(_.cpuNs).sum / 1e9
    case "shuffle_mb" => ss.map(_.shuffleBytes).sum / 1e6
    case "spill_mb" => ss.map(_.spillBytes).sum / 1e6
    case "out_mb" => ss.map(_.outBytes).sum / 1e6
    case "out_files" => ss.map(_.outFiles).sum.toDouble
    case "calls" => ss.size.toDouble
  }

  /** The program's spans, and the traced wall without the output checks. */
  private def program(trace: Trace, root: Span): (Seq[Span], Long) = {
    val (checks, rest) = trace.spans.toSeq.partition(_.name == "check")
    (rest, root.wallNs - checks.map(_.wallNs).sum)
  }

  /** Share of the traced wall (checks excluded) inside layer spans. */
  def coverage(trace: Trace, root: Span): Double = {
    val (spans, timedNs) = program(trace, root)
    spans.filter(_ ne root).map(_.selfNs).sum.toDouble / timedNs
  }

  def perLayer(trace: Trace, root: Span, cpus: Int): Seq[(String, Double, String)] = {
    val byName = trace.spans.toSeq.groupBy(_.name)
    val (spans, timedNs) = program(trace, root)
    val layers = Layers.flatMap { case (span, ms) =>
      ms.map(m => (s"$span.$m", value(byName.getOrElse(span, Nil), m), units(m)))
    }
    val dq = trace.counters.withDefaultValue(0.0)
    val checked = dq("dq.valid_rows") + dq("dq.invalid_rows")
    layers ++ Seq(
      ("dq.rules", dq("dq.rules"), "count"),
      ("dq.invalid_rows", dq("dq.invalid_rows"), "count"),
      ("dq.valid_ratio", if (checked > 0) dq("dq.valid_rows") / checked else 0.0, "ratio"),
      ("spark.jobs", spans.map(_.jobs).sum.toDouble, "count"),
      ("spark.busy", spans.map(_.runMs).sum / 1e3 / (timedNs / 1e9 * cpus), "ratio"),
      // the recorder's own time (spans, listener callbacks) per traced second
      ("trace.overhead", 1.0 + trace.ownNs.get / root.wallNs.toDouble, "ratio"),
      ("trace.coverage", coverage(trace, root), "ratio"))
  }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Every span: name, parent, start offset, wall, self and counters. */
  def spansJson(trace: Trace): String = {
    val t0 = trace.spans.head.startNs
    trace.spans.map { s =>
      Seq(str(s.name), s.parent, (s.startNs - t0) / 1e9, s.wallNs / 1e9, s.selfNs / 1e9,
        s.jobs, s.tasks, s.cpuNs / 1e9, s.shuffleBytes, s.spillBytes, s.outBytes, s.outFiles)
        .mkString("[", ",", "]")
    }.mkString("[", ",", "]")
  }
}
