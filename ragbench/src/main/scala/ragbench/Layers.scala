package ragbench

/** The per-layer metrics of the traced run, named
  * `<phase>.<span>.<metric>`: the ingest workload has one phase, the
  * serve workload a read-only `serve` phase and an `update` phase. Each
  * is a per-call mean over the span's calls in the measured loop (0 when
  * the span did not run), except
  * `rows_scanned_per_result` (records read ÷ results returned) and the
  * `cycle` samples (mean over update cycles of the values read after the
  * cycle's query, before any compaction).
  */
object Layers {
  val Base: Seq[(String, String)] = Seq("wall_ms" -> "ms", "jobs" -> "count",
    "driver_only_ms" -> "ms", "task_cpu_ms" -> "ms", "gc_ms" -> "ms")

  val Spans: Seq[(String, Seq[String])] = Seq(
    "ingest" -> Seq("html", "prep", "embed", "ivf_train", "ivf_build", "text_build"),
    "serve" -> Seq("client", "ivf_search", "text_search", "ivf_batch", "text_batch"),
    "update" -> Seq("embed", "ivf_append", "text_append", "ivf_delete",
      "text_delete", "ivf_compact", "text_compact", "query"))

  val Extra: Seq[(String, String, String)] = Seq(
    ("ingest", "prep", "shuffle_bytes"), ("ingest", "ivf_train", "shuffle_bytes"),
    ("ingest", "text_build", "shuffle_bytes"),
    ("ingest", "html", "rows_out"), ("ingest", "prep", "rows_out"),
    ("serve", "ivf_search", "input_bytes"), ("serve", "text_search", "input_bytes"),
    ("serve", "ivf_batch", "input_bytes"), ("serve", "text_batch", "input_bytes"),
    ("serve", "ivf_search", "rows_scanned_per_result"),
    ("serve", "text_search", "rows_scanned_per_result"),
    ("update", "ivf_append", "output_bytes"), ("update", "text_append", "output_bytes"),
    ("update", "query", "input_bytes"),
    ("update", "cycle", "index_files"), ("update", "cycle", "tombstones"))

  val Units: Map[String, String] = Base.toMap ++ Map("shuffle_bytes" -> "B",
    "rows_out" -> "count", "input_bytes" -> "B", "output_bytes" -> "B",
    "rows_scanned_per_result" -> "rows/result", "index_files" -> "count",
    "tombstones" -> "count")

  /** Every per-layer metric: (phase, span, metric). */
  val All: Seq[(String, String, String)] =
    Spans.flatMap { case (p, ss) => ss.flatMap(s => Base.map(m => (p, s, m._1))) } ++ Extra

  def value(t: TraceResult, span: String, metric: String): Double = metric match {
    case "wall_ms" => t.perCall(span, _.wallMs)
    case "jobs" => t.perCall(span, s => t.jobsOf(s).length.toDouble)
    case "driver_only_ms" => t.perCall(span, t.driverOnlyMs)
    case "task_cpu_ms" => t.perCall(span, t.jobSum(_, _.cpuNs) / 1e6)
    case "gc_ms" => t.perCall(span, t.jobSum(_, _.gcMs))
    case "shuffle_bytes" => t.perCall(span, t.jobSum(_, _.shuffleBytes))
    case "rows_out" => t.perCall(span, t.jobSum(_, _.outRecords))
    case "input_bytes" => t.perCall(span, t.jobSum(_, _.inBytes))
    case "output_bytes" => t.perCall(span, t.jobSum(_, _.outBytes))
    case "rows_scanned_per_result" =>
      val results = t.counts.getOrElse(s"$span.results", 0L)
      if (results == 0) 0.0
      else t.named(span).map(t.jobSum(_, _.inRecords)).sum / results
    case "index_files" | "tombstones" =>
      val xs = t.samples.getOrElse(metric, Vector.empty)
      if (xs.isEmpty) 0.0 else xs.sum / xs.length
  }

  val PhasesOf: Map[String, Set[String]] =
    Map("ingest" -> Set("ingest"), "serve" -> Set("serve", "update"))

  /** All per-layer metrics; those of the other workload's phases read 0. */
  def compute(workload: String, t: TraceResult): Seq[(String, Double, String)] =
    All.map { case (p, s, m) =>
      (s"$p.$s.$m", if (PhasesOf(workload)(p)) value(t, s, m) else 0.0, Units(m))
    }

  /** Markdown table of where the measured loop's wall time went: each
    * span's self time (its wall minus its children's), so the rows add up
    * to the loop; the `measure` row is time outside every other span.
    * Driver-only time is shown for spans without children.
    */
  def timeTable(workload: String, seed: Long, t: TraceResult): String = {
    val total = t.named("measure").map(_.wallMs).sum
    val childWall = t.spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.wallMs).sum }
    val rows = t.spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      val self = ss.map(s => s.wallMs - childWall.getOrElse(s.id, 0.0)).sum
      val jobs = ss.map(t.jobsOf(_).length).sum
      val drv = if (ss.exists(s => childWall.contains(s.id))) "–"
        else "%.0f".format(ss.map(t.driverOnlyMs).sum)
      val cpu = ss.map(t.jobSum(_, _.cpuNs)).sum / 1e6
      (name, ss.length, self, jobs, drv, cpu)
    }.sortBy(-_._3)
    val sb = new StringBuilder
    sb ++= s"### $workload (seed $seed): ${"%.0f".format(total)} ms measured\n\n"
    sb ++= "| span | calls | self ms | share | jobs | driver-only ms | task cpu ms |\n"
    sb ++= "|---|---:|---:|---:|---:|---:|---:|\n"
    rows.foreach { case (name, n, self, jobs, drv, cpu) =>
      val label = if (name == "measure") "unaccounted (outside every span)" else name
      sb ++= f"| $label | $n | $self%.0f | ${100 * self / total}%.1f%% | $jobs | $drv | $cpu%.0f |\n"
    }
    sb.toString
  }
}
