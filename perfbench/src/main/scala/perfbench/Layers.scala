package perfbench

/** Per-layer metrics of the traced prefix, from its ops and spans. */
object Layers {
  val Verbs: Seq[String] = Seq("search", "search_fts", "status",
    "analytics_mv", "export", "similar", "collect")

  private val Summed: Seq[(String, String)] = Seq(
    "planning.analysis_ms" -> "ms", "planning.optimization_ms" -> "ms",
    "planning.planning_ms" -> "ms", "planning.actions" -> "count",
    "scheduling.jobs" -> "count", "scheduling.stages" -> "count",
    "scheduling.tasks" -> "count",
    "execution.task_ms" -> "ms", "execution.cpu_ms" -> "ms",
    "execution.gc_ms" -> "ms", "execution.shuffle_read_bytes" -> "bytes",
    "execution.shuffle_write_bytes" -> "bytes",
    "execution.spill_bytes" -> "bytes",
    "io.files_read" -> "count", "io.bytes_read" -> "bytes",
    "io.partitions_read" -> "count", "io.metadata_ms" -> "ms",
    "ingest.requests" -> "count", "ingest.fetch_bytes" -> "bytes",
    "ingest.fetch_failed" -> "count",
    "ingest.records_discovered" -> "count",
    "mv.hits" -> "count", "mv.rebuilds" -> "count",
    "streaming.triggers" -> "count", "streaming.add_batch_ms" -> "ms",
    "streaming.commit_ms" -> "ms")

  def apply(ops: Seq[Done], t: Tracer): Map[String, (Double, String)] = {
    val spans = t.spans
    val byParent = spans.groupBy(_.parent)
    val opSpans = spans.filter(_.name == "op")
    def sum(name: String) = ops.map(d => t.counter(d.index, name)).sum
    def spanMs(name: String) =
      spans.filter(_.name == name).map(_.durUs).sum / 1000.0
    val jobsByOp = spans.filter(_.name == "spark.job").groupBy(_.op)
    val jobCover = opSpans.map { o =>
      val jobs = jobsByOp.getOrElse(o.op, Nil)
      (o, o.durUs - Tracer.selfUs(o, jobs))
    }
    val appendMs = spans.filter(_.name == "graft.collect").map { v =>
      Tracer.selfUs(v, byParent.getOrElse(v.id, Nil)
        .filter(_.name.startsWith("ingest.")))
    }.sum / 1000.0
    val newRecords = ops.filter(_.verb == "collect").map(_.newRecords).sum
    val discovered = sum("ingest.records_discovered")
    val (hits, rebuilds) = (sum("mv.hits"), sum("mv.rebuilds"))
    def verbMs(v: String) = Main.median(ops.filter(_.verb == v).map(_.ms))
    val queries = RegistrySlice.Names.flatMap { q =>
      val runs = ops.filter(_.verb == q)
      Seq(s"queries.${q}_ms" -> (Main.median(runs.map(_.ms)), "ms"),
        s"queries.${q}_jobs" ->
          (runs.headOption.map(d => t.counter(d.index, "scheduling.jobs"))
            .getOrElse(0.0), "count"))
    }
    (Summed.map { case (k, u) => k -> (sum(k), u) } ++
      Verbs.map(v => s"graft.${v}_ms" -> (verbMs(v), "ms")) ++ queries ++
      Seq(
        "scheduling.job_ms" -> (jobCover.map(_._2).sum / 1000.0, "ms"),
        "scheduling.gap_ms" ->
          (jobCover.map { case (o, c) => o.durUs - c }.sum / 1000.0, "ms"),
        "ingest.fetch_ms" -> (spanMs("ingest.fetch"), "ms"),
        "ingest.compliance_ms" -> (spanMs("ingest.compliance"), "ms"),
        "ingest.discover_ms" -> (spanMs("ingest.discover"), "ms"),
        "ingest.append_ms" -> (appendMs, "ms"),
        "ingest.records_new" -> (newRecords.toDouble, "count"),
        "ingest.new_frac" ->
          (if (discovered == 0) 0.0 else newRecords / discovered, "ratio"),
        "mv.hit_ratio" ->
          (if (hits + rebuilds == 0) 0.0 else hits / (hits + rebuilds), "ratio"),
        "mv.rebuild_ms" -> (ops.filter(d =>
          t.counter(d.index, "mv.rebuilds") > 0).map(_.ms).sum, "ms"),
        "operators.fts_search_ms" -> (ops.filter(d => FtsOps(d.verb))
          .map(_.ms).sum, "ms"))).toMap
  }

  private val FtsOps = Set("search_fts")
}
