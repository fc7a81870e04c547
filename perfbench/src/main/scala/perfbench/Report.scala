package perfbench

/** Turns a run's op log, samples and spans into the result file run.py
  * reads: end-to-end metrics (untraced runs), per-layer metrics (traced
  * runs), the workload's own named figures, and the box it ran on.
  */
object Report {
  /** Every per-layer metric with its unit. A layer the workload never calls
    * reports 0: no time was spent and no work was done there.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "pipeline.merge_ms" -> "ms",
    "pipeline.append_ms" -> "ms",
    "pipeline.replace_ms" -> "ms",
    "sources.extract_ms" -> "ms",
    "sink.commits_per_run" -> "count",
    "sink.files_added_per_run" -> "count",
    "sink.bytes_written_per_input_byte" -> "ratio",
    "sink.files_live" -> "count",
    "catalog.plan_ms" -> "ms",
    "sink.load_ms" -> "ms",
    "catalog.files_read_frac.sql" -> "ratio",
    "sink.files_read_frac.api" -> "ratio",
    "catalog.rows_scanned_per_row_returned" -> "ratio",
    "sink.commit_ms" -> "ms",
    "sink.index.search_follow_ms" -> "ms",
    "sink.index.neardup_follow_ms" -> "ms",
    "streaming.catchup_ms" -> "ms",
    "sink.metadata_files_per_tick" -> "count",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.executor_run_ms" -> "ms",
    "spark.driver_gap_ms" -> "ms",
    "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "trace_overhead_frac" -> "ratio",
  ) ++ Ingest.scriptedKeys.map(k => s"queries.${k}_s" -> "s")

  /** Tracing overhead from one traced run: per op kind, the traced ops'
    * median over the untraced ops' median, weighted by op count, minus 1.
    * The first op of each kind is left out: it runs cold either way. 0 when
    * no kind has both traced and untraced warm ops.
    */
  def traceOverhead(ops: Seq[Op]): Double = {
    val ratios = ops.groupBy(_.kind).values.toSeq.flatMap { os =>
      val (t, u) = os.drop(1).filter(_.ok).partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((Stats.median(t.map(_.ms)) / Stats.median(u.map(_.ms)), os.size))
    }
    if (ratios.isEmpty) 0.0
    else ratios.map { case (r, n) => r * n }.sum / ratios.map(_._2).sum - 1.0
  }

  def assemble(ctx: Ctx, o: Outcome, sessionS: Double, workloadS: Double,
               rssMb: Double): String = {
    val ops = ctx.ops.toSeq
    val attempted = ops.size
    val failed = if (!o.finalCheckOk) attempted else ops.count(!_.ok)
    val setupS = sessionS + ctx.setupSeconds
    val (head, cold) = ops.filter(_.kind == o.headline).partition(_.timed) match {
      case (t, w) => (t.map(_.ms), w.map(_.ms))
    }
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_ms", p50(head), "ms"),
      ("stored_bytes_per_input_byte", o.storedPerInputByte, "ratio"))

    val spanSamples = Trace.selfMsPerOp(ctx.tracer.spans)
      .map { case (name, xs) => s"${name}_ms" -> xs }
    val all = ctx.samples.view.mapValues(_.toSeq).toMap ++ spanSamples
    def med(name: String) = all.get(name).filter(_.nonEmpty).map(Stats.median).getOrElse(0.0)
    val layer = perLayer.map { case (name, unit) =>
      val v = name match {
        case "trace_overhead_frac" => traceOverhead(ops)
        case spark if spark.startsWith("spark.") => med(s"$spark@${o.headline}")
        case _ => med(name)
      }
      (name, v, unit)
    }
    val tail = Stats.highestPercentile(head)
    val detail = o.detail ++ Seq(
      ("ops_per_s", if (head.isEmpty) 0.0 else head.size / (head.sum / 1000.0), "1/s"),
      ("rss_peak_mb", rssMb, "MB"),
      ("failed_frac", if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio"),
      ("session_start_s", sessionS, "s"),
      // wall time of the run outside set-up and ops (warm-up ones included):
      // the traced-only probes, output checks
      ("untimed_s", workloadS - ctx.setupSeconds - ops.map(_.ms).sum / 1000, "s")) ++
      // the cold first headline op, which a fresh process pays once
      cold.headOption.map(ms => ("warmup_op_ms", ms, "ms")) ++
      tail.map { case (label, v) => (s"op_${label}_ms", v, "ms") }

    def metrics(ms: Seq[(String, Double, String)]) =
      scala.collection.immutable.ListMap(ms.map { case (n, v, u) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*)
    Json.obj(
      "workload" -> ctx.args.workload,
      "seed" -> ctx.args.seed,
      "trace" -> ctx.args.trace,
      "attempted" -> attempted,
      "failed" -> failed,
      "final_check_ok" -> o.finalCheckOk,
      "headline_samples" -> head.size,
      "op_kinds" -> ops.groupBy(_.kind).view.mapValues(_.size).toMap,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "ms" -> o.ms, "ok" -> o.ok, "traced" -> o.traced)),
      "oracle_keys" -> o.oracleKeys,
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layer),
      "detail" -> metrics(detail),
      "box" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "jvm" -> System.getProperty("java.vm.version"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)))
  }
}
