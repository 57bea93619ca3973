package perfbench

/** The timed phase shared by every workload, and the per-layer metrics read
  * off the spans. */
object Phases {

  /**
   * Runs `loop(untilNs, traced)` for the run's `--seconds`. Untraced runs
   * spend the whole window untraced. A traced run spends its first half
   * untraced and its second half with the listeners attached, so the same
   * run yields the tracing overhead; it returns the span counters.
   */
  def timed(ctx: Ctx, loop: (Long, Boolean) => Unit): Map[Int, Counters] = {
    val start = System.nanoTime()
    val end = start + (ctx.seconds * 1e9).toLong
    if (!ctx.tracer.isOn) { loop(end, false); Map.empty }
    else {
      ctx.tracer.stop()
      loop(start + (end - start) / 2, false)
      ctx.tracer.start()
      loop(end, true)
      ctx.tracer.counters()
    }
  }

  /** Spans whose wall time is a per-layer metric (median over calls). */
  val WallSpans: Seq[String] = Seq("ingest.extract", "graph.build", "graph.tables_build",
    "graph.open")

  /** Spans whose Spark counters are per-layer metrics (mean per call). */
  val CounterSpans: Seq[String] = Seq("graph.build", "graph.tables_build", "query.loop",
    "algo.pagerank", "algo.cc", "algo.lpa", "algo.triangles", "algo.shortest_path",
    "algo.pagerank_resumable", "pipeline.seed", "pipeline.ladder_batch", "pipeline.ivf_batch")

  private val PerSpan = Seq("jobs", "ms_per_job", "plan_ms", "driver_gap_ms", "executor_cpu_ms")

  private val Totals = Seq("jobs", "stages", "tasks", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "executor_run_ms", "executor_cpu_ms", "plan_ms",
    "driver_gap_ms", "ms_per_job")

  /** Every per-layer metric name any workload reports, the ones the
    * workloads compute themselves included. */
  val LayerNames: Seq[String] =
    WallSpans.map(_ + "_s") ++
      CounterSpans.flatMap(s => PerSpan.map(c => s"spark.$s.$c")) ++
      Totals.map("spark." + _) ++ Seq(
      "query.find_route_us_p50", "query.find_route_us_p99", "query.route_found_ratio",
      "query.route_no_route_ratio", "query.route_missing_page_ratio",
      "query.prefix_search_us", "query.has_page_us", "query.random_url_us", "query.warm_s",
      "jvm.heap_after_gc_mb", "jvm.gc_ms",
      "algo.pagerank_s", "algo.cc_s", "algo.cc_rounds", "algo.lpa_s", "algo.triangles_s",
      "algo.shortest_path_s", "algo.pagerank_resumable_s",
      "state.resumable_overhead", "state.snapshots_written",
      "pipeline.seed_s", "pipeline.ladder_batch_s", "pipeline.ivf_batch_s",
      "pipeline.winnow_pairs_per_batch", "pipeline.jaccard_pairs_per_batch",
      "pipeline.minhash_pairs_per_batch", "pipeline.ivf_pairs_per_batch",
      "tables.snapshots_written", "tables.data_files", "tables.bytes_written",
      "tables.current_snapshot_us",
      "trace.overhead_op_p50", "trace.overhead_throughput")

  private def values(c: Counters, wallMs: Double): Map[String, Double] = Map(
    "jobs" -> c.jobs.toDouble, "stages" -> c.stages.toDouble, "tasks" -> c.tasks.toDouble,
    "shuffle_read_bytes" -> c.shuffleReadBytes.toDouble,
    "shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
    "spill_bytes" -> c.spillBytes.toDouble, "executor_run_ms" -> c.executorRunMs.toDouble,
    "executor_cpu_ms" -> c.executorCpuNs / 1e6, "plan_ms" -> c.planMs.toDouble,
    "driver_gap_ms" -> (wallMs - c.jobBusyMs),
    "ms_per_job" -> (if (c.jobs == 0) 0.0 else wallMs / c.jobs))

  /**
   * Metrics read off the spans: wall time of [[WallSpans]], Spark counters
   * per call of [[CounterSpans]], and the counters of the traced timed phase
   * (spans named `loopSpan`) per unit of work.
   */
  def layerMetrics(ctx: Ctx, cs: Map[Int, Counters], loopSpan: String,
      tracedUnits: Int): Map[String, Double] = {
    val spans = ctx.tracer.all
    def sum(name: String): (Counters, Double, Int) = {
      val ss = spans.filter(_.name == name)
      val c = new Counters
      ss.foreach(s => cs.get(s.id).foreach(c += _))
      (c, ss.map(_.wallNs / 1e6).sum, ss.size)
    }
    val walls = WallSpans.map { n =>
      s"${n}_s" -> Stats.median(spans.filter(_.name == n).map(_.wallNs / 1e9))
    }
    val perSpan = CounterSpans.flatMap { n =>
      val (c, wall, calls) = sum(n)
      val v = values(c, wall)
      PerSpan.map { k =>
        s"spark.$n.$k" -> (if (calls == 0) 0.0 else if (k == "ms_per_job") v(k) else v(k) / calls)
      }
    }
    val (c, wall, _) = sum(loopSpan)
    val v = values(c, wall)
    val totals = Totals.map { k =>
      s"spark.$k" -> (if (k == "ms_per_job") v(k) else v(k) / math.max(1, tracedUnits))
    }
    (walls ++ perSpan ++ totals).toMap
  }
}
