package graftbench

/** Input generation and the end-to-end metrics every workload reports. */
object Setup {

  /** The seeded CORA-shaped store the fed workloads read. */
  def coraStore(ctx: Ctx): CoraStore.Store =
    CoraStore.generate(ctx.dir("store"), FedSup.GraphId, ctx.seed)

  /** Storage memory still held by the session, in MB: leaked caches and
    * checkpoints show here.
    */
  def storageHeldMb(ctx: Ctx): Double = {
    ctx.engine.flush()
    ctx.spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => (max - free).toDouble }.sum / 1048576.0
  }

  /** The end-to-end metrics, workload-independent in name:
    * `setup_s`, `op_p50_s` (median operation wall), `ops_per_s` (operations
    * completed per second of timed wall) and `peak_task_mem_mb`.
    */
  def endToEnd(setupS: Double, opWalls: Seq[Double], timedS: Double,
               peakMb: Double): Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s"),
    Metric("op_p50_s", if (opWalls.isEmpty) Double.NaN else Stats.median(opWalls), "s"),
    Metric("ops_per_s", opWalls.size / timedS, "1/s"),
    Metric("peak_task_mem_mb", peakMb, "MB"))
}

/** The per-layer metrics of traced runs. Every traced run reports every
  * name in `Names`; a layer a workload does not reach reads 0.
  */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "etl.merge_s" -> "s", "etl.nodes_in" -> "count", "etl.nodes_kept" -> "count",
    "etl.keep_ratio" -> "ratio", "etl.edges" -> "count",
    "graph.stage_s" -> "s", "graph.jobs" -> "count",
    "ml.bundle_write_s" -> "s", "ml.bundle_load_s" -> "s", "ml.fit_s" -> "s",
    "ml.eval_s" -> "s", "ml.stage_s" -> "s",
    "fed.round_s" -> "s", "fed.round_overhead_s" -> "s", "fed.straggler_ratio" -> "ratio",
    "fed.update_kb" -> "KB", "fed.client_rebuilds" -> "count", "fed.test_auc" -> "auc",
    "sources.stage_s" -> "s",
    "queries.build_s" -> "s", "queries.build_jobs" -> "count", "queries.plan_s" -> "s",
    "queries.exec_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.busy_cores" -> "cores",
    "spark.idle_frac" -> "fraction", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "spark.task_skew" -> "ratio",
    "trace.overhead_frac" -> "fraction", "trace.uncovered_frac" -> "fraction",
    "error_rate" -> "fraction", "storage_held_mb" -> "MB")

  /** `ms` in the order of `Names`, with 0 for every name not measured. */
  def complete(ms: Seq[Metric]): Seq[Metric] = {
    val byName = ms.map(m => m.name -> m).toMap
    require(byName.keySet.subsetOf(Names.map(_._1).toSet),
      s"unknown layer metrics: ${byName.keySet -- Names.map(_._1)}")
    Names.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) }
  }

  /** Module stage time and jobs by call site, plus the `spark.*` metrics. */
  def engine(w: Engine.Window): Seq[Metric] =
    Seq(Metric("graph.stage_s", w.stageSecondsOf("graph"), "s"),
      Metric("graph.jobs", w.jobsOf("graph").toDouble, "count"),
      Metric("ml.stage_s", w.stageSecondsOf("ml"), "s"),
      Metric("sources.stage_s", w.stageSecondsOf("sources"), "s")) ++
      w.sparkMetrics.map { case (n, v, u) => Metric(n, v, u) }

  /** Client-side time summed over clients and rounds. */
  def client(spans: Seq[Trace.Span]): Seq[Metric] = {
    def total(n: String) = spans.filter(_.name == n).map(_.seconds).sum
    Seq(Metric("ml.bundle_load_s", total("ml.bundle_load"), "s"),
      Metric("ml.fit_s", total("ml.fit"), "s"),
      Metric("ml.eval_s", total("ml.eval"), "s"))
  }

  /** Per-round figures, as medians over rounds. A round runs from the start
    * of its client job (the `fed` module's jobs are the client build, one
    * per round, then the final evaluation) to the start of the next; it
    * covers broadcast, client work, aggregation and the checkpoint write.
    */
  def rounds(spans: Seq[Trace.Span], w: Engine.Window, rounds: Int): Seq[Metric] = {
    val fedJobs = w.jobs.filter(_.layer == "fed").sortBy(_.startMs)
    require(fedJobs.size == rounds + 2,
      s"expected ${rounds + 2} federation jobs, saw ${fedJobs.size}: ${fedJobs.map(_.callSite)}")
    val perClient = spans.filter(_.tag.nonEmpty).groupBy(_.tag).values.map { ss =>
      def nth(name: String) = ss.filter(_.name == name).sortBy(_.start).map(_.seconds)
      (nth("fed.set_weights"), nth("ml.eval"), nth("ml.fit"))
    }.toSeq
    val perRound = (0 until rounds).map { r =>
      val wall = (fedJobs(r + 2).startMs - fedJobs(r + 1).startMs) / 1000.0
      val busy = perClient.map { case (s, e, f) => s(r) + e(r) + f(r) }
      val fits = perClient.map(_._3(r))
      (wall, wall - busy.max, fits.max / Stats.median(fits))
    }
    Seq(Metric("fed.round_s", Stats.median(perRound.map(_._1)), "s"),
      Metric("fed.round_overhead_s", Stats.median(perRound.map(_._2)), "s"),
      Metric("fed.straggler_ratio", Stats.median(perRound.map(_._3)), "ratio"))
  }
}
