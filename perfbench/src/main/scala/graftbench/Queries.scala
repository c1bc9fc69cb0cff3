package graftbench

import java.io.{File, PrintWriter}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry

/** `queries`: the query surface on a generated corpus. One operation is one
  * query of `SparkEntry.queries`, sunk to `noop`; the run makes whole passes
  * over the measured queries in an order drawn from the seed. Each
  * operation's row count is read through an `Observation` and written out,
  * and `run.py` compares it with the query's DuckDB oracle on the same
  * corpus.
  */
object Queries {
  val DeadlineS = 30.0

  /** The measured queries, fixed so that a change to the registry cannot
    * change the benchmark. Of the queries with a DuckDB oracle, those whose
    * oracle reads only the ten corpus tables (not fixture files a query
    * writes while it runs) and finishes in DuckDB within a second on the
    * generated corpus, sorted by name, taking every eighth: both the
    * relational and the LLM-data registries are sampled and a pass fits in
    * a run. README.md in this directory lists what the rule left out.
    */
  val Measured: Seq[String] = Seq("q01_pruned_agg", "q09_union_priority_dedup",
    "q107_interval_join", "q114_bigram_lm", "q123_triangle_count", "q131_rolling_features",
    "q142_ivf_append", "q151_source_quality", "q15_time_bucket", "q167_semdedup_clustered",
    "q17_full_outer", "q189_bpe_train", "q23_lang_id", "q35_sessionize", "q46_seq_packing",
    "q56_rolling_window", "q67_token_chunks", "q77_ivfpq_pinned", "q88_hash_sample",
    "q96_hll_sparse")

  final case class Exec(name: String, wallS: Double, rows: Long)

  /** One query: build the plan, then sink it to `noop` with a row-count
    * observation.
    */
  def exec(spark: SparkSession, dir: String, name: String): Exec = {
    val fn = SparkEntry.queries(name)
    val obs = Observation(s"rows-$name")
    val t0 = System.nanoTime()
    val df = fn(spark, dir)
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    Exec(name, Stats.seconds(t0), obs.get("rows").asInstanceOf[Long])
  }

  def run(ctx: Ctx): Report = {
    import ctx._
    val corpus = ctx.dir("corpus").getPath
    Corpus.generate(spark, new File(corpus), seed)
    val order = new scala.util.Random(seed).shuffle(Measured)
    def pass(): Seq[(String, Try[Exec])] = order.takeWhile(_ => !runner.hung)
      .map(q => q -> runner.within(DeadlineS)(exec(spark, corpus, q)))

    pass().collect { case (q, Failure(e)) => System.err.println(s"perfbench: warm-up $q: $e") }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    engine.resetPeak()
    val t0 = System.nanoTime()
    val timed = runner.repeat(seconds)(pass()).flatten
    val timedS = Stats.seconds(t0)
    engine.flush()
    val peakMb = engine.peakTaskMem.get / 1048576.0

    // A traced run adds the traced pass and then one more untraced pass, so
    // the tracing overhead compares the traced pass with untraced passes on
    // both sides of it.
    val traced = Option.when(ctx.traced && !runner.hung)(Try(tracedPass(ctx, corpus, order)))
    val after = if (traced.isDefined && !runner.hung) pass() else Nil
    traced.flatMap(_.failed.toOption).foreach(e => System.err.println(s"perfbench: traced: $e"))
    val untraced = timed ++ after
    untraced.collect { case (q, Failure(e)) => System.err.println(s"perfbench: $q: $e") }
    val ok = untraced.collect { case (_, Success(e)) => e }
    val tracedOk = traced.flatMap(_.toOption)
    writeRuns(new File(work, "query_runs.json"), corpus, ok ++ tracedOk.toSeq.flatMap(_._2))
    val attempted = untraced.size + traced.map(_ => order.size).getOrElse(0)
    val failed = untraced.count(_._2.isFailure) + traced.count(_.isFailure)
    val metrics =
      if (!ctx.traced) Setup.endToEnd(setupS, ok.map(_.wallS), timedS, peakMb)
      else Layers.complete(tracedOk.toSeq.flatMap { case (ms, execs) =>
        ms :+ overhead(execs, ok) } ++ Seq(
        Metric("error_rate", failed.toDouble / attempted, "fraction"),
        Metric("storage_held_mb", Setup.storageHeldMb(ctx), "MB")))
    Report(attempted, failed, metrics)
  }

  /** Traced pass wall over untraced wall, less one, over the queries that
    * have untraced samples; each query's untraced wall is its median.
    */
  private def overhead(traced: Seq[Exec], untraced: Seq[Exec]): Metric = {
    val perQuery = untraced.groupBy(_.name).map { case (q, es) => q -> Stats.median(es.map(_.wallS)) }
    val both = traced.filter(e => perQuery.contains(e.name))
    Metric("trace.overhead_frac",
      both.map(_.wallS).sum / both.map(e => perQuery(e.name)).sum - 1.0, "fraction")
  }

  /** One traced pass: per query a root span with `queries.build` (the query
    * function, which may run eager jobs) and `queries.exec` (the action)
    * below it; planning and execution time come from the
    * QueryExecutionListener, jobs from the SparkListener.
    */
  private def tracedPass(ctx: Ctx, corpus: String,
                         order: Seq[String]): (Seq[Metric], Seq[Exec]) = {
    import ctx._
    val fromMs = System.currentTimeMillis()
    var buildJobs = 0
    var planS = 0.0
    var execS = 0.0
    val execs = order.zipWithIndex.map { case (q, i) =>
      val traceId = i + 1L
      runner.within(DeadlineS) {
        trace.span("queries.query", traceId) { root =>
          val fn = SparkEntry.queries(q)
          val obs = Observation(s"rows-$q")
          val t0 = System.nanoTime()
          val b0 = System.currentTimeMillis()
          val df = trace.span("queries.build", traceId, root)(_ => fn(spark, corpus))
          val b1 = System.currentTimeMillis()
          trace.span("queries.exec", traceId, root) { _ =>
            df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
          }
          val w = engine.window(b0, System.currentTimeMillis())
          buildJobs += w.jobs.count(_.startMs <= b1)
          val action = w.queries.filter(_.endMs >= b1)
          planS += action.map(_.planS).sum
          execS += action.map(_.execS).sum
          Exec(q, Stats.seconds(t0), obs.get("rows").asInstanceOf[Long])
        }
      }.get
    }
    val window = engine.window(fromMs, System.currentTimeMillis())
    val ids = execs.indices.map(_ + 1L).toSet
    val self = trace.selfSeconds(ids)
    val roots = trace.all.filter(s => ids(s.traceId) && s.name == "queries.query")
    val metrics = Seq(
      Metric("queries.build_s", self.getOrElse("queries.build", 0.0), "s"),
      Metric("queries.build_jobs", buildJobs.toDouble, "count"),
      Metric("queries.plan_s", planS, "s"),
      Metric("queries.exec_s", execS, "s")) ++
      Layers.engine(window) :+
      Metric("trace.uncovered_frac", self.getOrElse("queries.query", 0.0) / roots.map(_.seconds).sum,
        "fraction")
    (metrics, execs)
  }

  private def writeRuns(f: File, corpus: String, execs: Seq[Exec]): Unit = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val oracle = Measured.map(q => s"${str(q)}: ${str(SparkEntry.oracleSql(q))}").mkString("{", ",\n", "}")
    val observed = execs.map(e => s"[${str(e.name)}, ${e.rows}, ${e.wallS}]").mkString("[", ",\n", "]")
    val w = new PrintWriter(f, "UTF-8")
    try w.write(s"""{"corpus": ${str(corpus)}, "tables": ${Corpus.Tables.map(str).mkString("[", ",", "]")},
                   |"oracle": $oracle,
                   |"observed": $observed}""".stripMargin)
    finally w.close()
  }
}
