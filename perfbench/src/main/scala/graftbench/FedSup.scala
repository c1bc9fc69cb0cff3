package graftbench

import java.io.File

import scala.util.{Failure, Success, Try}

import graft.etl.MergePipeline
import graft.fed.{FedModel, FedTrain, Federation}
import graft.fed.FedAvg.Weights
import graft.graph.PropertyGraph
import graft.ml.{BundleIO, LocalGraphSage, SageHyperParams, SageLinkModel}
import graft.sources.GraftLogger

/** `fed-sup`: one supervised federated session per operation,
  * `FedTrain.runSession` on the generated 4-way CORA-shaped store with the
  * supervised defaults, R rounds of E epochs.
  */
object FedSup {
  val GraphId = "3"
  val Rounds = 3
  val Epochs = 2
  val DeadlineS = 120.0

  final case class Session(wallS: Double, auc: Double, problems: Seq[String])

  /** Output checks made from outside: a finite mean test AUC above 0.5, no
    * client rebuilt, and one weight checkpoint per round.
    */
  def check(result: Federation.Result, out: File): (Double, Seq[String]) = {
    val aucs = result.finalMetrics.map(_._2.getOrElse("test_auc", Double.NaN))
    val auc = aucs.sum / math.max(aucs.size, 1)
    val missing = (1 to Rounds).filterNot(r =>
      new File(out, s"weights/weights_graphID:${GraphId}_V$r/_SUCCESS").isFile)
    val problems = Seq(
      Option.when(aucs.size != CoraStore.Parts)(s"${aucs.size} clients evaluated"),
      Option.when(!(auc > 0.5))(s"mean test AUC $auc is not above 0.5"),
      Option.when(result.clientRebuilds != 0)(s"${result.clientRebuilds} client rebuilds"),
      Option.when(missing.nonEmpty)(s"missing weight checkpoints for rounds $missing")).flatten
    (auc, problems)
  }

  def run(ctx: Ctx): Report = {
    import ctx._
    val store = Setup.coraStore(ctx)
    val logger = GraftLogger.stdout()
    var n = 0
    def session(): Session = {
      n += 1
      val out = ctx.dir(s"session-$n")
      val t0 = System.nanoTime()
      val r = FedTrain.runSession(spark, store.dir, GraphId, store.pids, Rounds, Epochs,
        out.getPath, logger = logger)
      val wall = Stats.seconds(t0)
      val (auc, problems) = check(r.result, out)
      Files.rm(out)
      System.err.println(s"perfbench: session $n wall $wall")
      Session(wall, auc, problems)
    }

    // Warm-up: one partition's merge and bundle write, a quarter of a
    // session's jobs, which takes the JVM's first compilation of the
    // engine's scheduling and planning paths out of the timed session. A
    // full warm-up session does not fit a run: it takes two to settle.
    runner.within(DeadlineS) {
      val m = MergePipeline.merge(spark, store.dir, store.dir, GraphId, store.pids.head)
      val g = PropertyGraph(m.nodes, m.edges).cache()
      try BundleIO.write(spark, ctx.dir("warm-up").getPath, "warm-up", g,
        seed = SageHyperParams().seed)
      finally g.unpersist()
    }.failed.foreach(e => System.err.println(s"perfbench: warm-up failed: $e"))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    engine.resetPeak()
    val t0 = System.nanoTime()
    // A traced run makes two untraced sessions, the traced session and one
    // more untraced session. Sessions still gain from JIT warm-up as a run
    // goes on, fastest over the first, so the traced wall is compared with
    // the mean of the untraced sessions right before and after it: that is
    // the tracing overhead.
    def untraced(k: Int) = (1 to k).iterator.takeWhile(_ => !runner.hung)
      .map(_ => runner.within(DeadlineS)(session())).toVector
    val before =
      if (ctx.traced) untraced(2)
      else runner.repeat(seconds)(runner.within(DeadlineS)(session()))
    val traced = Option.when(ctx.traced && !runner.hung)(
      Try(TracedFedSup.run(ctx, store, logger)))
    val sessions = before ++ (if (ctx.traced) untraced(1) else Vector.empty)
    val timedS = Stats.seconds(t0)
    engine.flush()
    val peakMb = engine.peakTaskMem.get / 1048576.0

    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    val pinnedAuc = sessions.flatMap(_.toOption).headOption.map(_.auc)
    val problems = sessions.zipWithIndex.map {
      case (Failure(e), i) => Some(s"session $i failed: $e")
      case (Success(s), i) =>
        val auc = Option.when(!pinnedAuc.exists(a => bits(a) == bits(s.auc)))(
          s"AUC ${s.auc} differs from the first session's ${pinnedAuc.getOrElse(Double.NaN)}")
        (s.problems ++ auc).headOption.map(p => s"session $i: $p")
    }
    val tracedProblem = traced.flatMap {
      case Failure(e) => Some(s"traced session failed: $e")
      case Success(t) => Option.when(!pinnedAuc.exists(a => bits(a) == bits(t.auc)))(
        s"traced AUC ${t.auc} differs from the untraced ${pinnedAuc.getOrElse(Double.NaN)}")
    }
    (problems.flatten ++ tracedProblem).foreach(p => System.err.println(s"perfbench: $p"))
    val failed = problems.count(_.nonEmpty) + tracedProblem.size
    val attempted = sessions.size + traced.size
    val walls = sessions.flatMap(_.toOption).map(_.wallS)

    val metrics = traced match {
      case None => Setup.endToEnd(setupS, walls, timedS, peakMb)
      case Some(t) => Layers.complete(t.toOption.toSeq.flatMap { t =>
        val flanks = sessions.drop(1).flatMap(_.toOption).map(_.wallS)
        t.metrics :+ Metric("trace.overhead_frac",
          if (flanks.isEmpty) Double.NaN else t.wallS / (flanks.sum / flanks.size) - 1.0, "fraction")
      } ++ Seq(
        Metric("error_rate", failed.toDouble / attempted, "fraction"),
        Metric("storage_held_mb", Setup.storageHeldMb(ctx), "MB")))
    }
    Report(attempted, failed, metrics)
  }
}

/** The traced `fed-sup` session: the public calls `FedTrain.runSession`
  * makes — `MergePipeline.merge`, `BundleIO.write` under `Par.mapAll`,
  * `Federation.run` — composed by the benchmark with a span around each,
  * and a client decorator that times every client call inside its task.
  * The merged graph's node and edge counts are taken right after caching
  * it, so the merge runs inside the `etl.merge` span (the split reads the
  * same cache). Its AUC must equal the untraced session's bit for bit.
  */
object TracedFedSup {
  import FedSup._

  final case class Traced(metrics: Seq[Metric], wallS: Double, auc: Double)

  def run(ctx: Ctx, store: CoraStore.Store, logger: GraftLogger): Traced = {
    import ctx._
    val hp = SageHyperParams()
    val out = ctx.dir("traced")
    val traceId = 1L
    var counts = Seq.empty[(Long, Long)]
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val outcome = runner.within(DeadlineS) {
      trace.span("fed-sup.session", traceId) { root =>
        val parts = graft.util.Par.mapAll(store.pids) { pid =>
          val (g, nodes, edges) = trace.span("etl.merge", traceId, root) { _ =>
            val m = MergePipeline.merge(spark, store.dir, store.dir, GraphId, pid)
            val g = PropertyGraph(m.nodes, m.edges).cache()
            (g, g.numNodes, g.numEdges)
          }
          try (trace.span("ml.bundle_write", traceId, root) { _ =>
            BundleIO.write(spark, s"$out/bundles", s"${GraphId}_$pid", g, seed = hp.seed)
          }, (nodes, edges))
          finally g.unpersist()
        }
        counts = parts.map(_._2)
        val refs = parts.map(_._1)
        val init = new LocalGraphSage(hp, Map.empty, Map.empty, refs.head.numFeatures)
          .initializeWeights()
        trace.span("fed.run", traceId, root) { fedSpan =>
          Federation.run(spark, refs,
            (r: BundleIO.BundleRef) => TimedModel.load(r, hp, traceId, fedSpan),
            init, Rounds, Epochs, GraphId, weightsDir = Some(s"$out/weights"), logger = logger)
        }
      }
    }
    val wall = Stats.seconds(t0)
    val window = engine.window(fromMs, System.currentTimeMillis())
    TimedModel.drain().foreach(trace.record)
    val result = outcome.get
    val (auc, problems) = check(result, out)
    val kept = counts.map(_._1).sum
    require(problems.isEmpty && kept == store.nodeRowsKept,
      s"${problems.mkString("; ")} (merge kept $kept node rows, keep-first expects " +
        s"${store.nodeRowsKept})")
    Files.rm(out)

    val self = trace.selfSeconds(Set(traceId))
    val spans = trace.all.filter(_.traceId == traceId)
    val rootSpan = spans.find(_.name == "fed-sup.session").get
    val nodesIn = store.nodeRowsScanned.toDouble
    val modelBytes = result.weights.map(_.values.length * 4L).sum
    Traced(Seq(
      Metric("etl.merge_s", self.getOrElse("etl.merge", 0.0), "s"),
      Metric("etl.nodes_in", nodesIn, "count"),
      Metric("etl.nodes_kept", kept.toDouble, "count"),
      Metric("etl.keep_ratio", kept / nodesIn, "ratio"),
      Metric("etl.edges", counts.map(_._2).sum.toDouble, "count"),
      Metric("ml.bundle_write_s", self.getOrElse("ml.bundle_write", 0.0), "s"),
      Metric("fed.update_kb", modelBytes * result.finalMetrics.size / 1024.0, "KB"),
      Metric("fed.client_rebuilds", result.clientRebuilds.toDouble, "count"),
      Metric("fed.test_auc", auc, "auc")) ++
      Layers.client(spans) ++ Layers.rounds(spans, window, Rounds) ++
      Layers.engine(window) :+
      Metric("trace.uncovered_frac", self.getOrElse("fed-sup.session", 0.0) / rootSpan.seconds,
        "fraction"), wall, auc)
  }
}

/** Client decorator passed to the public `Federation.run`: it wraps the
  * model `SageLinkModel.fromRef` builds and records a span around every
  * client call, inside the executor task. Clients live in a cached RDD
  * across rounds, so an accumulator captured at build time would not
  * report later rounds; spans go to a JVM-wide queue instead, which tasks
  * share with the benchmark's own threads in local mode.
  */
final class TimedModel(inner: FedModel, client: String, traceId: Long,
                       parent: Long) extends FedModel {
  private def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally TimedModel.add(Trace.Span(TimedModel.nextId(), parent, traceId, name, t0,
      System.nanoTime(), client))
  }
  def numExamples: Long = inner.numExamples
  def getWeights: Weights = inner.getWeights
  def setWeights(w: Weights): Unit = timed("fed.set_weights")(inner.setWeights(w))
  def fit(epochs: Int): Weights = timed("ml.fit")(inner.fit(epochs))
  def evaluate(): Map[String, Double] = timed("ml.eval")(inner.evaluate())
}

object TimedModel {
  private val ids = new java.util.concurrent.atomic.AtomicLong(1L << 40)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Trace.Span]()
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Trace.Span): Unit = spans.add(s): Unit
  def drain(): Seq[Trace.Span] = Iterator.continually(spans.poll()).takeWhile(_ != null).toSeq

  def load(ref: BundleIO.BundleRef, hp: SageHyperParams, traceId: Long,
           parent: Long): FedModel = {
    val t0 = System.nanoTime()
    val m = SageLinkModel.fromRef(ref, hp)
    add(Trace.Span(nextId(), parent, traceId, "ml.bundle_load", t0, System.nanoTime(), ref.name))
    new TimedModel(m, ref.name, traceId, parent)
  }
}
