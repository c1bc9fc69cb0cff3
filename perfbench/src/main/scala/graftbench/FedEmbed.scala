package graftbench

import org.apache.spark.sql.functions.{col, exists, isnan, size}

import graft.etl.MergePipeline
import graft.graph.PropertyGraph
import graft.ml.UnsupervisedPipeline

/** `fed-embed`: one `UnsupervisedPipeline.runFederated` per operation on the
  * generated 4-way store (R=2, E=1, the 256-wide unsupervised profile),
  * ending with per-partition embedding CSVs and `ConcatEmbeddings`.
  *
  * With as many partitions as `ExecutionContext.global` has threads
  * (nproc), this pipeline deadlocks: `Par.mapAll`'s futures all
  * block in `SparkContext.runJob`, while each task's
  * `LocalGraphSage.inParallel` waits on futures queued to the same, full
  * pool. The operation deadline turns that into a counted failure.
  */
object FedEmbed {
  val Rounds = 2
  val Epochs = 1
  val Dim = 256
  val DeadlineS = 120.0

  def run(ctx: Ctx): Report = {
    import ctx._
    val store = Setup.coraStore(ctx)
    val parts = store.pids.map { pid =>
      val m = MergePipeline.merge(spark, store.dir, store.dir, FedSup.GraphId, pid)
      pid -> PropertyGraph(m.nodes, m.edges).cache()
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    engine.resetPeak()
    val t0 = System.nanoTime()
    val outcome = runner.within(DeadlineS) {
      val out = ctx.dir("embed")
      val s0 = System.nanoTime()
      val (_, emb) = UnsupervisedPipeline.runFederated(spark, parts, FedSup.GraphId,
        Rounds, Epochs, out.getPath)
      val wall = Stats.seconds(s0)
      val rows = emb.count()
      val ids = emb.select("id").distinct().count()
      val bad = emb.filter(size(col("embedding")) =!= Dim ||
        exists(col("embedding"), x => isnan(x) || x.isin(Double.PositiveInfinity,
          Double.NegativeInfinity))).count()
      val problems = Seq(
        Option.when(rows != store.allIds.size)(s"$rows embedding rows, expected ${store.allIds.size}"),
        Option.when(ids != rows)(s"$rows rows but $ids distinct ids"),
        Option.when(bad != 0)(s"$bad rows not $Dim finite values")).flatten
      require(problems.isEmpty, problems.mkString("; "))
      (wall, rows)
    }
    val timedS = Stats.seconds(t0)
    outcome.failed.foreach(e => System.err.println(s"perfbench: fed-embed: $e"))
    engine.flush()
    val ok = outcome.toOption.toSeq
    Report(1, if (outcome.isSuccess) 0 else 1,
      Setup.endToEnd(setupS, ok.map(_._1), timedS, engine.peakTaskMem.get / 1048576.0) ++ Seq(
        Metric("embed_nodes_per_s", ok.map { case (w, n) => n / w }.headOption.getOrElse(0.0), "1/s"),
        Metric("error_rate", if (outcome.isSuccess) 0.0 else 1.0, "fraction")))
  }
}
