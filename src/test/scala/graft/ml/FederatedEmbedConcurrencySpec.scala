package graft.ml

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.graph.PropertyGraph

/** `UnsupervisedPipeline.runFederated` with one partition per core of the
  * global execution context, on features wide enough that the GraphSAGE
  * kernels run in parallel: the driver's per-partition job waits
  * (`Par.mapAll`) and the executor tasks' kernel futures share that one
  * pool, so the run only finishes if the parked job waits let the pool
  * grow.
  */
class FederatedEmbedConcurrencySpec extends SparkSpec {

  private val Features = 512
  private val NodesPerPart = 12

  /** A ring of `NodesPerPart` nodes with seeded 512-wide features. */
  private def part(p: Int): PropertyGraph = {
    import spark.implicits._
    val rng = new scala.util.Random(p)
    val ids = (0 until NodesPerPart).map(i => p * 1000L + i)
    val nodes = ids.map(id => (id, Array.fill(Features)(rng.nextFloat()))).toDF("id", "features")
    val edges = ids.indices.map(i => (ids(i), ids((i + 1) % ids.size))).toDF("source", "target")
    PropertyGraph(nodes, edges)
  }

  test("federated embedding with one partition per pool thread finishes") {
    val parts = (0 until Runtime.getRuntime.availableProcessors).map(p => p.toString -> part(p))
    val out = java.nio.file.Files.createTempDirectory("fed-embed-conc").toString
    val run = Future {
      val (_, emb) = UnsupervisedPipeline.runFederated(spark, parts, "9", rounds = 1,
        epochs = 1, out)
      emb.agg(count(lit(1)), countDistinct(col("id"))).head()
    }(scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newSingleThreadExecutor(r => {
        val t = new Thread(r, "fed-embed-conc"); t.setDaemon(true); t
      })))
    val r = Await.result(run, 180.seconds)
    val n = parts.size.toLong * NodesPerPart
    assert(r.getLong(0) == n && r.getLong(1) == n)
  }
}
