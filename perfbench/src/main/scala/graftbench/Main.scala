package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import graft.GraftSession

/** The benchmark's JVM entry point:
  *
  *   Main --workload <fed-sup|queries|fed-embed> --seed <n> --seconds <s>
  *        --trace <0|1> --work <dir> --result <file>
  *
  * One closed loop: a single thread issues each operation after the
  * previous one completes, on `local[nproc]`. The seed reaches only the
  * input generators. The result JSON goes to `--result` and to the last
  * line of standard output; a traced run also writes its spans beside it.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val work = new File(arg("work"))
    val resultFile = new File(arg("result"))
    val traced = arg("trace") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    work.mkdirs()
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors(),
      s"perfbench-$workload", warehousePrefix = "perfbench-warehouse")
    spark.sparkContext.setLogLevel("ERROR")
    val engine = new Engine(spark.sparkContext, detailed = traced)
    if (traced) spark.listenerManager.register(engine)
    val trace = new Trace(traced)
    val ctx = Ctx(spark, arg("seed").toLong, arg("seconds").toInt, traced, work,
      engine, trace, new Runner(spark), jvmStartMs)
    val report =
      try workload match {
        case "fed-sup" => FedSup.run(ctx)
        case "fed-embed" => FedEmbed.run(ctx)
        case "queries" => Queries.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Runtime.getRuntime.halt(1)
          throw e
      }
    if (traced) {
      write(new File(resultFile.getPath + ".spans.json"), trace.toJson)
      write(new File(resultFile.getPath + ".jobs.jsonl"), engine.jobsJson)
    }
    write(resultFile, report.toJson + "\n")
    println(report.toJson)
    System.out.flush()
    // The result is written. A hung operation leaves threads that would
    // block `spark.stop()`, and local mode starts no other process, so the
    // JVM ends here without stopping the session.
    Runtime.getRuntime.halt(0)
  }

  private def write(f: File, s: String): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.write(s) finally w.close()
  }
}
