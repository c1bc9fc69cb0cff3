package graftbench

import java.io.File
import java.util.concurrent.{ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One reported number. */
final case class Metric(name: String, value: Double, unit: String)

/** A run's result: operations attempted and failed (an exception, a
  * missed deadline or a failed output check each count as one failure),
  * whether every check held, and the metrics.
  */
final case class Report(attempted: Int, failed: Int, metrics: Seq[Metric]) {
  def correct: Boolean = failed == 0 && attempted > 0
  def toJson: String = {
    val ms = metrics.map { m =>
      s""""${m.name}": {"value": ${Report.num(m.value)}, "unit": "${m.unit}"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }
}

object Report {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

/** What every workload gets: the session, the engine listener, the span
  * recorder, the deadline runner and a private work directory.
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, traced: Boolean,
                     work: File, engine: Engine, trace: Trace, runner: Runner,
                     jvmStartMs: Long) {
  /** A fresh, empty directory under the work directory. */
  def dir(name: String): File = { val d = new File(work, name); Files.rm(d); d.mkdirs(); d }
}

/** Runs each operation on one dedicated thread and waits at most its
  * deadline. A missed deadline cancels the session's Spark jobs and marks
  * the runner hung: the stuck thread cannot be reclaimed, so the workload
  * issues no further operation and reports what it has.
  */
final class Runner(spark: SparkSession) {
  private val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
  }
  @volatile var hung = false

  /** `op` once, then again while `seconds` have not passed since the
    * start, stopping early once an operation hung.
    */
  def repeat[T](seconds: Int)(op: => T): Vector[T] = {
    val t0 = System.nanoTime()
    Iterator.continually(()).zipWithIndex
      .takeWhile { case (_, i) => !hung && (i == 0 || Stats.seconds(t0) < seconds) }
      .map(_ => op).toVector
  }

  def within[T](deadlineS: Double)(body: => T): Try[T] = {
    val f = pool.submit(() => body)
    try Success(f.get((deadlineS * 1000).toLong, TimeUnit.MILLISECONDS))
    catch {
      case _: TimeoutException =>
        hung = true
        spark.sparkContext.cancelAllJobs()
        Failure(new TimeoutException(s"operation missed its ${deadlineS}s deadline"))
      case e: ExecutionException => Failure(e.getCause)
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Files {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(): Unit
  }
  /** Every regular file under `dir`, by path relative to it. */
  def tree(dir: File): Seq[String] = {
    def walk(f: File, rel: String): Seq[String] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName)
        .flatMap(c => walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
      else Seq(rel)
    walk(dir, "")
  }
  def sameBytes(a: File, b: File): Boolean = {
    val ta = tree(a)
    ta == tree(b) && ta.forall { r =>
      java.util.Arrays.equals(java.nio.file.Files.readAllBytes(new File(a, r).toPath),
        java.nio.file.Files.readAllBytes(new File(b, r).toPath))
    }
  }
}
