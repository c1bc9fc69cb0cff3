package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every derived artifact the queries read back (layout copies of
  * `events`, bucketed tables, sketch tables, the IVF / IVF-PQ / BM25 /
  * LM indexes, fitted models) is a `util.Fixture` whose key includes
  * `Tables.corpusFingerprint` of the corpus dir. The corpus itself is
  * driver-owned and has already been regenerated under the repo once,
  * so this spec pins the invalidation contract: a corpus regeneration
  * in place, or a second corpus in another dir — whatever the dir is
  * called — resolves to a new fixture instead of serving artifacts
  * derived from another corpus, and the fixtures of a deleted corpus
  * dir do not outlive the next fixture build.
  */
class FixtureInvalidationSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4, "fixture-invalidation-spec")

  private def writeEvents(dir: String, nRows: Int): Unit = {
    import spark.implicits._
    (0 until nRows)
      .map(i => (i.toLong, java.sql.Timestamp.valueOf(s"2024-01-0${1 + i % 5} 10:00:00"),
        5L, "click", 20.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def bumpMtimes(dir: String, deltaMs: Long): Unit = {
    def walk(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      f.setLastModified(f.lastModified + deltaMs): Unit
    }
    walk(new java.io.File(dir))
  }

  test("corpusFingerprint changes when any corpus file is touched or added") {
    val dir = TempWarehouse.dir("graft-fp-corpus")
    writeEvents(dir, 4)
    val fp1 = Tables.corpusFingerprint(dir)
    bumpMtimes(dir, 10000L)
    val fp2 = Tables.corpusFingerprint(dir)
    assert(fp1 != fp2, "mtime bump must change the fingerprint")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "extra.txt"), "x")
    assert(Tables.corpusFingerprint(dir) != fp2,
      "file-count change must change the fingerprint")
  }

  test("q54's z-ordered fixture rebuilds after a corpus regeneration") {
    val dir = TempWarehouse.dir("graft-fp-sf")
    val q54 = SparkEntry.queries("q54_zorder_scan")

    writeEvents(dir, 4)
    val n1 = q54(spark, dir).agg(sum(col("n_events"))).head().getLong(0)
    assert(n1 == 4L, s"generation 1 should contribute 4 events, got $n1")

    // Regenerate the corpus in place (more rows), exactly what the
    // driver does between — or during — rounds. Force the mtime past
    // filesystem timestamp granularity so the fingerprint must move.
    writeEvents(dir, 9)
    bumpMtimes(dir, 10000L)
    val n2 = q54(spark, dir).agg(sum(col("n_events"))).head().getLong(0)
    assert(n2 == 9L,
      s"stale fixture served after corpus regen: expected 9 events, got $n2")
  }

  private def writeEmbeddings(dir: String, seed: Long): Unit = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    (0 until 40).map(i => (i.toLong, Array.fill(Tables.EmbeddingDim)(rng.nextGaussian().toFloat), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** q143 computed from the corpus directly, with no fixture. */
  private def q143Direct(dir: String): Set[Row] = {
    import graft.llm.IvfIncremental.{assignBatch, driftAudit, trainStats}
    val emb = Tables(spark, dir).embeddings
    val cent = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    val batch = emb.select((col("vec_id") + 100000L).as("vec_id"),
      reverse(col("embedding")).as("embedding"))
    driftAudit(assignBatch(batch, cent), trainStats(assignBatch(emb, cent))).collect().toSet
  }

  test("q143's IVF index fixture follows the corpus, whatever its dir is called") {
    val q143 = SparkEntry.queries("q143_ivf_drift")
    val a = TempWarehouse.dir("graft-llm-corpus-a")
    val b = TempWarehouse.dir("graft-llm-corpus-b")
    writeEmbeddings(a, 1L)
    writeEmbeddings(b, 2L)
    val expectA = q143Direct(a)
    val expectB = q143Direct(b)
    assert(expectA != expectB, "the two corpora must give different audits")
    assert(q143(spark, a).collect().toSet == expectA)
    assert(q143(spark, b).collect().toSet == expectB,
      "second corpus served the first corpus's IVF index")

    // regenerate corpus a in place with b's content
    writeEmbeddings(a, 2L)
    bumpMtimes(a, 10000L)
    assert(q143(spark, a).collect().toSet == expectB,
      "stale IVF index served after an in-place corpus regeneration")
  }

  test("a corpus fixture is removed once its corpus dir is gone") {
    import java.nio.file.{Files, Path, Paths}
    val gone = TempWarehouse.dir("graft-fx-gone")
    writeEvents(gone, 4)
    val fx = Paths.get(graft.util.Fixture.corpus("spec_gone", 1, gone)(_ => ()))
    assert(Files.isDirectory(fx))
    val s = Files.walk(Paths.get(gone))
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
    // the next corpus fixture built, for any corpus, sweeps it
    val live = TempWarehouse.dir("graft-fx-live")
    writeEvents(live, 4)
    graft.util.Fixture.corpus("spec_live", 1, live)(_ => ())
    assert(!Files.exists(fx), "fixture of a deleted corpus dir survived the next build")
  }
}

/** `SparkEntry.oracleSql` runs in a process that has built no fixture
  * (a benchmark dumps the oracles of corpus-only queries this way): a
  * fresh JVM evaluates every entry.
  */
class OracleSqlFreshProcessSpec extends AnyFunSuite {
  test("oracleSql evaluates every entry in a process that built no fixture") {
    val java = s"${sys.props("java.home")}/bin/java"
    val p = new ProcessBuilder(java, "-cp", sys.props("java.class.path"),
      "graft.OracleSqlFreshProcessSpec").redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, out)
    assert(out.linesIterator.contains(s"entries ${SparkEntry.oracleSql.size}"), out)
  }
}

object OracleSqlFreshProcessSpec {
  def main(args: Array[String]): Unit = {
    val sql = SparkEntry.oracleSql
    require(sql.values.forall(_.trim.nonEmpty), "empty oracle SQL")
    println(s"entries ${sql.size}")
  }
}
