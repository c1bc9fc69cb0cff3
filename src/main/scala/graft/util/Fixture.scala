package graft.util

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.concurrent.TrieMap
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.Tables

/** Every derived artifact the query surface reads back — indexes, fitted
  * models, persisted `ln` tables, layout copies of `events`, generated
  * media inputs — is a fixture: a directory built once by a recipe and
  * read by every later query (and by the DuckDB oracle) instead of being
  * recomputed.
  *
  * A fixture lives at `${java.io.tmpdir}/graft-fixtures/<name>_<key>`. The
  * key names everything its content depends on: the recipe `version` plus
  * either `Tables.corpusFingerprint` of the corpus dir ([[corpus]]) or the
  * generation parameters of a fixture that reads no corpus
  * ([[generated]]). A regenerated corpus, a bumped version or new
  * parameters therefore resolve to a new directory, so a stale artifact is
  * never served — in this process or a later one.
  *
  * Directories outlive the JVM on purpose: the oracle check runs DuckDB
  * over them after the Spark process exits, and a later process on the
  * same corpus reuses them. A corpus fixture records its corpus dir in
  * a `_corpus_dir` file (hidden from Spark's readers and from the
  * oracles' `*.parquet` globs). Building a corpus fixture deletes the
  * superseded keys of that fixture for the same corpus dir, and every
  * corpus fixture whose corpus dir no longer exists (a temporary
  * corpus); nothing else is removed (deleting `graft-fixtures` is
  * always safe).
  */
object Fixture {
  private val Root: Path = Paths.get(sys.props("java.io.tmpdir"), "graft-fixtures")
  private val CorpusDir = "_corpus_dir"

  private val locks = TrieMap.empty[String, Object]
  private val latest = TrieMap.empty[String, String]
  private val opened = TrieMap.empty[(String, String), Any]

  /** The fixture `name` derived from the corpus at `dir`: its directory,
    * built by `build` (which writes everything under the path it is
    * given) the first time this corpus generation asks for it.
    */
  def corpus(name: String, version: Int, dir: String)(build: String => Unit): String = {
    val d = hex(dir)
    at(name, s"v${version}_$d-${hex(Tables.corpusFingerprint(dir))}",
        superseded = Some(s"${name}_v[0-9]+_$d-.*")) { out =>
      build(out)
      Files.writeString(Files.createDirectories(Paths.get(out)).resolve(CorpusDir),
        new java.io.File(dir).getAbsolutePath)
    }
  }

  /** A fixture that reads no corpus, keyed by its generation parameters. */
  def generated(name: String, version: Int, params: Any*)(build: String => Unit): String =
    at(name, (s"v$version" +: params.map(_.toString)).mkString("_"), None)(build)

  /** The directory `name` last resolved to in this process — what oracle
    * SQL reads, so it sees exactly the files the query read. Before any
    * query has resolved it, a path that does not exist.
    */
  def path(name: String): String = latest.getOrElse(name, Root.resolve(s"${name}_unbuilt").toString)

  /** Session-scoped state opened from a fixture directory (a catalog
    * table, a checkpointed manifest, scalars read off a part), computed
    * once per (SparkContext, directory).
    */
  def open[A](s: SparkSession, path: String)(f: String => A): A = {
    val k = (s.sparkContext.applicationId, path)
    opened.get(k).getOrElse(lock(path).synchronized(opened.getOrElseUpdate(k, f(path))))
      .asInstanceOf[A]
  }

  private def lock(path: String): Object = locks.getOrElseUpdate(path, new Object)

  /** Build into a private sibling, then rename it into place: a reader
    * never sees a partial directory, and a process that loses the race
    * to another one building the same key keeps the winner's copy (the
    * content is the same by construction).
    */
  private def at(name: String, key: String, superseded: Option[String])
                (build: String => Unit): String = {
    val target = Root.resolve(s"${name}_$key")
    lock(target.toString).synchronized {
      if (!Files.isDirectory(target)) {
        Files.createDirectories(Root)
        val tmp = Root.resolve(s".${target.getFileName}.${java.util.UUID.randomUUID}")
        try {
          build(tmp.toString)
          try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          catch { case e: java.io.IOException if !Files.isDirectory(target) => throw e }
        } finally delete(tmp)
        superseded.foreach { pattern =>
          Files.list(Root).toArray(n => new Array[Path](n)).filter { p =>
            val f = p.getFileName.toString
            p != target && !f.startsWith(".") && (f.matches(pattern) || corpusGone(p))
          }.foreach(p => Try(delete(p))) // another process may be sweeping too
        }
      }
    }
    latest(name) = target.toString
    target.toString
  }

  private def corpusGone(fixture: Path): Boolean =
    Try(!Files.exists(Paths.get(Files.readString(fixture.resolve(CorpusDir))))).getOrElse(false)

  private def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f): Unit)
    finally s.close()
  }

  private def hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
}
