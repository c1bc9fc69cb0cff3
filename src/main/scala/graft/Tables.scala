package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog over the driver-generated parquet corpus (TESTDATA.md).
  *
  * Mirrors the reference's string-concatenation "catalog"
  * (fl_server.py:202-207 builds paths as f"{dir}/{gid}_nodes_{pid}.csv")
  * but over columnar parquet: one table per file, schema embedded.
  *
  * Scale note: `spark.read.parquet` yields a scan that supports column
  * pruning + predicate pushdown; at 100 TB each table would be a
  * partitioned directory and everything here still holds.
  */
final case class Tables(spark: SparkSession, dir: String) {
  // The oracle (DuckDB strftime) is timezone-naive while Spark's
  // date_format depends on spark.sql.session.timeZone; queries may run
  // under a driver-supplied session, so pin UTC at catalog construction
  // — every query goes through Tables, making formatting deterministic
  // on any host. nanosAsLong must likewise be set before the events
  // parquet footer is read (session-wide legacy flag).
  spark.conf.set("spark.sql.session.timeZone", "UTC")
  spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")

  /** The physical encoding of `events.ts` is a driver-corpus detail the
    * engine doesn't control — it has already shipped as TIMESTAMP(NANOS)
    * (readable only as a raw long under nanosAsLong) and later as
    * timestamp[us] with isAdjustedToUTC=false (read as TIMESTAMP_NTZ).
    * Adapt on the ACTUAL dtype, the way the reference coerces dtypes
    * after load (merge.py:32-35), so every consumer sees `ts TIMESTAMP`
    * regardless of which corpus generation is on disk — and fail with a
    * named error (not a Catalyst stack 14 queries later) on an encoding
    * this catalog has never seen.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table("events")
    val adapted = raw.schema("ts").dataType match {
      // TIMESTAMP(NANOS) surfaced as a long (nanosAsLong): floor to
      // micros. `div` alone truncates toward zero — a pre-epoch nano
      // value would round UP a microsecond; subtracting the nonneg
      // pmod first makes the numerator an exact multiple, so div ≡
      // floor (the KAnonymity/RangeJoin bucket device).
      case LongType         => timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000"))
      // timestamp[us] isAdjustedToUTC=false: session is pinned UTC above,
      // so the NTZ→TZ cast is value-identical.
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      case other => throw new IllegalStateException(
        s"events.ts has unsupported parquet encoding $other in $dir — " +
          "extend Tables.events for this corpus generation")
    }
    val out = raw.withColumn("ts", adapted)
    require(out.schema("ts").dataType == TimestampType,
      s"events.ts adaptation must yield TIMESTAMP, got ${out.schema("ts").dataType}")
    out
  }
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {
  /** embeddings.embedding width — a data contract of the driver-
    * generated corpus (constant across every SF). Passing it to the
    * LSH/ANN entry points skips their LIMIT-1 dimension probe.
    */
  val EmbeddingDim: Int = 64

  /** Cheap corpus-generation fingerprint: every file's (path, length,
    * mtime) under the corpus dir, from one directory listing — never a
    * data read. `util.Fixture` folds it into the key of every fixture
    * derived from the corpus, so a regeneration (between sessions or
    * mid-session) resolves to a new fixture directory instead of
    * serving artifacts of the previous generation.
    */
  def corpusFingerprint(dir: String): String = {
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(walk)
      else Iterator.single(f)
    val files = walk(new java.io.File(dir)).toVector
    // fold every (path, length, mtime) into the key — count + max
    // mtime alone missed a same-file-count regen landing inside the
    // FS timestamp granularity (1-2 s on some filesystems), which is
    // exactly the staleness this fingerprint exists to catch; a regen
    // identical in every path, size AND mtime is indistinguishable,
    // and with the deterministic driver generator also identical data
    var h = 1125899906842597L
    files.map(f => (f.getPath, f.length, f.lastModified)).sortBy(_._1)
      .foreach { case (p, len, m) =>
        h = h * 31 + p.hashCode
        h = h * 31 + len
        h = h * 31 + m
      }
    s"${files.size}:$h"
  }
}

/** Per-process-unique temp directories (Spark warehouses, spec
  * corpora). The in-memory catalog is per-JVM while a fixed warehouse
  * path persists across JVMs — that mismatch is how a second process
  * on the same machine used to die with LOCATION_ALREADY_EXISTS on a
  * managed bucketed table. Layout's writeBucketed is idempotent
  * regardless (the library-surface fix); unique dirs here are defense
  * in depth, and a shutdown hook keeps /tmp from accumulating one
  * directory per run. Query fixtures do not live here (`util.Fixture`).
  */
object TempWarehouse {
  def dir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix + "-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(p.toFile)
    }))
    p.toString
  }
}

object GraftSession {
  /** The ONE session factory — tests, ad-hoc mains, AND the Verify /
    * Bench driver-contract mains (their builders had already drifted
    * once: Verify lost `adaptive.enabled`, benign only because Spark 4
    * defaults it on; the next legacy flag would not be). local[N]
    * stand-in for a real cluster: shuffle partitions sized to cores,
    * AQE on for runtime re-planning (skew joins, partition coalescing
    * at scale). `warehousePrefix` keeps each main's managed tables in
    * its own per-process tmp dir (the queries' layout copies are
    * `util.Fixture` directories instead).
    */
  def local(cores: Int = 4, app: String = "graft",
            warehousePrefix: String = "graft-warehouse"): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // finite cap = the canary for unboundedly-growing iterative plans
      // (EdgeSplitter/RandomWalk lineage), sized ABOVE the legitimately
      // wide ones: the 1434-column CORA CSV projection alone is ~175 KB
      // of plan string
      .config("spark.sql.maxPlanStringLength", "262144")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // managed tables (bucketing) land in a per-process tmp dir, never
      // the repo cwd — and never a path a previous JVM already used
      // cached layouts must keep advertising their partitioning (the
      // PageRankFixed edge layout plans zero-exchange src-joins against
      // its cache); AQE-inside-InMemoryRelation would hide it behind an
      // unknown-partitioning adaptive root
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "false")
      .config("spark.sql.warehouse.dir", TempWarehouse.dir(warehousePrefix))
      .getOrCreate()
}
