package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout operators for shuffle elimination and skew control —
  * the two levers that decide whether a 100 TB join finishes.
  */
object Layout {

  /** Persist `df` as a bucketed+sorted table. Joins and
    * aggregations between tables bucketed the same way on the same
    * keys run with ZERO shuffle — the co-located-join layout for fact
    * tables that are joined repeatedly on the same key.
    *
    * A managed table by default; with `location`, an external table
    * whose files live there and survive a DROP, so any later session
    * can register them again (`CREATE TABLE … CLUSTERED BY … LOCATION`).
    *
    * Idempotent ACROSS PROCESSES, not just within a session: the
    * in-memory catalog dies with the JVM but the warehouse directory
    * persists, so a table written by a previous process is invisible to
    * the catalog while its location still exists on disk — Spark then
    * rejects `saveAsTable` with LOCATION_ALREADY_EXISTS. Nightly reruns
    * are the norm at scale, so a layout write must own its location's
    * lifecycle: drop any catalog entry, then clear a stale location,
    * then write.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String], location: Option[String] = None): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // A location orphaned by a prior process is not covered by the DROP
    // (the catalog never knew it). Resolve where saveAsTable will put
    // the table and remove any leftover — via the Hadoop FS API so an
    // HDFS/S3 warehouse behaves the same as local /tmp.
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = location.map(new org.apache.hadoop.fs.Path(_)).getOrElse(
      new org.apache.hadoop.fs.Path(spark.sessionState.catalog.defaultTablePath(ident)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
    location.fold(w)(w.option("path", _)).saveAsTable(table)
  }

  /** Drop a bucketed table and its on-disk location, whether or not the
    * current process's catalog knows it — the cleanup half of the
    * layout lifecycle (writeBucketed is the create half).
    */
  def dropBucketed(spark: org.apache.spark.sql.SparkSession,
                   table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Salted inner equi-join for skewed keys: the big side gets a
    * deterministic salt in [0, saltFactor) per row; the small side is
    * replicated saltFactor× so every (key, salt) bucket still matches.
    * A single hot key's rows spread over `saltFactor` tasks instead of
    * one straggler. Semantics identical to `big.join(small, keys)`
    * (inner); AQE's skew handling covers sort-merge cases, this covers
    * the ones it can't re-plan (e.g. followed by an aggregation on the
    * same key, or disabled AQE).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 saltFactor: Int): DataFrame = {
    require(saltFactor >= 1)
    val salted = big.withColumn("__salt", saltExpr(big, saltFactor))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1)).cast("array<int>")))
    salted.join(replicated, keys :+ "__salt").drop("__salt")
  }

  final case class CompactionStats(filesBefore: Int, filesAfter: Int,
                                   bytes: Long)

  /** Small-file compaction (the lakehouse OPTIMIZE): rewrite a parquet
    * directory into files of roughly `targetBytes`, optionally
    * re-clustering on `clusterCols` (range-partition + sort, so
    * per-file min/max stats stay narrow — a `Manifest` built after
    * compaction prunes as well as before). Streaming sinks and
    * per-task writers accrete thousands of KB-sized files whose
    * per-file task/open/footer overhead eventually dominates scans;
    * compaction is the periodic maintenance that pays one bounded
    * rewrite to restore scan efficiency.
    *
    * The rewrite goes to a temp sibling directory and swaps in via
    * delete + rename through the Hadoop FS API (same semantics on
    * HDFS/S3A as local disk). Single-writer assumption, like every
    * log-less table format: readers racing the swap can fail and
    * retry; a crash between delete and rename leaves the temp dir
    * intact for manual recovery.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long, clusterCols: Seq[String] = Nil): CompactionStats = {
    require(targetBytes > 0, "targetBytes must be positive")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(hPath)
    // Fail fast on nested (Hive-partitioned) layouts: the flat listing
    // below would see totalBytes=0 while the read+rewrite silently
    // flattens the partition structure into an unpartitioned directory
    // before the destructive swap. Compacting partitioned tables means
    // compacting each leaf directory individually.
    val subDirs = entries.filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    require(subDirs.isEmpty,
      s"compact() supports flat parquet directories only; $path contains " +
        s"subdirectories [${subDirs.take(3).mkString(", ")}] — compact each " +
        "partition leaf directory instead")
    val parquetFiles = entries
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val totalBytes = parquetFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(path)
    val arranged =
      if (clusterCols.nonEmpty)
        df.repartitionByRange(nOut, clusterCols.map(col): _*)
          .sortWithinPartitions(clusterCols.map(col): _*)
      else df.repartition(nOut)
    val tmp = new org.apache.hadoop.fs.Path(path + ".compact-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    arranged.write.mode("overwrite").parquet(tmp.toString)
    val nAfter = fs.listStatus(tmp)
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    fs.delete(hPath, true)
    require(fs.rename(tmp, hPath), s"rename $tmp -> $hPath failed")
    CompactionStats(parquetFiles.length, nAfter, totalBytes)
  }

  /** Salt from a hash of ALL of `df`'s columns — a pure row function,
    * so each row's salt is identical under any physical partitioning
    * (monotonically_increasing_id would vary with row placement and
    * quietly break reproducibility). Identical duplicate rows share a
    * salt, so a key hot purely through duplicated rows spreads one
    * bucket less evenly; distinct rows of a hot key spread fully.
    */
  private[graft] def saltExpr(df: DataFrame, saltFactor: Int): Column =
    pmod(xxhash64(df.columns.toSeq.map(col): _*), lit(saltFactor)).cast("int")
}
