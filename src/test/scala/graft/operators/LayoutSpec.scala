package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Physical layout levers: bucketed joins must plan with zero
  * shuffle, salted joins must preserve join semantics while spreading
  * hot keys.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join with no Exchange in the plan") {
    val a = spark.range(0, 10000).select(col("id").as("k"), (col("id") * 2).as("va"))
    val b = spark.range(0, 10000).select(col("id").as("k"), (col("id") * 3).as("vb"))
    Layout.writeBucketed(a, "graft_bkt_a", buckets = 4, keys = Seq("k"))
    Layout.writeBucketed(b, "graft_bkt_b", buckets = 4, keys = Seq("k"))
    val joined = spark.table("graft_bkt_a").hint("merge")
      .join(spark.table("graft_bkt_b").hint("merge"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join shuffled:\n$plan")
    assert(joined.count() === 10000L)
    spark.sql("DROP TABLE graft_bkt_a")
    spark.sql("DROP TABLE graft_bkt_b")
  }

  test("bucketed table aggregates on the bucket key with no Exchange") {
    val a = spark.range(0, 10000).select(col("id").as("k"), (col("id") * 2).as("va"))
    Layout.writeBucketed(a, "graft_bkt_agg", buckets = 4, keys = Seq("k"))
    val agged = spark.table("graft_bkt_agg").groupBy("k")
      .agg(sum("va").as("s"))
    val plan = agged.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed groupBy shuffled:\n$plan")
    assert(agged.count() === 10000L)
    Layout.dropBucketed(spark, "graft_bkt_agg")
  }

  test("writeBucketed at a location: files survive DROP and re-register bucketed") {
    val loc = s"${graft.TempWarehouse.dir("graft-bkt-ext")}/t"
    val a = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("va"))
    Layout.writeBucketed(a, "graft_bkt_ext", buckets = 4, keys = Seq("k"), location = Some(loc))
    spark.sql("DROP TABLE graft_bkt_ext")
    assert(new java.io.File(loc).list().exists(_.endsWith(".parquet")), "DROP removed the files")
    spark.sql(s"CREATE TABLE graft_bkt_ext2 (${a.schema.toDDL}) USING parquet " +
      s"CLUSTERED BY (k) SORTED BY (k) INTO 4 BUCKETS LOCATION '$loc'")
    val agged = spark.table("graft_bkt_ext2").groupBy("k").agg(sum("va").as("s"))
    val plan = agged.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"re-registered bucketed groupBy shuffled:\n$plan")
    assert(agged.count() === 1000L)
    spark.sql("DROP TABLE graft_bkt_ext2")
  }

  test("writeBucketed is idempotent across processes (stale location, fresh catalog)") {
    // The exact state a SECOND JVM on the same machine sees: the managed
    // table's location survives in the warehouse directory while the
    // in-memory catalog has no entry for it. saveAsTable used to die
    // here with LOCATION_ALREADY_EXISTS and take the whole run with it.
    val tbl = "graft_bkt_stale"
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tbl)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val junk = new org.apache.hadoop.fs.Path(loc, "part-00000-stale.parquet")
    val out = fs.create(junk, true)
    out.write(Array[Byte](1, 2, 3)); out.close()
    assert(fs.exists(loc) && !spark.catalog.tableExists(tbl),
      "precondition: location on disk, table absent from catalog")
    val df = spark.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("v"))
    Layout.writeBucketed(df, tbl, buckets = 4, keys = Seq("k"))
    assert(spark.table(tbl).count() === 100L)
    assert(!fs.exists(junk), "stale file must not survive inside the new table")
    // and a second write in the SAME session is equally safe
    Layout.writeBucketed(df.filter(col("k") < 50), tbl, buckets = 4, keys = Seq("k"))
    assert(spark.table(tbl).count() === 50L)
    Layout.dropBucketed(spark, tbl)
    assert(!fs.exists(loc), "dropBucketed must remove the location")
  }

  test("dropBucketed clears an orphaned location the catalog never knew") {
    val tbl = "graft_bkt_orphan"
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tbl)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(loc)
    Layout.dropBucketed(spark, tbl)
    assert(!fs.exists(loc))
  }

  test("saltedJoin: identical multiset result to the plain join on skewed data") {
    // 90% of the big side is one hot key
    val big = spark.range(0, 20000)
      .select(when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
        col("id").as("payload"))
    val small = spark.range(0, 100).select(col("id").as("k"), (col("id") * 5).as("dim"))
    val plain = big.join(small, Seq("k"))
    val salted = Layout.saltedJoin(big, small, Seq("k"), saltFactor = 8)
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0L)
    assert(plain.exceptAll(salted).count() === 0L)
  }

  test("salting actually spreads the hot key across salt buckets") {
    val big = spark.range(0, 4000).select(lit(7L).as("k"), col("id").as("payload"))
    val salts = big.withColumn("__salt", Layout.saltExpr(big, 8))
      .select("__salt").distinct().count()
    assert(salts >= 6, s"hot key landed in only $salts salt buckets")
  }

  test("salt assignment is deterministic under repartitioning") {
    val big = spark.range(0, 4000)
      .select((col("id") % 13).as("k"), col("id").as("payload"))
    def salts(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.withColumn("__salt", Layout.saltExpr(df, 8))
        .select("payload", "__salt").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val once = salts(big)
    val again = salts(big.repartition(17))
    assert(once === again, "per-row salt changed with physical partitioning")
  }

  test("compact: merges small files to the byte target, preserves the row set") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    val rows = (1 to 5000).map(i => (i.toLong, s"payload-$i"))
    rows.toDF("k", "s").repartition(32).write.parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nFiles = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(nFiles === 32)
    val stats = Layout.compact(spark, dir, targetBytes = stats0(dir) / 4)
    assert(stats.filesBefore === 32)
    assert(stats.filesAfter === nFiles)
    assert(stats.filesAfter < 8, s"expected ~4-5 files, got ${stats.filesAfter}")
    val back = spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1)
    assert(back.toSeq === rows)
  }

  private def stats0(dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
  }

  test("compact with clusterCols restores manifest-prunable layout") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    // unclustered small files: every file spans ~the whole key range
    (1 to 4000).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
      .repartition(16).write.parquet(dir)
    val spread = Manifest.collectStats(spark, dir, Seq("k"))
    assert(Manifest.prune(spread, "k", lit(100L), lit(200L)).length === 16,
      "random layout: no file can be skipped")
    val stats = Layout.compact(spark, dir, targetBytes = stats0(dir) / 4,
      clusterCols = Seq("k"))
    assert(stats.filesAfter < stats.filesBefore)
    val m = Manifest.collectStats(spark, dir, Seq("k"))
    val surv = Manifest.prune(m, "k", lit(100L), lit(200L))
    assert(surv.length < stats.filesAfter,
      s"clustered compaction must restore skipping: ${surv.length}/${stats.filesAfter}")
    val got = Manifest.prunedRead(spark, dir, m, "k", lit(100L), lit(200L))
      .filter(col("k").between(100L, 200L)).count()
    assert(got === 101L)
  }

  test("compact fails fast on a partitioned (nested) layout, before any mutation") {
    val dir = java.nio.file.Files.createTempDirectory("compactpart").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "p")
      .write.partitionBy("p").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Layout.compact(spark, dir, targetBytes = 1L << 20)
    }
    assert(e.getMessage.contains("flat parquet"))
    // the guard fires before the destructive swap: the table still reads
    assert(spark.read.parquet(dir).count() === 2L)
  }
}
