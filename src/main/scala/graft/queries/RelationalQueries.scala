package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables
import graft.util.Fixture

/** General relational operator surface (SURVEY.md §2.1–§2.6 + built-in
  * Spark coverage the reference gets "for free"): scans, projections,
  * casts, filters, unions, keyed keep-first dedup, joins (broadcast /
  * shuffle / semi / anti), aggregations, windows, sorts/top-k, set ops,
  * rollup, scalar functions.
  *
  * Determinism contract with the DuckDB oracle: every float aggregate is
  * computed in exact DECIMAL arithmetic (order-independent) and cast to
  * DOUBLE only at the end; timestamps leave as formatted strings; every
  * ordering has a total tie-break. This makes hash-compare stable across
  * engines and across Spark partitionings (so results are identical on
  * local[4] and on a 1000-executor cluster).
  */
object RelationalQueries {

  private val D = DecimalType(18, 4)

  /** exact money arithmetic: decimal sum -> double */
  private def dsum(c: org.apache.spark.sql.Column) = sum(c.cast(D)).cast("double")

  /** The natural part CO-PURCHASE graph q123/q133 share: one edge per
    * 2-line order between its first two lineitems' parts (one keyed
    * aggregate — no self-join, no pair explosion; the node space is
    * the part dimension, which GROWS with the data, so density stays
    * constant under scale-up).
    */
  private def coPurchaseEdges(t: Tables): DataFrame =
    t.lineitem.filter(col("l_linenumber") <= 2)
      .groupBy(col("l_orderkey"))
      .agg(min(col("l_partkey")).as("src"), max(col("l_partkey")).as("dst"),
        count(lit(1)).as("__c"))
      .filter(col("__c") === 2)
      .select(col("src"), col("dst"))

  /** q129's batch funnel plan over a raw `events` frame — factored out
    * so EventStreamSpec can pin the streaming state machine
    * (EventStream.funnel) against the exact query plan.
    */
  def batchFunnel(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), col("event_type"),
      unix_timestamp(col("ts")).as("__s"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("__s")).as("t_signup"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, Seq("user_id"))
      .filter(col("__s") > col("t_signup"))
      .groupBy(col("user_id")).agg(min(col("__s")).as("t_click"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .filter(col("__s") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("__s")).as("t_purchase"))
    s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
      .select(col("user_id"), col("t_signup"), col("t_click"), col("t_purchase"),
        (lit(1) + when(col("t_click").isNotNull, 1).otherwise(0)
          + when(col("t_purchase").isNotNull, 1).otherwise(0)).as("stage"))
  }

  /** The bucketed fact-table layout q42/q43 share: both tables persist
    * bucketed and sorted on the join key, and each session registers
    * them as catalog tables over the fixture's files.
    */
  private def bucketedTables(s: SparkSession, dir: String): (String, String) = {
    val t = Tables(s, dir)
    val specs = Seq(
      ("lineitem", "l_orderkey", t.lineitem.select("l_orderkey", "l_extendedprice", "l_discount")),
      ("orders", "o_orderkey", t.orders.select("o_orderkey", "o_orderpriority")))
    val p = Fixture.corpus("bucketed", 1, dir) { out =>
      specs.foreach { case (name, key, df) =>
        val tmp = s"graft_bkt_build_${java.util.UUID.randomUUID.toString.replace("-", "")}"
        graft.operators.Layout.writeBucketed(df, tmp, 8, Seq(key), Some(s"$out/$name"))
        s.sql(s"DROP TABLE $tmp") // external: the files stay
      }
    }
    val Seq(li, ord) = Fixture.open(s, p)(p => specs.map { case (name, key, df) =>
      val tbl = f"graft_bkt_${name}_${p.hashCode & 0xffffffffL}%08x"
      s.sql(s"CREATE TABLE IF NOT EXISTS $tbl (${df.schema.toDDL}) USING parquet " +
        s"CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS LOCATION '$p/$name'")
      tbl
    })
    (li, ord)
  }

  /** A z-ordered copy of `events`: like the bucketed tables, the layout
    * write is the once-per-deployment cost the query amortizes.
    */
  private def zOrderedEvents(s: SparkSession, dir: String): String =
    Fixture.corpus("z_events", 1, dir)(
      graft.operators.ZOrder.write(Tables(s, dir).events, Seq("user_id", "value"), _, numFiles = 8))

  /** A time-clustered events copy plus its file manifest — the
    * append-only log layout (range-partitioned and sorted by ts) every
    * event table at scale already has, plus the per-file min/max
    * manifest `operators.Manifest` maintains over it. The manifest is
    * localCheckpointed once per session so pruning never rescans the
    * data.
    */
  private def manifestEvents(s: SparkSession, dir: String): (String, DataFrame) = {
    val p = Fixture.corpus("m_events", 1, dir)(
      Tables(s, dir).events.repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
        .write.parquet(_))
    (p, Fixture.open(s, p)(graft.operators.Manifest.collectStats(s, _, Seq("ts")).localCheckpoint()))
  }

  /** A Hive-style DAY-PARTITIONED copy of `events` —
    * `.../event_date=YYYY-MM-DD/part-*.parquet`, THE canonical
    * time-series layout at 100 TB (every warehouse's event log is
    * date-partitioned). q89 queries it with a partition predicate so
    * pruning happens at PLANNING time (PartitionFilters on the scan —
    * files from other days are never listed into tasks, a stronger
    * guarantee than row-group min/max skipping).
    */
  private def partitionedEvents(s: SparkSession, dir: String): String =
    Fixture.corpus("p_events", 1, dir)(
      Tables(s, dir).events
        .withColumn("event_date", to_date(col("ts")))
        // one file per day partition: the write shuffles on the
        // partition key so a day's rows land in one task (without
        // this, every task writes a sliver of every day — the
        // small-file explosion `Layout.compact` exists to undo)
        .repartition(col("event_date"))
        .write.partitionBy("event_date").parquet(_))

  /** An ORC copy of `events` — the format-breadth fixture: warehouses
    * routinely hold ORC alongside parquet, and the engine must read it
    * with the same pushdown/pruning guarantees. q106 queries it with a
    * selective predicate; the scan must show the filter pushed into the
    * ORC reader and a pruned ReadSchema (PlanAudit), and the DuckDB twin
    * reads the PARQUET original — a match proves the cross-format
    * round-trip bit-exactly.
    */
  private def orcEvents(s: SparkSession, dir: String): String =
    Fixture.corpus("orc_events", 1, dir)(Tables(s, dir).events.write.orc(_))

  /** A persisted per-day quantile-sketch table over `events.value` —
    * q64's deployment shape for percentiles: the per-day pre-aggregate a
    * latency dashboard maintains (new days append without touching
    * history), merged at query time. The (lo, hi) bin range is the
    * data's exact min/max, persisted next to the sketch — exact
    * aggregates, so the sketch (and q64's answer) is fully deterministic
    * and oracle-checkable, unlike merge-order-sensitive KLL/GK sketches.
    */
  private val SketchBins = 256
  private def dailyValueSketch(s: SparkSession, dir: String): (String, Double, Double) = {
    val p = Fixture.corpus("qsketch_events", 1, dir) { out =>
      val ev = Tables(s, dir).events
      val r = ev.agg(min(col("value")).cast("double"), max(col("value")).cast("double")).head()
      val (lo, hi) = (r.getDouble(0), r.getDouble(1))
      graft.operators.QuantileSketch.histogram(ev, "value",
          Seq("event_type"), to_date(col("ts")), "day", lo, hi, SketchBins)
        .write.parquet(s"$out/sketch")
      s.createDataFrame(Seq((lo, hi))).toDF("lo", "hi").write.parquet(s"$out/range")
    }
    val (lo, hi) = Fixture.open(s, p) { p =>
      val r = s.read.parquet(s"$p/range").head()
      (r.getDouble(0), r.getDouble(1))
    }
    (s"$p/sketch", lo, hi)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Bucketed CO-LOCATED join — the layout lever that decides whether
    // a repeatedly-joined 100 TB fact pair shuffles at all: both fact
    // tables persist bucketed+sorted on the join key (once per session
    // here; continuously maintained in a real deployment), and the
    // join then plans with ZERO Exchange on either side (PLANS.md row;
    // LayoutSpec asserts the no-Exchange property directly). The only
    // shuffle left is the final small groupBy.
    "q42_bucketed_join" -> ((s, dir) => {
      val (liTbl, ordTbl) = bucketedTables(s, dir)
      s.table(liTbl).hint("merge")
        .join(s.table(ordTbl).hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D)))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Bucketed AGGREGATION — the second half of the co-location win:
    // groupBy on the bucket key over the bucketed table plans with ZERO
    // Exchange before the aggregate (the scan's hash-partitioning on
    // l_orderkey already satisfies the agg's clustering; LayoutSpec
    // asserts the no-Exchange property). At 100 TB this is the
    // continuously-maintained layout amortizing across every downstream
    // join AND aggregation on the same key.
    "q43_bucketed_agg" -> ((s, dir) => {
      val (liTbl, _) = bucketedTables(s, dir)
      s.table(liTbl)
        .groupBy(col("l_orderkey"))
        .agg(
          sum(col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D)))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Q1-style pruned scan + aggregate. Filter + 6-col projection push to
    // the parquet scan; partial aggregation map-side; 2-key groupBy.
    "q01_pruned_agg" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.lineitem
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D)))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // Global top-k: Spark TakeOrderedAndProject (no full sort shuffle).
    "q02_topk" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.orders
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
    }),

    // 4-way join: nation broadcast (tiny dim), customer/orders/lineitem
    // shuffle on keys; revenue in exact decimal.
    "q03_join_agg" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.customer
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(t.orders, col("o_custkey") === col("c_custkey"))
        .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D)))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Broadcast fact⋈dim with distinct-agg.
    "q04_broadcast_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.lineitem
        .join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          countDistinct(col("l_partkey")).as("n_parts"),
          dsum(col("l_extendedprice")).as("sum_price"))
    }),

    // Semi join (EXISTS): customers that have orders.
    "q05_semi_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.customer
        .join(t.orders, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_bal"))
    }),

    // Anti join (NOT EXISTS): customers with no orders.
    "q06_anti_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.customer
        .join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
    }),

    // Window top-N per group with total tie-break.
    "q07_window_topn" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t.orders
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    }),

    // Keyed keep-first dedup — SURVEY.md §2.2 A3 (merge.py:38-39
    // `~index.duplicated(keep='first')`) with an explicit total order.
    "q08_dedup_keepfirst" -> ((s, dir) => {
      val t = Tables(s, dir)
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic corpus,
      // so the order extends to a total key over every output column —
      // otherwise Spark and the oracle pick different tied winners.
      graft.operators.Dedup.keepFirst(
          t.lineitem, Seq("l_orderkey"),
          Seq(col("l_linenumber").asc, col("l_partkey").asc,
            col("l_suppkey").asc, col("l_quantity").asc))
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), col("l_quantity"))
    }),

    // merge.py union-with-provenance-priority: "localstore" rows beat
    // "centralstore" rows for the same key (SURVEY.md §3.3).
    "q09_union_priority_dedup" -> ((s, dir) => {
      val t = Tables(s, dir)
      val local   = t.lineitem.filter(col("l_linenumber") <= 2)
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
      val central = t.lineitem.filter(col("l_linenumber") >= 2)
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
      graft.operators.Dedup.unionKeepFirst(
        Seq(local, central), Seq("l_orderkey"),
        Seq(col("l_linenumber").asc, col("l_partkey").asc))
    }),

    // Set op: INTERSECT — nations present among both customers and suppliers.
    "q10_intersect" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.customer.select(col("c_nationkey").cast("int").as("nationkey"))
        .intersect(t.supplier.select(col("s_nationkey").cast("int").as("nationkey")))
    }),

    // Set op: EXCEPT — nations with customers but no suppliers.
    "q11_except" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.customer.select(col("c_nationkey").cast("int").as("nationkey"))
        .except(t.supplier.select(col("s_nationkey").cast("int").as("nationkey")))
    }),

    // ROLLUP over region -> nation with exact decimal sums.
    "q12_rollup" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.customer
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_bal"))
    }),

    // Correlated EXISTS decorrelated to a semi join.
    "q13_exists_subquery" -> ((s, dir) => {
      val t = Tables(s, dir)
      val big = t.lineitem.filter(col("l_quantity") >= 45)
        .select(col("l_orderkey")).distinct()
      t.orders
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    }),

    // Scalar function surface: string fns, CASE, arithmetic, casts
    // (SURVEY.md §2.6; all codegen'd builtins, no UDFs).
    "q14_scalar_fns" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.part
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_uc"),
          length(col("p_name")).as("name_len"),
          substring(col("p_type"), 1, 5).as("type_pfx"),
          when(col("p_size") >= 25, lit("large"))
            .when(col("p_size") >= 10, lit("medium"))
            .otherwise(lit("small")).as("size_class"),
          (col("p_retailprice").cast(D) * lit(2).cast(D)).cast("double").as("double_price"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
        .filter(col("p_partkey") % 7 === 0)
    }),

    // Time bucketing on the events table (hour grain) — the batch twin of
    // the streaming windowed agg in graft.streaming.
    "q15_time_bucket" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.events
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // Cast/projection pipeline over events.
    "q16_cast_project" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.events
        .select(
          col("event_id"),
          col("user_id").cast("int").as("user_i"),
          col("value").cast(DecimalType(18, 2)).cast("string").as("value_s"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .filter(col("event_id") % 10 === 0)
    }),

    // Full-outer join + coalesce: per-nation customer and supplier counts.
    "q17_full_outer" -> ((s, dir) => {
      val t = Tables(s, dir)
      val c = t.customer.groupBy(col("c_nationkey").cast("int").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val sup = t.supplier.groupBy(col("s_nationkey").cast("int").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(sup, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    }),

    // CUBE with grouping_id: all aggregation lattices of (segment,
    // priority) in one pass (map-side partial agg per grouping set).
    "q29_cube" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.orders
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .cube(col("c_mktsegment"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"),
          grouping_id().as("gid"))
    }),

    // Pivot on a small known key domain — compiles to one pass of
    // conditional aggregation (no shuffle per pivot value).
    "q30_pivot" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.orders
        .groupBy(col("o_orderpriority"))
        .pivot(col("o_orderstatus"), Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
    }),

    // Exact interpolated percentiles per group (sort-based exact
    // percentile — the approx_percentile sketch is the 100 TB variant,
    // traded here for oracle-exactness).
    "q31_percentiles" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          percentile(col("l_quantity"), lit(0.5)).as("p50_qty"),
          percentile(col("l_extendedprice"), lit(0.9)).as("p90_price"),
          count(lit(1)).as("n"))
    }),

    // q31's 100 TB variant ON the measured surface: approx_percentile's
    // mergeable KLL-style sketch replaces the exact sort-based
    // percentile — per-partition sketches merge in the partial
    // aggregate, so memory is O(sketch), not O(group rows). NO ORACLE
    // by construction (the sketch's answer is accuracy-bounded, not
    // value-defined; DuckDB's approx sketch differs); the error bound
    // vs q31's exact answer is pinned by PercentileScaleSpec at sf0.1.
    "q49_percentiles_approx" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          approx_percentile(col("l_quantity"), lit(0.5), lit(10000)).as("p50_qty"),
          approx_percentile(col("l_extendedprice"), lit(0.9), lit(10000)).as("p90_price"),
          count(lit(1)).as("n"))
    }),

    // Approximate distinct users per event type via HLL sketches — and
    // not one sketch pass but the 100 TB deployment shape: per-day
    // sketches (the persisted pre-aggregate a dashboard maintains; new
    // days append without touching history) merged by hll_union_agg
    // into the full-range estimate. Sketches are a few KB per group —
    // the exchange carries registers, never user ids. NO ORACLE by
    // construction (estimates are accuracy-bounded, not value-defined;
    // DuckDB's approx_count_distinct is a different sketch);
    // ApproxDistinctSpec pins the error vs the exact count and the
    // merge-equals-direct property.
    "q59_approx_distinct" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.events
        .groupBy(col("event_type"), to_date(col("ts")).as("__day"))
        .agg(hll_sketch_agg(col("user_id")).as("__sk"))
        .groupBy(col("event_type"))
        .agg(
          hll_sketch_estimate(hll_union_agg(col("__sk"))).as("approx_users"),
          count(lit(1)).as("n_days"))
    }),

    // Pearson correlation per group — NOT the builtin corr(): streaming
    // co-moment updates are order-sensitive in the low bits, so two
    // partitionings (or two engines) disagree under exact hash-compare.
    // Instead: the five moment sums in exact DECIMAL (order-independent
    // by construction — the distributed-statistics shape that survives
    // any partitioning), then one closed-form double evaluation from
    // identical exact inputs; sqrt is correctly rounded in both
    // engines, so round-9 equality is safe. One map-side-combined
    // shuffle, same cost as any groupBy.
    "q61_corr" -> ((s, dir) => {
      val t = Tables(s, dir)
      val D2 = DecimalType(38, 8)
      val x = col("l_quantity").cast(D2)
      val y = col("l_discount").cast(D2)
      t.lineitem
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("__sx"), sum(y).as("__sy"),
          sum(x * x).cast(D2).as("__sxx"), sum(y * y).cast(D2).as("__syy"),
          sum(x * y).cast(D2).as("__sxy"))
        .select(col("l_returnflag"), col("n"),
          round(
            (col("n").cast("double") * col("__sxy").cast("double") -
              col("__sx").cast("double") * col("__sy").cast("double")) /
              (sqrt(col("n").cast("double") * col("__sxx").cast("double") -
                col("__sx").cast("double") * col("__sx").cast("double")) *
                sqrt(col("n").cast("double") * col("__syy").cast("double") -
                  col("__sy").cast("double") * col("__sy").cast("double"))), 9)
            .as("corr_qty_disc"))
    }),

    // Running aggregate window (frame-based) per supplier over ship time.
    "q18_window_running" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
      t.lineitem
        .filter(col("l_suppkey") <= 20)
        .withColumn("running_qty",
          sum(col("l_quantity")).over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("running_qty"))
    }),

    // Batch sessionization (gaps-and-islands): the batch-surface twin
    // of EventStream.sessionize — a new session starts at a > 30 min
    // gap per user; sessions summarized. Two windows over ONE
    // (user_id-keyed) exchange + the final groupBy; micros-integer gap
    // math is engine-exact.
    "q35_sessionize" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      t.events
        .withColumn("__gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("__new",
          when(col("__gap_us").isNull || col("__gap_us") > 30L * 60 * 1000000, 1L)
            .otherwise(0L))
        .withColumn("session_idx",
          sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(
          count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          dsum(col("value")).as("sum_value"))
    }),

    // Skew-controlled join through Layout.saltedJoin — semantically a
    // plain inner join (the oracle IS the plain join), physically the
    // big side spreads each key over 8 salt buckets so one hot
    // supplier cannot straggle a task. Keeps the salting operator in
    // the measured, oracle-checked surface.
    "q37_salted_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      val items = t.lineitem.select(col("l_suppkey"), col("l_quantity"), col("l_extendedprice"))
      val supp = t.supplier.select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      graft.operators.Layout.saltedJoin(items, supp, Seq("l_suppkey"), saltFactor = 8)
        .groupBy(col("l_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"))
    }),

    // Backward as-of join: for each click, the most recent error at or
    // before it by the same user. Spark has no ASOF JOIN (DuckDB does —
    // the oracle uses it verbatim); AsOfJoin.backward expresses it as
    // ONE user_id-keyed shuffle (tagged union + struct-packed
    // last(ignoreNulls) window) instead of a per-key range self-join.
    // Errors pre-aggregated to unique (user_id, ts) so the match is
    // well-defined in both engines.
    "q50_asof_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      val clicks = t.events.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = t.events.filter(col("event_type") === "error")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("err_value"))
        .withColumnRenamed("ts", "err_ts")
      graft.operators.AsOfJoin
        .backward(clicks, errors, Seq("user_id"), "ts", "err_ts", Seq("err_value"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          date_format(col("err_ts"), "yyyy-MM-dd HH:mm:ss").as("err_ts"),
          col("err_value"))
    }),

    // Interval (range) join: clicks falling inside the 10-minute
    // window after each error, counted per error. No equi-key exists,
    // so a naive BETWEEN join is a nested loop; RangeJoin restores a
    // hash-joinable key by binning time (bin width = window length ⇒
    // ≤ 2 bin replicas per interval). Left-outer counting per the
    // operator's recipe: ids-only pair counts re-join the intervals.
    "q51_range_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      val errors = t.events.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"))
      val clicks = t.events.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"))
      val pairs = graft.operators.RangeJoin.pointInInterval(
        errors, "w_start", "w_end", clicks, "click_ts", 10L * 60 * 1000000)
      val counts = pairs.groupBy(col("err_id"))
        .agg(count(lit(1)).as("n_clicks"),
          date_format(min(col("click_ts")), "yyyy-MM-dd HH:mm:ss").as("first_click"))
      errors.select(col("err_id"))
        .join(counts, Seq("err_id"), "left")
        .select(col("err_id"), coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          col("first_click"))
    }),

    // Bloom-pre-filtered join: semantically the plain lineitem⋈part
    // join (the oracle IS the plain join — bloom false positives are
    // removed by the real join, false negatives are impossible), but
    // physically the fact rows for non-matching parts die inside the
    // codegen'd scan, before the exchange. The manual form of Spark's
    // runtime bloom filter, for when the planner can't see the build
    // side's selectivity.
    "q52_bloom_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      val dim = t.part.filter(col("p_brand") === "Brand#13")
        .select(col("p_partkey").as("l_partkey"), col("p_size"))
      graft.operators.BloomJoin.inner(
        t.lineitem.select(col("l_partkey"), col("l_quantity"), col("l_extendedprice")),
        dim, Seq("l_partkey"))
        .groupBy(col("p_size"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"))
    }),

    // Selective 2-D range scan over the Z-ORDERED events copy
    // (operators.ZOrder): the layout is a physical property — the
    // logical answer is the plain filtered aggregate, which is the
    // oracle. Because the files cluster along the Morton curve of
    // (user_id, value), the parquet min/max stats prune most files/row
    // groups for a range predicate on EITHER column (ZOrderSpec
    // measures the per-file spans); a single-column sort would only
    // serve one of them.
    "q54_zorder_scan" -> ((s, dir) => {
      val path = zOrderedEvents(s, dir)
      s.read.parquet(path)
        .filter(col("user_id").between(3, 9) &&
          col("value").between(10.0, 60.0))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"),
          min(col("ts")).as("first_ts"))
    }),

    // TPC-H Q5-shaped star join: 6 tables, mixed broadcast/shuffle.
    // The plan Catalyst should pick — and PLANS.md verifies — is the
    // one that survives 100 TB: region/nation/supplier broadcast (tiny
    // dims; the fact side never moves for them), lineitem⋈orders and
    // ⋈customer shuffle on their keys, the date filter pushes to the
    // orders scan so the biggest join's build side is already pruned.
    "q55_star_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      val nations = t.nation
        .join(broadcast(t.region.filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val ord = t.orders
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      t.lineitem
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.supplier.select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D)))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Per-user rolling 1-hour aggregate — a RANGE-frame window (frame
    // bounds by VALUE, not row count), the shape rows-frames cannot
    // express when event spacing is irregular. One user_id-keyed
    // shuffle; frames are per-user and bounded by time, so state never
    // exceeds an hour of one user's events regardless of table size.
    // Frame key is whole seconds (both engines floor the microsecond
    // timestamp identically); the decimal window sum is order-exact.
    "q56_rolling_window" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("__sec"))
        .rangeBetween(-3600L, 0L)
      t.events
        .select(col("event_id"), col("user_id"), col("ts"),
          col("ts").cast("long").as("__sec"), col("value"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast(D)).over(w).cast("double").as("sum_1h"))
    }),

    // Manifest-pruned time-range scan over the time-clustered events
    // copy (operators.Manifest): the driver drops files whose [min_ts,
    // max_ts] misses the predicate BEFORE any task launches — Delta/
    // Iceberg-style data skipping over plain parquet. The layout+
    // manifest are the once-per-deployment cost (manifestEvents);
    // the residual filter keeps file-granular pruning semantically
    // invisible, so the oracle is the plain filtered aggregate.
    "q57_manifest_scan" -> ((s, dir) => {
      val (path, m) = manifestEvents(s, dir)
      val lo = lit("2024-01-10 00:00:00").cast("timestamp")
      val hi = lit("2024-01-12 23:59:59").cast("timestamp")
      graft.operators.Manifest.prunedRead(s, path, m, "ts", lo, hi)
        .filter(col("ts").between(lo, hi))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
    }),

    // Per-day mergeable quantile sketches (QuantileSketch) — q59's
    // persisted-pre-aggregate deployment shape applied to percentiles:
    // a per-(event_type, day) fixed-bin histogram table persists as
    // parquet (built on first touch like q54/q57's layout artifacts),
    // and the query merges the stored sketch rows — elementwise count
    // sums — into full-range p50/p90. Deterministic bins (exact
    // min/max range) make the merged answer value-defined, so unlike
    // q49's KLL path this IS oracle-checkable: the DuckDB twin
    // recomputes the same histogram percentile from the raw rows
    // (merging per-day integer counts ≡ counting directly). Error vs
    // the true percentile ≤ one bin width — pinned with the
    // merge-equals-direct and storage-round-trip properties by
    // QuantileSketchSpec.
    "q64_daily_quantile_sketch" -> ((s, dir) => {
      val (path, lo, hi) = dailyValueSketch(s, dir)
      graft.operators.QuantileSketch.percentiles(s.read.parquet(path),
        Seq("event_type"), Seq("p50_value" -> 0.5, "p90_value" -> 0.9),
        lo, hi, SketchBins)
    }),

    // Funnel attribution — the INTERVAL self-join (click → purchase by
    // the same user within 30 minutes), running the streaming
    // stream-stream join operator in batch (watermarks are no-ops on a
    // static frame; EventStreamSpec pins stream ≡ batch). The 100 TB
    // shape: both sides shuffle once on the user key and the time
    // predicate bounds the per-user pairing window — never a
    // time-unbounded cross join per user. Timestamps emit formatted
    // (q57's convention) so both engines hash identical strings.
    "q66_funnel_attribution" -> ((s, dir) => {
      val t = Tables(s, dir)
      graft.streaming.EventStream.attribute(t.events, "click", "purchase",
          withinMinutes = 30)
        .select(col("user_id"), col("cause_id"), col("effect_id"),
          date_format(col("cause_ts"), "yyyy-MM-dd HH:mm:ss").as("cause_ts"),
          date_format(col("effect_ts"), "yyyy-MM-dd HH:mm:ss").as("effect_ts"),
          col("lag_seconds"))
    }),

    // BATCH sessionization — gap-based session islands per user (the
    // lag + running-sum-of-boundaries idiom), the batch twin of the
    // streaming `sessionize` (whose per-user state/timeout form
    // EventStreamSpec covers): a new session starts when the user's
    // gap exceeds 30 minutes. Exact integer boundary arithmetic
    // (floored epochs) so both engines split identically; the window
    // partitions by user — parallel across users, never a global sort.
    "q69_sessionize" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val gap = unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))
      t.events
        .withColumn("__ns", when(gap.isNull || gap > 1800L, 1).otherwise(0))
        .withColumn("__sid", sum(col("__ns")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("__sid").cast("int").as("session_idx"))
        .agg(
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"))
    }),

    // Pivot — event types to columns, per day: the OLAP reshaping op.
    // Explicit pivot values (the five known types), so Spark plans ONE
    // pass (no distinct-values pre-job) — the 100 TB form; absent
    // (day, type) cells are null in both engines.
    "q70_pivot" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.events
        .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
          col("event_type"), col("value"))
        .groupBy(col("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(dsum(col("value")))
    }),

    // Per-day count-min sketches merged to whole-range item-count
    // estimates — the THIRD mergeable-sketch deployment (HLL distincts
    // q59, quantile histograms q64, now frequent items): the builtin
    // `count_min_sketch` builds the per-(type, day) blobs, the native
    // `cms_merge` aggregate (Spark has no SQL-level CMS merge) folds
    // stored blobs, `cms_estimate` probes the result for the ten
    // lowest user ids. NO ORACLE by construction (the blob format is
    // engine-specific); CmsSketchSpec pins merge ≡ direct (CMS cells
    // are sums — deterministic under a fixed seed), never-underestimate
    // vs exact counts, and the eps bound.
    "q71_heavy_hitters" -> ((s, dir) => {
      val t = Tables(s, dir)
      val daily = t.events
        .groupBy(col("event_type"), to_date(col("ts")).as("__day"))
        .agg(expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)").as("__cms"))
      daily
        .groupBy(col("event_type"))
        .agg(graft.functions.CmsMergeAgg(col("__cms")).as("__m"),
          count(lit(1)).as("n_days"))
        .select(col("event_type"), col("n_days"), col("__m"),
          explode(sequence(lit(0L), lit(9L))).as("user_id"))
        .select(col("event_type"), col("user_id"), col("n_days"),
          graft.functions.CmsEstimate(col("__m"), col("user_id")).as("est_events"))
    }),

    // CUBE — every subtotal combination over (segment, nation), q12's
    // rollup completed to the full grouping family. One shuffle: Spark
    // expands the grouping sets map-side and aggregates once.
    "q72_cube" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.customer
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .cube(col("c_mktsegment"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
    }),

    // Ranking-window family completion: ntile quartiles, percent_rank,
    // cume_dist per order priority — deterministic under the
    // (totalprice desc, orderkey) total order; round-9 keeps the two
    // engines' double division hash-identical. Ranks come from
    // DistributedRank.prefix (q128's shape): a naive
    // partitionBy(o_orderpriority) window funnels the whole table
    // through 5 sort tasks at 100× (round-13 weak flag). The DESC
    // price order is expressed as an ascending prefix order on the
    // negated price — negation reverses a numeric total order exactly,
    // so __rank equals the window's row_number, and under a total
    // order row_number ≡ rank, making percent_rank/cume_dist/ntile
    // pure rational functions of (__rank, __n).
    "q73_window_ranks" -> ((s, dir) => {
      val t = Tables(s, dir)
      import graft.operators.DistributedRank
      DistributedRank.prefix(
          t.orders.select(col("o_orderkey"), col("o_orderpriority"),
            negate(col("o_totalprice")).as("__negprice")),
          Seq("o_orderpriority"), Seq("__negprice", "o_orderkey"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          DistributedRank.ntileFromRank(col("__rank"), col("__n"), 4).as("quartile"),
          round(DistributedRank.percentRankFromRank(col("__rank"), col("__n")), 9)
            .as("pct_rank"),
          round(DistributedRank.cumeDistFromRank(col("__rank"), col("__n")), 9)
            .as("cume"))
    }),

    // Data-quality expectations (operators.Expectations) — the
    // continuous validation pass every ingest runs: all row-level
    // rules fold into ONE aggregate over one scan (a new rule is a new
    // conditional sum, never a new pass); uniqueness rides the same
    // shuffle as count − distinct. Two rules are deliberately tight so
    // nonzero violation counts are exercised.
    "q74_expectations" -> ((s, dir) => {
      import graft.operators.Expectations._
      val t = Tables(s, dir)
      check(t.lineitem, Seq(
        NotNull("l_shipdate"),
        InRange("l_quantity", 1.0, 50.0),
        InRange("l_discount", 0.0, 0.05),
        Matches("l_returnflag", "^[ANR]$"),
        Unique(Seq("l_orderkey", "l_linenumber")),
        Unique(Seq("l_orderkey"))))
    }),

    // CDC apply (operators.Cdc.applyChanges) — MERGE INTO as a plan:
    // a synthetic change batch with conflicting upserts (highest seq
    // wins), deletes, and inserts produces the next snapshot in one
    // key anti-join + union; untouched base rows never move. The
    // %9700 keys receive all three change kinds — the compaction
    // tie-break path.
    "q75_cdc_apply" -> ((s, dir) => {
      val t = Tables(s, dir)
      val base = t.orders
      val upd1 = base.filter(pmod(col("o_orderkey"), lit(100)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 999.0)
        .withColumn("op", lit("U")).withColumn("seq", lit(1L))
      val upd2 = base.filter(pmod(col("o_orderkey"), lit(100)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("op", lit("U")).withColumn("seq", lit(2L))
      val dels = base.filter(pmod(col("o_orderkey"), lit(97)) === 0)
        .withColumn("op", lit("D")).withColumn("seq", lit(1L))
      val ins = base.filter(pmod(col("o_orderkey"), lit(500)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("op", lit("I")).withColumn("seq", lit(1L))
      val changes = upd1.unionByName(upd2).unionByName(dels).unionByName(ins)
      graft.operators.Cdc.applyChanges(base, changes, Seq("o_orderkey"))
    }),

    // Semi-structured extraction — events.props is a JSON payload
    // column (the event-log norm: a typed envelope plus a free-form
    // property bag). from_json with an explicit schema parses it INSIDE
    // the scan projection (one pass, codegen'd envelope, no
    // regex/UDF), then a standard keyed aggregate. Exact integer
    // aggregates only, so both engines agree bit-for-bit. At 100 TB
    // the parse is embarrassingly parallel and the only shuffle is the
    // final tiny groupBy; a production deployment would materialize
    // hot JSON fields as typed columns (q75's CDC shape), with this
    // query as the backfill.
    "q79_json_extract" -> ((s, dir) => {
      val t = Tables(s, dir)
      val k = from_json(col("props"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType)))).getField("k")
      t.events
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(col("k")).as("n_with_k"),
          sum(col("k")).cast("long").as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          count(when(col("k") > 50, lit(1))).as("n_high"))
    }),

    // Time-series DENSIFICATION (gap-fill): the hourly per-type series
    // with every empty hour materialized as an explicit zero row —
    // what every dashboard/forecast consumer needs and a bare groupBy
    // can't give (missing groups simply don't exist). The hour spine
    // is generated (sequence + explode) from one global bounds row ×
    // the distinct type set — both contractually tiny, so the spine
    // builds broadcast-side and the only data-sized shuffle is q15's
    // keyed hourly aggregate; gaps never touch the fact table.
    "q80_gapfill" -> ((s, dir) => {
      val t = Tables(s, dir)
      // ONE fact scan: the hourly aggregate is the only events-sized
      // work; bounds and the type set derive from its (tiny) output —
      // localCheckpoint so the three consumers don't re-run the scan.
      val hourly = t.events
        .select(col("event_type"), col("ts"), col("value"))
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("__hour"))
        .agg(count(lit(1)).as("__n"), dsum(col("value")).as("__sv"))
        .localCheckpoint()
      val bounds = hourly.agg(min(col("__hour")).as("__lo"),
        max(col("__hour")).as("__hi"))
      val spine = hourly.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("__lo"), col("__hi"),
            expr("interval 1 hour"))).as("__hour"))
      // hourly is contractually tiny (types × hours) but its
      // post-checkpoint size ESTIMATE scales with the corpus, so at
      // 10× the static planner flips this join to sort-merge (SoakGen
      // soak caught it) — broadcast explicitly rather than relying on
      // AQE to undo the flip at runtime.
      spine.join(broadcast(hourly), Seq("event_type", "__hour"), "left")
        .select(col("event_type"),
          date_format(col("__hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          coalesce(col("__n"), lit(0L)).as("n_events"),
          coalesce(col("__sv"), lit(0.0)).as("sum_value"))
    }),

    // Cohort RETENTION — users grouped by first-seen day, counted at
    // each later day offset (the product-analytics staple). Exact
    // integer arithmetic end to end (floored dates, day subtraction).
    // TWO keyed shuffles total: one user-keyed aggregate computes the
    // cohort AND the distinct-day set together (collect_set partials
    // combine map-side; per-user state is its distinct ACTIVE DAYS —
    // calendar-bounded, so a decade-long bot is ~4k dates), then the
    // exploded (cohort, offset) rows fold in one small aggregate.
    // After the per-user dedup each user hits a (cohort, offset) cell
    // at most once, so count(*) IS the distinct-user count — no
    // distinct expansion, no join (the naive distinct→agg→self-join
    // form costs 4 shuffles and moves the day set twice).
    "q81_retention" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.events
        .select(col("user_id"), to_date(col("ts")).as("__day"))
        .groupBy(col("user_id"))
        .agg(min(col("__day")).as("__cohort"),
          collect_set(col("__day")).as("__days"))
        .select(col("__cohort"), explode(col("__days")).as("__day"))
        .groupBy(col("__cohort"),
          datediff(col("__day"), col("__cohort")).cast("long").as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .select(date_format(col("__cohort"), "yyyy-MM-dd").as("cohort_day"),
          col("day_offset"), col("n_users"))
    }),

    // Explicit GROUPING SETS — the general form rollup (q12) and cube
    // (q29/q72) are shorthands of: an ARBITRARY set list, here
    // {(flag, status), (status), ()} — note (flag) alone is absent,
    // so neither shorthand can express it. grouping() flags
    // disambiguate "NULL because aggregated away" from a real NULL
    // key (the oracle relies on them too). One expanded aggregate,
    // same single shuffle as a plain groupBy ×
    // |sets| map-side expansion.
    "q82_grouping_sets" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.lineitem
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"))
    }),

    // UNPIVOT (melt) — q70's pivot inverted: the four lineitem metric
    // columns fold into (metric, val) long form, then a per-(flag,
    // metric) exact-decimal aggregate. Spark plans unpivot as an
    // Expand — ×4 map-side rows of 2 pruned columns, NO extra
    // exchange: the only shuffle is the final keyed aggregate, and the
    // scan still reads just the 5 consumed columns. The wide→long
    // reshape every feature store and metrics pipeline needs, at scan
    // cost.
    "q84_unpivot" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.lineitem
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
            col("l_tax")),
          "metric", "val")
        .groupBy(col("l_returnflag"), col("metric"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("val")).as("sum_val"))
    }),

    // SKEW-PROOF exact count-distinct via disjoint salting. events has
    // FIVE event types over ~uniform users — the classic hot-key agg:
    // a naive per-type COUNT(DISTINCT user_id) expands every (type,
    // user) pair into 5 reducer groups, so 5 tasks own the whole
    // table's distinct state. Salting by user_id % 16 partitions the
    // USER SPACE (not random salt — salt classes are disjoint, so
    // per-salt distinct counts ADD EXACTLY): stage 1 aggregates 5×16
    // groups in parallel, stage 2 folds 80 tiny rows. Same answer by
    // arithmetic, 16× the reduce parallelism — the pattern any
    // low-cardinality-group distinct needs at 100 TB.
    "q86_salted_distinct" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.events
        .select(col("event_type"), col("user_id"),
          pmod(col("user_id"), lit(16)).as("__salt"))
        .groupBy(col("event_type"), col("__salt"))
        .agg(countDistinct(col("user_id")).as("__d"), count(lit(1)).as("__n"))
        .groupBy(col("event_type"))
        .agg(sum(col("__d")).cast("long").as("n_users"),
          sum(col("__n")).cast("long").as("n_events"))
    }),

    // Windowed event THROTTLING/dedup — keep the first event per
    // (user, type, 10-minute bucket): the at-most-once-per-window rule
    // behind alert suppression, metering, and retry collapse. ONE
    // user-keyed window shuffle (bucket rides the same partition);
    // kept rows are deterministic under the (ts, event_id) total
    // order. Bucket arithmetic is floored epoch seconds — identical in
    // both engines (q69's convention).
    "q87_window_dedup" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("user_id"), col("event_type"), col("__b"))
        .orderBy(col("ts").asc, col("event_id").asc)
      t.events
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          floor(unix_timestamp(col("ts")) / 600).as("__b"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("__b").cast("long").as("bucket"))
    }),

    // PARTITION-PRUNED scan over the Hive day-partitioned events copy
    // (partitionedEvents): the first three days of the log,
    // selected by a predicate on the PARTITION COLUMN — pruning
    // happens at planning (PartitionFilters on the scan), so files
    // from the other days are never even listed into tasks. This is
    // the layout + query shape of every date-ranged dashboard at
    // 100 TB; z-order (q54) and the manifest (q57) cover the
    // within-partition and file-stat levels of the same hierarchy.
    // The window start derives from the partition VALUES (tiny driver
    // metadata, no data read), so the query is deterministic per
    // corpus.
    "q89_partition_prune" -> ((s, dir) => {
      val path = partitionedEvents(s, dir)
      val ev = s.read.parquet(path)
      val firstDay = ev.select(min(col("event_date"))).head().getDate(0)
      ev.filter(col("event_date") <= date_add(lit(firstDay), 2))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(date_format(col("event_date"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n_events"), col("sum_value"))
    }),

    // SNAPSHOT DIFF (operators.Cdc.diff) — q75 inverted: two keyed
    // snapshots in, the change feed out (one row per differing key,
    // op ∈ I/U/D) — the anti-entropy primitive behind replica
    // reconciliation and backfill audits. ONE full-outer key join;
    // identical keys emit nothing, so output is change-sized. The
    // "next" snapshot derives from orders by SQL-reproducible
    // transforms (%97 deletes, %100 re-prices, %500 re-keyed
    // inserts — q75's recipe), so the oracle rebuilds both sides.
    "q90_snapshot_diff" -> ((s, dir) => {
      val t = Tables(s, dir)
      val base = t.orders.select(col("o_orderkey"), col("o_totalprice"))
      val surviving = base.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(100)) === 0,
            col("o_totalprice") + 1000.0).otherwise(col("o_totalprice")))
      val inserts = base.filter(pmod(col("o_orderkey"), lit(500)) === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          (col("o_totalprice") + 5.0).as("o_totalprice"))
      val next = surviving.unionByName(inserts)
      graft.operators.Cdc.diff(base, next, Seq("o_orderkey"))
    }),

    // DYNAMIC partition pruning — q89's static prune's runtime twin
    // and the 100 TB star-schema saver: the fact side is the
    // day-partitioned events copy, the filter lives on a DIM table
    // (day_rank ≤ 3 over a derived calendar dim), and Spark injects a
    // dynamicpruning subquery into the fact scan's PartitionFilters at
    // runtime — only the dim-selected days' files are read, though no
    // static predicate mentions event_date (DppSpec asserts the
    // dynamicpruning expression and answer parity). The dim is
    // checkpointed so it is a real relation, not a constant-foldable
    // subtree.
    "q91_dpp" -> ((s, dir) => {
      val path = partitionedEvents(s, dir)
      val ev = s.read.parquet(path)
      val w = Window.orderBy(col("event_date"))
      val dim = ev.select(col("event_date")).distinct()
        .withColumn("day_rank", row_number().over(w).cast("long"))
        .localCheckpoint()
      ev.join(broadcast(dim.filter(col("day_rank") <= 3)), Seq("event_date"))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(date_format(col("event_date"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n_events"), col("sum_value"))
    }),

    // q71's count-min sketch with an MD5-DERIVED cell hash — the
    // oracle-green pinned twin of the heavy-hitters family (q78's
    // move, applied to CMS): cells are plain integer sums of
    // deterministic bucket hits, bucket(r, item) = first-8-hex of
    // md5("r:item") mod width — recomputable by any engine — so the
    // per-day sketch table, the cross-day merge (elementwise sums:
    // merging per-day cells ≡ sketching the concatenated stream), and
    // every probe estimate (min over the depth rows) are exactly
    // SQL-defined. Same plan family as q71: one keyed agg builds the
    // daily cells, one (type,r,bucket)-keyed sum merges KB-sized
    // sketch rows, probes join only the ≤ depth×width merged cells.
    // q71 keeps the production engine-format blobs; this row is the
    // value-defined query path.
    "q95_cms_md5" -> ((s, dir) => {
      val t = Tables(s, dir)
      val depth = 4; val width = 512
      def bucket(r: org.apache.spark.sql.Column,
                 item: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        conv(substring(md5(concat_ws(":", r, item)), 1, 8), 16, 10)
          .cast("long") % width
      val daily = t.events
        .select(col("event_type"), to_date(col("ts")).as("__day"), col("user_id"),
          explode(sequence(lit(0), lit(depth - 1))).as("__r"))
        .groupBy(col("event_type"), col("__day"), col("__r"),
          bucket(col("__r"), col("user_id")).as("__bucket"))
        .agg(count(lit(1)).as("__cnt"))
      // merged is ≤ types × depth × width rows — checkpoint it, so the
      // ×depth explode + md5 bucket pass over events runs ONCE (the
      // first cut re-evaluated `daily` for the probe-type list and the
      // final join: three corpus passes for one sketch)
      val merged = daily
        .groupBy(col("event_type"), col("__r"), col("__bucket"))
        .agg(sum(col("__cnt")).as("__cnt"))
        .localCheckpoint()
      // (type, day) presence doesn't need the sketch pipeline: derive
      // day counts from the raw scan (identical set — every event
      // contributes all depth rows to `daily`, so projecting daily to
      // (type, day) equals projecting events)
      val nDays = t.events
        .select(col("event_type"), to_date(col("ts")).as("__day")).distinct()
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
      val probes = merged.select(col("event_type")).distinct()
        .crossJoin(s.range(0, 10).select(col("id").as("user_id")))
        .select(col("event_type"), col("user_id"),
          explode(sequence(lit(0), lit(depth - 1))).as("__r"))
        .select(col("event_type"), col("user_id"), col("__r"),
          bucket(col("__r"), col("user_id")).as("__bucket"))
      probes
        .join(merged, Seq("event_type", "__r", "__bucket"), "left")
        .groupBy(col("event_type"), col("user_id"))
        .agg(min(coalesce(col("__cnt"), lit(0L))).as("est_events"))
        .join(broadcast(nDays), Seq("event_type"))
        .select(col("event_type"), col("user_id"), col("n_days"), col("est_events"))
    }),

    // q59's approx-distinct with an EXACT SPARSE MODE — the
    // oracle-green pinned twin of the HLL family: per-day
    // `hll_sparse_agg` sketches (functions.HllSparse — sorted hash
    // SETS below tau=4096 distinct, classic 2^12-register HLL above)
    // merge per event type via `hll_sparse_merge`; in the sparse
    // regime merge = set union, so the estimate is VALUE-DEFINED (=
    // exact distinct count) and the DuckDB twin is COUNT(DISTINCT
    // user_id). The fixture's per-type cardinality sits far below tau
    // at any driver SF, so this row stays sparse-exact; past tau the
    // SAME query silently becomes the register-estimate production
    // shape (HllSparseSpec pins the transition + merge≡direct). q59
    // keeps the engine-format production sketches.
    "q96_hll_sparse" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.events
        .groupBy(col("event_type"), to_date(col("ts")).as("__day"))
        .agg(graft.functions.HllSparseAgg(col("user_id")).as("__sk"))
        .groupBy(col("event_type"))
        .agg(
          graft.functions.HllSparseEstimate(
            graft.functions.HllSparseMergeAgg(col("__sk"))).as("distinct_users"),
          count(lit(1)).as("n_days"))
    }),

    // EXACT per-group percentiles by distributed SELECTION
    // (operators.ExactQuantile) — the third member of the percentile
    // family: q49 is the one-pass bounded-error sketch, q64 the
    // persisted mergeable pre-aggregate, and this is the exact answer
    // WITHOUT sorting the world: histogram-locate the target bin
    // (KB-sized exchange), then rank within the ~n/bins survivors —
    // three pruned scans + a candidate-sized shuffle, vs orderBy's
    // full-data range exchange. Rank semantics are percentile_disc
    // (value at row ⌈q·n⌉ of the ascending order; both engines
    // compute the identical IEEE ⌈q·n⌉), so the raw stored double
    // comes back bit-identical — no rounding anywhere.
    "q100_exact_percentile" -> ((s, dir) => {
      val t = Tables(s, dir)
      graft.operators.ExactQuantile.perGroup(
        t.events, Seq("event_type"), "value",
        Seq("p50" -> 0.5, "p90" -> 0.9))
    }),

    // OHLC DOWNSAMPLE — the TSDB/monitoring compaction shape: per
    // (event_type, day), the first/last value under the (ts,
    // event_id) total order plus high/low/sum/count. Open/close are
    // ORDER-based aggregates (what makes downsampling harder than
    // min/max): both come from rank-1 rows of the same keyed window —
    // ONE (type, day) shuffle serves the ascending and descending
    // ranks and the final aggregate, and every engine picks the same
    // row because the order is total. At 100 TB this is the
    // continuous roll-up that turns an event log into a dashboard
    // table; day cells aggregate independently, no global sort.
    "q102_ohlc_downsample" -> ((s, dir) => {
      val t = Tables(s, dir)
      val day = to_date(col("ts")).as("__day")
      val base = t.events.select(col("event_type"), day, col("value"),
        col("ts"), col("event_id"))
      val wAsc = Window.partitionBy(col("event_type"), col("__day"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val wDesc = Window.partitionBy(col("event_type"), col("__day"))
        .orderBy(col("ts").desc, col("event_id").desc)
      base
        .withColumn("__ra", row_number().over(wAsc))
        .withColumn("__rd", row_number().over(wDesc))
        .groupBy(col("event_type"), col("__day"))
        .agg(
          max(when(col("__ra") === 1, col("value"))).as("open"),
          max(when(col("__rd") === 1, col("value"))).as("close"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          dsum(col("value")).as("sum_value"),
          count(lit(1)).as("n_events"))
        .select(col("event_type"),
          date_format(col("__day"), "yyyy-MM-dd").as("day"),
          col("open"), col("close"), col("high"), col("low"),
          col("sum_value"), col("n_events"))
    }),

    // GAPS-AND-ISLANDS — per-user longest run of consecutive active
    // days (the engagement-streak / uptime-run shape). The classic
    // anchor trick: within a user, consecutive days share the constant
    // day − row_number(), so islands fall out of one groupBy — no
    // self-join, no iteration. Shuffle discipline: distinct FIRST so
    // the (user, day) exchange carries map-side-combined day cells,
    // never raw events; after the user-keyed window exchange, the
    // island groupBy (user, anchor) and the rank-1 pick both cluster
    // on a superset of user_id, so they re-use that partitioning —
    // 2 day-cell-sized exchanges total, nothing event-sized moves.
    "q103_activity_streaks" -> ((s, dir) => {
      val t = Tables(s, dir)
      val days = t.events
        .select(col("user_id"), to_date(col("ts")).as("__day"))
        .distinct()
      val wUser = Window.partitionBy(col("user_id")).orderBy(col("__day"))
      val islands = days
        .withColumn("__rn", row_number().over(wUser))
        .withColumn("__anchor", date_sub(col("__day"), col("__rn")))
        .groupBy(col("user_id"), col("__anchor"))
        .agg(count(lit(1)).as("__len"), min(col("__day")).as("__start"))
      val wBest = Window.partitionBy(col("user_id"))
        .orderBy(col("__len").desc, col("__start").asc)
      islands
        .withColumn("__r", row_number().over(wBest))
        .withColumn("n_streaks",
          count(lit(1)).over(Window.partitionBy(col("user_id"))))
        .filter(col("__r") === 1)
        .select(col("user_id"), col("__len").as("longest_streak"),
          date_format(col("__start"), "yyyy-MM-dd").as("streak_start"),
          col("n_streaks"))
    }),

    // FIXED-POINT PAGERANK (graph.PageRankFixed) — centrality as a
    // data-quality prior, the Common Crawl curation pattern, over the
    // supplier↔part co-occurrence graph distilled from lineitem
    // (symmetrized, so no dangling mass by construction). Three damped
    // iterations entirely in scaled-integer arithmetic: every divide
    // is a floor divide, every sum exact — bit-identical ranks on any
    // partitioning or engine, which is what lets a rank-derived
    // quality gate be rerun-stable across reingests. Edges are laid
    // out by src once and never move; per iteration only the
    // node-sized rank table exchanges (see PageRankFixed scaladoc).
    "q104_pagerank" -> ((s, dir) => {
      val t = Tables(s, dir)
      val pairs = t.lineitem
        .select(concat(lit("s"), col("l_suppkey")).as("src"),
          concat(lit("p"), col("l_partkey")).as("dst"))
        .distinct()
      val edges = pairs.union(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      graft.graph.PageRankFixed.run(edges, iters = 3)
    }),

    // ORC SCAN — format breadth with the same scan discipline as
    // parquet: the selective predicate must push into the ORC reader
    // (PushedFilters) and the projection must prune the ReadSchema to
    // the three live columns (PlanAudit row). The oracle reads the
    // PARQUET original, so a hash match proves the parquet→ORC→query
    // round-trip is value-exact, types included.
    "q106_orc_scan" -> ((s, dir) => {
      val path = orcEvents(s, dir)
      s.read.orc(path)
        .filter(col("event_type") === "purchase" && col("value") > 100.0)
        .groupBy(to_date(col("ts")).as("__day"))
        .agg(dsum(col("value")).as("sum_value"),
          count(lit(1)).as("n_events"))
        .select(date_format(col("__day"), "yyyy-MM-dd").as("day"),
          col("sum_value"), col("n_events"))
    }),

    // INTERVAL-OVERLAP JOIN (operators.IntervalJoin) — the missing
    // sibling of q51's point-in-interval join: which user sessions
    // overlapped an error-incident window (the ops blast-radius
    // question). Both interval sets derive from events: sessions by
    // the q35 gap rule under the (second, event_id) total order with
    // an explicit ROWS frame (RANGE would merge tied-second peers —
    // engine-divergent), incidents as islands of consecutive high-
    // error hours (the q103 anchor trick; the island window is global
    // but hour-cell-sized — bounded metadata, like q91's calendar).
    // The join itself: intervals replicate to hour bins, candidates
    // equi-join on the bin, and each true pair reports ONLY from the
    // bin of max(starts) — exactly-once with no dedup pass, never a
    // cartesian product (IntervalJoinSpec proves ≡ brute force).
    "q107_interval_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("__s").asc, col("event_id").asc)
      val cum = wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = t.events
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("__s"))
        .withColumn("__brk",
          when(lag(col("__s"), 1).over(wU).isNull ||
            col("__s") - lag(col("__s"), 1).over(wU) > 1800, 1).otherwise(0))
        .withColumn("__sid", sum(col("__brk")).over(cum))
        .groupBy(col("user_id"), col("__sid"))
        .agg(min(col("__s")).as("s_start"), max(col("__s")).as("s_end"))
        .drop("__sid")
      val inc = t.events.filter(col("event_type") === "error")
        .groupBy(expr("unix_timestamp(ts) div 3600").as("__h"))
        .agg(count(lit(1)).as("__c")).filter(col("__c") >= 5)
        .withColumn("__anch",
          col("__h") - row_number().over(Window.orderBy(col("__h"))))
        .groupBy(col("__anch"))
        .agg((min(col("__h")) * 3600).as("i_start"),
          (max(col("__h")) * 3600 + 3599).as("i_end"))
        .drop("__anch")
      graft.operators.IntervalJoin.overlap(sess, inc,
          "s_start", "s_end", "i_start", "i_end", binSize = 3600L)
        .select(col("user_id"), col("s_start"), col("s_end"),
          col("i_start"), col("i_end"),
          (least(col("s_end"), col("i_end")) -
            greatest(col("s_start"), col("i_start"))).as("overlap_secs"))
    }),

    // PERSONALIZED PAGERANK — q104's recurrence with the teleport
    // vector restricted to a SEED set (the 5 lowest-keyed suppliers
    // in the graph — a deterministic "trusted list" that is nonempty
    // at every SF): the seed-and-expand curation pattern, ranking the
    // whole graph by proximity to a trusted list instead of global
    // centrality. Same scaled-integer no-rounding discipline, so the
    // DuckDB twin recomputes the seeded recurrence bit-for-bit.
    "q108_ppr" -> ((s, dir) => {
      val t = Tables(s, dir)
      val pairs = t.lineitem
        .select(concat(lit("s"), col("l_suppkey")).as("src"),
          concat(lit("p"), col("l_partkey")).as("dst"))
        .distinct()
      val edges = pairs.union(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      // seeds ⊆ graph nodes by construction (suppkeys FROM lineitem)
      val seeds = t.lineitem.select(col("l_suppkey")).distinct()
        .orderBy(col("l_suppkey")).limit(5)
        .select(concat(lit("s"), col("l_suppkey")).as("node"))
      graft.graph.PageRankFixed.personalized(edges, iters = 3, Some(seeds))
    }),

    // AUDIENCE OVERLAP from mergeable sketches — SET ALGEBRA on the
    // sketch store: |A∩B| = |A| + |B| − |A∪B|, where the union comes
    // from merging the two types' persisted user sketches, never from
    // re-scanning events. This is why mergeable sketches beat exact
    // distinct tables at 100 TB: any of the T·(T−1)/2 pairwise
    // overlaps is a KB-sized merge of two blobs. Below tau the sparse
    // sketches are exact sets, so inclusion-exclusion is EXACT (the
    // oracle regime, q96's device); past tau the SAME query returns
    // register estimates, where small overlaps can even go negative —
    // the documented price of sketch-space set algebra.
    "q109_audience_overlap" -> ((s, dir) => {
      val t = Tables(s, dir)
      import graft.functions.{HllSparseAgg, HllSparseMergeAgg, HllSparseEstimate}
      // one event scan, T sketch blobs; checkpointed — the "store"
      val sk = t.events.groupBy(col("event_type").as("t"))
        .agg(HllSparseAgg(col("user_id")).as("sk"))
        .localCheckpoint()
      val pairs = sk
        .join(sk.select(col("t").as("t2"), col("sk").as("sk2")),
          col("t") < col("t2"))
      val unions = pairs
        .select(col("t"), col("t2"),
          explode(array(col("sk"), col("sk2"))).as("s"))
        .groupBy(col("t"), col("t2"))
        .agg(HllSparseEstimate(HllSparseMergeAgg(col("s"))).as("__u"))
      unions
        .join(sk.select(col("t"), HllSparseEstimate(col("sk")).as("users_a")),
          Seq("t"))
        .join(sk.select(col("t").as("t2"),
          HllSparseEstimate(col("sk")).as("users_b")), Seq("t2"))
        .select(col("t").as("type_a"), col("t2").as("type_b"),
          col("users_a"), col("users_b"),
          (col("users_a") + col("users_b") - col("__u")).as("overlap_users"))
    }),

    // ROBUST OUTLIERS (median/MAD) — the monitoring flag that mean/
    // stddev z-scores get wrong on skewed data (outliers inflate the
    // very stddev meant to detect them; the median and MAD are
    // 50%-breakdown robust). Two EXACT medians via ExactQuantile's
    // distributed selection (operator reuse: three pruned scans + a
    // candidate shuffle each, never a global sort), per-type (med,
    // mad) broadcast back, flag |value − med| > 5·MAD. All boundary
    // arithmetic is identical IEEE double in both engines, so the
    // flagged row SET is exact — no probabilistic threshold.
    "q110_mad_outliers" -> ((s, dir) => {
      val t = Tables(s, dir)
      val ev = t.events.select(col("event_id"), col("event_type"), col("value"))
      val med = graft.operators.ExactQuantile.perGroup(
        ev, Seq("event_type"), "value", Seq("med" -> 0.5))
      // dev feeds the MAD selection's three scans AND the final flag
      // join — checkpoint it once (the q58 shared-subtree lesson), so
      // the med join is computed once, not five times
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("__ad", abs(col("value") - col("med")))
        .localCheckpoint()
      val mad = graft.operators.ExactQuantile.perGroup(
        dev, Seq("event_type"), "__ad", Seq("mad" -> 0.5))
      dev.join(broadcast(mad), Seq("event_type"))
        .filter(col("__ad") > lit(5.0) * col("mad"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"))
    }),

    // A/B TEST READOUT — the experimentation query: deterministic
    // hash assignment (user_id parity — rerun-stable, no RNG), the
    // per-user conversion metric (≥1 purchase), and the pooled
    // two-proportion z² statistic. The statistic chain is the q101
    // discipline: every input is an EXACT integer count (one user-
    // keyed aggregate, map-side combined), the handful of divisions
    // run in identical IEEE double on those exact inputs, and the
    // output rounds at 9 — engine-exact, no sampling noise in the
    // pipeline itself. z² ~ χ²(1): the caller compares to 3.84 for
    // p<0.05; we report the statistic, not the verdict.
    "q111_ab_test" -> ((s, dir) => {
      val t = Tables(s, dir)
      // conversion = a HIGH-VALUE purchase (any-purchase saturates at
      // 100% on this corpus — a degenerate metric with no variance)
      val users = t.events
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" && col("value") > 100.0,
          1).otherwise(0)).as("__conv"))
        .withColumn("__arm", pmod(col("user_id"), lit(2)))
      val agg = users.agg(
        sum(when(col("__arm") === 0, 1).otherwise(0)).as("n_control"),
        sum(when(col("__arm") === 0, col("__conv")).otherwise(0)).as("x_control"),
        sum(when(col("__arm") === 1, 1).otherwise(0)).as("n_treat"),
        sum(when(col("__arm") === 1, col("__conv")).otherwise(0)).as("x_treat"))
      val p0 = col("x_control").cast("double") / col("n_control")
      val p1 = col("x_treat").cast("double") / col("n_treat")
      val pp = (col("x_control") + col("x_treat")).cast("double") /
        (col("n_control") + col("n_treat"))
      agg.select(
        col("n_control"), col("x_control"), col("n_treat"), col("x_treat"),
        round(p0, 9).as("p_control"), round(p1, 9).as("p_treat"),
        // pooled-variance guard: all-convert / none-convert corpora
        // have zero variance — z² is undefined there, not infinite
        when(col("x_control") + col("x_treat") > 0 &&
            col("x_control") + col("x_treat") <
              col("n_control") + col("n_treat"),
          round((p1 - p0) * (p1 - p0) /
            (pp * (lit(1.0) - pp) *
              (lit(1.0) / col("n_control") + lit(1.0) / col("n_treat"))), 9))
          .as("z2"))
    }),

    // TREND SLOPE — per-type OLS fit of daily event volume vs time
    // (the metric-drift alert: "is this event type growing?"). All
    // four moments (Σx, Σy, Σxy, Σx²) are exact INTEGER sums over
    // (epoch-day, daily count) — order-independent on any
    // partitioning, exactly recomputable by any engine — and the
    // closed-form slope/intercept are two IEEE divisions on those
    // exact integers (q101's discipline; the builtin regr_slope
    // streams float co-moments and is neither). Day cells aggregate
    // map-side; the moment fold moves T rows.
    "q112_trend_slope" -> ((s, dir) => {
      val t = Tables(s, dir)
      val daily = t.events
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("__x"))
        .agg(count(lit(1)).as("__y"))
      daily
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
          sum(col("__x") * col("__y")).as("__sxy"),
          sum(col("__x") * col("__x")).as("__sxx"))
        .select(col("event_type"), col("n_days"), col("__sy").as("n_events"),
          round((col("n_days") * col("__sxy") - col("__sx") * col("__sy"))
            .cast("double") /
            (col("n_days") * col("__sxx") - col("__sx") * col("__sx"))
              .cast("double"), 9).as("slope_per_day"))
    }),

    // EDIT-DISTANCE JOIN (operators.EditDistanceJoin) — typo-level
    // near-dup titles: all doc pairs whose 36-char normalized title
    // prefixes are within levenshtein 2, by pigeonhole segment
    // blocking (PassJoin): k+1 segments, ≥1 survives k edits, its
    // position shifts ≤ k — candidates are an equi-join on (segment,
    // index), never the |R|² pair space, and completeness is a
    // theorem (EditDistanceJoinSpec ≡ brute force). The character-
    // granular member of the dedup family: q19 exact, q27/q78
    // shingle-set, q85 exact Jaccard, q34/q60 embedding — this one
    // catches single-typo variants those set-based keys can miss.
    "q113_edit_distance_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      val titles = t.documents.select(col("doc_id"),
        rpad(substring(lower(col("text")), 1, 36), 36, " ").as("__title"))
      graft.operators.EditDistanceJoin.selfJoin(
        titles, "doc_id", "__title", k = 2, len = 36)
    }),

    // MARKOV TRANSITION MATRIX — user-journey analytics: for each
    // consecutive event pair within a user's (ts, event_id)-ordered
    // stream, the transition count and row-conditional MLE
    // P(to|from). One user-keyed window exchange builds the pairs
    // (lead over the total order — engine-identical successor), one
    // map-side-combined (from,to) aggregate, marginals re-agg from
    // it, one IEEE division round-9. T² output rows regardless of
    // corpus size.
    "q115_markov_transitions" -> ((s, dir) => {
      val t = Tables(s, dir)
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val pairs = t.events
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(wU))
        .filter(col("to_type").isNotNull)
      val c2 = pairs.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val c1 = c2.groupBy(col("from_type")).agg(sum(col("c")).as("__c1"))
      c2.join(c1, Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("c"),
          round(col("c").cast("double") / col("__c1"), 9).as("p"))
    }),

    // EQUAL-FREQUENCY BINNING — feature discretization for ML prep:
    // per-type QUARTILE breakpoints by ExactQuantile's distributed
    // selection (exact raw doubles — a quantile sketch here would make
    // the bin EDGES approximate and the bucket assignment fuzzy at the
    // boundaries), broadcast back, each event bucketed by comparison.
    // All boundary math is comparisons on exactly-selected stored
    // values, so the bucket assignment is engine-exact — ties sit on
    // whichever side ⌈q·n⌉ puts them in BOTH engines. Output is the
    // per-(type, bucket) profile (count + extent) a feature store
    // persists.
    "q117_equal_freq_bins" -> ((s, dir) => {
      val t = Tables(s, dir)
      val ev = t.events.select(col("event_type"), col("value"))
      val brk = graft.operators.ExactQuantile.perGroup(
        ev, Seq("event_type"), "value",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
      ev.join(broadcast(brk), Seq("event_type"))
        .withColumn("bucket",
          when(col("value") <= col("p25"), 1)
            .when(col("value") <= col("p50"), 2)
            .when(col("value") <= col("p75"), 3)
            .otherwise(4))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("lo"), max(col("value")).as("hi"))
    }),

    // K-ANONYMITY AUDIT — the release-gate privacy check: any
    // quasi-identifier combination (lang, source, length bucket)
    // matched by fewer than k=5 documents re-identifies its members;
    // the audit lists exactly those cells. One map-side-combined
    // aggregate over the generalized identifiers (the length
    // generalization is an integer floor — engine-exact); output is
    // risk-cell-sized. The operational loop: generalize further or
    // suppress the listed cells until this query returns zero rows.
    "q118_k_anonymity" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.documents
        .select(col("lang"), col("source"),
          // floor multiple (matches DuckDB's flooring `//` and the
          // KAnonymity.enforce device — `div` truncates toward zero
          // and would mislabel negative quasi values)
          expr("n_chars - pmod(n_chars, 100)").as("size_bucket"))
        .groupBy(col("lang"), col("source"), col("size_bucket"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") < 5)
    }),

    // K-ANONYMITY ENFORCEMENT — q118's operational loop closed
    // (operators.KAnonymity): the audit lists sub-k cells; this
    // RELEASES the table, escalating sub-k rows through the
    // 100 → 500 → 2000 size-bucket generalization ladder (counts
    // always over the rows still unreleased — the recursion that
    // makes every released cell ≥ k by construction) and suppressing
    // what never qualifies. Output = one row per released document
    // with its generalized cell; re-running q118's audit ON THIS
    // OUTPUT returns zero rows (KAnonymitySpec pins it). The oracle
    // unrolls the three-level loop exactly.
    "q122_k_anon_release" -> ((s, dir) => {
      val t = Tables(s, dir)
      graft.operators.KAnonymity.enforce(
          t.documents.select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
          Seq("lang", "source"), "n_chars", widths = Seq(100L, 500L, 2000L), k = 5L)
        .select(col("doc_id"), col("lang"), col("source"),
          col("bucket_lo"), col("bucket_width"))
    }),

    // K-ANONYMITY WITH A CATEGORICAL LADDER — q122's enforcement
    // extended past the numeric widths by COLUMN SUPPRESSION rungs
    // (source → '*', then lang → '*', each re-counted over the
    // remaining rows at the coarsest width): real local recoding
    // coarsens whole quasi-columns, not just the bucket. On this
    // corpus the rung is demonstrably non-vacuous: the 181-row sub-k
    // tail q122 suppresses outright is RELEASED here under source='*'
    // (same ≥ k guarantee — the released cells are counted cells).
    // Released rows carry the starred values; the oracle unrolls all
    // five rungs.
    "q132_k_anon_ladder" -> ((s, dir) => {
      val t = Tables(s, dir)
      graft.operators.KAnonymity.enforce(
          t.documents.select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
          Seq("lang", "source"), "n_chars", widths = Seq(100L, 500L, 2000L), k = 5L,
          starLadder = Seq("source", "lang"))
        .select(col("doc_id"), col("lang"), col("source"),
          col("bucket_lo"), col("bucket_width"))
    }),

    // TRIANGLE COUNTING (graph.Triangles) — the clustering/community
    // primitive PageRank's family lacks: per-node exact triangle
    // counts by degree-ordered orientation (wedges bounded O(E^1.5)
    // regardless of hub skew — see the operator scaladoc). The graph
    // is the natural PART CO-PURCHASE projection: one edge per order
    // between its first two lineitems' parts (one keyed aggregate —
    // no self-join, no pair explosion). The node space is the part
    // dimension, which GROWS with the data, so graph density stays
    // constant under scale-up — the earlier md5-fold into a fixed id
    // space densified quadratically and saturated at the 10× soak
    // (44 s → 187 s); this shape soaks linearly. Oracle brute-forces
    // the a<b<c triple join on the same canonical edges.
    "q123_triangle_count" -> ((s, dir) =>
      graft.graph.Triangles.perNode(coPurchaseEdges(Tables(s, dir)))),

    // LOCAL CLUSTERING COEFFICIENT — Watts-Strogatz C_v over the same
    // co-purchase projection: triangles(v) / (deg(v) choose 2), one
    // keyed join of q123's oriented triangle counts against the exact
    // degree table (Triangles.localClustering — inherits the O(E^1.5)
    // orientation shape; the only new arithmetic is a double division
    // on exact integers, round-9). Triangle-free deg ≥ 2 nodes appear
    // with coefficient 0. Oracle: the q123 brute-force triple join
    // extended by the exact degree denominator.
    "q133_clustering_coeff" -> ((s, dir) =>
      graft.graph.Triangles.localClustering(coPurchaseEdges(Tables(s, dir)))),

    // EDGE TRIANGLE SUPPORT — the k-truss building block (Cohen's
    // truss decomposition): per canonical co-purchase edge, the number
    // of triangles it closes; zero-support edges kept (a truss peel
    // must see them). Same O(E^1.5) oriented enumeration as q123, one
    // extra explode (3 skinny rows per triangle) + edge-keyed agg +
    // left join. Oracle: the brute-force triple join exploded to its
    // three edges, left-joined onto the canonical edge set.
    "q137_edge_support" -> ((s, dir) =>
      graft.graph.Triangles.edgeSupport(coPurchaseEdges(Tables(s, dir)))),

    // 3-TRUSS — q137's support peeled to fixpoint (Cohen's truss
    // decomposition): keep edges in ≥ 1 triangle, recompute support on
    // the survivors, repeat until stable — the community-core filter
    // one rung above connected components. Each round is one oriented
    // enumeration on a shrinking, localCheckpointed edge set (the
    // PageRankFixed loop discipline). The co-purchase graph peels in
    // one round at every tested SF; the oracle unrolls THREE rounds
    // (extra rounds are no-ops past fixpoint, q122's unrolled-loop
    // device), so the cross-check holds even if the data's peel
    // deepens. TrianglesSpec pins multi-round convergence against
    // brute-force peeling.
    "q138_ktruss" -> ((s, dir) =>
      graft.graph.Triangles.ktruss(coPurchaseEdges(Tables(s, dir)), k = 3)),

    // TRUSS DECOMPOSITION — q138 generalized to every edge's MAXIMUM
    // trussness (round-13 verdict item 7): level k + 1 peels from
    // level k's survivors (trusses nest), stopping at the first empty
    // level; trussness = the last level that kept the edge, 2 for
    // edges outside every 3-truss. The oracle unrolls levels 3..5
    // (data max is 3 at the tested SFs — margin of two levels) × 3
    // peel rounds each; extra levels and rounds are provably no-ops
    // past the fixpoint (the q122/q138 unrolled-loop device), and a
    // graph deeper than the unroll fails LOUDLY as a hash mismatch,
    // never silently. TrianglesSpec pins the decomposition against
    // brute-force peeling on a K5-plus-pendant graph (trussness 5/3/2
    // strata — depths the co-purchase fixture never reaches).
    "q144_truss_decomposition" -> ((s, dir) =>
      graft.graph.Triangles.trussness(coPurchaseEdges(Tables(s, dir)))),

    // RANK-FEATURE WINDOWS — the ML-prep percentile features
    // (percent_rank / cume_dist / decile) per order priority: all
    // three are exact rational functions of the integer (rank, n)
    // pair, so the doubles are engine-identical (one division each,
    // round-9 by convention); the (totalprice, orderkey) order is
    // total so ntile boundaries are deterministic. Ranks come from
    // DistributedRank.prefix — a naive partitionBy(o_orderpriority)
    // window funnels the whole table through 5 sort tasks at 100×
    // (round-12 weak flag); here every sort task is one range shard
    // and the only group-keyed window runs over the shards×groups
    // partials table.
    "q128_rank_features" -> ((s, dir) => {
      val t = Tables(s, dir)
      import graft.operators.DistributedRank
      DistributedRank.prefix(
          t.orders.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
          Seq("o_orderpriority"), Seq("o_totalprice", "o_orderkey"))
        .withColumn("pr", round(
          DistributedRank.percentRankFromRank(col("__rank"), col("__n")), 9))
        .withColumn("cd", round(
          DistributedRank.cumeDistFromRank(col("__rank"), col("__n")), 9))
        .withColumn("decile",
          DistributedRank.ntileFromRank(col("__rank"), col("__n"), 10))
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          col("pr"), col("cd"), col("decile"))
    }),

    // ORDERED FUNNEL — the batch conversion analysis (streaming
    // attribution q-family's batch sibling): per user, the earliest
    // signup, the earliest click AFTER that signup, the earliest
    // purchase AFTER that click — each stage gated on the previous
    // (the order requirement is what makes it a funnel, not three
    // mins). Three user-keyed conditional aggregates, no window over
    // events, no self-join wider than user×stage.
    "q129_funnel" -> ((s, dir) => batchFunnel(Tables(s, dir).events)),

    // REFERENTIAL-INTEGRITY AUDIT — the dbt/expectations-style data
    // contract check: orphan counts for the three core foreign keys,
    // each an anti-join keyed on the fk (the dimension side broadcasts
    // when small; at 100 TB the orders→customer probe is the standard
    // shuffled anti join). A planted orphan row per relation proves
    // the audit actually detects (the corpus itself is clean — an
    // all-zero audit can't distinguish working from vacuous).
    "q130_ref_integrity" -> ((s, dir) => {
      val t = Tables(s, dir)
      def orphans(name: String, fact: DataFrame, key: String, dim: DataFrame,
                  dimKey: String): DataFrame =
        fact.select(col(key).as("__k"))
          .unionByName(s.range(1).select(lit(-1L).as("__k"))) // planted orphan
          .join(dim.select(col(dimKey).as("__k")).distinct(), Seq("__k"), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
          .select(lit(name).as("check"), col("n_orphans"))
      orphans("orders_custkey", t.orders, "o_custkey", t.customer, "c_custkey")
        .unionByName(orphans("lineitem_orderkey", t.lineitem, "l_orderkey",
          t.orders, "o_orderkey"))
        .unionByName(orphans("lineitem_partkey", t.lineitem, "l_partkey",
          t.part, "p_partkey"))
    }),

    // ROLLING TIME-WINDOW FEATURES — trailing 1-hour event count and
    // mean value per type via a RANGE frame over epoch seconds (the
    // feature-engineering staple). RANGE includes all epoch-tied
    // peers, so the frame content is order-independent under ties;
    // sums run in decimal (order-independent exactness, q92's device)
    // and the one division rounds to 9. The frame runs through
    // DistributedRank.rollingRange — (type, hour-chunk) partitions
    // with one donor replica per row instead of the ~6-task
    // partitionBy(event_type) funnel (round-12 weak flag), so
    // parallelism grows with the data's time span.
    "q131_rolling_features" -> ((s, dir) => {
      val t = Tables(s, dir)
      val D = org.apache.spark.sql.types.DecimalType(18, 6)
      graft.operators.DistributedRank.rollingRange(
          t.events.select(col("event_id"), col("event_type"),
            unix_timestamp(col("ts")).as("epoch"),
            col("value").cast(D).as("__dv")),
          Seq("event_type"), "epoch", 3600L, Seq("__dv"))
        .withColumn("n_1h", col("__roll_n"))
        .withColumn("mean_1h", round(
          col("__roll___dv").cast("double") / col("__roll_n"), 9))
        .select(col("event_id"), col("event_type"), col("epoch"),
          col("n_1h"), col("mean_1h"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    // Triangle twin: same co-purchase edge derivation (per 2-line
    // order, src = MIN / dst = MAX of l_partkey over l_linenumber ≤ 2,
    // kept only when COUNT(*) = 2), then brute-force x<y<z triple
    // join on the canonical a<b set (e1=(x,y), e2=(y,z), e3=(x,z) —
    // each triangle exactly once), exploded to per-node counts.
    "q123_triangle_count" ->
      """WITH e0 AS (
           SELECT MIN(l_partkey) AS x, MAX(l_partkey) AS y
           FROM lineitem WHERE l_linenumber <= 2
           GROUP BY l_orderkey HAVING COUNT(*) = 2),
         ce AS (SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b
                FROM e0 WHERE x != y),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM ce e1
           JOIN ce e2 ON e2.a = e1.b
           JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b),
         n AS (SELECT x AS node FROM tri
               UNION ALL SELECT y FROM tri
               UNION ALL SELECT z FROM tri)
       SELECT node, COUNT(*) AS n_triangles FROM n GROUP BY node""",

    // Rank-feature twin: identical total order, identical rational
    // rank functions, same round-9.
    "q128_rank_features" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
           ROUND(percent_rank() OVER w, 9) AS pr,
           ROUND(cume_dist() OVER w, 9) AS cd,
           ntile(10) OVER w AS decile
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey)""",

    // Funnel twin: the same three stage-gated min aggregates.
    "q129_funnel" ->
      """WITH ev AS (
           SELECT user_id, event_type,
                  CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events),
         s1 AS (SELECT user_id, MIN(s) AS t_signup FROM ev
                WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, MIN(e.s) AS t_click
                FROM ev e JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.s > s1.t_signup GROUP BY 1),
         s3 AS (SELECT e.user_id, MIN(e.s) AS t_purchase
                FROM ev e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.s > s2.t_click GROUP BY 1)
       SELECT s1.user_id, s1.t_signup, s2.t_click, s3.t_purchase,
              1 + CASE WHEN s2.t_click IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN s3.t_purchase IS NOT NULL THEN 1 ELSE 0 END AS stage
       FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""",

    // Integrity twin: same three anti-join orphan counts with the
    // same planted orphan key.
    "q130_ref_integrity" ->
      """SELECT 'orders_custkey' AS check, COUNT(*) AS n_orphans FROM (
           SELECT o_custkey AS k FROM orders UNION ALL SELECT -1) f
         WHERE k NOT IN (SELECT c_custkey FROM customer)
         UNION ALL
         SELECT 'lineitem_orderkey', COUNT(*) FROM (
           SELECT l_orderkey AS k FROM lineitem UNION ALL SELECT -1) f
         WHERE k NOT IN (SELECT o_orderkey FROM orders)
         UNION ALL
         SELECT 'lineitem_partkey', COUNT(*) FROM (
           SELECT l_partkey AS k FROM lineitem UNION ALL SELECT -1) f
         WHERE k NOT IN (SELECT p_partkey FROM part)""",

    // Rolling twin: identical RANGE frame over floored epoch seconds,
    // decimal sums, one round-9 division.
    "q131_rolling_features" ->
      """SELECT event_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
           COUNT(*) OVER w AS n_1h,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             / (COUNT(*) OVER w), 9) AS mean_1h
         FROM events
         WINDOW w AS (PARTITION BY event_type
                      ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                      RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)""",

    // Enforcement twin: the three-level remaining-count loop unrolled —
    // release at 100, re-count leftovers at 500, re-count at 2000,
    // suppress the rest. Integer floor-division bucketing on
    // non-negative n_chars is engine-exact.
    "q122_k_anon_release" ->
      """WITH base AS (SELECT doc_id, lang, source, n_chars FROM documents),
         n1 AS (SELECT lang, source, n_chars // 100 * 100 AS cell, COUNT(*) AS n
                FROM base GROUP BY 1, 2, 3),
         j1 AS (SELECT b.*, n1.n FROM base b
                JOIN n1 ON b.lang = n1.lang AND b.source = n1.source
                       AND b.n_chars // 100 * 100 = n1.cell),
         r1 AS (SELECT doc_id, lang, source,
                       CAST(n_chars // 100 * 100 AS BIGINT) AS bucket_lo,
                       CAST(100 AS BIGINT) AS bucket_width
                FROM j1 WHERE n >= 5),
         rem1 AS (SELECT doc_id, lang, source, n_chars FROM j1 WHERE n < 5),
         n2 AS (SELECT lang, source, n_chars // 500 * 500 AS cell, COUNT(*) AS n
                FROM rem1 GROUP BY 1, 2, 3),
         j2 AS (SELECT b.*, n2.n FROM rem1 b
                JOIN n2 ON b.lang = n2.lang AND b.source = n2.source
                       AND b.n_chars // 500 * 500 = n2.cell),
         r2 AS (SELECT doc_id, lang, source,
                       CAST(n_chars // 500 * 500 AS BIGINT) AS bucket_lo,
                       CAST(500 AS BIGINT) AS bucket_width
                FROM j2 WHERE n >= 5),
         rem2 AS (SELECT doc_id, lang, source, n_chars FROM j2 WHERE n < 5),
         n3 AS (SELECT lang, source, n_chars // 2000 * 2000 AS cell, COUNT(*) AS n
                FROM rem2 GROUP BY 1, 2, 3),
         j3 AS (SELECT b.*, n3.n FROM rem2 b
                JOIN n3 ON b.lang = n3.lang AND b.source = n3.source
                       AND b.n_chars // 2000 * 2000 = n3.cell),
         r3 AS (SELECT doc_id, lang, source,
                       CAST(n_chars // 2000 * 2000 AS BIGINT) AS bucket_lo,
                       CAST(2000 AS BIGINT) AS bucket_width
                FROM j3 WHERE n >= 5)
       SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3""",
    // Clustering twin: the q123 brute-force triple join, left-joined
    // onto the exact degree table with the (deg choose 2) denominator.
    "q133_clustering_coeff" ->
      """WITH e0 AS (
           SELECT MIN(l_partkey) AS x, MAX(l_partkey) AS y
           FROM lineitem WHERE l_linenumber <= 2
           GROUP BY l_orderkey HAVING COUNT(*) = 2),
         ce AS (SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b
                FROM e0 WHERE x != y),
         deg AS (SELECT node, COUNT(*) AS deg FROM
                   (SELECT a AS node FROM ce UNION ALL SELECT b FROM ce)
                 GROUP BY node),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM ce e1
           JOIN ce e2 ON e2.a = e1.b
           JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b),
         n AS (SELECT x AS node FROM tri
               UNION ALL SELECT y FROM tri
               UNION ALL SELECT z FROM tri),
         tc AS (SELECT node, COUNT(*) AS n_triangles FROM n GROUP BY node)
       SELECT d.node, d.deg,
              COALESCE(tc.n_triangles, 0) AS n_triangles,
              ROUND(CAST(2 * COALESCE(tc.n_triangles, 0) AS DOUBLE)
                    / (d.deg * (d.deg - 1)), 9) AS coeff
       FROM deg d LEFT JOIN tc USING (node) WHERE d.deg >= 2""",

    // 3-truss twin: three unrolled peel rounds (triple join → support
    // → keep ≥ 1), each over the previous round's survivors; the final
    // round's support is the output. Fixpoint is reached in round 1 on
    // this graph, so rounds 2-3 are provably no-ops — the unroll just
    // buys slack (q122's device).
    "q138_ktruss" -> {
      def peel(i: Int, src: String): String =
        s"""t$i AS (
             SELECT e1.a AS x, e1.b AS y, e2.b AS z
             FROM $src e1
             JOIN $src e2 ON e2.a = e1.b
             JOIN $src e3 ON e3.a = e1.a AND e3.b = e2.b),
           te$i AS (SELECT x AS a, y AS b FROM t$i
                    UNION ALL SELECT x, z FROM t$i
                    UNION ALL SELECT y, z FROM t$i),
           s$i AS (SELECT a, b, COUNT(*) AS n FROM te$i GROUP BY a, b),
           e$i AS (SELECT s$i.a, s$i.b, s$i.n FROM $src ce
                   JOIN s$i ON ce.a = s$i.a AND ce.b = s$i.b
                   WHERE s$i.n >= 1)"""
      s"""WITH e0 AS (
           SELECT MIN(l_partkey) AS x, MAX(l_partkey) AS y
           FROM lineitem WHERE l_linenumber <= 2
           GROUP BY l_orderkey HAVING COUNT(*) = 2),
         ce AS (SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b
                FROM e0 WHERE x != y),
         ${peel(1, "ce")},
         ${peel(2, "e1")},
         ${peel(3, "e2")}
       SELECT a, b, CAST(n AS BIGINT) AS support FROM e3"""
    },

    // Truss-decomposition twin: q138's unrolled peel, generated per
    // LEVEL k = 3..5 (threshold k − 2, each level starting from the
    // previous level's round-3 survivors) × 3 rounds; trussness = 2 +
    // one membership test per level (trusses nest, so the sum IS the
    // max surviving k). Survivor CTEs are MATERIALIZED: DuckDB inlines
    // plain CTEs per reference, and each round references its source
    // 4× — 9 rounds deep that re-expands the base scan 4⁹ times
    // ("too many open files"); materialization makes it linear.
    "q144_truss_decomposition" -> {
      def peel(k: Int, i: Int, src: String): String =
        s"""t${k}_$i AS (
             SELECT e1.a AS x, e1.b AS y, e2.b AS z
             FROM $src e1
             JOIN $src e2 ON e2.a = e1.b
             JOIN $src e3 ON e3.a = e1.a AND e3.b = e2.b),
           te${k}_$i AS (SELECT x AS a, y AS b FROM t${k}_$i
                    UNION ALL SELECT x, z FROM t${k}_$i
                    UNION ALL SELECT y, z FROM t${k}_$i),
           sp${k}_$i AS (SELECT a, b, COUNT(*) AS n FROM te${k}_$i GROUP BY a, b),
           e${k}_$i AS MATERIALIZED (
                   SELECT s.a, s.b FROM $src ed
                   JOIN sp${k}_$i s ON ed.a = s.a AND ed.b = s.b
                   WHERE s.n >= ${k - 2})"""
      val levels = (3 to 5).map { k =>
        val src0 = if (k == 3) "ce" else s"e${k - 1}_3"
        Seq(peel(k, 1, src0), peel(k, 2, s"e${k}_1"), peel(k, 3, s"e${k}_2"))
          .mkString(",\n         ")
      }.mkString(",\n         ")
      val member = (3 to 5).map(k =>
        s"(CASE WHEN m$k.a IS NOT NULL THEN 1 ELSE 0 END)").mkString(" + ")
      val joins = (3 to 5).map(k =>
        s"LEFT JOIN e${k}_3 m$k ON m$k.a = ce.a AND m$k.b = ce.b").mkString("\n       ")
      s"""WITH e0 AS (
           SELECT MIN(l_partkey) AS x, MAX(l_partkey) AS y
           FROM lineitem WHERE l_linenumber <= 2
           GROUP BY l_orderkey HAVING COUNT(*) = 2),
         ce AS MATERIALIZED (
                SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b
                FROM e0 WHERE x != y),
         $levels
       SELECT ce.a, ce.b, CAST(2 + $member AS BIGINT) AS trussness
       FROM ce
       $joins"""
    },

    // Edge-support twin: q123's brute-force triple join exploded to
    // its three (already canonical: x<y<z) edges, left-joined onto ce.
    "q137_edge_support" ->
      """WITH e0 AS (
           SELECT MIN(l_partkey) AS x, MAX(l_partkey) AS y
           FROM lineitem WHERE l_linenumber <= 2
           GROUP BY l_orderkey HAVING COUNT(*) = 2),
         ce AS (SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b
                FROM e0 WHERE x != y),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM ce e1
           JOIN ce e2 ON e2.a = e1.b
           JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b),
         te AS (SELECT x AS a, y AS b FROM tri
                UNION ALL SELECT x, z FROM tri
                UNION ALL SELECT y, z FROM tri),
         sup AS (SELECT a, b, COUNT(*) AS n FROM te GROUP BY a, b)
       SELECT ce.a, ce.b, COALESCE(sup.n, 0) AS support
       FROM ce LEFT JOIN sup USING (a, b)""",

    // Ladder twin: q122's three numeric rungs, then the two column-
    // suppression rungs at width 2000 — counts always over the
    // remaining rows, released rows carry the starred values.
    "q132_k_anon_ladder" ->
      """WITH base AS (SELECT doc_id, lang, source, n_chars FROM documents),
         n1 AS (SELECT lang, source, n_chars // 100 * 100 AS cell, COUNT(*) AS n
                FROM base GROUP BY 1, 2, 3),
         j1 AS (SELECT b.*, n1.n FROM base b
                JOIN n1 ON b.lang = n1.lang AND b.source = n1.source
                       AND b.n_chars // 100 * 100 = n1.cell),
         r1 AS (SELECT doc_id, lang, source,
                       CAST(n_chars // 100 * 100 AS BIGINT) AS bucket_lo,
                       CAST(100 AS BIGINT) AS bucket_width
                FROM j1 WHERE n >= 5),
         rem1 AS (SELECT doc_id, lang, source, n_chars FROM j1 WHERE n < 5),
         n2 AS (SELECT lang, source, n_chars // 500 * 500 AS cell, COUNT(*) AS n
                FROM rem1 GROUP BY 1, 2, 3),
         j2 AS (SELECT b.*, n2.n FROM rem1 b
                JOIN n2 ON b.lang = n2.lang AND b.source = n2.source
                       AND b.n_chars // 500 * 500 = n2.cell),
         r2 AS (SELECT doc_id, lang, source,
                       CAST(n_chars // 500 * 500 AS BIGINT) AS bucket_lo,
                       CAST(500 AS BIGINT) AS bucket_width
                FROM j2 WHERE n >= 5),
         rem2 AS (SELECT doc_id, lang, source, n_chars FROM j2 WHERE n < 5),
         n3 AS (SELECT lang, source, n_chars // 2000 * 2000 AS cell, COUNT(*) AS n
                FROM rem2 GROUP BY 1, 2, 3),
         j3 AS (SELECT b.*, n3.n FROM rem2 b
                JOIN n3 ON b.lang = n3.lang AND b.source = n3.source
                       AND b.n_chars // 2000 * 2000 = n3.cell),
         r3 AS (SELECT doc_id, lang, source,
                       CAST(n_chars // 2000 * 2000 AS BIGINT) AS bucket_lo,
                       CAST(2000 AS BIGINT) AS bucket_width
                FROM j3 WHERE n >= 5),
         rem3 AS (SELECT doc_id, lang, source, n_chars FROM j3 WHERE n < 5),
         n4 AS (SELECT lang, n_chars // 2000 * 2000 AS cell, COUNT(*) AS n
                FROM rem3 GROUP BY 1, 2),
         j4 AS (SELECT b.*, n4.n FROM rem3 b
                JOIN n4 ON b.lang = n4.lang
                       AND b.n_chars // 2000 * 2000 = n4.cell),
         r4 AS (SELECT doc_id, lang, '*' AS source,
                       CAST(n_chars // 2000 * 2000 AS BIGINT) AS bucket_lo,
                       CAST(2000 AS BIGINT) AS bucket_width
                FROM j4 WHERE n >= 5),
         rem4 AS (SELECT doc_id, lang, source, n_chars FROM j4 WHERE n < 5),
         n5 AS (SELECT n_chars // 2000 * 2000 AS cell, COUNT(*) AS n
                FROM rem4 GROUP BY 1),
         j5 AS (SELECT b.*, n5.n FROM rem4 b
                JOIN n5 ON b.n_chars // 2000 * 2000 = n5.cell),
         r5 AS (SELECT doc_id, '*' AS lang, '*' AS source,
                       CAST(n_chars // 2000 * 2000 AS BIGINT) AS bucket_lo,
                       CAST(2000 AS BIGINT) AS bucket_width
                FROM j5 WHERE n >= 5)
       SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
       UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r5""",

    // the bucketed layout is a PHYSICAL property — the logical answer
    // is the plain join+agg
    "q42_bucketed_join" ->
      """SELECT o_orderpriority,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
           * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
           AS revenue,
         COUNT(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",
    "q43_bucketed_agg" ->
      """SELECT l_orderkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
           * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
           AS revenue,
         COUNT(*) AS n_items
         FROM lineitem GROUP BY l_orderkey""",
    "q01_pruned_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",
    "q02_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
         strftime(o_orderdate, '%Y-%m-%d') AS o_date
         FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q03_join_agg" ->
      """SELECT n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_items
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         GROUP BY n_name""",
    "q04_broadcast_join" ->
      """SELECT p_brand,
         CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
         COUNT(DISTINCT l_partkey) AS n_parts,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""",
    "q05_semi_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
         FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_mktsegment""",
    "q06_anti_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers
         FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_mktsegment""",
    "q07_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) t WHERE rn <= 3""",
    "q08_dedup_keepfirst" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS rn
           FROM lineitem) t WHERE rn = 1""",
    "q09_union_priority_dedup" ->
      """SELECT l_orderkey, l_partkey, l_linenumber FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY src_priority, l_linenumber, l_partkey) AS rn
           FROM (
             SELECT l_orderkey, l_partkey, l_linenumber, 0 AS src_priority FROM lineitem WHERE l_linenumber <= 2
             UNION ALL
             SELECT l_orderkey, l_partkey, l_linenumber, 1 AS src_priority FROM lineitem WHERE l_linenumber >= 2
           ) u) t WHERE rn = 1""",
    "q10_intersect" ->
      """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
         INTERSECT
         SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier""",
    "q11_except" ->
      """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
         EXCEPT
         SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier""",
    "q12_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)""",
    "q13_exists_subquery" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
         FROM orders WHERE EXISTS (
           SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
         GROUP BY o_orderpriority""",
    "q14_scalar_fns" ->
      """SELECT p_partkey,
         UPPER(p_brand) AS brand_uc,
         LENGTH(p_name) AS name_len,
         SUBSTRING(p_type, 1, 5) AS type_pfx,
         CASE WHEN p_size >= 25 THEN 'large' WHEN p_size >= 10 THEN 'medium' ELSE 'small' END AS size_class,
         CAST(CAST(p_retailprice AS DECIMAL(18,4)) * CAST(2 AS DECIMAL(18,4)) AS DOUBLE) AS double_price,
         p_brand || '|' || p_type AS brand_type
         FROM part WHERE p_partkey % 7 = 0""",
    "q15_time_bucket" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         event_type, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
         COUNT(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1, 2""",
    "q16_cast_project" ->
      """SELECT event_id, CAST(user_id AS INT) AS user_i,
         CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS value_s,
         strftime(ts, '%Y-%m-%d') AS day, event_type
         FROM events WHERE event_id % 10 = 0""",
    "q17_full_outer" ->
      """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
         COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
         FROM (SELECT CAST(c_nationkey AS INT) AS nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
         FULL OUTER JOIN (SELECT CAST(s_nationkey AS INT) AS nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
         ON c.nationkey = s.nationkey""",
    "q18_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
         CAST(SUM(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
         FROM lineitem WHERE l_suppkey <= 20""",
    "q29_cube" ->
      """SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
         CAST(GROUPING(c_mktsegment, o_orderpriority) AS BIGINT) AS gid
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY CUBE (c_mktsegment, o_orderpriority)""",
    "q30_pivot" ->
      """SELECT o_orderpriority,
         COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
         COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
         COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
         FROM orders GROUP BY o_orderpriority""",
    "q31_percentiles" ->
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.5) AS p50_qty,
         quantile_cont(l_extendedprice, 0.9) AS p90_price,
         COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag""",
    "q35_sessionize" ->
      """WITH marked AS (
           SELECT user_id, event_id, ts, value,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30 * 60 * 1000000
                  THEN 1 ELSE 0 END AS is_new
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sessions AS (
           SELECT user_id, event_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_idx
           FROM marked)
       SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, COUNT(*) AS n_events,
         strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
       FROM sessions GROUP BY user_id, session_idx""",
    "q37_salted_join" ->
      """SELECT l.l_suppkey, s.s_name, COUNT(*) AS n_items,
         CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
         GROUP BY 1, 2""",
    "q50_asof_join" ->
      """SELECT l.event_id, l.user_id,
         strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
         strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS err_ts,
         r.err_value
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click') l
         ASOF LEFT JOIN (SELECT user_id, ts, MAX(value) AS err_value
               FROM events WHERE event_type = 'error' GROUP BY 1, 2) r
         ON l.user_id = r.user_id AND l.ts >= r.ts""",
    "q51_range_join" ->
      """SELECT e.event_id AS err_id, COUNT(c.event_id) AS n_clicks,
         strftime(MIN(c.ts), '%Y-%m-%d %H:%M:%S') AS first_click
         FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') e
         LEFT JOIN (SELECT event_id, ts FROM events WHERE event_type = 'click') c
         ON c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 10 MINUTE
         GROUP BY 1""",
    "q52_bloom_join" ->
      """SELECT p.p_size, COUNT(*) AS n_items,
         CAST(SUM(l.l_quantity) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE p.p_brand = 'Brand#13'
         GROUP BY 1""",
    // the z-order layout is physical; the logical answer is the plain
    // filtered aggregate over the same rows
    "q54_zorder_scan" ->
      """SELECT event_type, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
         MIN(ts) AS first_ts
         FROM events
         WHERE user_id BETWEEN 3 AND 9 AND value BETWEEN 10.0 AND 60.0
         GROUP BY 1""",
    "q55_star_join" ->
      """SELECT n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
           * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
           AS revenue,
         COUNT(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY 1""",
    "q56_rolling_window" ->
      """SELECT event_id, user_id,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
         COUNT(*) OVER w AS n_1h,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id
           ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""",
    // the manifest prune is file-granular and semantically invisible;
    // the logical answer is the plain filtered aggregate
    "q57_manifest_scan" ->
      """SELECT event_type, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
         strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
         strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
         FROM events
         WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
           AND TIMESTAMP '2024-01-12 23:59:59'
         GROUP BY 1""",
    // same closed form over the same exact decimal moments — NOT the
    // builtin corr(), whose streaming co-moments are order-sensitive
    "q61_corr" ->
      """WITH m AS (
           SELECT l_returnflag, COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(38,8))) AS sx,
             SUM(CAST(l_discount AS DECIMAL(38,8))) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,8)) * CAST(l_quantity AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS sxx,
             CAST(SUM(CAST(l_discount AS DECIMAL(38,8)) * CAST(l_discount AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,8)) * CAST(l_discount AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS sxy
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n,
           round(
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
             AS corr_qty_disc
         FROM m""",
    // Quantile-sketch twin: the per-day sketch table is a PHYSICAL
    // artifact; merging its per-day integer bin counts is exactly
    // counting over all rows, so the logical answer is the same
    // fixed-bin histogram percentile computed directly — same exact
    // min/max range, same double bin arithmetic, same
    // first-bin-reaching-q×total upper edge.
    "q64_daily_quantile_sketch" ->
      """WITH b AS (
           SELECT CAST(MIN(value) AS DOUBLE) AS lo,
                  CAST(MAX(value) AS DOUBLE) AS hi FROM events),
         binned AS (
           SELECT event_type,
             CAST(least(greatest(floor((CAST(value AS DOUBLE) - lo)
               / ((hi - lo) / 256)), 0), 255) AS INT) AS pos
           FROM events, b),
         cnt AS (
           SELECT event_type, pos, COUNT(*) AS c FROM binned GROUP BY 1, 2),
         cum AS (
           SELECT event_type, pos,
             SUM(c) OVER (PARTITION BY event_type ORDER BY pos) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS tot
           FROM cnt),
         sel AS (
           SELECT event_type,
             MIN(CASE WHEN cum >= 0.5 * tot THEN pos END) AS b50,
             MIN(CASE WHEN cum >= 0.9 * tot THEN pos END) AS b90,
             MAX(tot) AS n
           FROM cum GROUP BY 1)
       SELECT event_type,
         round(lo + (b50 + 1) * ((hi - lo) / 256), 9) + 0.0 AS p50_value,
         round(lo + (b90 + 1) * ((hi - lo) / 256), 9) + 0.0 AS p90_value,
         CAST(n AS BIGINT) AS n
       FROM sel, b""",
    // Attribution twin: the same interval self-join; lag in whole
    // seconds via floored epochs (Spark's unix_timestamp truncates
    // sub-second parts the same way).
    "q66_funnel_attribution" ->
      """SELECT c.user_id,
                c.event_id AS cause_id, e.event_id AS effect_id,
                strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS cause_ts,
                strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS effect_ts,
                CAST(floor(epoch(e.ts)) - floor(epoch(c.ts)) AS BIGINT)
                  AS lag_seconds
         FROM events c JOIN events e
           ON c.user_id = e.user_id
          AND e.ts >= c.ts
          AND e.ts <= c.ts + INTERVAL 30 MINUTE
         WHERE c.event_type = 'click' AND e.event_type = 'purchase'""",
    // Sessionization twin: same lag + boundary-sum islands, same
    // floored-epoch gap arithmetic, same (ts, event_id) total order.
    "q69_sessionize" ->
      """WITH l AS (
           SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
           FROM events),
         f AS (
           SELECT *, CASE WHEN pts IS NULL
                            OR floor(epoch(ts)) - floor(epoch(pts)) > 1800
                          THEN 1 ELSE 0 END AS ns
           FROM l),
         s AS (
           SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS sid
           FROM f)
       SELECT user_id, CAST(sid AS INT) AS session_idx,
         strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
       FROM s GROUP BY user_id, sid""",
    // Pivot twin: conditional aggregation — the portable form of PIVOT.
    "q70_pivot" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS click,
         CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS error,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS purchase,
         CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS signup,
         CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS view
         FROM events GROUP BY 1""",
    "q72_cube" ->
      """SELECT c_mktsegment, n_name, COUNT(*) AS n_cust,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY CUBE (c_mktsegment, n_name)""",
    "q73_window_ranks" ->
      """SELECT o_orderkey, o_orderpriority,
         CAST(ntile(4) OVER w AS INT) AS quartile,
         round(percent_rank() OVER w, 9) + 0.0 AS pct_rank,
         round(cume_dist() OVER w, 9) + 0.0 AS cume
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice DESC, o_orderkey)""",
    // Expectations twin: each rule recomputed as a scalar subquery —
    // rule-name strings match the operator's generated names exactly.
    "q74_expectations" ->
      """WITH n AS (SELECT COUNT(*) AS n_rows FROM lineitem)
         SELECT 'not_null(l_shipdate)' AS rule,
           (SELECT COUNT(*) FROM lineitem WHERE l_shipdate IS NULL) AS violations,
           n_rows FROM n
         UNION ALL
         SELECT 'in_range(l_quantity,1.0,50.0)',
           (SELECT COUNT(*) FROM lineitem
            WHERE l_quantity IS NULL OR l_quantity < 1.0 OR l_quantity > 50.0),
           n_rows FROM n
         UNION ALL
         SELECT 'in_range(l_discount,0.0,0.05)',
           (SELECT COUNT(*) FROM lineitem
            WHERE l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.05),
           n_rows FROM n
         UNION ALL
         SELECT 'matches(l_returnflag)',
           (SELECT COUNT(*) FROM lineitem
            WHERE l_returnflag IS NOT NULL
              AND NOT regexp_matches(l_returnflag, '^[ANR]$')),
           n_rows FROM n
         UNION ALL
         SELECT 'unique(l_orderkey,l_linenumber)',
           (SELECT COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
            FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL),
           n_rows FROM n
         UNION ALL
         SELECT 'unique(l_orderkey)',
           (SELECT COUNT(*) - COUNT(DISTINCT l_orderkey) FROM lineitem
            WHERE l_orderkey IS NOT NULL),
           n_rows FROM n""",
    // CDC twin: the same change batch, latest-seq compaction, delete
    // filter, and key anti-join.
    "q75_cdc_apply" ->
      """WITH changes AS (
           SELECT o_orderkey, o_custkey, o_orderstatus,
                  o_totalprice + 999.0 AS o_totalprice, o_orderdate,
                  o_orderpriority, 'U' AS op, 1 AS seq
           FROM orders WHERE o_orderkey % 100 = 0
           UNION ALL
           SELECT o_orderkey, o_custkey, o_orderstatus,
                  o_totalprice + 1000.0, o_orderdate, o_orderpriority, 'U', 2
           FROM orders WHERE o_orderkey % 100 = 0
           UNION ALL
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                  o_orderdate, o_orderpriority, 'D', 1
           FROM orders WHERE o_orderkey % 97 = 0
           UNION ALL
           SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
                  o_totalprice, o_orderdate, o_orderpriority, 'I', 1
           FROM orders WHERE o_orderkey % 500 = 0),
         latest AS (
           SELECT * FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
               ORDER BY seq DESC) AS rn
             FROM changes) t WHERE rn = 1)
       SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
              o_orderdate, o_orderpriority
       FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
       UNION ALL
       SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
              o_orderdate, o_orderpriority
       FROM latest WHERE op != 'D'""",

    // JSON path extraction + exact integer aggregates; NULL k (absent
    // or unparsable) is excluded from count(k)/sum/min/max in both
    // engines by SQL NULL semantics.
    "q79_json_extract" ->
      """WITH e AS (
           SELECT event_type,
                  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
           FROM events)
         SELECT event_type, COUNT(*) AS n_events, COUNT(k) AS n_with_k,
                CAST(SUM(k) AS BIGINT) AS sum_k,
                MIN(k) AS min_k, MAX(k) AS max_k,
                COUNT(CASE WHEN k > 50 THEN 1 END) AS n_high
         FROM e GROUP BY event_type""",

    // Densified hourly series: the generated hour spine × type set,
    // left-joined to the q15-style hourly aggregate, gaps as zeros.
    "q80_gapfill" ->
      """WITH b AS (SELECT date_trunc('hour', MIN(ts)) AS lo,
                           date_trunc('hour', MAX(ts)) AS hi FROM events),
              hs AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
                     FROM b),
              spine AS (
                SELECT et.event_type, hs.h
                FROM (SELECT DISTINCT event_type FROM events) et CROSS JOIN hs),
              hourly AS (
                SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n,
                       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv
                FROM events GROUP BY 1, 2)
         SELECT s.event_type, strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour,
                COALESCE(n, 0) AS n_events, COALESCE(sv, 0.0) AS sum_value
         FROM spine s
         LEFT JOIN hourly hr ON hr.event_type = s.event_type AND hr.h = s.h""",

    // Cohort retention: first-seen day per user, distinct users per
    // (cohort, day offset) — all-integer date arithmetic.
    "q81_retention" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
              f AS (SELECT user_id, MIN(day) AS cohort FROM d GROUP BY user_id)
         SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
                CAST(d.day - f.cohort AS BIGINT) AS day_offset,
                COUNT(DISTINCT d.user_id) AS n_users
         FROM d JOIN f USING (user_id) GROUP BY 1, 2""",

    "q82_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
                CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
                CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
                CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_linestatus), ())""",

    // Unpivot twin: the UNION ALL long form IS the semantics of melt.
    "q84_unpivot" ->
      """WITH m AS (
           SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS val
           FROM lineitem
           UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice
           FROM lineitem
           UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
           UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
         SELECT l_returnflag, metric, COUNT(*) AS n_rows,
                CAST(SUM(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
         FROM m GROUP BY l_returnflag, metric""",

    // The salted two-stage plan is answer-identical to the naive
    // per-type distinct — the oracle IS the naive form.
    "q86_salted_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
                COUNT(*) AS n_events
         FROM events GROUP BY event_type""",

    // Windowed-dedup twin: same floored-epoch bucket, same
    // (ts, event_id) total order, same rn = 1 cut.
    "q87_window_dedup" ->
      """SELECT event_id, user_id, event_type, CAST(b AS BIGINT) AS bucket
         FROM (
           SELECT event_id, user_id, event_type,
             FLOOR(FLOOR(epoch(ts)) / 600) AS b,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type, FLOOR(FLOOR(epoch(ts)) / 600)
               ORDER BY ts, event_id) AS rn
           FROM events) WHERE rn = 1""",

    // The partitioned layout is PHYSICAL — the logical answer is the
    // plain date-range filter + aggregate over the raw table.
    "q89_partition_prune" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
                COUNT(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events
         WHERE CAST(ts AS DATE) <= (SELECT MIN(CAST(ts AS DATE)) FROM events) + 2
         GROUP BY 1, 2""",

    // Diff twin: rebuild both snapshots from the same transforms, full
    // outer join, classify — double arithmetic (+1000.0 / +5.0) is
    // bit-identical in both engines.
    "q90_snapshot_diff" ->
      """WITH oldt AS (SELECT o_orderkey, o_totalprice FROM orders),
            surv AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1000.0
                          ELSE o_totalprice END AS o_totalprice
              FROM oldt WHERE o_orderkey % 97 <> 0),
            ins AS (
              SELECT o_orderkey + 10000000 AS o_orderkey,
                     o_totalprice + 5.0 AS o_totalprice
              FROM oldt WHERE o_orderkey % 500 = 0),
            newt AS (SELECT * FROM surv UNION ALL SELECT * FROM ins)
         SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                CASE WHEN o.o_orderkey IS NULL THEN 'I'
                     WHEN n.o_orderkey IS NULL THEN 'D'
                     ELSE 'U' END AS op,
                COALESCE(n.o_totalprice, o.o_totalprice) AS o_totalprice
         FROM oldt o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey
         WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
            OR o.o_totalprice <> n.o_totalprice""",

    // DPP twin: the three smallest distinct days, by value — the
    // partitioned layout and the runtime pruning are physical only.
    "q91_dpp" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
                COUNT(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events
         WHERE CAST(ts AS DATE) IN (
           SELECT d FROM (SELECT DISTINCT CAST(ts AS DATE) AS d
                          FROM events ORDER BY d LIMIT 3))
         GROUP BY 1, 2""",

    // md5-CMS twin: same bucket hash (first 8 md5 hex chars of
    // "r:item", base-16, mod 512), same depth-4 min-of-cells probe —
    // cells are deterministic integer counts, so summing per-day cells
    // in the Spark plan ≡ counting directly here.
    "q95_cms_md5" ->
      """WITH cells AS (
           SELECT event_type, r.r,
                  ('0x' || substr(md5(r.r || ':' || user_id), 1, 8))::BIGINT % 512 AS bucket,
                  COUNT(*) AS cnt
           FROM events, range(4) r(r)
           GROUP BY 1, 2, 3),
         probes AS (
           SELECT et.event_type, u.user_id, r.r,
                  ('0x' || substr(md5(r.r || ':' || u.user_id), 1, 8))::BIGINT % 512 AS bucket
           FROM (SELECT DISTINCT event_type FROM events) et,
                range(10) u(user_id), range(4) r(r)),
         est AS (
           SELECT p.event_type, p.user_id,
                  MIN(COALESCE(c.cnt, 0)) AS est_events
           FROM probes p
           LEFT JOIN cells c ON c.event_type = p.event_type
                            AND c.r = p.r AND c.bucket = p.bucket
           GROUP BY 1, 2),
         nd AS (SELECT event_type, COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
                FROM events GROUP BY 1)
         SELECT e.event_type, e.user_id, nd.n_days, e.est_events
         FROM est e JOIN nd USING (event_type)""",

    // sparse-HLL twin: in the sparse regime the merged sketch is the
    // exact distinct hash set, so the estimate is plain COUNT(DISTINCT)
    // and day-sketch counting is distinct-day counting.
    "q96_hll_sparse" ->
      """SELECT event_type,
                COUNT(DISTINCT user_id) AS distinct_users,
                COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
         FROM events GROUP BY event_type""",

    // exact-percentile twin: the same ⌈q·n⌉ rank over the same
    // ascending value order (the selection algorithm is physical only)
    "q100_exact_percentile" ->
      """WITH ranked AS (
           SELECT event_type, value,
                  ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY value, event_id) AS rn,
                  COUNT(*) OVER (PARTITION BY event_type) AS n
           FROM events)
         SELECT event_type,
                MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS p50,
                MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN value END) AS p90
         FROM ranked GROUP BY event_type""",

    // OHLC twin: the same (ts, event_id) total order picks the same
    // open/close rows; decimal sum matches dsum.
    "q102_ohlc_downsample" ->
      """WITH ranked AS (
           SELECT event_type, CAST(ts AS DATE) AS day, value,
                  ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                    ORDER BY ts ASC, event_id ASC) AS ra,
                  ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                    ORDER BY ts DESC, event_id DESC) AS rd
           FROM events)
         SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
                MAX(CASE WHEN ra = 1 THEN value END) AS open,
                MAX(CASE WHEN rd = 1 THEN value END) AS close,
                MAX(value) AS high, MIN(value) AS low,
                CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
                COUNT(*) AS n_events
         FROM ranked GROUP BY 1, 2""",

    // Streaks twin: identical anchor construction (date − rn is exact
    // date arithmetic in both engines), identical (len desc, start
    // asc) total order for the rank-1 pick.
    "q103_activity_streaks" ->
      """WITH days AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         rn AS (
           SELECT user_id, day,
                  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
           FROM days),
         islands AS (
           SELECT user_id, day - CAST(rn AS INTEGER) AS anchor,
                  COUNT(*) AS len, MIN(day) AS start
           FROM rn GROUP BY 1, 2),
         best AS (
           SELECT user_id, len, start,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY len DESC, start ASC) AS r,
                  COUNT(*) OVER (PARTITION BY user_id) AS n_streaks
           FROM islands)
         SELECT user_id, len AS longest_streak,
                strftime(start, '%Y-%m-%d') AS streak_start, n_streaks
         FROM best WHERE r = 1""",

    // PageRank twin: the scaled-integer recurrence unrolled (3
    // iterations), HUGEINT where Spark takes the DECIMAL(38,0) detour
    // — both are exact integer arithmetic, so ranks match bit-for-bit.
    "q104_pagerank" ->
      """WITH p AS (
           SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                           'p' || CAST(l_partkey AS VARCHAR) AS dst
           FROM lineitem),
         edges AS (
           SELECT src, dst FROM p
           UNION ALL
           SELECT dst AS src, src AS dst FROM p),
         nodes AS (SELECT DISTINCT src AS node FROM edges),
         nn AS (SELECT COUNT(*) AS n FROM nodes),
         w AS (SELECT src, 1000000000000000000 // COUNT(*) AS w
               FROM edges GROUP BY src),
         r0 AS (SELECT node, 1000000000000000000 // (SELECT n FROM nn) AS r
                FROM nodes),
         c1 AS (SELECT e.dst AS node,
                       SUM(CAST(r.r AS HUGEINT) * w.w // 1000000000000000000) AS m
                FROM edges e JOIN r0 r ON e.src = r.node JOIN w ON e.src = w.src
                GROUP BY 1),
         r1 AS (SELECT nd.node,
                       CAST(3000000000000000000 // (20 * (SELECT n FROM nn))
                            + 17 * COALESCE(c.m, 0) // 20 AS BIGINT) AS r
                FROM nodes nd LEFT JOIN c1 c ON nd.node = c.node),
         c2 AS (SELECT e.dst AS node,
                       SUM(CAST(r.r AS HUGEINT) * w.w // 1000000000000000000) AS m
                FROM edges e JOIN r1 r ON e.src = r.node JOIN w ON e.src = w.src
                GROUP BY 1),
         r2 AS (SELECT nd.node,
                       CAST(3000000000000000000 // (20 * (SELECT n FROM nn))
                            + 17 * COALESCE(c.m, 0) // 20 AS BIGINT) AS r
                FROM nodes nd LEFT JOIN c2 c ON nd.node = c.node),
         c3 AS (SELECT e.dst AS node,
                       SUM(CAST(r.r AS HUGEINT) * w.w // 1000000000000000000) AS m
                FROM edges e JOIN r2 r ON e.src = r.node JOIN w ON e.src = w.src
                GROUP BY 1),
         r3 AS (SELECT nd.node,
                       CAST(3000000000000000000 // (20 * (SELECT n FROM nn))
                            + 17 * COALESCE(c.m, 0) // 20 AS BIGINT) AS r
                FROM nodes nd LEFT JOIN c3 c ON nd.node = c.node)
         SELECT node, r AS rank_scaled FROM r3""",

    // ORC twin reads the parquet ORIGINAL — matching hashes prove the
    // cross-format copy is value-exact.
    "q106_orc_scan" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
                COUNT(*) AS n_events
         FROM events
         WHERE event_type = 'purchase' AND value > 100.0
         GROUP BY 1""",

    // Interval-join twin: identical session/incident construction
    // (floor(epoch) seconds, ROWS frame, same total order), then a
    // plain overlap-predicate join — the oracle needs no bins.
    "q107_interval_join" ->
      """WITH e AS (
           SELECT user_id, event_id,
                  CAST(floor(epoch(ts)) AS BIGINT) AS s
           FROM events),
         g AS (
           SELECT user_id, event_id, s,
                  CASE WHEN lag(s) OVER w IS NULL
                         OR s - lag(s) OVER w > 1800 THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
         sid AS (
           SELECT user_id, s,
                  SUM(brk) OVER (PARTITION BY user_id ORDER BY s, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM g),
         sess AS (
           SELECT user_id, MIN(s) AS s_start, MAX(s) AS s_end
           FROM sid GROUP BY user_id, sid),
         hr AS (
           SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h, COUNT(*) AS c
           FROM events WHERE event_type = 'error'
           GROUP BY 1 HAVING COUNT(*) >= 5),
         isl AS (
           SELECT h, h - ROW_NUMBER() OVER (ORDER BY h) AS anch FROM hr),
         inc AS (
           SELECT MIN(h) * 3600 AS i_start, MAX(h) * 3600 + 3599 AS i_end
           FROM isl GROUP BY anch)
         SELECT s.user_id, s.s_start, s.s_end, i.i_start, i.i_end,
                LEAST(s.s_end, i.i_end) - GREATEST(s.s_start, i.i_start)
                  AS overlap_secs
         FROM sess s JOIN inc i
           ON s.s_start <= i.i_end AND i.i_start <= s.s_end""",

    // PPR twin: q104's unrolled HUGEINT recurrence with the teleport
    // profile (base, r0) carried per node — zero off the seed set.
    "q108_ppr" ->
      """WITH p AS (
           SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                           'p' || CAST(l_partkey AS VARCHAR) AS dst
           FROM lineitem),
         edges AS (
           SELECT src, dst FROM p
           UNION ALL
           SELECT dst AS src, src AS dst FROM p),
         nodes AS (SELECT DISTINCT src AS node FROM edges),
         sg AS (
           SELECT 's' || CAST(l_suppkey AS VARCHAR) AS node
           FROM (SELECT DISTINCT l_suppkey FROM lineitem
                 ORDER BY l_suppkey LIMIT 5)),
         kk AS (SELECT COUNT(*) AS k FROM sg),
         w AS (SELECT src, 1000000000000000000 // COUNT(*) AS w
               FROM edges GROUP BY src),
         prof AS (
           SELECT n.node,
                  CASE WHEN s.node IS NULL THEN 0
                       ELSE 3000000000000000000 // (20 * (SELECT k FROM kk))
                  END AS base,
                  CASE WHEN s.node IS NULL THEN 0
                       ELSE 1000000000000000000 // (SELECT k FROM kk)
                  END AS r0
           FROM nodes n LEFT JOIN sg s USING (node)),
         c1 AS (SELECT e.dst AS node,
                       SUM(CAST(r.r0 AS HUGEINT) * w.w // 1000000000000000000) AS m
                FROM edges e JOIN prof r ON e.src = r.node JOIN w ON e.src = w.src
                GROUP BY 1),
         r1 AS (SELECT pr.node,
                       CAST(pr.base + 17 * COALESCE(c.m, 0) // 20 AS BIGINT) AS r
                FROM prof pr LEFT JOIN c1 c ON pr.node = c.node),
         c2 AS (SELECT e.dst AS node,
                       SUM(CAST(r.r AS HUGEINT) * w.w // 1000000000000000000) AS m
                FROM edges e JOIN r1 r ON e.src = r.node JOIN w ON e.src = w.src
                GROUP BY 1),
         r2 AS (SELECT pr.node,
                       CAST(pr.base + 17 * COALESCE(c.m, 0) // 20 AS BIGINT) AS r
                FROM prof pr LEFT JOIN c2 c ON pr.node = c.node),
         c3 AS (SELECT e.dst AS node,
                       SUM(CAST(r.r AS HUGEINT) * w.w // 1000000000000000000) AS m
                FROM edges e JOIN r2 r ON e.src = r.node JOIN w ON e.src = w.src
                GROUP BY 1),
         r3 AS (SELECT pr.node,
                       CAST(pr.base + 17 * COALESCE(c.m, 0) // 20 AS BIGINT) AS r
                FROM prof pr LEFT JOIN c3 c ON pr.node = c.node)
         SELECT node, r AS rank_scaled FROM r3""",

    // Overlap twin: direct exact distinct intersections — equals the
    // sketch-algebra answer exactly while the sketches stay sparse.
    "q109_audience_overlap" ->
      """WITH d AS (
           SELECT DISTINCT event_type AS t, user_id FROM events),
         c AS (SELECT t, COUNT(*) AS n FROM d GROUP BY 1),
         o AS (
           SELECT a.t AS t1, b.t AS t2, COUNT(*) AS ov
           FROM d a JOIN d b ON a.user_id = b.user_id AND a.t < b.t
           GROUP BY 1, 2)
         SELECT c1.t AS type_a, c2.t AS type_b,
                c1.n AS users_a, c2.n AS users_b,
                COALESCE(o.ov, 0) AS overlap_users
         FROM c c1 JOIN c c2 ON c1.t < c2.t
         LEFT JOIN o ON o.t1 = c1.t AND o.t2 = c2.t""",

    // MAD twin: the q100 ranked-median construction applied twice —
    // identical ⌈q·n⌉ ranks, identical IEEE deviation/threshold math.
    "q110_mad_outliers" ->
      """WITH e AS (SELECT event_id, event_type, value FROM events),
         r1 AS (
           SELECT event_type, value,
                  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) rn,
                  COUNT(*) OVER (PARTITION BY event_type) n
           FROM e),
         med AS (
           SELECT event_type,
                  MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                      THEN value END) AS med
           FROM r1 GROUP BY 1),
         d AS (
           SELECT e.event_id, e.event_type, e.value, m.med,
                  ABS(e.value - m.med) AS ad
           FROM e JOIN med m USING (event_type)),
         r2 AS (
           SELECT event_type, ad,
                  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ad) rn,
                  COUNT(*) OVER (PARTITION BY event_type) n
           FROM d),
         mad AS (
           SELECT event_type,
                  MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                      THEN ad END) AS mad
           FROM r2 GROUP BY 1)
         SELECT d.event_id, d.event_type, d.value, d.med, ma.mad
         FROM d JOIN mad ma USING (event_type)
         WHERE d.ad > 5.0 * ma.mad""",

    // A/B twin: identical exact counts, identical IEEE division order.
    "q111_ab_test" ->
      """WITH u AS (
           SELECT user_id, user_id % 2 AS arm,
                  MAX(CASE WHEN event_type = 'purchase' AND value > 100.0
                      THEN 1 ELSE 0 END) AS conv
           FROM events GROUP BY 1),
         a AS (
           SELECT
             SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_control,
             SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS x_control,
             SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_treat,
             SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS x_treat
           FROM u)
         SELECT CAST(n_control AS BIGINT) AS n_control,
                CAST(x_control AS BIGINT) AS x_control,
                CAST(n_treat AS BIGINT) AS n_treat,
                CAST(x_treat AS BIGINT) AS x_treat,
                ROUND(CAST(x_control AS DOUBLE) / n_control, 9) AS p_control,
                ROUND(CAST(x_treat AS DOUBLE) / n_treat, 9) AS p_treat,
                CASE WHEN x_control + x_treat > 0
                      AND x_control + x_treat < n_control + n_treat
                 THEN ROUND(
                  (CAST(x_treat AS DOUBLE) / n_treat
                     - CAST(x_control AS DOUBLE) / n_control)
                  * (CAST(x_treat AS DOUBLE) / n_treat
                     - CAST(x_control AS DOUBLE) / n_control)
                  / ((CAST(x_control + x_treat AS DOUBLE) / (n_control + n_treat))
                     * (1.0 - CAST(x_control + x_treat AS DOUBLE) / (n_control + n_treat))
                     * (1.0 / n_control + 1.0 / n_treat)), 9)
                 END AS z2
         FROM a""",

    // Trend twin: identical integer moments, identical IEEE division.
    "q112_trend_slope" ->
      """WITH daily AS (
           SELECT event_type,
                  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
                  COUNT(*) AS y
           FROM events GROUP BY 1, 2),
         m AS (
           SELECT event_type, COUNT(*) AS n_days,
                  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                  CAST(SUM(x * y) AS BIGINT) AS sxy,
                  CAST(SUM(x * x) AS BIGINT) AS sxx
           FROM daily GROUP BY 1)
         SELECT event_type, n_days, sy AS n_events,
                ROUND(CAST(n_days * sxy - sx * sy AS DOUBLE) /
                      CAST(n_days * sxx - sx * sx AS DOUBLE), 9)
                  AS slope_per_day
         FROM m""",

    // Edit-distance twin: the oracle brute-forces the pair space —
    // levenshtein is the same classic unit-cost recurrence in both
    // engines, so the blocked join must reproduce it exactly.
    "q113_edit_distance_join" ->
      """WITH t AS (
           SELECT doc_id,
                  rpad(substring(lower(text), 1, 36), 36, ' ') AS title
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(levenshtein(a.title, b.title) AS INTEGER) AS distance
         FROM t a JOIN t b ON a.doc_id < b.doc_id
         WHERE levenshtein(a.title, b.title) <= 2""",

    // Markov twin: identical total order, identical successor, exact
    // counts, one IEEE division, round-9.
    "q115_markov_transitions" ->
      """WITH p AS (
           SELECT event_type AS from_type,
                  LEAD(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS to_type
           FROM events),
         c2 AS (
           SELECT from_type, to_type, COUNT(*) AS c
           FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
         c1 AS (SELECT from_type, SUM(c) AS c1 FROM c2 GROUP BY 1)
         SELECT c2.from_type, c2.to_type, c2.c,
                ROUND(CAST(c2.c AS DOUBLE) / c1.c1, 9) AS p
         FROM c2 JOIN c1 USING (from_type)""",

    // Binning twin: the q100 ranked-quantile construction for the
    // breakpoints, identical comparison boundaries.
    "q117_equal_freq_bins" ->
      """WITH r AS (
           SELECT event_type, value,
                  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) rn,
                  COUNT(*) OVER (PARTITION BY event_type) n
           FROM events),
         brk AS (
           SELECT event_type,
                  MAX(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
                      THEN value END) AS p25,
                  MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                      THEN value END) AS p50,
                  MAX(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
                      THEN value END) AS p75
           FROM r GROUP BY 1)
         SELECT e.event_type,
                CASE WHEN e.value <= b.p25 THEN 1
                     WHEN e.value <= b.p50 THEN 2
                     WHEN e.value <= b.p75 THEN 3
                     ELSE 4 END AS bucket,
                COUNT(*) AS n, MIN(e.value) AS lo, MAX(e.value) AS hi
         FROM events e JOIN brk b USING (event_type)
         GROUP BY 1, 2""",

    // k-anonymity twin: identical integer generalization and floor.
    "q118_k_anonymity" ->
      """SELECT lang, source, n_chars // 100 * 100 AS size_bucket,
                COUNT(*) AS n
         FROM documents
         GROUP BY 1, 2, 3
         HAVING COUNT(*) < 5"""
  )
}
