package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Driver contract — one `queries` entry per implemented operator from
 * SURVEY.md §2 (+ the LLM-pipeline extensions), each with an ANSI-SQL
 * oracle over the same parquet tables.
 *
 * Numeric discipline for oracle parity: aggregates over doubles go
 * through DECIMAL casts (exact, associative — safe under partial
 * aggregation in any order), and final columns are cast to
 * DOUBLE/BIGINT/STRING so Spark and DuckDB produce bit-identical values
 * and comparable schemas. Timestamps are emitted as formatted strings
 * (µs precision) to sidestep tz-encoding differences.
 */
object SparkEntry {
  private val D = DecimalType(18, 2)

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** µs-precision portable timestamp rendering. */
  private def fts(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Flagship query on sf=0.001: multi-join revenue per nation. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_revenue")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map[String, (SparkSession, String) => DataFrame](
    // ── Relational coverage (SURVEY §2.12 judge checklist) ─────────────
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast(D)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(D)).cast("double").as("sum_base_price"),
          sum(col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D)))
            .cast("double").as("sum_disc_price"),
          (sum(col("l_quantity").cast(D)).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q_join_revenue" -> ((s, dir) => {
      val lineitem = t(s, dir, "lineitem")
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation = broadcast(t(s, dir, "nation"))
      val region = broadcast(t(s, dir, "region"))
      lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D)))
               .cast("double").as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    "q_join_semi" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")),

    "q_join_anti" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").where(col("o_totalprice") > 400000),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")),

    "q_left_join" -> ((s, dir) => {
      val hi = t(s, dir, "orders").where(col("o_totalprice") > 400000)
        .groupBy("o_custkey").agg(count(lit(1)).as("n_big"),
          sum(col("o_totalprice").cast(D)).cast("double").as("big_total"))
      t(s, dir, "customer")
        .join(hi, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"),
          coalesce(col("n_big"), lit(0L)).as("n_big"),
          coalesce(col("big_total"), lit(0.0)).as("big_total"))
        .orderBy("c_custkey")
    }),

    "q_corr_subquery" -> ((s, dir) => {
      // customers above their market segment's average balance
      val segAvg = t(s, dir, "customer").groupBy(col("c_mktsegment").as("seg"))
        .agg((sum(col("c_acctbal").cast(D)).cast("double") / count(lit(1))).as("seg_avg"))
      t(s, dir, "customer")
        .join(broadcast(segAvg), col("c_mktsegment") === col("seg"))
        .where(col("c_acctbal") > col("seg_avg"))
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
                round(col("seg_avg"), 4).as("seg_avg"))
        .orderBy("c_custkey")
    }),

    "q_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice").limit(10)),

    "q_window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select("c_nationkey", "rk", "c_custkey", "c_acctbal")
        .orderBy("c_nationkey", "rk")
    }),

    "q_distinct" -> ((s, dir) =>
      t(s, dir, "customer").select("c_mktsegment").distinct().orderBy("c_mktsegment")),

    "q_intersect" -> ((s, dir) =>
      t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("custkey")))
        .orderBy("custkey")),

    "q_except" -> ((s, dir) =>
      t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
        .except(t(s, dir, "orders").where(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("custkey")))
        .orderBy("custkey")),

    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    "q_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
             sum(col("o_totalprice").cast(D)).cast("double").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
                 col("o_orderpriority").asc_nulls_first)),

    "q_scalar_funcs" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        length(col("p_name")).cast("long").as("name_len"),
        md5(col("p_name")).as("name_md5"),
        substring(col("p_type"), 1, 5).as("type_pfx"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"))
        .orderBy("p_partkey")),

    "q_filter_project" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1998-01-01") && col("l_quantity") > 30)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    "q_count_tables" -> ((s, dir) => {
      // r19: tag-and-union BEFORE aggregating — one shuffle of 10
      // partial-count rows instead of 10 independent two-stage global
      // aggregates (each with its own single-row exchange). Scans still
      // read zero columns (empty ReadSchema ⇒ footer-count batches);
      // per-table counts are the group counts of the constant tag.
      // r20: left-join the grouped counts against the static table list
      // so an EMPTY table still emits (tbl, 0) — the tag-then-groupBy
      // form alone emits no row for it, diverging from the oracle's
      // per-table `SELECT name, count(*)` (latent in testdata, where no
      // table is empty; pinned by CountTablesSpec's empty-dir fixture).
      val counted = Tables.all.map(n => t(s, dir, n).select(lit(n).as("tbl")))
        .reduce(_ unionAll _)
        .groupBy("tbl").agg(count(lit(1)).as("n"))
      s.createDataset(Tables.all)(org.apache.spark.sql.Encoders.STRING)
        .toDF("tbl")
        .join(counted, Seq("tbl"), "left")
        .select(col("tbl"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("tbl")
    }),

    // ── Reference surface: event-log queries (Q1/Q2) ──────────────────
    "q_events_window" -> ((s, dir) =>
      t(s, dir, "events")
        .where(col("ts") >= lit("2024-01-10") && col("ts") <= lit("2024-01-20"))
        .orderBy(col("ts").desc, col("event_id"))
        .select(col("event_id"), fts(col("ts")).as("ts_s"),
                col("user_id"), col("event_type"), col("value"))
        .offset(10).limit(50)),

    "q_events_latest" -> ((s, dir) =>
      t(s, dir, "events")
        .orderBy(col("ts").desc, col("event_id"))
        .select(col("event_id"), fts(col("ts")).as("ts_s"), col("event_type"))
        .limit(20)),

    // retention/archival view (EventInfo.IsArchived/CacheExpiry): uploads
    // roll off the hot cache cache_duration minutes after their upload
    // time; at the as-of instant (max ts — data-derived, deterministic)
    // expired uploads are flagged archived. Vault 0 has NO cache
    // duration → epoch-0 expiry, archived from the start (the reference
    // renders "(null)"-style rows for those). Newest-first, top 100.
    "q_events_expiry" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val uploads = ev.select((col("user_id") % 10).as("vault"),
        col("event_id"), col("ts"), unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      val vaultDims = (0L until 10L).map(b => (b, b * 1440L))
        .toDF("vault", "cache_duration")
      val asOf = ev.agg(max(unix_micros(col("ts").cast("timestamp"))).as("__asof"))
      graft.catalog.VaultCatalog.withArchivalStatus(
          uploads.crossJoin(broadcast(asOf)), vaultDims, col("__asof"))
        .orderBy(col("ts").desc, col("event_id"))
        .select(col("vault"), col("event_id"), fts(col("ts")).as("ts_s"),
          col("cache_expiry_us"), col("is_archived"))
        .limit(100)
    }),

    "q_catalog_groups" -> ((s, dir) =>
      t(s, dir, "events").groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
             min("event_id").as("first_event"),
             max("event_id").as("last_event"))
        .orderBy("event_type")),

    // semi-structured: JSON props column extraction + aggregation
    "q_json_props" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_with_k"),
             sum(col("k")).as("sum_k"),
             min(col("k")).as("min_k"),
             max(col("k")).as("max_k"))
        .orderBy("event_type")),

    "q_full_join" -> ((s, dir) => {
      // per-nation counts over deliberately disjoint-ish slices so both
      // sides contribute unmatched rows (null-filled by the full join)
      val cn = t(s, dir, "customer").where(col("c_custkey") < 100)
        .groupBy(col("c_nationkey").as("nk_c")).agg(count(lit(1)).as("n_cust"))
      val sn = t(s, dir, "supplier").where(col("s_suppkey") < 50)
        .groupBy(col("s_nationkey").as("nk_s")).agg(count(lit(1)).as("n_supp"))
      cn.join(sn, col("nk_c") === col("nk_s"), "full")
        .select(coalesce(col("nk_c"), col("nk_s")).cast("long").as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    }),

    "q_union" -> ((s, dir) =>
      t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
        .union(t(s, dir, "orders").where(col("o_totalprice") > 400000)
          .select(col("o_custkey").as("custkey")))
        .distinct()
        .orderBy("custkey")),

    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("gs_lineitem")
      s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n,
              |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
              |FROM gs_lineitem
              |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
              |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    }),

    "q_window_frames" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").where(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"), fts(col("o_orderdate")).as("od_s"),
          sum(col("o_totalprice").cast(D))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_total"),
          sum(col("o_totalprice").cast(D)).over(w.rowsBetween(-2, 0))
            .cast("double").as("mov_sum3"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q_pivot" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("o_totalprice").cast(D)).cast("double"))
        .withColumnRenamed("F", "f_total")
        .withColumnRenamed("O", "o_total")
        .withColumnRenamed("P", "p_total")
        .orderBy("o_orderpriority")),

    "q_explode_words" -> ((s, dir) =>
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(split(col("text"), " ")).as("word"))
        .where(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")).limit(50)),

    "q_string_agg" -> ((s, dir) =>
      t(s, dir, "customer").where(col("c_custkey") <= 200)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          array_join(array_sort(collect_list(col("c_name"))), ",").as("names"))
        .orderBy("c_nationkey")),

    "q_scalar_subquery" -> ((s, dir) => {
      val avgP = t(s, dir, "orders").agg(
        (sum(col("o_totalprice").cast(D)).cast("double") / count(lit(1))).as("avg_price"))
      t(s, dir, "orders").crossJoin(broadcast(avgP))
        .where(col("o_totalprice") > col("avg_price"))
        .select(col("o_orderkey"), col("o_totalprice"),
          round(col("avg_price"), 4).as("avg_price"))
        .orderBy("o_orderkey")
    }),

    "q_date_funcs" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
                 month(col("o_orderdate")).cast("long").as("mo"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(D)).cast("double").as("revenue"),
          datediff(max(col("o_orderdate")), min(col("o_orderdate")))
            .cast("long").as("span_days"))
        .orderBy("yr", "mo")),

    "q_range_join" -> ((s, dir) => {
      // non-equi range join: each order lands in its quarter bucket via
      // [qstart, qstart + 3 months) interval containment against the
      // (tiny, broadcast) derived quarter dimension
      val orders = t(s, dir, "orders")
      val quarters = orders
        .select(date_trunc("quarter", col("o_orderdate")).as("qstart")).distinct()
        .withColumn("qend", col("qstart") + expr("INTERVAL 3 MONTH"))
      orders.join(broadcast(quarters),
          col("o_orderdate") >= col("qstart") && col("o_orderdate") < col("qend"))
        .groupBy(date_format(col("qstart"), "yyyy-MM-dd").as("quarter"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(D)).cast("double").as("revenue"))
        .orderBy("quarter")
    }),

    "q_count_distinct" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(date_format(col("ts"), "yyyy-MM-dd")).as("n_days"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    "q_quantiles" -> ((s, dir) => {
      // sort-based exact interpolated percentiles: rank rows per group
      // (one spillable Tungsten sort — scales past the per-partition
      // value maps `percentile()` builds), gather the floor/ceil
      // neighbors of (n-1)·p, interpolate lo + d·(hi−lo) exactly like
      // quantile_cont. ~35% faster than the value-map aggregate at sf0.1
      // and identical output.
      //
      // r20 (guide §2.6 stragglers/idle capacity): the global per-group
      // rank is REBUILT from value-ordered buckets instead of one
      // 3-task window — rows partition on (group, bucket) where bucket
      // is a fixed-width slice of the VALUE axis, each bucket sorts in
      // parallel, and global rank = (prefix count of lower buckets) +
      // local rank. Exact: buckets are value-ordered so cross-bucket
      // order by (bucket, value) ≡ order by value; ties share a bucket
      // (floor of the same value), and only the VALUE at a target rank
      // matters, so within-tie arbitrary numbering can't change the
      // emitted percentile. The per-group totals n derive from the same
      // bucket-count table (§2.3) instead of a corpus-wide count window.
      // Sort-stage tasks at sf0.1: 3 → ~150; at 100 TB the sort spreads
      // over (groups × buckets) instead of stalling on #groups tasks.
      import org.apache.spark.sql.expressions.Window
      val base = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          floor(col("l_extendedprice") / 2000.0).cast("long").as("__bk"))
      val cnts = base.groupBy("l_returnflag", "__bk").agg(count(lit(1)).as("__c"))
      val wOff = Window.partitionBy("l_returnflag").orderBy("__bk")
      val offs = cnts // bucket-grain table: tiny, broadcastable
        .withColumn("__off", coalesce(
          sum("__c").over(wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", sum("__c").over(Window.partitionBy("l_returnflag")))
        .select("l_returnflag", "__bk", "__off", "n")
      val wBk = Window.partitionBy("l_returnflag", "__bk").orderBy("l_extendedprice")
      val ranked = base
        .withColumn("__lrn", row_number().over(wBk))
        .join(broadcast(offs), Seq("l_returnflag", "__bk"))
        .withColumn("rn", col("__off") + col("__lrn"))
      def pct(p: Double, name: String): Seq[Column] = {
        val pos = (col("n") - 1) * p
        val lo = floor(pos).cast("long"); val hi = ceil(pos).cast("long")
        Seq(
          max(when(col("rn") === lo + 1, col("l_extendedprice"))).as(s"${name}_lo"),
          max(when(col("rn") === hi + 1, col("l_extendedprice"))).as(s"${name}_hi"),
          max(pos - lo).as(s"${name}_d"))
      }
      def interp(name: String): Column = round(
        col(s"${name}_lo") +
          col(s"${name}_d") * (coalesce(col(s"${name}_hi"), col(s"${name}_lo")) - col(s"${name}_lo")),
        4).as(name)
      val aggs = pct(0.5, "p50") ++ pct(0.95, "p95") ++ Seq(
        round(min("l_extendedprice"), 4).as("lo"),
        round(max("l_extendedprice"), 4).as("hi"))
      ranked.groupBy("l_returnflag")
        .agg(aggs.head, aggs.tail: _*)
        .select(col("l_returnflag"), interp("p50"), interp("p95"), col("lo"), col("hi"))
        .orderBy("l_returnflag")
    })
  ) ++ CdcQueries.queries ++ OpsQueries.queries ++ ExtQueries.queries ++ R4Queries.queries ++ CurationQueries.queries ++ R8Queries.queries

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders) ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q_left_join" ->
      """SELECT c_custkey, c_name,
        |  coalesce(h.n_big, 0) AS n_big, coalesce(h.big_total, 0.0) AS big_total
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, count(*) AS n_big,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS big_total
        |  FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey) h
        |ON c_custkey = h.o_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q_corr_subquery" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  round(seg_avg, 4) AS seg_avg
        |FROM customer JOIN (
        |  SELECT c_mktsegment AS seg,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS seg_avg
        |  FROM customer GROUP BY c_mktsegment) s ON c_mktsegment = s.seg
        |WHERE c_acctbal > seg_avg
        |ORDER BY c_custkey""".stripMargin,

    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_window_rank" ->
      """SELECT c_nationkey, rk, c_custkey, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer) WHERE rk <= 3 ORDER BY c_nationkey, rk""".stripMargin,

    "q_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",

    "q_intersect" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT SELECT o_custkey AS custkey FROM orders ORDER BY custkey""".stripMargin,

    "q_except" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
        |ORDER BY custkey""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_scalar_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u,
        |  CAST(length(p_name) AS BIGINT) AS name_len, md5(p_name) AS name_md5,
        |  substr(p_type, 1, 5) AS type_pfx,
        |  p_brand || '#' || p_type AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_shipdate >= '1998-01-01' AND l_quantity > 30
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_count_tables" ->
      Tables.all.map(n => s"SELECT '$n' AS tbl, count(*) AS n FROM $n")
        .mkString("", " UNION ALL ", " ORDER BY tbl"),

    "q_events_window" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s, user_id, event_type, value
        |FROM events WHERE ts >= '2024-01-10' AND ts <= '2024-01-20'
        |ORDER BY ts DESC, event_id LIMIT 50 OFFSET 10""".stripMargin,

    "q_events_latest" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s, event_type
        |FROM events ORDER BY ts DESC, event_id LIMIT 20""".stripMargin,

    "q_events_expiry" ->
      """WITH dims AS (SELECT b AS vault, b * 1440 AS cache_duration FROM range(0, 10) t(b)),
        |u AS (SELECT user_id % 10 AS vault, event_id, ts, epoch_us(ts) AS ts_us FROM events),
        |ref_t AS (SELECT max(epoch_us(ts)) AS asof_us FROM events)
        |SELECT u.vault, u.event_id, strftime(u.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
        |  CAST(CASE WHEN d.cache_duration > 0
        |       THEN u.ts_us + d.cache_duration * 60000000 ELSE 0 END AS BIGINT) AS cache_expiry_us,
        |  CAST(CASE WHEN (CASE WHEN d.cache_duration > 0
        |       THEN u.ts_us + d.cache_duration * 60000000 ELSE 0 END) <= asof_us
        |       THEN 1 ELSE 0 END AS BIGINT) AS is_archived
        |FROM u LEFT JOIN dims d USING (vault) CROSS JOIN ref_t
        |ORDER BY u.ts DESC, u.event_id LIMIT 100""".stripMargin,

    "q_catalog_groups" ->
      """SELECT event_type, count(*) AS n_events, min(event_id) AS first_event,
        |  max(event_id) AS last_event
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_json_props" ->
      """SELECT event_type,
        |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_full_join" ->
      """SELECT CAST(coalesce(c.nk, s.nk) AS BIGINT) AS nationkey,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer
        |      WHERE c_custkey < 100 GROUP BY 1) c
        |FULL JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier
        |      WHERE s_suppkey < 50 GROUP BY 1) s
        |ON c.nk = s.nk
        |ORDER BY nationkey""".stripMargin,

    "q_union" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |ORDER BY custkey""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_window_frames" ->
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f') AS od_s,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov_sum3,
        |  lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS prev_price,
        |  lead(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS next_price
        |FROM orders WHERE o_custkey < 200
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS f_total,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS o_total,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p_total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_explode_words" ->
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE length(word) > 0
        |GROUP BY word ORDER BY n DESC, word LIMIT 50""".stripMargin,

    "q_string_agg" ->
      """SELECT c_nationkey, count(*) AS n,
        |  string_agg(c_name, ',' ORDER BY c_name) AS names
        |FROM customer WHERE c_custkey <= 200
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice,
        |  round((SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |         FROM orders), 4) AS avg_price
        |FROM orders
        |WHERE o_totalprice > (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |                      FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q_date_funcs" ->
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
        |  CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mo,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(date_diff('day', CAST(min(o_orderdate) AS DATE), CAST(max(o_orderdate) AS DATE)) AS BIGINT) AS span_days
        |FROM orders GROUP BY yr, mo ORDER BY yr, mo""".stripMargin,

    "q_range_join" ->
      """WITH quarters AS (
        |  SELECT DISTINCT date_trunc('quarter', o_orderdate) AS qstart FROM orders)
        |SELECT strftime(q.qstart, '%Y-%m-%d') AS quarter,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders o JOIN quarters q
        |  ON o.o_orderdate >= q.qstart AND o.o_orderdate < q.qstart + INTERVAL 3 MONTH
        |GROUP BY quarter ORDER BY quarter""".stripMargin,

    "q_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_quantiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
        |  round(min(l_extendedprice), 4) AS lo,
        |  round(max(l_extendedprice), 4) AS hi
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) ++ CdcQueries.oracleSql ++ OpsQueries.oracleSql ++ ExtQueries.oracleSql ++ R4Queries.oracleSql ++ CurationQueries.oracleSql ++ R8Queries.oracleSql
}
