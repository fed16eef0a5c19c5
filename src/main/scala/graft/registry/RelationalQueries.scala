package graft
package registry

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.operators.{AsofJoin, Association, Funnel, Mixing, Outliers, Quality,
  RangeJoin, Resample, Skyline, Upsert}
import graft.ops.RelOps

import Support._

/** Relational and SQL scans: the TPC-H-shaped filters, joins, set
  * operations, aggregates, windows and reshapes; the event-log
  * analytics (funnels, sessions, as-of, range and interval joins);
  * the sketch-backed approximations with their exact envelopes; and
  * the `Graft.sql` string frontend.
  */
private[graft] object RelationalQueries {

  private def epochTs(c: Column): Column = c.cast("double")

  def all: Seq[Query] = Seq(
    // ---------------- §2.4 aggregations (A1/A2) ----------------
    Query("q01_pricing_summary", (s, dir) => {
      t(s, dir).lineitem
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle =
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity),2) AS sum_qty,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_base_price,
         CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_disc_price,
         round(avg(l_quantity),4) AS avg_qty,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),

    // ---------------- P3 threshold filter ----------------
    Query("q02_threshold_filter", (s, dir) => {
      RelOps.thresholdFilter(t(s, dir).lineitem, col("l_quantity"), 45.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy("l_orderkey", "l_linenumber")
    }, oracle =
      """SELECT l_orderkey, l_linenumber, l_quantity,
         round(l_extendedprice,2) AS price
         FROM lineitem WHERE l_quantity >= 45
         ORDER BY l_orderkey, l_linenumber"""),

    // ---------------- S2 search + relevance rank + O1/O2 ----------------
    Query("q03_search_rank", (s, dir) => {
      RelOps.topK(
        RelOps.search(t(s, dir).part, col("p_name"), "red"),
        10, Seq(col("p_retailprice").desc, col("p_partkey").asc))
        .select(col("p_partkey"), col("p_name"), round(col("p_retailprice"), 2).as("price"))
    }, oracle =
      """SELECT p_partkey, p_name, round(p_retailprice,2) AS price
         FROM part WHERE lower(p_name) LIKE '%red%'
         ORDER BY p_retailprice DESC, p_partkey LIMIT 10"""),

    // ---------------- S3 point lookup ----------------
    Query("q04_point_lookup", (s, dir) => {
      t(s, dir).customer.filter(col("c_custkey") === 42)
        .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("acctbal"))
    }, oracle =
      """SELECT c_custkey, c_name, round(c_acctbal,2) AS acctbal
         FROM customer WHERE c_custkey = 42"""),

    // ---------------- S4 batch lookup via semi join ----------------
    Query("q05_batch_semi", (s, dir) => {
      val keys = t(s, dir).customer.filter(col("c_acctbal") > 9500)
        .select(col("c_custkey").as("o_custkey"))
      RelOps.semi(t(s, dir).orders, keys, Seq("o_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("total"))
        .orderBy("o_orderkey")
    }, oracle =
      """SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS total
         FROM orders WHERE o_custkey IN
           (SELECT c_custkey FROM customer WHERE c_acctbal > 9500)
         ORDER BY o_orderkey"""),

    // ---------------- P4 blocklist anti-filter ----------------
    Query("q06_blocklist", (s, dir) => {
      RelOps.blocklist(t(s, dir).customer, col("c_mktsegment"),
        Seq("AUTOMOBILE", "HOUSEHOLD"))
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE c_mktsegment NOT IN ('AUTOMOBILE','HOUSEHOLD')
         ORDER BY c_custkey"""),

    // ---------------- SO5 dedup keep-first (deterministic) ----------------
    Query("q07_first_order_per_cust", (s, dir) => {
      RelOps.dedupKeepFirst(t(s, dir).orders,
        Seq(col("o_custkey")), Seq(col("o_orderdate").asc, col("o_orderkey").asc))
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("timestamp").cast("long").as("first_ts"))
        .orderBy("o_custkey")
    }, oracle =
      """SELECT o_custkey, o_orderkey,
         CAST(epoch(o_orderdate) AS BIGINT) AS first_ts
         FROM (SELECT *, row_number() OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
           FROM orders) WHERE rn = 1
         ORDER BY o_custkey"""),

    // ---------------- J1/J3 fan-out joins ----------------
    Query("q08_region_orders", (s, dir) => {
      val tt = t(s, dir)
      val (r, n) = (tt.region, tt.nation)
      val joined = r
        .join(n, n("n_regionkey") === r("r_regionkey"))
        .join(tt.customer, col("c_nationkey") === col("n_nationkey"))
        .join(tt.orders, col("o_custkey") === col("c_custkey"))
      joined.groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("sum_total"))
        .orderBy("r_name")
    }, oracle =
      """SELECT r_name, count(*) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_total
         FROM region
         JOIN nation ON n_regionkey = r_regionkey
         JOIN customer ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
         GROUP BY r_name ORDER BY r_name"""),

    // ---------------- J11 join on differently-named keys ----------------
    Query("q09_brand_quantity", (s, dir) => {
      val tt = t(s, dir)
      tt.part.join(tt.lineitem, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n_lines"))
        .orderBy("p_brand")
    }, oracle =
      """SELECT p_brand, round(sum(l_quantity),2) AS sum_qty,
         count(*) AS n_lines
         FROM part JOIN lineitem ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand"""),

    // ---------------- SO1 set difference ----------------
    Query("q10_part_diff", (s, dir) => {
      val tt = t(s, dir)
      def partsOf(seg: String) = tt.lineitem
        .join(tt.orders, col("o_orderkey") === col("l_orderkey"))
        .join(tt.customer, col("c_custkey") === col("o_custkey"))
        .filter(col("c_mktsegment") === seg)
        .select(col("l_partkey").as("p_key")).distinct()
      partsOf("BUILDING").except(partsOf("MACHINERY")).orderBy("p_key")
    }, oracle =
      """SELECT DISTINCT l_partkey AS p_key FROM lineitem
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         WHERE c_mktsegment = 'BUILDING'
         EXCEPT
         SELECT DISTINCT l_partkey AS p_key FROM lineitem
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         WHERE c_mktsegment = 'MACHINERY'
         ORDER BY p_key"""),

    // ---------------- SO2 set intersection ----------------
    Query("q11_part_intersect", (s, dir) => {
      val tt = t(s, dir)
      def partsOf(seg: String) = tt.lineitem
        .join(tt.orders, col("o_orderkey") === col("l_orderkey"))
        .join(tt.customer, col("c_custkey") === col("o_custkey"))
        .filter(col("c_mktsegment") === seg)
        .select(col("l_partkey").as("p_key")).distinct()
      partsOf("BUILDING").intersect(partsOf("MACHINERY")).orderBy("p_key")
    }, oracle =
      """SELECT DISTINCT l_partkey AS p_key FROM lineitem
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT DISTINCT l_partkey AS p_key FROM lineitem
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         WHERE c_mktsegment = 'MACHINERY'
         ORDER BY p_key"""),

    // ---------------- A1/A2 count + count distinct ----------------
    Query("q12_distinct_counts", (s, dir) => {
      t(s, dir).lineitem.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"))
        .orderBy("l_returnflag")
    }, oracle =
      """SELECT l_returnflag, count(*) AS n,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT l_partkey) AS n_part
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ---------------- A3 collect per group (sorted for determinism) ----------------
    Query("q13_collect_nations", (s, dir) => {
      val tt = t(s, dir)
      val joined = tt.customer.join(tt.nation, col("n_nationkey") === col("c_nationkey"))
      RelOps.collectPerGroup(joined, Seq(col("c_mktsegment")), col("n_name"), "nations_arr")
        .select(col("c_mktsegment"), array_join(col("nations_arr"), ",").as("nations"))
        .orderBy("c_mktsegment")
    }, oracle =
      """SELECT c_mktsegment,
         string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS nations
         FROM customer JOIN nation ON n_nationkey = c_nationkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // ---------------- O2 top-1 global ----------------
    Query("q14_top_order", (s, dir) => {
      RelOps.topK(t(s, dir).orders, 1,
        Seq(col("o_totalprice").desc, col("o_orderkey").asc))
        .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("total"))
    }, oracle =
      """SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS total
         FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 1"""),

    // ---------------- O3 top-1 per group ----------------
    Query("q15_top_order_per_cust", (s, dir) => {
      RelOps.firstPerGroup(t(s, dir).orders, Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc))
        .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("total"))
        .orderBy("o_custkey")
    }, oracle =
      """SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS total
         FROM (SELECT *, row_number() OVER
             (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn = 1
         ORDER BY o_custkey"""),

    // ---------------- P10 coalesce fallback (null-producing left join) ----------------
    Query("q16_revenue_fallback", (s, dir) => {
      val tt = t(s, dir)
      val rev = tt.lineitem.filter(col("l_returnflag") === "R")
        .groupBy(col("l_partkey"))
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("r"))
      tt.part.join(rev, col("l_partkey") === col("p_partkey"), "left")
        .select(col("p_partkey"), coalesce(col("r"), lit(0.0)).as("returned_rev"))
        .orderBy("p_partkey")
    }, oracle =
      """SELECT p_partkey,
         coalesce(r, 0.0) AS returned_rev
         FROM part LEFT JOIN
           (SELECT l_partkey,
              CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))),2) AS DOUBLE) AS r
            FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_partkey) s
         ON s.l_partkey = p_partkey
         ORDER BY p_partkey"""),

    // ---------------- F4 JSON navigation ----------------
    Query("q17_json_extract", (s, dir) => {
      t(s, dir).events
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(round(avg(col("k")), 4).as("avg_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }, oracle =
      SqlEventAvgK),

    // ---------------- SO4 union-all accumulate ----------------
    Query("q18_union_status", (s, dir) => {
      val o = t(s, dir).orders
      val a = o.filter(col("o_totalprice") > 40000).select(col("o_orderstatus").as("status"))
      val b = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderstatus").as("status"))
      a.unionByName(b).groupBy(col("status")).agg(count(lit(1)).as("n")).orderBy("status")
    }, oracle =
      """SELECT status, count(*) AS n FROM (
           SELECT o_orderstatus AS status FROM orders WHERE o_totalprice > 40000
           UNION ALL
           SELECT o_orderstatus AS status FROM orders WHERE o_orderpriority = '1-URGENT'
         ) GROUP BY status ORDER BY status"""),

    // ---------------- §2.8 window analytics (rank/lag/running sum) ----------------
    Query("q19_order_rank", (s, dir) => {
      val byPrice = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val byDate = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir).orders
        .select(col("o_custkey"), col("o_orderkey"),
          rank().over(byPrice).cast("long").as("price_rank"),
          lag(col("o_orderkey"), 1).over(byDate).as("prev_orderkey"),
          round(sum(col("o_totalprice")).over(
            byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }, oracle =
      """SELECT o_custkey, o_orderkey,
         rank() OVER (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
         lag(o_orderkey) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey) AS prev_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_total
         FROM orders ORDER BY o_custkey, o_orderkey"""),

    // ---------------- event-time tumbling window (batch) ----------------
    Query("q20_hourly_events", (s, dir) => {
      t(s, dir).events
        .groupBy(date_trunc("hour", col("ts")).cast("long").as("hour_ts"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
        .orderBy("hour_ts", "event_type")
    }, oracle =
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
         event_type, count(*) AS n,
         CAST(round(sum(CAST(value AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type"""),

    // ---------------- sessionization in batch (gap > 30 min) ----------------
    Query("q21_sessions", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir).events
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            epochTs(col("ts")) - epochTs(col("prev_ts")) > 1800.0, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }, oracle =
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
         count(*) AS n_events
         FROM (SELECT user_id,
             CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800.0
               THEN 1 ELSE 0 END AS new_session
           FROM (SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             FROM events))
         GROUP BY user_id ORDER BY user_id"""),

    // ---------------- conditional agg / error rates ----------------
    Query("q38_error_rates", (s, dir) => {
      t(s, dir).events.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_errors"),
          round(sum(when(col("event_type") === "error", 1).otherwise(0)).cast("double") /
            count(lit(1)).cast("double"), 4).as("error_rate"))
        .orderBy("user_id")
    }, oracle =
      """SELECT user_id, count(*) AS n_events,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
         round(CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*), 4) AS error_rate
         FROM events GROUP BY user_id ORDER BY user_id"""),

    // ---------------- SO5 on events: first event per (user, type) ----------------
    Query("q39_first_event", (s, dir) => {
      RelOps.dedupKeepFirst(t(s, dir).events,
        Seq(col("user_id"), col("event_type")),
        Seq(col("ts").asc, col("event_id").asc))
        .select(col("user_id"), col("event_type"), col("event_id"))
        .orderBy("user_id", "event_type")
    }, oracle =
      """SELECT user_id, event_type, event_id
         FROM (SELECT *, row_number() OVER
             (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
           FROM events) WHERE rn = 1
         ORDER BY user_id, event_type"""),

    // ---------------- A2 at scale: approx distinct (rows-only) ----------------
    // Self-check: the HLL estimate must land within 10% of the exact
    // count (HLL++ default rsd is 5%).
    // FULL-oracle envelope (the q105 discipline): the HLL estimate is
    // sketch-internal, but its error contract is a SQL row — the
    // exact distinct count rides under the hash next to a boolean
    // the oracle pins TRUE
    Query("q40_approx_distinct", (s, dir) =>
      t(s, dir).lineitem.agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        (abs(approx_count_distinct(col("l_partkey"))
            - countDistinct(col("l_partkey")))
          <= countDistinct(col("l_partkey")) * 0.1).as("hll_within_10pct")), oracle =
      // HLL envelope: exact count recomputed, error verdict pinned TRUE
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS hll_within_10pct
         FROM lineitem"""),

    // ---------------- P1 nested struct/array round-trip ----------------
    // build array<struct> per customer, explode it back, re-aggregate:
    // must equal the direct aggregation (proves collect_list/struct/
    // explode navigation without needing nested source data)
    Query("q41_nested_roundtrip", (s, dir) => {
      val nested = t(s, dir).orders
        .groupBy(col("o_custkey"))
        .agg(collect_list(struct(col("o_orderkey"), col("o_totalprice"))).as("os"))
      nested.select(col("o_custkey"), explode(col("os")).as("o"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o.o_totalprice")).as("sum_total"))
        .orderBy("o_custkey")
    }, oracle =
      """SELECT o_custkey, count(*) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_total
         FROM orders GROUP BY o_custkey ORDER BY o_custkey"""),

    // ---------------- S8 JSON decode via from_json (typed) ----------------
    Query("q42_from_json", (s, dir) => {
      t(s, dir).events
        .withColumn("j", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")))
        .groupBy(col("event_type"))
        .agg(round(avg(col("j.k")), 4).as("avg_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }, oracle =
      SqlEventAvgK),

    // ---------------- O4 pagination: page 2 by relevance ----------------
    // offset+limit (not a global row_number window): Spark plans this
    // as per-partition top-(offset+limit) + a driver-side merge of
    // offset+limit rows per partition — no single-partition sort of
    // the whole relation, so the page cost is O(page), not O(table).
    Query("q43_page2", (s, dir) => {
      t(s, dir).part
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
        .offset(10).limit(10)
        .select(col("p_partkey"), col("p_name"), round(col("p_retailprice"), 2).as("price"))
    }, oracle =
      """SELECT p_partkey, p_name, round(p_retailprice,2) AS price
         FROM part ORDER BY p_retailprice DESC, p_partkey
         LIMIT 10 OFFSET 10"""),

    // ---------------- F3 formatted output ----------------
    Query("q48_format", (s, dir) => {
      t(s, dir).supplier
        .select(col("s_suppkey"),
          format_string("%s | bal %.2f", col("s_name"), col("s_acctbal")).as("label"))
        .orderBy("s_suppkey")
    }, oracle =
      """SELECT s_suppkey, printf('%s | bal %.2f', s_name, s_acctbal) AS label
         FROM supplier ORDER BY s_suppkey"""),

    // ---------------- rollup subtotals (north-star analytics) ----------------
    Query("q52_rollup", (s, dir) => {
      t(s, dir).lineitem
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }, oracle =
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_price
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),

    // ---------------- min/max aggregates over numbers and timestamps ----------------
    Query("q53_minmax", (s, dir) => {
      val tt = t(s, dir)
      tt.part.join(tt.lineitem, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(min(col("p_retailprice")), 2).as("min_price"),
          round(max(col("p_retailprice")), 2).as("max_price"),
          min(col("l_shipdate").cast("timestamp").cast("long")).as("first_ship"),
          max(col("l_shipdate").cast("timestamp").cast("long")).as("last_ship"))
        .orderBy("p_brand")
    }, oracle =
      """SELECT p_brand,
         round(min(p_retailprice),2) AS min_price,
         round(max(p_retailprice),2) AS max_price,
         CAST(epoch(min(l_shipdate)) AS BIGINT) AS first_ship,
         CAST(epoch(max(l_shipdate)) AS BIGINT) AS last_ship
         FROM part JOIN lineitem ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand"""),

    // ---------------- MapType navigation (KeyValue shape) ----------------
    Query("q54_map_props", (s, dir) => {
      t(s, dir).events
        .withColumn("m", from_json(col("props"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,int>")))
        .select(col("event_id"), map_keys(col("m")).getItem(0).as("first_key"),
          element_at(col("m"), "k").as("k_value"))
        .orderBy("event_id")
    }, oracle =
      """SELECT event_id, json_keys(props)[1] AS first_key,
         CAST(json_extract_string(props,'$.k') AS INT) AS k_value
         FROM events ORDER BY event_id"""),

    // ---------------- as-of join: last purchase before each click ----------------
    // Temporal backward lookup via the single-shuffle union+window
    // encoding (AsofJoin); the oracle is DuckDB's native ASOF JOIN.
    Query("q74_asof_join", (s, dir) => {
      val ev = t(s, dir).events
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
      AsofJoin.asofBackward(clicks, purchases, "user_id", "ts", "ts",
          Seq("p_id", "ts"))
        .select(col("event_id"), col("user_id"),
          coalesce(col("asof_p_id"), lit(-1L)).as("purchase_event_id"),
          coalesce(unix_micros(col("ts")) - unix_micros(col("asof_ts")),
            lit(-1L)).as("gap_us"))
        .orderBy("event_id")
    }, oracle =
      """SELECT c.event_id, c.user_id,
         CAST(coalesce(p.event_id, -1) AS BIGINT) AS purchase_event_id,
         coalesce(epoch_us(c.ts) - epoch_us(p.ts), -1) AS gap_us
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id AND c.ts >= p.ts
         ORDER BY c.event_id"""),

    // ---------------- range join: clicks in the 5 min before each error ----------------
    // Binned-interval equi-join (RangeJoin) instead of the O(n·m)
    // BroadcastNestedLoop Spark would plan for the raw inequality.
    Query("q75_range_join", (s, dir) => {
      val ev = t(s, dir).events
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).cast("double").as("v"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).cast("double").as("pv"),
          col("event_id").as("click_id"))
      val pairs = RangeJoin.trailingWindowJoin(errors, clicks, "user_id",
        "v", "pv", width = 300e6, probeCols = Seq("click_id"))
      val counts = pairs.groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_clicks"))
      errors.join(counts, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
        .orderBy("event_id")
    }, oracle =
      """SELECT e.event_id, e.user_id,
         CAST(count(c.event_id) AS BIGINT) AS n_clicks
         FROM (SELECT * FROM events WHERE event_type = 'error') e
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON c.user_id = e.user_id
           AND epoch_us(c.ts)
             BETWEEN epoch_us(e.ts) - 300000000 AND epoch_us(e.ts)
         GROUP BY e.event_id, e.user_id ORDER BY e.event_id"""),

    // ---------------- exact percentiles (linear interpolation) ----------------
    Query("q76_percentiles", (s, dir) => {
      t(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(round(percentile(col("l_quantity"), lit(0.5)), 6).as("p50"),
          round(percentile(col("l_quantity"), lit(0.95)), 6).as("p95"),
          round(percentile(col("l_extendedprice"), lit(0.99)), 6).as("p99_price"))
        .orderBy("l_returnflag")
    }, oracle =
      """SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.5), 6) AS p50,
         round(quantile_cont(l_quantity, 0.95), 6) AS p95,
         round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ---------------- CUBE subtotals (all grouping-set combinations) ----------------
    Query("q77_cube", (s, dir) => {
      t(s, dir).lineitem
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }, oracle =
      """SELECT l_returnflag, l_linestatus, count(*) AS n
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),

    // ---------------- pivot: long → wide reshape ----------------
    Query("q78_pivot", (s, dir) => {
      t(s, dir).events
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase"))
        .agg(count(lit(1)))
        .select(col("user_id"),
          coalesce(col("click"), lit(0L)).as("click"),
          coalesce(col("error"), lit(0L)).as("error"),
          coalesce(col("purchase"), lit(0L)).as("purchase"))
        .orderBy("user_id")
    }, oracle =
      """SELECT user_id,
         CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
         CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
         CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase
         FROM events GROUP BY user_id ORDER BY user_id"""),

    // ---------------- stratified deterministic sampling ----------------
    // Per-language acceptance out of 256 md5 buckets — the sub-1/16
    // refinement of q71's domain mix. Pure filter: no join, no
    // shuffle; at corpus scale this runs inside the scan stage.
    Query("q79_stratified_sample", (s, dir) => {
      Mixing.stratifiedSample(t(s, dir).documents, col("doc_id"), col("lang"),
          Map("en" -> 64, "zh" -> 128), default256 = 192)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          min(Mixing.hexBucket256(col("doc_id"))).cast("long").as("min_bucket"),
          max(Mixing.hexBucket256(col("doc_id"))).cast("long").as("max_bucket"))
        .orderBy("lang")
    }, oracle =
      """WITH b AS (
           SELECT lang, doc_id,
             16*(strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1)
              + (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)),2,1))-1) AS bucket,
             CASE lang WHEN 'en' THEN 64 WHEN 'zh' THEN 128 ELSE 192 END AS thr
           FROM documents)
         SELECT lang, count(*) AS n_sampled,
           CAST(min(bucket) AS BIGINT) AS min_bucket,
           CAST(max(bucket) AS BIGINT) AS max_bucket
         FROM b WHERE bucket < thr GROUP BY lang ORDER BY lang"""),

    // ---------------- window frames: moving average + running total ----------------
    // Cents-exact: `value` is 2-decimal by construction, so summing
    // integer cents over the frames makes both window results
    // bit-identical on every engine (double accumulation would hash-
    // drift); the average divides the exact cents sum once at the end.
    Query("q81_moving_stats", (s, dir) => {
      val ev = t(s, dir).events
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      val order = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val w3 = order.rowsBetween(-2, 0)
      val run = order.rowsBetween(Window.unboundedPreceding, 0)
      ev.select(col("event_id"), col("user_id"),
          (floor(sum(col("cents")).over(w3) * lit(1e6) /
            (lit(100.0) * count(lit(1)).over(w3)) + lit(0.5)) / lit(1e6)).as("mavg3"),
          sum(col("cents")).over(run).as("run_cents"))
        .orderBy("event_id")
    }, oracle =
      """WITH ev AS (
           SELECT event_id, user_id, ts,
             CAST(floor(value*100 + 0.5) AS BIGINT) AS cents FROM events)
         SELECT event_id, user_id,
           floor((sum(cents) OVER w) * 1e6
             / (100.0 * (count(*) OVER w)) + 0.5)/1e6 AS mavg3,
           CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS run_cents
         FROM ev
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY event_id"""),

    // ---------------- approx percentile: the sketch scale path for q76 ----------------
    // percentile() is exact but buffers every group value in the agg
    // state; approx_percentile's GK sketch is the bounded-memory form
    // a 100 TB column needs. Self-check: at accuracy 10000 the rank
    // error is ≤ 1e-4, so the sketch median must land inside the
    // exact [p49, p51] band. Sketch internals are engine-specific →
    // no SQL oracle; rows-only with a loud in-query gate.
    // FULL-oracle envelope: the GK sketch's rank-error contract —
    // approx p50 inside the exact [p49, p51] band — is the hashed
    // row, with the band itself recomputed by DuckDB (quantile_cont
    // matches Spark's interpolated percentile definition)
    Query("q83_approx_percentiles", (s, dir) =>
      t(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_quantity"), lit(0.5), lit(10000))
            .cast("double").as("pa"),
          percentile(col("l_quantity"), lit(0.49)).as("lo"),
          percentile(col("l_quantity"), lit(0.51)).as("hi"))
        .select(col("l_returnflag"),
          round(col("lo"), 6).as("lo_p49"),
          round(col("hi"), 6).as("hi_p51"),
          (col("pa") >= col("lo") && col("pa") <= col("hi"))
            .as("p50_in_band"))
        .orderBy("l_returnflag"), oracle =
      // GK envelope: the exact [p49, p51] band recomputed (quantile_cont
      // = the same interpolated definition), the in-band verdict TRUE
      """SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.49), 6) AS lo_p49,
           round(quantile_cont(l_quantity, 0.51), 6) AS hi_p51,
           TRUE AS p50_in_band
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ---------------- HLL sketch rollup: merge pre-aggregated sketches ----------------
    // The 100 TB distinct-count pattern: materialize one HLL sketch
    // per fine-grain cell (lang × source), answer coarse queries by
    // MERGING sketches — never re-scanning raw ids. doc_ids are
    // unique and each doc has one source, so summing the disjoint
    // cells' exact distincts gives the per-lang truth the sketch
    // estimate must land within 5% of. Sketch bytes are
    // engine-specific → rows-only with a loud in-query gate.
    // FULL-oracle envelope: the per-(lang,source) sketches MERGE
    // (hll_union_agg) into per-lang estimates — the rollup a 100 TB
    // pipeline keeps instead of re-scanning; the hashed row is the
    // exact rollup count plus the merged estimate's 5% error verdict
    Query("q87_hll_rollup", (s, dir) => {
      val fine = t(s, dir).documents
        .groupBy(col("lang"), col("source"))
        .agg(hll_sketch_agg(col("doc_id")).as("sk"),
          countDistinct(col("doc_id")).as("exact"))
      fine.groupBy(col("lang"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"),
          sum(col("exact")).as("exact"))
        .select(col("lang"), col("exact").cast("long").as("exact_docs"),
          (abs(col("approx") - col("exact")) <= col("exact") * 0.05)
            .as("merged_within_5pct"))
        .orderBy("lang")
    }, oracle =
      // merged-HLL envelope: doc_id is unique, so the per-lang rollup of
      // per-source distincts equals the plain per-lang distinct
      """SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS exact_docs,
           TRUE AS merged_within_5pct
         FROM documents GROUP BY lang ORDER BY lang"""),

    // ---------------- forward as-of join: next purchase after each click ----------------
    Query("q86_asof_forward", (s, dir) => {
      val ev = t(s, dir).events
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
      AsofJoin.asofForward(clicks, purchases, "user_id", "ts", "ts",
          Seq("p_id", "ts"))
        .select(col("event_id"), col("user_id"),
          coalesce(col("asof_p_id"), lit(-1L)).as("next_purchase_id"),
          coalesce(unix_micros(col("asof_ts")) - unix_micros(col("ts")),
            lit(-1L)).as("wait_us"))
        .orderBy("event_id")
    }, oracle =
      """SELECT c.event_id, c.user_id,
         CAST(coalesce(p.event_id, -1) AS BIGINT) AS next_purchase_id,
         coalesce(epoch_us(p.ts) - epoch_us(c.ts), -1) AS wait_us
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id AND c.ts <= p.ts
         ORDER BY c.event_id"""),

    // ---------------- SCD-1 snapshot merge (MERGE/upsert) ----------------
    Query("q101_snapshot_merge", (s, dir) => {
      val docs = t(s, dir).documents
      val base = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val delta = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), lit("delta").as("source"),
          (col("n_chars") + 1000L).as("n_chars"))
      Upsert.scd1(base, delta, "doc_id").orderBy("doc_id")
    }, oracle =
      """WITH base AS (SELECT doc_id, source, n_chars FROM documents
           WHERE doc_id % 3 <> 0),
         delta AS (SELECT doc_id, 'delta' AS source, n_chars + 1000 AS n_chars
           FROM documents WHERE doc_id % 2 = 0)
         SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
           CASE WHEN d.doc_id IS NOT NULL THEN d.source ELSE b.source END AS source,
           CASE WHEN d.doc_id IS NOT NULL THEN d.n_chars ELSE b.n_chars END AS n_chars
         FROM base b FULL JOIN delta d ON b.doc_id = d.doc_id
         ORDER BY doc_id"""),

    // ---------------- CDC diff of two snapshots ----------------
    Query("q102_cdc_diff", (s, dir) => {
      val prev = t(s, dir).documents.select(col("doc_id"), col("source"), col("n_chars"))
      val next = prev.filter(col("doc_id") % 10 =!= 0)
        .withColumn("n_chars",
          when(col("doc_id") % 7 === 0, col("n_chars") + 1L).otherwise(col("n_chars")))
        .unionByName(prev.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("source"), col("n_chars")))
      Upsert.cdcDiff(prev, next, "doc_id").orderBy("doc_id")
    }, oracle =
      """WITH prev AS (SELECT doc_id, source, n_chars FROM documents),
         next AS (
           SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
           FROM prev WHERE doc_id % 10 <> 0
           UNION ALL
           SELECT doc_id + 1000000, source, n_chars FROM prev WHERE doc_id % 11 = 0)
         SELECT coalesce(p.doc_id, n.doc_id) AS doc_id,
           CASE WHEN p.doc_id IS NULL THEN 'insert'
                WHEN n.doc_id IS NULL THEN 'delete'
                WHEN p.source IS NOT DISTINCT FROM n.source
                 AND p.n_chars IS NOT DISTINCT FROM n.n_chars THEN 'unchanged'
                ELSE 'update' END AS op
         FROM prev p FULL JOIN next n ON p.doc_id = n.doc_id
         ORDER BY doc_id"""),

    // ---------------- per-group winsorized statistics ----------------
    Query("q103_winsorize", (s, dir) => {
      Outliers.winsorize(t(s, dir).documents, col("lang"), col("n_chars"), 0.05, 0.95)
        .select(col("__g").as("lang"), col("n"), col("n_lo"), col("n_hi"), col("mean6"))
        .orderBy("lang")
    }, oracle =
      """WITH b AS (SELECT lang,
             round(quantile_cont(n_chars, 0.05), 6) AS lo,
             round(quantile_cont(n_chars, 0.95), 6) AS hi
           FROM documents GROUP BY lang),
         w AS (SELECT d.lang,
             CASE WHEN n_chars < lo THEN 1 ELSE 0 END AS clo,
             CASE WHEN n_chars > hi THEN 1 ELSE 0 END AS chi,
             CAST(floor(least(greatest(CAST(n_chars AS DOUBLE), lo), hi) * 1e6 + 0.5)
               AS BIGINT) AS w6
           FROM documents d JOIN b ON d.lang = b.lang)
         SELECT lang, count(*) AS n, CAST(sum(clo) AS BIGINT) AS n_lo,
           CAST(sum(chi) AS BIGINT) AS n_hi,
           round(CAST(sum(w6) AS DOUBLE) / (count(*) * 1e6), 6) AS mean6
         FROM w GROUP BY lang ORDER BY lang"""),

    // ---------------- per-group Tukey outlier fences ----------------
    Query("q104_tukey_outliers", (s, dir) => {
      Outliers.tukeyFences(t(s, dir).documents, col("lang"), col("n_chars"))
        .select(col("__g").as("lang"), col("n"), col("n_low"), col("n_high"),
          col("lo_fence"), col("hi_fence"))
        .orderBy("lang")
    }, oracle =
      """WITH b AS (SELECT lang,
             round(quantile_cont(n_chars, 0.25), 6) AS q1,
             round(quantile_cont(n_chars, 0.75), 6) AS q3
           FROM documents GROUP BY lang),
         f AS (SELECT lang, q1 - (q3 - q1) * 1.5 AS lof, q3 + (q3 - q1) * 1.5 AS hif
           FROM b)
         SELECT d.lang, count(*) AS n,
           CAST(sum(CASE WHEN n_chars < lof THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN n_chars > hif THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           round(min(lof), 6) AS lo_fence, round(max(hif), 6) AS hi_fence
         FROM documents d JOIN f ON d.lang = f.lang
         GROUP BY d.lang ORDER BY d.lang"""),

    // ---------------- behavioral analytics: funnel / cohort / transitions ----------------
    Query("q109_funnel", (s, dir) =>
      Funnel.funnelStages(t(s, dir).events, col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase")), oracle =
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY e.user_id)
         SELECT 1 AS stage_idx, 'view' AS stage, count(*) AS users FROM s1
         UNION ALL SELECT 2, 'click', count(*) FROM s2
         UNION ALL SELECT 3, 'purchase', count(*) FROM s3
         ORDER BY stage_idx"""),

    Query("q110_cohort_retention", (s, dir) =>
      Funnel.cohortRetention(t(s, dir).events, col("user_id"), col("ts"))
        // ISO string, not DATE: the comparator canonicalizes DATE
        // columns differently per engine
        .withColumn("cohort_week", date_format(col("cohort_week"), "yyyy-MM-dd"))
        .orderBy("cohort_week", "week_offset"), oracle =
      """WITH f AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id)
         SELECT strftime(date_trunc('week', f.t0), '%Y-%m-%d') AS cohort_week,
           CAST((CAST(e.ts AS DATE) - CAST(f.t0 AS DATE)) // 7 AS BIGINT) AS week_offset,
           count(DISTINCT e.user_id) AS users
         FROM events e JOIN f ON e.user_id = f.user_id
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    Query("q114_transitions", (s, dir) =>
      Funnel.transitions(t(s, dir).events, col("user_id"), col("ts"),
        col("event_id"), col("event_type"))
        .orderBy("event", "next_event"), oracle =
      """WITH seq AS (SELECT user_id, event_type AS event,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event
         FROM events)
         SELECT event, next_event, count(*) AS n FROM seq
         WHERE next_event IS NOT NULL
         GROUP BY event, next_event ORDER BY event, next_event"""),

    // ---------------- time-series gap-fill resample ----------------
    Query("q111_resample", (s, dir) => {
      // daily grid per user over purchase values, forward-filled.
      // (user, ts) made unique first (max value at a tied instant) so
      // the as-of winner is deterministic — the AsofJoin tie contract.
      val obs = t(s, dir).events.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("value"))
      Resample.resampleFillForward(obs, "user_id", "ts", 86400L, Seq("value"))
        .select(col("user_id"),
          unix_timestamp(col("grid_ts")).as("grid_s"),
          round(col("asof_value"), 6).as("value"))
        .orderBy("user_id", "grid_s")
    }, oracle =
      """WITH o0 AS (SELECT user_id, ts, max(value) AS value
           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
         o AS (SELECT user_id, epoch_ns(ts) AS tsn, value FROM o0),
         sp AS (SELECT user_id,
             (min(tsn) + 86399999999999) // 86400000000000 * 86400 AS g0,
             max(tsn) // 1000000000 AS hi
           FROM o GROUP BY user_id),
         grid AS (SELECT user_id,
             unnest(generate_series(g0, hi, 86400)) * 1000000000 AS gsn
           FROM sp WHERE g0 <= hi)
         SELECT g.user_id, g.gsn // 1000000000 AS grid_s,
           round(o.value, 6) AS value
         FROM grid g ASOF JOIN o
           ON g.user_id = o.user_id AND g.gsn >= o.tsn
         ORDER BY g.user_id, grid_s"""),

    // ---------------- equi-width histogram ----------------
    Query("q112_histogram", (s, dir) =>
      Resample.histogram(t(s, dir).lineitem, col("l_returnflag"),
          col("l_quantity"), 0.0, 50.0, 10)
        .orderBy("grp", "bucket"), oracle =
      """WITH b AS (SELECT l_returnflag AS grp,
           CASE WHEN l_quantity < 0 THEN 0 WHEN l_quantity >= 50 THEN 11
                ELSE CAST(floor(l_quantity / 5.0) AS BIGINT) + 1 END AS bucket
           FROM lineitem)
         SELECT grp, bucket, CAST(round((bucket - 1) * 5.0, 6) AS DOUBLE) AS bucket_lo,
           CAST(round(bucket * 5.0, 6) AS DOUBLE) AS bucket_hi, count(*) AS n
         FROM b GROUP BY grp, bucket ORDER BY grp, bucket"""),

    // ---------------- hopping-window aggregation ----------------
    Query("q116_hopping", (s, dir) =>
      t(s, dir).events
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,6)")), 4).cast("double").as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("win_start", "event_type"), oracle =
      """WITH e AS (SELECT event_type, value, epoch_ns(ts) AS tn FROM events),
         w AS (SELECT event_type, value,
           unnest([(tn // 1800000000000) * 1800,
                   (tn // 1800000000000) * 1800 - 1800]) AS win_start
           FROM e)
         SELECT win_start, event_type, count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
         FROM w GROUP BY win_start, event_type
         ORDER BY win_start, event_type"""),

    // ---------------- debounce dedup (recrawl policy) ----------------
    Query("q117_debounce", (s, dir) => {
      // keep an event iff no SAME (user, type) event occurred in the
      // preceding hour — the recrawl/refetch suppression gate
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir).events
        .withColumn("__prev", lag(col("ts"), 1).over(w))
        // µs-exact gap (unix_timestamp would truncate sub-second)
        .filter(col("__prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("__prev")) >= 3600L * 1000000)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy("event_id")
    }, oracle =
      """WITH l AS (SELECT event_id, user_id, event_type, epoch_ns(ts) AS tn,
           lag(epoch_ns(ts)) OVER
             (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
         FROM events)
         SELECT event_id, user_id, event_type FROM l
         WHERE prev IS NULL OR tn - prev >= 3600000000000
         ORDER BY event_id"""),

    // ---------------- funnel with conversion deadline ----------------
    Query("q120_funnel_windowed", (s, dir) =>
      Funnel.funnelStagesWithin(t(s, dir).events, col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase"),
        maxGapSec = Some(6L * 3600)), oracle =
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts >= s1.t
             AND epoch_ns(e.ts) - epoch_ns(s1.t) <= 21600000000000
           GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts >= s2.t
             AND epoch_ns(e.ts) - epoch_ns(s2.t) <= 21600000000000
           GROUP BY e.user_id)
         SELECT 1 AS stage_idx, 'view' AS stage, count(*) AS users FROM s1
         UNION ALL SELECT 2, 'click', count(*) FROM s2
         UNION ALL SELECT 3, 'purchase', count(*) FROM s3
         ORDER BY stage_idx"""),

    // ---------------- last-touch attribution ----------------
    Query("q122_attribution", (s, dir) => {
      // each purchase attributes to the LAST click of the same user
      // within 6 h (as-of backward join); older or absent clicks
      // leave the purchase unattributed (null)
      val ev = t(s, dir).events
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
      // unique (user, ts) click instants: max event_id wins a tie —
      // the AsofJoin determinism contract
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      AsofJoin.asofBackward(purchases, clicks, "user_id",
          "purchase_ts", "ts", Seq("ts", "click_id"))
        .select(col("purchase_id"), col("user_id"),
          when(unix_micros(col("purchase_ts")) - unix_micros(col("asof_ts")) <=
            6L * 3600 * 1000000, col("asof_click_id")).as("click_id"))
        .orderBy("purchase_id")
    }, oracle =
      """WITH pu AS (
           SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
           FROM events WHERE event_type = 'purchase'),
         cl AS (
           SELECT user_id, ts, max(event_id) AS click_id
           FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
         SELECT p.purchase_id, p.user_id,
           CASE WHEN c.ts IS NOT NULL
                 AND epoch_ns(p.purchase_ts) - epoch_ns(c.ts) <= 21600000000000
                THEN c.click_id END AS click_id
         FROM pu p ASOF LEFT JOIN cl c
           ON p.user_id = c.user_id AND p.purchase_ts >= c.ts
         ORDER BY p.purchase_id"""),

    // ---------------- statistical aggregates: correlation / regression ----------------
    Query("q123_correlation", (s, dir) => {
      // price-vs-quantity association per return flag — corr, the OLS
      // slope, and stddev. Floating-point co-moment aggregates are NOT
      // order-independent (Spark merges partials in parallel, DuckDB
      // accumulates sequentially), so instead of corr()/regr_slope()
      // we aggregate EXACT second moments: quantity is integral and
      // extendedprice has exactly two decimals in this schema, so
      // unit/cent-scaled integers summed as DECIMAL(38,0) are exact and
      // order-independent in both engines. corr/slope/stddev are then a
      // single scalar expression over identical exact sums, rounded
      // once at output — the q84/q103 fixed-point convention applied to
      // second moments. (corr is scale-invariant; the cent scaling only
      // shows up as the /100 in the slope.)
      val d = DecimalType(28, 0)
      val m = t(s, dir).lineitem
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("y"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(d)).as("sx"),
          sum(col("y").cast(d)).as("sy"),
          sum((col("x") * col("y")).cast(d)).as("sxy"),
          sum((col("x") * col("x")).cast(d)).as("sxx"),
          sum((col("y") * col("y")).cast(d)).as("syy"))
      val nD  = col("n").cast(DecimalType(20, 0))
      val num = (nD * col("sxy") - col("sx") * col("sy")).cast("double")
      val dxx = (nD * col("sxx") - col("sx") * col("sx")).cast("double")
      val dyy = (nD * col("syy") - col("sy") * col("sy")).cast("double")
      // `+ 0` normalizes IEEE signed zero (-0.0 + 0 = +0.0): Spark's
      // Round (BigDecimal HALF_UP) drops the sign of a rounded-to-zero
      // negative, DuckDB's multiply-divide round keeps it — same `+ 0`
      // applied in the oracle SQL so both engines emit +0.0.
      m.select(col("l_returnflag"),
          (round(num / sqrt(dxx * dyy), 3) + lit(0d)).as("corr_qp"),
          (round(num / dxx / lit(100d), 3) + lit(0d)).as("slope"),
          (round(sqrt(dxx / (nD * (nD - 1)).cast("double")), 3) + lit(0d)).as("sd_qty"),
          col("n"))
        .orderBy("l_returnflag")
    }, oracle =
      """WITH m AS (
           SELECT l_returnflag, count(*) AS n,
             sum(CAST(l_quantity AS BIGINT)) AS sx,
             sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS sy,
             sum(CAST(l_quantity AS BIGINT)
                 * CAST(round(l_extendedprice*100) AS BIGINT)) AS sxy,
             sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
             sum(CAST(round(l_extendedprice*100) AS BIGINT)
                 * CAST(round(l_extendedprice*100) AS BIGINT)) AS syy
           FROM lineitem GROUP BY l_returnflag),
         d AS (
           SELECT l_returnflag, n,
             CAST(n*sxy - sx*sy AS DOUBLE) AS num,
             CAST(n*sxx - sx*sx AS DOUBLE) AS dxx,
             CAST(n*syy - sy*sy AS DOUBLE) AS dyy
           FROM m)
         SELECT l_returnflag,
           round(num / sqrt(dxx * dyy), 3) + 0 AS corr_qp,
           round(num / dxx / 100, 3) + 0 AS slope,
           round(sqrt(dxx / (CAST(n AS DOUBLE) * (n-1))), 3) + 0 AS sd_qty,
           n
         FROM d ORDER BY l_returnflag"""),

    // ---------------- string frontend: Graft.sql ----------------
    // The reference's entire user interface is a query STRING handed
    // to an engine (query_opentargets.py:4-16); these queries run
    // through `Graft.sql` — text in, DataFrame out, full Catalyst in
    // between. q127-q129 are written in the Spark∩DuckDB dialect so
    // the SAME text is its own oracle; q130 exercises a registered
    // native function (dot_product — VecExprs codegen kernel) whose
    // oracle twin is DuckDB's list_dot_product.
    Query("q127_sql_revenue", (s, dir) => Graft.sql(s, dir, SqlRevenueByNation), oracle =
      // string frontend: the SAME text Graft.sql runs (q130 swaps the
      // native dot_product for DuckDB's list_dot_product)
      SqlRevenueByNation),

    Query("q128_sql_search_topk", (s, dir) => Graft.sql(s, dir, SqlSearchTopK), oracle =
      SqlSearchTopK),

    Query("q129_sql_window", (s, dir) => Graft.sql(s, dir, SqlWindowTop2), oracle = SqlWindowTop2),

    Query("q130_sql_native_fn", (s, dir) => Graft.sql(s, dir,
      SqlNeighborDot("dot_product(a.embedding, b.embedding)")), oracle =
      SqlNeighborDot(
        "CAST(list_dot_product(a.embedding, b.embedding) AS DOUBLE)")),

    // ---------------- gap-based sessionization ----------------
    Query("q132_sessionize", (s, dir) =>
      Funnel.sessionize(t(s, dir).events, col("user_id"), col("ts"),
          col("event_id"), gapSec = 1800L)
        .withColumnRenamed("user", "user_id")
        .orderBy("user_id", "session_seq"), oracle =
      // sessionize: same lag/flag/running-sum encoding in DuckDB window
      // SQL (epoch_ns is µs-exact ×1000, ties broken by event_id)
      """WITH l AS (SELECT user_id, event_id, epoch_ns(ts) AS tn,
           lag(epoch_ns(ts)) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         FROM events),
         f AS (SELECT user_id, event_id, tn,
           CASE WHEN prev IS NULL OR tn - prev > 1800000000000 THEN 1 ELSE 0 END
             AS is_new
         FROM l),
         s AS (SELECT user_id, tn,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tn, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_seq
         FROM f)
         SELECT user_id, session_seq, count(*) AS n_events,
           min(tn) // 1000 AS start_us, max(tn) // 1000 AS end_us
         FROM s GROUP BY user_id, session_seq
         ORDER BY user_id, session_seq"""),

    // ---------------- unpivot (wide → long reshaping) ----------------
    // the inverse of q78_pivot: stack() runs in-task inside the scan
    // stage (one generator, no shuffle, no N-scans-for-N-attributes
    // like the naive UNION ALL the oracle is written as)
    Query("q133_unpivot_part", (s, dir) =>
      t(s, dir).part
        .select(col("p_partkey"), expr(
          "stack(2, 'retailprice', p_retailprice, " +
            "'size', CAST(p_size AS DOUBLE)) AS (attr, val)"))
        .orderBy("p_partkey", "attr"), oracle =
      """SELECT p_partkey, attr, val FROM (
           SELECT p_partkey, 'retailprice' AS attr, p_retailprice AS val FROM part
           UNION ALL
           SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part)
         ORDER BY p_partkey, attr"""),

    // ---------------- SCD-2 validity-versioned history ----------------
    // History at v100 (one closed generation at v50-100 for the %5
    // keys, current rows for the %3≠0 keys) advanced to the v200
    // snapshot (%10≠0 survives, %7 keys change, %11 keys re-key as
    // inserts) — updates, deletes, inserts, and re-inserts all occur.
    Query("q141_scd2_history", (s, dir) => {
      val docs = t(s, dir).documents.select(col("doc_id"), col("source"), col("n_chars"))
      val hist = docs.filter(col("doc_id") % 3 =!= 0)
        .withColumn("valid_from", lit(100L))
        .withColumn("valid_to", lit(null).cast("long"))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .withColumn("n_chars", col("n_chars") - 7L)
          .withColumn("valid_from", lit(50L))
          .withColumn("valid_to", lit(100L)))
      val snap = docs.filter(col("doc_id") % 10 =!= 0)
        .withColumn("n_chars",
          when(col("doc_id") % 7 === 0, col("n_chars") + 1L).otherwise(col("n_chars")))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("source"), col("n_chars")))
      Upsert.scd2Apply(hist, snap, "doc_id", asOf = 200L)
        .orderBy(col("doc_id"), col("valid_from"))
    }, oracle =
      """WITH docs AS (SELECT doc_id, source, n_chars FROM documents),
         hist AS (
           SELECT doc_id, source, n_chars,
             CAST(100 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
           FROM docs WHERE doc_id % 3 <> 0
           UNION ALL
           SELECT doc_id, source, n_chars - 7,
             CAST(50 AS BIGINT), CAST(100 AS BIGINT)
           FROM docs WHERE doc_id % 5 = 0),
         snap AS (
           SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
           FROM docs WHERE doc_id % 10 <> 0
           UNION ALL
           SELECT doc_id + 1000000, source, n_chars FROM docs WHERE doc_id % 11 = 0),
         cur AS (SELECT * FROM hist WHERE valid_to IS NULL),
         closed AS (SELECT * FROM hist WHERE valid_to IS NOT NULL),
         j AS (SELECT coalesce(c.doc_id, s.doc_id) AS doc_id,
             c.doc_id IS NOT NULL AS cp, s.doc_id IS NOT NULL AS sp,
             c.source AS c_source, c.n_chars AS c_chars, c.valid_from AS c_from,
             s.source AS s_source, s.n_chars AS s_chars,
             (c.source IS NOT DISTINCT FROM s.source
              AND c.n_chars IS NOT DISTINCT FROM s.n_chars) AS same
           FROM cur c FULL JOIN snap s ON c.doc_id = s.doc_id)
         SELECT doc_id, source, n_chars, valid_from, valid_to FROM closed
         UNION ALL
         SELECT doc_id, c_source, c_chars, c_from, CAST(NULL AS BIGINT)
         FROM j WHERE cp AND sp AND same
         UNION ALL
         SELECT doc_id, c_source, c_chars, c_from, CAST(200 AS BIGINT)
         FROM j WHERE cp AND (NOT sp OR NOT same)
         UNION ALL
         SELECT doc_id, s_source, s_chars, CAST(200 AS BIGINT), CAST(NULL AS BIGINT)
         FROM j WHERE sp AND (NOT cp OR NOT same)
         ORDER BY doc_id, valid_from"""),

    // ---------------- percentile-rank feature normalization ----------------
    // Curriculum features: a doc's length percentile WITHIN its
    // language (percent_rank + cume_dist — exact rational arithmetic,
    // ties share values, no float-parity risk).
    Query("q143_percentile_norm", (s, dir) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
      t(s, dir).documents
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, lang, n_chars,
           round(percent_rank() OVER (PARTITION BY lang ORDER BY n_chars), 6) AS pr,
           round(cume_dist() OVER (PARTITION BY lang ORDER BY n_chars), 6) AS cd
         FROM documents ORDER BY doc_id"""),

    // ---------------- incremental aggregate-table maintenance ----------------
    // The ORACLE here is the algebraic property itself: folding the
    // delta batch's partial aggregates into the base rollup must
    // equal a full recompute over the whole corpus (the base split at
    // doc_id 50 leaves several (lang, source) cells delta-only, so
    // the null arms of the fold are exercised).
    Query("q146_incremental_agg", (s, dir) => {
      val docs = t(s, dir).documents
      def rollup(df: DataFrame) = df.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
      Upsert.incrementalAggMerge(
        rollup(docs.filter(col("doc_id") < 50)),
        rollup(docs.filter(col("doc_id") >= 50)),
        keys = Seq("lang", "source"),
        counts = Seq("n_docs"), sums = Seq("sum_chars"),
        mins = Seq("min_chars"), maxs = Seq("max_chars"))
        .orderBy("lang", "source")
    }, oracle =
      // the oracle IS the recompute: incremental fold ≡ full GROUP BY
      """SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
         FROM documents GROUP BY lang, source ORDER BY lang, source"""),

    // ---------------- join-skew diagnosis ----------------
    // "Which users would dominate an events⋈events self-join?" — the
    // planning query behind the AQE-vs-saltedJoin decision.
    Query("q147_join_skew", (s, dir) => {
      val ev = t(s, dir).events
      RelOps.joinSkewReport(
        ev.filter(col("event_type") === "click").select(col("user_id")),
        ev.filter(col("event_type") === "purchase").select(col("user_id")),
        "user_id", topN = 20)
    }, oracle =
      """WITH lc AS (SELECT user_id, count(*) AS n_left FROM events
           WHERE event_type = 'click' GROUP BY 1),
         rc AS (SELECT user_id, count(*) AS n_right FROM events
           WHERE event_type = 'purchase' GROUP BY 1)
         SELECT coalesce(lc.user_id, rc.user_id) AS user_id,
           coalesce(n_left, 0) AS n_left, coalesce(n_right, 0) AS n_right,
           coalesce(n_left, 0) * coalesce(n_right, 0) AS n_out
         FROM lc FULL JOIN rc ON lc.user_id = rc.user_id
         ORDER BY n_out DESC, user_id LIMIT 20"""),

    // ---------------- general interval-overlap join ----------------
    // "Which purchase-attribution windows were open while each click
    // window was live?" — interval × interval overlap per user, the
    // temporal-algebra primitive q74/q75 (as-of, point-in-range)
    // don't cover. Binned equi-join (both sides replicate per
    // touched bin, first-shared-bin claims the pair) — the raw
    // inequality predicate the DuckDB oracle runs would plan as a
    // nested loop at scale.
    Query("q167_interval_overlap", (s, dir) => {
      val ev = t(s, dir).events
      def iv(tpe: String, lenUs: Long, sN: String, eN: String) =
        ev.filter(col("event_type") === tpe)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as(sN),
            (unix_micros(col("ts")) + lit(lenUs)).as(eN))
      RangeJoin.intervalOverlapJoin(
        iv("click", 300000000L, "ls", "le"),
        iv("purchase", 600000000L, "rs", "re"),
        "user_id", "ls", "le", "rs", "re",
        binWidth = 600000000L, rightCols = Seq("event_id"))
        .orderBy("event_id", "r_event_id")
    }, oracle =
      // the oracle runs the RAW inequality predicate the binned
      // equi-join replaces — the pair sets must be identical
      // (epoch_ns//1000 = the engine loader's exact ns→µs division)
      """WITH l AS (SELECT user_id, event_id,
             epoch_ns(ts) // 1000 AS ls,
             epoch_ns(ts) // 1000 + 300000000 AS le
           FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, event_id AS r_event_id,
             epoch_ns(ts) // 1000 AS r_rs,
             epoch_ns(ts) // 1000 + 600000000 AS r_re
           FROM events WHERE event_type = 'purchase')
         SELECT l.user_id, l.event_id, ls, le, r_event_id, r_rs, r_re
         FROM l JOIN r USING (user_id)
         WHERE ls <= r_re AND r_rs <= le
         ORDER BY event_id, r_event_id"""),

    // ---------------- per-key interval coalescing ----------------
    // Union of overlapping click windows per user → coverage islands
    // ("total engaged time"). One keyed window + one keyed agg;
    // contrast q113 sessionize, which islands POINT events by gap.
    Query("q168_interval_merge", (s, dir) => {
      val ev = t(s, dir).events
      RangeJoin.mergeIntervals(
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), unix_micros(col("ts")).as("s"),
            (unix_micros(col("ts")) + lit(600000000L)).as("e")),
        "user_id", "s", "e")
        .orderBy("user_id", "island_start")
    }, oracle =
      """WITH iv AS (SELECT user_id,
             epoch_ns(ts) // 1000 AS s,
             epoch_ns(ts) // 1000 + 600000000 AS e
           FROM events WHERE event_type = 'click'),
         m AS (SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
           FROM iv),
         f AS (SELECT user_id, s, e,
             CASE WHEN rm IS NULL OR s > rm THEN 1 ELSE 0 END AS opens
           FROM m),
         g AS (SELECT user_id, s, e,
             sum(opens) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM f)
         SELECT user_id, min(s) AS island_start, max(e) AS island_end,
           count(*) AS n_intervals
         FROM g GROUP BY user_id, island
         ORDER BY user_id, island_start"""),

    // ---------------- 2-D Pareto skyline ----------------
    // Per return-flag frontier of (cheapest price, biggest quantity):
    // one keyed sort + two running-min windows replace the quadratic
    // NOT-EXISTS self-join the oracle runs. Fixed-point cents keep
    // the RANGE-frame semantics exact (x' < x on longs).
    Query("q169_pareto_skyline", (s, dir) => {
      val pts = t(s, dir).lineitem.select(
        col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
        (-round(col("l_quantity"))).cast("long").as("neg_qty"))
      Skyline.skyline2d(pts, Seq("l_returnflag"), "price_cents", "neg_qty")
        .select(col("l_returnflag"), col("price_cents"),
          (-col("neg_qty")).as("qty"))
        .orderBy("l_returnflag", "price_cents")
    }, oracle =
      // the oracle runs the quadratic NOT-EXISTS dominance scan the
      // window encoding replaces — frontiers must be identical
      """WITH p AS (SELECT DISTINCT l_returnflag AS g,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(round(l_quantity) AS BIGINT) AS qty
           FROM lineitem)
         SELECT g AS l_returnflag, price_cents, qty
         FROM p q WHERE NOT EXISTS (
           SELECT 1 FROM p d WHERE d.g = q.g
             AND d.price_cents <= q.price_cents AND d.qty >= q.qty
             AND (d.price_cents < q.price_cents OR d.qty > q.qty))
         ORDER BY l_returnflag, price_cents"""),

    // ---------------- sketch set algebra: HLL distinct intersection ----------------
    // "How many keys are in BOTH segments" at sketch cost: HLL can
    // union but not intersect, so the estimate is inclusion-exclusion
    // (est_A + est_B − est_A∪B) — three parameter-sized sketches, no
    // exact distinct over the fact table needed at data scale. The
    // compounded error has no tight a-priori bound, so the envelope
    // pins a GENEROUS one (each estimate within 10% of exact; the
    // intersection within 10% of the larger segment) — the q91/q105
    // pattern: rows keyed on the DuckDB-recomputable exact
    // cardinalities, verdict booleans pinned TRUE. The exact columns
    // exist to KEY the oracle; a 100 TB run keeps only the sketches.
    Query("q196_hll_intersection", (s, dir) => {
      val li = t(s, dir).lineitem
      val a = li.filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("k"))
      val b = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("k"))
      val skA = a.agg(hll_sketch_agg(col("k")).as("sa"),
        countDistinct(col("k")).as("n_a"))
      val skB = b.agg(hll_sketch_agg(col("k")).as("sb"),
        countDistinct(col("k")).as("n_b"))
      val exact = a.intersect(b).agg(count(lit(1)).as("n_inter"))
        .crossJoin(a.unionByName(b).agg(countDistinct(col("k")).as("n_union")))
      val estA = hll_sketch_estimate(col("sa"))
      val estB = hll_sketch_estimate(col("sb"))
      val estU = hll_sketch_estimate(hll_union(col("sa"), col("sb")))
      val estI = estA + estB - estU
      skA.crossJoin(skB).crossJoin(exact)
        .select(col("n_a"), col("n_b"), col("n_union"), col("n_inter"),
          (abs(estA - col("n_a")) <= col("n_a") * 0.1).as("a_ok"),
          (abs(estB - col("n_b")) <= col("n_b") * 0.1).as("b_ok"),
          (abs(estU - col("n_union")) <= col("n_union") * 0.1).as("union_ok"),
          (abs(estI - col("n_inter")) <=
            greatest(col("n_a"), col("n_b")) * 0.1).as("inter_ok"))
    }, oracle =
      """WITH a AS (SELECT DISTINCT l_orderkey AS k FROM lineitem
                    WHERE l_quantity >= 45),
         b AS (SELECT DISTINCT l_orderkey AS k FROM lineitem
               WHERE l_returnflag = 'R')
         SELECT
           CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b,
           CAST((SELECT count(*) FROM
             (SELECT k FROM a UNION SELECT k FROM b)) AS BIGINT) AS n_union,
           CAST((SELECT count(*) FROM
             (SELECT k FROM a INTERSECT SELECT k FROM b)) AS BIGINT) AS n_inter,
           TRUE AS a_ok, TRUE AS b_ok, TRUE AS union_ok, TRUE AS inter_ok"""),

    // ---------------- market-basket association rules ----------------
    // Frequent brand pairs across orders with support / confidence /
    // lift — pairs generated in-task per basket's distinct item set,
    // counted in one keyed agg; the oracle runs the quadratic
    // within-basket self-join instead. Fixed-point (×1e6, floor
    // division) keeps every derived metric exact integer.
    Query("q173_basket_rules", (s, dir) => {
      val li = t(s, dir).lineitem.select(col("l_orderkey"), col("l_partkey"))
      val brands = li.join(
        t(s, dir).part.select(col("p_partkey"), col("p_brand")),
        li("l_partkey") === col("p_partkey"))
      Association.pairRules(brands, "l_orderkey", "p_brand", minSupport = 100L)
        .orderBy("item_a", "item_b")
    }, oracle =
      // the oracle counts pair support with the quadratic within-basket
      // self-join the in-task pair generation replaces
      """WITH bi AS (SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
             FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         supp AS (SELECT i, count(*) AS s FROM bi GROUP BY i),
         n AS (SELECT count(DISTINCT b) AS nb FROM bi),
         pr AS (SELECT a.i AS item_a, c.i AS item_b, count(*) AS supp_ab
             FROM bi a JOIN bi c ON a.b = c.b AND a.i < c.i
             GROUP BY 1, 2 HAVING count(*) >= 100)
         SELECT item_a, item_b, sa.s AS supp_a, sb.s AS supp_b, supp_ab,
           nb AS n_baskets,
           supp_ab * 1000000 // sa.s AS conf_ab_fp,
           supp_ab * 1000000 // sb.s AS conf_ba_fp,
           (supp_ab * nb * 1000000) // (sa.s * sb.s) AS lift_fp
         FROM pr JOIN supp sa ON sa.i = pr.item_a
           JOIN supp sb ON sb.i = pr.item_b CROSS JOIN n
         ORDER BY item_a, item_b"""),

    // ---------------- arbitrary GROUPING SETS ----------------
    // q52/q77 cover ROLLUP and CUBE; this is the general form —
    // one dialect-common text both engines execute verbatim.
    Query("q175_grouping_sets", (s, dir) => Graft.sql(s, dir, SqlGroupingSets), oracle =
      SqlGroupingSets),

    // ---------------- per-group MAD robust-dispersion profile ----------------
    // Exact lower-median rank selection (no interpolation, all
    // integer arithmetic) → median, MAD, and |v−med| > 3·MAD outlier
    // counts per language — the robust gate next to q103/q104's
    // percentile-based ones.
    Query("q176_mad_outliers", (s, dir) =>
      Outliers.madProfile(t(s, dir).documents, col("lang"), col("n_chars"))
        .select(col("__g").as("lang"), col("n"), col("med"), col("mad"),
          col("n_outliers"))
        .orderBy("lang"), oracle =
      // the oracle replays the identical rank selection — lower median
      // by row_number, then the MAD the same way
      """WITH v AS (SELECT lang AS g, CAST(n_chars AS BIGINT) AS v
             FROM documents),
         m AS (SELECT g, v AS med FROM (
             SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
               count(*) OVER (PARTITION BY g) AS n FROM v)
           WHERE rn = (n + 1) // 2),
         d AS (SELECT v.g, med, abs(v - med) AS dd FROM v JOIN m USING (g)),
         md AS (SELECT g, dd AS mad FROM (
             SELECT g, dd, row_number() OVER (PARTITION BY g ORDER BY dd) AS rn,
               count(*) OVER (PARTITION BY g) AS n FROM d)
           WHERE rn = (n + 1) // 2)
         SELECT d.g AS lang, count(*) AS n,
           CAST(max(med) AS BIGINT) AS med, CAST(max(mad) AS BIGINT) AS mad,
           CAST(sum(CASE WHEN dd > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
         FROM d JOIN md USING (g) GROUP BY d.g ORDER BY lang"""),

    // ---------------- k-anonymity audit ----------------
    // Re-identification risk the redaction pass can't see: rows
    // identifiable by the COMBINATION of innocuous attributes. One
    // keyed agg over the quasi-identifier tuple (lang, source,
    // n_chars coarsened to centuries — the generalization step a
    // failing audit prescribes); classes under k=5 flag `at_risk`.
    Query("q222_k_anonymity", (s, dir) => {
      Quality.kAnonymity(
        t(s, dir).documents.select(col("lang"), col("source"),
          (floor(col("n_chars") / 100) * 100).as("chars_bucket")),
        Seq("lang", "source", "chars_bucket"), k = 5)
    }, oracle =
      """SELECT lang, source,
           CAST(floor(n_chars / 100) * 100 AS BIGINT) AS chars_bucket,
           count(*) AS class_size, count(*) < 5 AS at_risk
         FROM documents
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),

    // ---------------- l-diversity audit ----------------
    // The k-anonymity complement: a class of >= k rows that all share
    // ONE sensitive value still leaks it. Same single-shuffle agg with
    // a count-distinct of the sensitive attribute (here `source`
    // plays the sensitive role against the (lang, chars_bucket)
    // quasi-identifier).
    Query("q223_l_diversity", (s, dir) => {
      Quality.lDiversity(
        t(s, dir).documents.select(col("lang"), col("source"),
          (floor(col("n_chars") / 100) * 100).as("chars_bucket")),
        Seq("lang", "chars_bucket"), sensitive = "source", l = 3)
    }, oracle =
      """SELECT lang,
           CAST(floor(n_chars / 100) * 100 AS BIGINT) AS chars_bucket,
           count(*) AS class_size,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sensitive,
           count(DISTINCT source) >= 3 AS diverse
         FROM documents
         GROUP BY 1, 2 ORDER BY 1, 2"""),
  )
}
