package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.io.Corpus
import Num._

/** Core relational operator surface (SURVEY.md §2.1–§2.8) expressed over the
  * shared corpus, each with a DuckDB oracle.
  *
  * Scale notes baked into every query:
  *  - small dims (`region`/`nation`) are explicitly `broadcast()` — at 100 TB
  *    a fact⋈dim shuffle would dominate; broadcast keeps the fact side
  *    shuffle-free.
  *  - fact⋈fact joins (orders⋈lineitem) rely on sort-merge + AQE; both sides
  *    shuffle on the join key once, and downstream aggregation on that key
  *    reuses the partitioning.
  *  - aggregates use map-side partial aggregation (Catalyst HashAggregate)
  *    automatically; `dsum` keeps the result order-independent so the same
  *    plan is correct on 1 or 1000 executors.
  *  - every query ends with a deterministic ORDER BY (mirrored in the
  *    oracle) so result comparison is stable; the sort happens *after*
  *    aggregation (tiny output) and is eliminated by Catalyst when a
  *    downstream action (e.g. Bench's noop write via count) doesn't need it.
  */
object Relational {

  /** §2.4 A1/A3/A4/A5, P18: TPC-H Q1-shaped pricing summary on lineitem.
    * Map-side partial agg on (returnflag, linestatus) — 6 groups, so the
    * shuffle moves only partial buffers, not rows. Capability of
    * reference `Gold_layer/starschema.py:137-146` (KPI rollup). */
  private def q01(spark: SparkSession, dir: String): DataFrame =
    Corpus.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q01Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  ${dsumSql("l_extendedprice")} AS sum_base_price,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
       |  ${davgSql("l_quantity")} AS avg_qty,
       |  ${davgSql("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** §2.4 A8: dims-via-distinct (reference `starschema.py:75-96`). */
  private def q02(spark: SparkSession, dir: String): DataFrame =
    Corpus.part(spark, dir)
      .select(col("p_brand"), col("p_type"))
      .distinct()
      .orderBy(col("p_brand"), col("p_type"))

  private val q02Sql =
    """SELECT DISTINCT p_brand, p_type FROM part ORDER BY p_brand, p_type"""

  /** §2.4 A9 + §2.8: dedup-by-key with a deterministic keep rule (latest
    * order per customer). `dropDuplicates` keeps an arbitrary row; a
    * row_number window makes the choice reproducible — the scalable
    * pattern for keyed dedup at 100 TB (single shuffle on the key). */
  private def q03(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Corpus.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .orderBy(col("o_custkey"))
  }

  private val q03Sql =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
      |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |      FROM orders)
      |WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin

  /** §2.3 G1: explode/flatten (reference `Silver_tranformation.py:78`),
    * here as token explosion over documents + frequency filter. */
  private def q04(spark: SparkSession, dir: String): DataFrame =
    Corpus.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 50)
      .orderBy(col("token"))

  private val q04Sql =
    """SELECT token, COUNT(*) AS n
      |FROM (SELECT unnest(str_split(text, ' ')) AS token FROM documents)
      |WHERE token <> ''
      |GROUP BY token
      |HAVING COUNT(*) > 50
      |ORDER BY token""".stripMargin

  /** §2.2 P15/P6 + §2.7: selective filter + narrow projection + top-k.
    * Both the range predicate and the 4-column projection push into the
    * parquet scan (PushedFilters/ReadSchema); the top-k is a
    * TakeOrderedAndProject (no global sort materialization). */
  private def q05(spark: SparkSession, dir: String): DataFrame =
    Corpus.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1999-01-01")) &&
        col("l_discount") > 0.05 && col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_shipdate"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  private val q05Sql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_discount > 0.05 AND l_quantity < 10
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 100""".stripMargin

  /** §2.5: fact⋈dim⋈dim star join with explicit broadcasts (nation/region
    * are tiny at any scale factor — never shuffle the customer side). */
  private def q06(spark: SparkSession, dir: String): DataFrame =
    Corpus.customer(spark, dir)
      .join(broadcast(Corpus.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Corpus.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("sum_acctbal"),
        davg(col("c_acctbal")).as("avg_acctbal"))
      .orderBy(col("r_name"))

  private val q06Sql =
    s"""SELECT r_name, COUNT(*) AS n_customers,
       |  ${dsumSql("c_acctbal")} AS sum_acctbal,
       |  ${davgSql("c_acctbal")} AS avg_acctbal
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name
       |ORDER BY r_name""".stripMargin

  /** §2.5: fact⋈fact join (orders⋈lineitem) — sort-merge on the shuffled
    * key; countDistinct(o_orderkey) reuses the join-side partitioning. */
  private def q07(spark: SparkSession, dir: String): DataFrame =
    Corpus.lineitem(spark, dir)
      .join(Corpus.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_orderkey")).as("n_orders"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("o_orderpriority"))

  private val q07Sql =
    s"""SELECT o_orderpriority, COUNT(DISTINCT o_orderkey) AS n_orders,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** §2.5 anti join: parts with no shipment after a cutoff (data-quality
    * shape: "facts without a dim entry"). Filter is applied on the build
    * side *before* the join — at scale this prunes the broadcast/shuffle. */
  private def q08(spark: SparkSession, dir: String): DataFrame = {
    val shipped = Corpus.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("2000-01-01")))
      .select(col("l_partkey"))
    Corpus.part(spark, dir)
      .join(shipped, col("p_partkey") === col("l_partkey"), "left_anti")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy(col("p_brand"))
  }

  private val q08Sql =
    """SELECT p_brand, COUNT(*) AS n_parts
      |FROM part
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem
      |                  WHERE l_partkey = p_partkey AND l_shipdate >= TIMESTAMP '2000-01-01')
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** §2.5 semi join: suppliers active in a window (EXISTS). */
  private def q09(spark: SparkSession, dir: String): DataFrame = {
    val active = Corpus.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("2001-01-01")))
      .select(col("l_suppkey"))
    Corpus.supplier(spark, dir)
      .join(active, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"), dsum(col("s_acctbal")).as("sum_acctbal"))
      .orderBy(col("s_nationkey"))
  }

  private val q09Sql =
    s"""SELECT s_nationkey, COUNT(*) AS n_suppliers, ${dsumSql("s_acctbal")} AS sum_acctbal
       |FROM supplier
       |WHERE EXISTS (SELECT 1 FROM lineitem
       |              WHERE l_suppkey = s_suppkey AND l_shipdate >= TIMESTAMP '2001-01-01')
       |GROUP BY s_nationkey
       |ORDER BY s_nationkey""".stripMargin

  /** §2.6 U1: union-all of filtered slices then aggregate (reference
    * `prediction.py:80` folds per-date frames; here one unionByName). */
  private def q10(spark: SparkSession, dir: String): DataFrame = {
    val o = Corpus.orders(spark, dir)
    val y1995 = o.filter(year(col("o_orderdate")) === 1995)
    val big = o.filter(col("o_totalprice") > 400000.0)
    y1995.unionByName(big)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  private val q10Sql =
    s"""SELECT o_orderstatus, COUNT(*) AS n_rows, COUNT(DISTINCT o_orderkey) AS n_orders,
       |  ${dsumSql("o_totalprice")} AS sum_price
       |FROM (SELECT * FROM orders WHERE year(o_orderdate) = 1995
       |      UNION ALL
       |      SELECT * FROM orders WHERE o_totalprice > 400000.0)
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  /** §2.8: latest-event-per-user (row_number over desc ts) — the
    * "latest checkpoint per shipment" shape from SURVEY §2.8. */
  private def q11(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Corpus.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"), col("value"))
      .orderBy(col("user_id"))
  }

  private val q11Sql =
    """SELECT user_id, event_id, event_type, ts, value
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** §2.8 lag: inter-event dwell time per user, aggregated by type.
    * Gap sums stay in exact integer micros (no fp order-dependence). */
  private def q12(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Corpus.events(spark, dir)
      .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_us")).as("sum_gap_us"))
      .withColumn("avg_gap_us", col("sum_gap_us").cast("double") / col("n_gaps"))
      .orderBy(col("event_type"))
  }

  private val q12Sql =
    """SELECT event_type, COUNT(*) AS n_gaps,
      |  CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
      |  CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) AS avg_gap_us
      |FROM (SELECT event_type,
      |             epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      |      FROM events)
      |WHERE gap_us IS NOT NULL
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** §2.2 P9/P10: when/isin/otherwise bucketing (reference
    * `Silver_tranformation.py:107-111` delivery_status semantics). */
  private def q13(spark: SparkSession, dir: String): DataFrame =
    Corpus.orders(spark, dir)
      .withColumn("bucket",
        when(col("o_orderstatus").isin("F", "P"), lit("SETTLED")).otherwise(lit("OPEN")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("bucket"))

  private val q13Sql =
    s"""SELECT CASE WHEN o_orderstatus IN ('F','P') THEN 'SETTLED' ELSE 'OPEN' END AS bucket,
       |  COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders
       |GROUP BY 1
       |ORDER BY bucket""".stripMargin

  /** §2.7: aggregate + global top-k (TakeOrderedAndProject). Decimal sums
    * make the ranking key deterministic, so LIMIT is stable cross-engine. */
  private def q14(spark: SparkSession, dir: String): DataFrame =
    Corpus.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(dsum(col("o_totalprice")).as("total_spend"), count(lit(1)).as("n_orders"))
      .orderBy(col("total_spend").desc, col("o_custkey"))
      .limit(10)

  private val q14Sql =
    s"""SELECT o_custkey, ${dsumSql("o_totalprice")} AS total_spend, COUNT(*) AS n_orders
       |FROM orders
       |GROUP BY o_custkey
       |ORDER BY total_spend DESC, o_custkey
       |LIMIT 10""".stripMargin

  /** §2.4 parity-plus: ROLLUP over region→nation (BI hierarchy). Names are
    * coalesced to 'ALL' so NULL-ordering differences between engines can't
    * affect the comparison. */
  private def q15(spark: SparkSession, dir: String): DataFrame =
    Corpus.customer(spark, dir)
      .join(broadcast(Corpus.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Corpus.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_customers"), col("sum_acctbal"))
      .orderBy(col("region"), col("nation"))

  private val q15Sql =
    s"""SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
       |  COUNT(*) AS n_customers, ${dsumSql("c_acctbal")} AS sum_acctbal
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP(r_name, n_name)
       |ORDER BY region, nation""".stripMargin

  /** §2.2 P8 + date bucketing: monthly order rollup via date_trunc. */
  private def q16(spark: SparkSession, dir: String): DataFrame =
    Corpus.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("month"))

  private val q16Sql =
    s"""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
       |  COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders
       |GROUP BY 1
       |ORDER BY month""".stripMargin

  /** §2.2 P15: point lookup by key (reference `pastapi.py:173` tracking
    * lookup). At scale this is the case for bucketed/Z-ordered layout;
    * on plain parquet the predicate pushes to row-group stats. */
  private def q17(spark: SparkSession, dir: String): DataFrame =
    Corpus.orders(spark, dir)
      .filter(col("o_orderkey") === 1L)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))

  private val q17Sql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      |FROM orders WHERE o_orderkey = 1""".stripMargin

  /** §2.2 P4/P5: string normalization (trim/upper/substr/length/concat —
    * reference `Silver_tranformation.py:81-82`). */
  private def q18(spark: SparkSession, dir: String): DataFrame =
    Corpus.customer(spark, dir)
      .select(
        col("c_custkey"),
        upper(trim(col("c_name"))).as("name_upper"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        length(col("c_name")).cast("long").as("name_len"),
        concat(col("c_mktsegment"), lit("#"), col("c_name")).as("seg_name"))
      .orderBy(col("c_custkey"))

  private val q18Sql =
    """SELECT c_custkey, UPPER(TRIM(c_name)) AS name_upper, substr(c_name, 1, 8) AS name_prefix,
      |  CAST(length(c_name) AS BIGINT) AS name_len, c_mktsegment || '#' || c_name AS seg_name
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** Semi-structured: JSON extraction from the events props column +
    * exact integer aggregation, plus P17 coercion semantics — try_cast
    * turns invalid input into null instead of an ANSI error (counting
    * non-null casts of a non-numeric column yields 0 on both engines). */
  private def q19(spark: SparkSession, dir: String): DataFrame =
    Corpus.events(spark, dir)
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        expr("try_cast(event_type as int)").as("bad_cast"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"),
        count(col("bad_cast")).as("n_valid_casts"))
      .orderBy(col("event_type"))

  // TRY_CAST keeps the oracle aligned with Spark's null-on-uncastable
  // semantics even if a future corpus carries non-numeric k values
  // (plain CAST would abort the DuckDB query where Spark returns null).
  private val q19Sql =
    """SELECT event_type,
      |  CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
      |  COUNT(TRY_CAST(event_type AS INT)) AS n_valid_casts
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** §2.5 left outer join + §2.2 P13 null-fill (reference fillna,
    * `Silver_tranformation.py:102-106`): per-customer order stats with
    * zero-defaults for customers without matches. */
  private def q20(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Corpus.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("s"))
    Corpus.customer(spark, dir)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(
        col("c_custkey"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        coalesce(col("s"), lit(0.0)).as("spend"))
      .orderBy(col("c_custkey"))
  }

  private val q20Sql =
    s"""SELECT c_custkey, COALESCE(n, 0) AS n_orders, COALESCE(s, 0.0) AS spend
       |FROM customer
       |LEFT JOIN (SELECT o_custkey, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS s
       |           FROM orders GROUP BY o_custkey) ON c_custkey = o_custkey
       |ORDER BY c_custkey""".stripMargin

  /** §2.2 P7/P8/P20: timestamp→date, date_add, year/month extraction. */
  private def q21(spark: SparkSession, dir: String): DataFrame =
    Corpus.orders(spark, dir)
      .filter(col("o_orderkey") <= 100L)
      .select(
        col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        date_add(to_date(col("o_orderdate")), 30).as("due_date"),
        year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("order_month"))
      .orderBy(col("o_orderkey"))

  private val q21Sql =
    """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
      |  CAST(o_orderdate AS DATE) + 30 AS due_date,
      |  CAST(year(o_orderdate) AS INT) AS order_year,
      |  CAST(month(o_orderdate) AS INT) AS order_month
      |FROM orders WHERE o_orderkey <= 100
      |ORDER BY o_orderkey""".stripMargin

  /** §2.4 A2: exact distinct counts per group (multiple countDistinct →
    * Catalyst expand; at 100 TB prefer q23's approx variant). */
  private def q22(spark: SparkSession, dir: String): DataFrame =
    Corpus.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"))

  private val q22Sql =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** §2.4 A2 scale path: HLL approx_count_distinct — the 100 TB variant of
    * q22. ORACLE-GATED accuracy bound (VERDICT r16 #2): the HLL values
    * themselves are engine-specific (sketch state differs between
    * engines), so the gated output carries the exact counts plus
    * `parts_ok`/`orders_ok` — `|estimate − exact| ≤ 0.05·exact`.
    * The sketch runs at relativeSD 0.01 (Spark's DEFAULT is 0.05 —
    * at that precision a correct sketch strays past any 5% gate on
    * real groups, measured here at sf0.01), so the gate sits 5 rsd
    * out: a correct sketch essentially never trips it, a broken one
    * cannot hide inside it. DuckDB independently recomputes the exact
    * counts and asserts the bound columns TRUE, so a drifting sketch
    * (or a broken exact path) turns the row red: the estimate is gated
    * against the oracle's own exact quantity, transitively through
    * Spark's exact count matching DuckDB's.
    *
    * Plan shape — distinct-first, NOT countDistinct-beside-HLL in one
    * agg: HLL register state is a pure SET function, so the estimate
    * over `(group, key).distinct()` is bit-identical to the estimate
    * over the raw rows, while exact becomes a plain `count(*)` on the
    * deduplicated frame. The naive combined agg plans a
    * countDistinct EXPAND whose first-stage hash map keys on
    * (group, key) — at rsd 0.01 each of those ~200k entries carries a
    * ~16 KB HLL register buffer (measured 32–57 s at sf0.1, gigabytes
    * of buffer churn); distinct-first keeps the wide sketch buffers to
    * 3 groups and reads 2.5–3.3 s. At 100 TB the same property holds:
    * the dedup shuffle carries narrow pairs, the wide sketch state
    * stays one-buffer-per-group. */
  private def q23(spark: SparkSession, dir: String): DataFrame = {
    // ONE lineitem pass for both key spaces (r18): the two-`side` form
    // scanned (and rebalance-exchanged) lineitem once per side before
    // its own distinct. Exploding each row into ('p', l_partkey) /
    // ('o', l_orderkey) pairs feeds ONE dedup shuffle carrying the same
    // total rows, and the per-(flag, side) estimates/counts are
    // bit-identical: HLL register state is a pure set function and the
    // deduplicated (flag, side, key) sets are exactly the old sides'.
    // The distinct-first shape (NOT countDistinct-beside-HLL in one
    // agg) is load-bearing — see the class doc: the combined agg's
    // EXPAND carries a ~16 KB rsd-0.01 sketch buffer per (group, key)
    // entry, measured 32–57 s at sf0.1.
    val li = Corpus.lineitem(spark, dir)
    val sides = li
      .select(col("l_returnflag"), explode(array(
        struct(lit("p").as("side"), col("l_partkey").as("k")),
        struct(lit("o").as("side"), col("l_orderkey").as("k")))).as("e"))
      .select(col("l_returnflag"), col("e.side").as("side"), col("e.k").as("k"))
      .distinct()
      .groupBy(col("l_returnflag"), col("side")).agg(
        count(lit(1)).as("exact"),
        approx_count_distinct(col("k"), 0.01).as("approx"))
    // pivot, not a self-join of filtered halves: two filters over the
    // aggregated frame would plan (and run) the whole scan+dedup subtree
    // twice — no cross-branch CSE in Catalyst
    sides
      .groupBy(col("l_returnflag")).pivot("side", Seq("p", "o"))
      .agg(first(col("exact")).as("exact"), first(col("approx")).as("approx"))
      .select(col("l_returnflag"),
        col("p_exact").as("exact_parts"), col("p_approx").as("approx_parts"),
        col("o_exact").as("exact_orders"), col("o_approx").as("approx_orders"))
      .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
        (abs(col("approx_parts") - col("exact_parts"))
          <= lit(0.05) * col("exact_parts")).as("parts_ok"),
        (abs(col("approx_orders") - col("exact_orders"))
          <= lit(0.05) * col("exact_orders")).as("orders_ok"))
      .orderBy(col("l_returnflag"))
  }

  private val q23Sql =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  COUNT(DISTINCT l_orderkey) AS exact_orders,
      |  TRUE AS parts_ok, TRUE AS orders_ok
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Batch windowed aggregation via window() — identical semantics to the
    * Structured Streaming tumbling-window KPI (SURVEY §2.10); oracle uses
    * date_trunc since 1h epoch-aligned buckets coincide. */
  private def q24(spark: SparkSession, dir: String): DataFrame =
    Corpus.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  private val q24Sql =
    s"""SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
       |  ${dsumSql("value")} AS sum_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY hour, event_type""".stripMargin

  /** As-of join (parity-plus): each click event enriched with the most
    * recent error event (≤ its timestamp) for the same user — the
    * time-series operator Spark lacks natively, here one shuffle + window
    * ([[graft.operators.AsOfJoin]]). Oracle: DuckDB's native ASOF JOIN.
    * The right side is deduped to one row per (user, ts) first, otherwise
    * equal-timestamp matches are ambiguous in both engines. */
  private def q25(spark: SparkSession, dir: String): DataFrame = {
    val ev = Corpus.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val dedupeW = Window.partitionBy(col("user_id"), col("ts"))
      .orderBy(col("event_id").desc)
    val errors = ev.filter(col("event_type") === "error")
      .withColumn("rn", row_number().over(dedupeW)).filter(col("rn") === 1)
      .select(col("user_id"), col("ts"), col("value").as("err_value"), col("event_id").as("err_event_id"))
    graft.operators.AsOfJoin(clicks, errors, "user_id", "ts",
      payload = Seq("err_value", "err_event_id"))
      .orderBy(col("event_id"))
  }

  private val q25Sql =
    """WITH clicks AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
      |errors AS (SELECT user_id, ts, value AS err_value, event_id AS err_event_id
      |           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
      |                 FROM events WHERE event_type = 'error')
      |           WHERE rn = 1)
      |SELECT c.event_id, c.user_id, c.ts, c.value,
      |  e.err_value AS asof_err_value, e.err_event_id AS asof_err_event_id
      |FROM clicks c ASOF LEFT JOIN errors e
      |  ON c.user_id = e.user_id AND c.ts >= e.ts
      |ORDER BY c.event_id""".stripMargin

  /** Gap-based sessionization (30 min) with per-session rollup
    * ([[graft.operators.Sessionize]]); streaming equivalent is
    * [[graft.streaming.StatefulOps.sessionizeStream]] (stream≡batch
    * asserted in StreamingSpec). */
  private def q26(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sessionize
      .sessionStats(Corpus.events(spark, dir), "user_id", "ts", "event_id", gapSeconds = 1800L)
      .orderBy(col("user_id"), col("session_id"))

  private val q26Sql =
    """SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  COUNT(*) AS n_events
      |FROM (SELECT user_id, ts,
      |        CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1 AS session_id
      |      FROM (SELECT user_id, ts, event_id,
      |              CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                     > 1800 * 1000000 OR
      |                   LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |                   THEN 1 ELSE 0 END AS new_session
      |            FROM events))
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** Exact percentiles (median/p90 via interpolation) — Spark `percentile`
    * vs DuckDB `quantile_cont`, both linear interpolation on the sorted
    * values, so results are bit-comparable. At 100 TB the approx_percentile
    * sketch replaces this (same API shape, rows-only check). */
  private def q27(spark: SparkSession, dir: String): DataFrame =
    Corpus.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      // ONE percentile buffer for both quantiles (r18): two separate
      // percentile() aggregates each build, shuffle, and merge their own
      // per-group value→count map over the same column — the array form
      // computes both quantiles from a single map (half the agg state
      // and merge bytes), with the identical sort + linear interpolation
      // per quantile, so the values are bit-identical.
      .agg(
        expr("percentile(l_extendedprice, array(0.5, 0.9))").as("pcts"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        col("pcts").getItem(0).as("median_price"),
        col("pcts").getItem(1).as("p90_price"),
        col("n"))
      .orderBy(col("l_returnflag"))

  private val q27Sql =
    """SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.5) AS median_price,
      |  quantile_cont(l_extendedprice, 0.9) AS p90_price,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** CUBE over (returnflag, linestatus): all 2ⁿ grouping-set combinations
    * in one pass (Catalyst Expand). Names coalesced so NULL ordering
    * can't differ cross-engine. */
  private def q28(spark: SparkSession, dir: String): DataFrame =
    Corpus.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty"))
      .orderBy(col("returnflag"), col("linestatus"))

  private val q28Sql =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       |  COALESCE(l_linestatus, 'ALL') AS linestatus,
       |  COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY CUBE(l_returnflag, l_linestatus)
       |ORDER BY returnflag, linestatus""".stripMargin

  /** Pivot: order status → columns, revenue per priority. The oracle uses
    * the equivalent conditional aggregation (pivot is sugar for it). */
  private def q29(spark: SparkSession, dir: String): DataFrame =
    Corpus.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(dsum(col("o_totalprice")))
      .orderBy(col("o_orderpriority"))

  private val q29Sql =
    s"""SELECT o_orderpriority,
       |  ${dsumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS F,
       |  ${dsumSql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS O,
       |  ${dsumSql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS P
       |FROM orders
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** Range join via bucketization ([[graft.operators.RangeJoin]]):
    * lineitems shipped inside each order-window, with NO equi key — the
    * shape Spark would otherwise plan as a nested-loop theta join.
    * Oracle: DuckDB's native range join (IEJoin). */
  private def q30(spark: SparkSession, dir: String): DataFrame = {
    val intervals = Corpus.orders(spark, dir)
      .filter(col("o_orderkey") <= 100L)
      .select(col("o_orderkey").as("window_id"), col("o_orderdate").as("w_start"),
        expr("o_orderdate + make_interval(0, 0, 2, 0, 0, 0, 0)").as("w_end"))
    val points = Corpus.lineitem(spark, dir).select(col("l_shipdate"), col("l_quantity"))
    graft.operators.RangeJoin
      .pointInInterval(points, "l_shipdate", intervals, "w_start", "w_end",
        bucketUs = 86400L * 1000000L) // 1-day buckets vs 14-day windows
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_points"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("window_id"))
  }

  private val q30Sql =
    s"""SELECT o_orderkey AS window_id, COUNT(*) AS n_points,
       |  ${dsumSql("l_quantity")} AS sum_qty
       |FROM orders JOIN lineitem
       |  ON l_shipdate >= o_orderdate AND l_shipdate < o_orderdate + INTERVAL 14 DAY
       |WHERE o_orderkey <= 100
       |GROUP BY 1
       |ORDER BY window_id""".stripMargin

  /** Histogram binning: fixed-width price buckets (floor arithmetic —
    * bit-identical cross-engine). */
  private def q31(spark: SparkSession, dir: String): DataFrame =
    Corpus.lineitem(spark, dir)
      .groupBy((floor(col("l_extendedprice") / 10000.0) * 10000).cast("long").as("price_bin"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("price_bin"))

  private val q31Sql =
    s"""SELECT CAST(floor(l_extendedprice / 10000.0) * 10000 AS BIGINT) AS price_bin,
       |  COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY 1
       |ORDER BY price_bin""".stripMargin

  /** TPC-H Q3 shape: selective 3-way join (customer⋈orders⋈lineitem)
    * with filters on both dimensions of time, top-10 unshipped revenue.
    * The segment filter prunes the broadcast side before the join. */
  private def q32(spark: SparkSession, dir: String): DataFrame = {
    val cust = Corpus.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    Corpus.orders(spark, dir)
      .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(Corpus.lineitem(spark, dir)
          .filter(col("l_shipdate") > to_timestamp(lit("1998-01-01"))),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  private val q32Sql =
    s"""SELECT o_orderkey, o_orderdate, o_orderpriority,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM customer
       |JOIN orders ON o_custkey = c_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-01-01'
       |  AND l_shipdate > TIMESTAMP '1998-01-01'
       |GROUP BY o_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, o_orderkey
       |LIMIT 10""".stripMargin

  /** Correlated-aggregate shape (decorrelated via window): orders priced
    * above their priority group's average — one pass, no self-join. */
  private def q33(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
    Corpus.orders(spark, dir)
      // Magnitude bound (the Num.dsum precondition): summands are order
      // totals, O(10⁴–10⁵) — eight orders above the 10⁻⁶ grid.
      .withColumn("grp_sum", sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(30, 6))).over(w))
      .withColumn("grp_n", count(lit(1)).over(w))
      .withColumn("grp_avg", col("grp_sum").cast("double") / col("grp_n"))
      .filter(col("o_totalprice") > col("grp_avg") * 1.8)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        col("grp_avg").as("priority_avg"))
      .orderBy(col("o_orderkey"))
  }

  private val q33Sql =
    """SELECT o_orderkey, o_orderpriority, o_totalprice, priority_avg
      |FROM (SELECT o_orderkey, o_orderpriority, o_totalprice,
      |        CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) OVER (PARTITION BY o_orderpriority) AS DOUBLE)
      |          / COUNT(*) OVER (PARTITION BY o_orderpriority) AS priority_avg
      |      FROM orders)
      |WHERE o_totalprice > priority_avg * 1.8
      |ORDER BY o_orderkey""".stripMargin

  /** PageRank over the customer–supplier trade graph
    * ([[graft.operators.Graph.pageRank]]; Brin & Page 1998): distinct
    * (customer, supplier) pairs from orders ⋈ lineitem, symmetrized
    * (supplier nodes offset by 10⁶ — bipartite random walk, no dangling
    * nodes), five power iterations at d = 0.85 from the uniform start.
    * Per-node mass sums take the decimal detour, so every iteration is
    * accumulation-order independent and the oracle replays all five as
    * chained CTEs — iterative graph analytics under the same
    * bit-exactness gate as everything else. */
  private def q34(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Corpus.lineitem(spark, dir)
      .join(Corpus.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      // collision-free node ids at ANY scale factor: customers on even,
      // suppliers on odd ids (a fixed offset collides once custkey
      // crosses it — TPC-H custkeys pass 10⁶ near SF 7)
      .select((col("o_custkey") * 2).as("cust"),
        (col("l_suppkey") * 2 + 1).as("supp"))
      .distinct()
    // symmetrize in ONE explode pass (the dupClusters idiom) — a
    // self-union's two branches would each evaluate the join+distinct
    val edges = pairs.select(explode(array(
        struct(col("cust").as("src"), col("supp").as("dst")),
        struct(col("supp").as("src"), col("cust").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
    graft.operators.Graph.pageRank(edges, iterations = 5, damping = 0.85)
  }

  /** Label-propagation communities on the customer–supplier trade
    * graph ([[graft.operators.Graph.labelPropagation]]; Raghavan et
    * al. Phys. Rev. E 2007) — the sixth graph-family member and the
    * community-structure complement of q34's centrality and t13's
    * connectivity: five synchronous adopt-the-majority-neighbor-label
    * rounds with the deterministic (count DESC, label ASC) tie-break
    * that makes the labeling a pure function of the graph (published
    * LPA breaks ties randomly — that variant could only be
    * rows-gated). The oracle replays every round's neighbor-label
    * histogram and argmax via the shared
    * [[GraphSql.labelPropChainSql]]; community sizes ride along so
    * the coalescence is visible as data. */
  private def q45(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Corpus.lineitem(spark, dir)
      .join(Corpus.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val lbl = graft.operators.Graph.labelPropagation(pairs, rounds = 5)
    lbl.join(lbl.groupBy(col("label")).agg(count(lit(1)).as("community_size")),
        Seq("label"))
      .select(col("node"), col("label"), col("community_size"))
      .orderBy(col("node"))
  }

  private val q45Sql =
    s"""WITH pairs AS (
       |  SELECT DISTINCT o.o_custkey * 2 AS cust, l.l_suppkey * 2 + 1 AS supp
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |e AS (SELECT cust AS src, supp AS dst FROM pairs),
       |${GraphSql.labelPropChainSql(rounds = 5)},
       |cs AS (SELECT label, CAST(count(*) AS BIGINT) AS community_size
       |       FROM l5 GROUP BY 1)
       |SELECT l.node, l.label, cs.community_size
       |FROM l5 l JOIN cs ON cs.label = l.label
       |ORDER BY l.node""".stripMargin

  /** Point-in-time (AS OF) dimension lookup against the SCD2 history —
    * the READ path SCD2 exists for, closing the dimensional loop (q38
    * builds the history, p16 streams it, this queries it): each fact
    * joins the customer version whose [effective_from, effective_to)
    * validity range covers the fact's date, so a fact from day 2 sees
    * the day-2 segment even though the customer has since moved. Facts
    * are orders mapped onto the dimension's three-day window by exact
    * key arithmetic both engines share (the real o_orderdate lies
    * outside the synthetic dim's range). One equi-join on the customer
    * key with the range predicate as a residual filter — at 100 TB the
    * dim is dimension-sized and broadcasts; the fact table never
    * shuffles. Output: per (fact day, segment-at-that-day) order
    * counts — wrong-version joins change the counts, so the temporal
    * semantics are what the hash gates. */
  private def q46(spark: SparkSession, dir: String): DataFrame = {
    val Seq((d1s, snap1), (d2s, snap2), (d3s, snap3)) = scd2Snapshots(spark, dir)
    val d1 = graft.gold.Scd2.init(snap1, "c_custkey", Seq("seg", "nat"), d1s)
    val d2 = graft.gold.Scd2(d1, snap2, "c_custkey", Seq("seg", "nat"), d2s)
    val dim = graft.gold.Scd2(d2, snap3, "c_custkey", Seq("seg", "nat"), d3s)
    val facts = Corpus.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        concat(lit("2024-01-0"), (col("o_orderkey") % 3 + 1).cast("string"))
          .as("fact_day"))
    facts.join(broadcast(dim),
        col("o_custkey") === col("c_custkey") &&
          col("effective_from") <= col("fact_day") &&
          (col("effective_to").isNull || col("fact_day") < col("effective_to")))
      .groupBy(col("fact_day"), col("seg"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("fact_day"), col("seg"))
  }

  private val q46Sql = {
    def step(dim: String, snap: String, asOf: String, out: String) =
      s"""$out AS (
         |  SELECT c_custkey, seg, nat, effective_from, effective_to, is_current
         |  FROM $dim WHERE NOT is_current
         |  UNION ALL
         |  SELECT d.* FROM $dim d WHERE d.is_current AND EXISTS (
         |    SELECT 1 FROM $snap s WHERE s.c_custkey = d.c_custkey
         |      AND s.seg = d.seg AND s.nat = d.nat)
         |  UNION ALL
         |  SELECT d.c_custkey, d.seg, d.nat, d.effective_from, '$asOf', false
         |  FROM $dim d WHERE d.is_current AND NOT EXISTS (
         |    SELECT 1 FROM $snap s WHERE s.c_custkey = d.c_custkey
         |      AND s.seg = d.seg AND s.nat = d.nat)
         |  UNION ALL
         |  SELECT s.c_custkey, s.seg, s.nat, '$asOf', CAST(NULL AS VARCHAR), true
         |  FROM $snap s WHERE NOT EXISTS (
         |    SELECT 1 FROM $dim d WHERE d.is_current AND d.c_custkey = s.c_custkey
         |      AND d.seg = s.seg AND d.nat = s.nat))""".stripMargin
    s"""WITH snap1 AS (SELECT c_custkey, c_mktsegment AS seg, c_nationkey AS nat
       |               FROM customer),
       |snap2 AS (SELECT c_custkey,
       |            CASE WHEN c_custkey % 10 = 3 THEN 'MOVED' ELSE c_mktsegment END AS seg,
       |            c_nationkey AS nat
       |          FROM customer WHERE c_custkey % 17 <> 0),
       |snap3 AS (SELECT c_custkey,
       |            CASE WHEN c_custkey % 10 = 3 THEN 'MOVED' ELSE c_mktsegment END AS seg,
       |            CASE WHEN c_custkey % 10 = 7 THEN c_nationkey + 1
       |                 ELSE c_nationkey END AS nat
       |          FROM customer),
       |d1 AS (SELECT c_custkey, seg, nat, '2024-01-01' AS effective_from,
       |         CAST(NULL AS VARCHAR) AS effective_to, true AS is_current
       |       FROM snap1),
       |${step("d1", "snap2", "2024-01-02", "d2")},
       |${step("d2", "snap3", "2024-01-03", "d3")},
       |facts AS (SELECT o_orderkey, o_custkey,
       |            '2024-01-0' || CAST(o_orderkey % 3 + 1 AS VARCHAR) AS fact_day
       |          FROM orders)
       |SELECT f.fact_day, d.seg, CAST(count(*) AS BIGINT) AS n_orders
       |FROM facts f JOIN d3 d
       |  ON f.o_custkey = d.c_custkey
       | AND d.effective_from <= f.fact_day
       | AND (d.effective_to IS NULL OR f.fact_day < d.effective_to)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** STRICT as-of join ([[graft.operators.AsOfJoin]] `strict = true`,
    * the `<` sibling of q25's inclusive `>=`): every purchase enriched
    * with the user's latest view STRICTLY before it — the lookback
    * leakage-sensitive feature pipelines need (a feature computed "as
    * of" a label event must not see data stamped at the label's own
    * instant). The raw fixture has no same-ts purchase/view pairs, so
    * both sides run on HOUR-truncated timestamps — collisions abound,
    * making two behaviors gated as data rather than asserted: the
    * strictness itself (an inclusive join would pick the same-hour
    * view) and the deterministic same-(user, hour) quote tie-break
    * (max event id, replayed by the oracle's `max_by`). Oracle:
    * DuckDB's NATIVE strict `ASOF LEFT JOIN ... ON p.th > v.th` — an
    * independent matching algorithm, left semantics included. */
  private def q47(spark: SparkSession, dir: String): DataFrame = {
    val ev = Corpus.events(spark, dir)
      .withColumn("th", date_trunc("hour", col("ts")))
    val probes = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("th"), col("value"))
    // one quote per (user, hour): max event id wins (the q25 dedup rule)
    val dedupeW = Window.partitionBy(col("user_id"), col("th"))
      .orderBy(col("event_id").desc)
    val quotes = ev.filter(col("event_type") === "view")
      .withColumn("rn", row_number().over(dedupeW)).filter(col("rn") === 1)
      .select(col("user_id"), col("th"), col("th").as("view_th"),
        col("value").as("view_value"), col("event_id").as("view_event_id"))
    graft.operators.AsOfJoin(probes, quotes, "user_id", "th",
      payload = Seq("view_th", "view_value", "view_event_id"), strict = true)
      .orderBy(col("event_id"))
  }

  private val q47Sql =
    """WITH vq AS (SELECT user_id, th, max_by(value, event_id) AS view_value,
      |              max(event_id) AS view_event_id, th AS view_th
      |            FROM (SELECT *, date_trunc('hour', ts) AS th FROM events
      |                  WHERE event_type = 'view')
      |            GROUP BY user_id, th),
      |p AS (SELECT event_id, user_id, date_trunc('hour', ts) AS th, value
      |      FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.th, p.value,
      |  v.view_th AS asof_view_th, v.view_value AS asof_view_value,
      |  v.view_event_id AS asof_view_event_id
      |FROM p ASOF LEFT JOIN vq v
      |  ON p.user_id = v.user_id AND p.th > v.th
      |ORDER BY p.event_id""".stripMargin

  /** Salted skew join ([[graft.operators.Skew.saltedJoin]]): the
    * explicit hot-key mitigation for joins AQE cannot rescue (AQE's
    * skew split only rewrites sort-merge joins at shuffle time; salting
    * also covers shuffle-hash joins, known-ahead power-law keys, and
    * stream-side joins). The fixture manufactures the 100 TB shape in
    * miniature: 75% of events collapse onto ONE join key, then join a
    * customer dim and aggregate per segment. The gate is that the salt
    * machinery is INVISIBLE in the result — the oracle is the plain
    * unsalted join aggregate. Salt is hash-derived from event_id
    * (deterministic, no rand()); the dim replicates ×16, which at dim
    * sizes worth salting for is noise next to the hot reducer it
    * removes (measured r14 A/B, see [[graft.operators.Skew]]). */
  private def q48(spark: SparkSession, dir: String): DataFrame = {
    val ev = Corpus.events(spark, dir)
      .withColumn("join_key",
        when(col("user_id") % 4 =!= 0, lit(1L)).otherwise(col("user_id") + 1))
    val dim = Corpus.customer(spark, dir)
      .select(col("c_custkey").as("join_key"), col("c_mktsegment"))
    graft.operators.Skew.saltedJoin(ev, dim, "join_key", factor = 16,
      saltSource = "event_id")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .orderBy(col("c_mktsegment"))
  }

  private val q48Sql =
    s"""WITH ev AS (SELECT CASE WHEN user_id % 4 <> 0 THEN 1
       |                        ELSE user_id + 1 END AS join_key, value
       |            FROM events)
       |SELECT c_mktsegment, COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
       |FROM ev JOIN customer ON join_key = c_custkey
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  /** GROUPING SETS (§2.4, the general form of q15's rollup / q28's
    * cube): an explicit set list — ((returnflag, linestatus),
    * (linestatus), ()) — that is NEITHER a rollup nor a cube (it skips
    * the (returnflag) stratum), so the planner's Expand-based grouping
    * must honor an arbitrary set lattice, not a prefix chain. The
    * grouping_id bitmask travels in the output (both engines bit-encode
    * grouping columns in declaration order — gated as data, with the
    * subtotal NULLs distinguished from data NULLs by the mask). */
  private def q49(spark: SparkSession, dir: String): DataFrame = {
    val li = Corpus.lineitem(spark, dir)
    li.groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq.empty[org.apache.spark.sql.Column]),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"))
      .select(col("gid"), col("l_returnflag"), col("l_linestatus"),
        col("n"), col("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
  }

  private val q49Sql =
    s"""SELECT CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       |  l_returnflag, l_linestatus,
       |  COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
       |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  /** Value-based RANGE window frame (§2.8's last uncovered frame shape —
    * q33/q43/q26 all ride ROWS frames or plain partitions): each order's
    * rolling 7-day revenue for its customer — sum/count over
    * [orderdate − 6 days, orderdate]. A RANGE frame is bounded by the
    * ORDER VALUE, not row position: all same-day orders share one frame,
    * so ties are deterministic BY CONSTRUCTION (a ROWS frame over a tied
    * sort would depend on tie order — the reason this query gates the
    * frame semantics, not just a sum). Spark's rangeBetween takes a
    * numeric sort key — epoch DAYS here, making [-6, 0] exactly DuckDB's
    * `RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW` over the
    * date. Scale shape: one key shuffle on custkey; frames never span
    * customers, so partitions stay customer-sized. */
  private def q50(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("_day"))
      .rangeBetween(-6, 0)
    Corpus.orders(spark, dir)
      .withColumn("_day", datediff(col("o_orderdate"), lit("1970-01-01").cast("date")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        count(lit(1)).over(w).as("n_orders_7d"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(30, 6)))
          .over(w).cast("double").as("rev_7d"))
      .orderBy(col("o_orderkey"))
  }

  /** Multiset difference (§2.6 `exceptAll` — the set-op family's last
    * uncovered member beside q10's union and q52's intersect): per
    * supplier, the EXCESS of returned-line occurrences over
    * acknowledged-line occurrences — bag semantics are the whole
    * point: a supplier with 7 'R' rows and 4 'A' rows contributes
    * exactly 3 surviving rows (DISTINCT except would collapse to 0/1),
    * so the post-diff count gates multiset subtraction as data. The
    * data-quality diff idiom: "what does snapshot A carry that
    * snapshot B doesn't, counting repeats". Scale shape: Spark plans
    * exceptAll as one count-aggregate per side + replicate — two key
    * shuffles, no join explosion, partial-agg map-side. */
  private def q51(spark: SparkSession, dir: String): DataFrame = {
    val li = Corpus.lineitem(spark, dir)
    val returned = li.filter(col("l_returnflag") === "R").select(col("l_suppkey"))
    val acked = li.filter(col("l_returnflag") === "A").select(col("l_suppkey"))
    returned.exceptAll(acked)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_excess"))
      .orderBy(col("l_suppkey"))
  }

  private val q51Sql =
    """SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_excess
      |FROM (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
      |      EXCEPT ALL
      |      SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A')
      |GROUP BY l_suppkey
      |ORDER BY l_suppkey""".stripMargin

  /** Set intersection (§2.6 `intersect`, DISTINCT semantics): customers
    * who placed an URGENT order AND have a finished order — the
    * cohort-overlap idiom. Distinct semantics gated as data: a
    * customer with many qualifying orders on both sides appears
    * exactly once. Scale shape: Spark plans intersect as a distinct
    * left-semi aggregate — two key shuffles, output bounded by the
    * smaller distinct side. */
  private def q52(spark: SparkSession, dir: String): DataFrame = {
    val o = Corpus.orders(spark, dir)
    o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      .intersect(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  private val q52Sql =
    """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_custkey""".stripMargin

  /** Salted skew LEFT join ([[graft.operators.Skew.saltedJoin]] with
    * `joinType = "left"` — q48's outer sibling, the funnel-pipeline
    * shape: "every event, enriched where the dim matches"): unmatched
    * large-side rows must survive EXACTLY ONCE across the 16 salt
    * replicas — a large row's key is either present in every replica
    * or in none, so left semantics are salt-invariant (right/full are
    * NOT and the operator refuses them loudly). The fixture extends
    * q48's: hot keys land on 1 as before, but every 8th user maps to a
    * key OUTSIDE the customer key space, so a NULL-segment group
    * exists at every SF and its count gates the exactly-once-survival
    * property as data. Oracle: the plain unsalted LEFT join
    * aggregate. */
  private def q53(spark: SparkSession, dir: String): DataFrame = {
    val ev = Corpus.events(spark, dir)
      .withColumn("join_key",
        when(col("user_id") % 4 =!= 0, lit(1L))
          .when(col("user_id") % 8 === 0, col("user_id") + 100000000L)
          .otherwise(col("user_id") + 1))
    val dim = Corpus.customer(spark, dir)
      .select(col("c_custkey").as("join_key"), col("c_mktsegment"))
    graft.operators.Skew.saltedJoin(ev, dim, "join_key", factor = 16,
      saltSource = "event_id", joinType = "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .orderBy(col("c_mktsegment"))
  }

  private val q53Sql =
    s"""WITH ev AS (SELECT CASE WHEN user_id % 4 <> 0 THEN 1
       |                        WHEN user_id % 8 = 0 THEN user_id + 100000000
       |                        ELSE user_id + 1 END AS join_key, value
       |            FROM events)
       |SELECT c_mktsegment, COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
       |FROM ev LEFT JOIN customer ON join_key = c_custkey
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  private val q50Sql =
    """SELECT o_orderkey, o_custkey, o_orderdate,
      |  CAST(count(*) OVER w AS BIGINT) AS n_orders_7d,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) OVER w AS DOUBLE) AS rev_7d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
      |             RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  private val q34Sql =
    s"""WITH pairs AS (
       |  SELECT DISTINCT o.o_custkey * 2 AS cust, l.l_suppkey * 2 + 1 AS supp
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |e AS (SELECT cust AS src, supp AS dst FROM pairs
       |      UNION ALL SELECT supp AS src, cust AS dst FROM pairs),
       |${GraphSql.pageRankChainSql(iterations = 5, damping = 0.85)}
       |SELECT node, pagerank FROM p5 ORDER BY node""".stripMargin

  /** Per-user triangle counts in the event co-occurrence graph
    * ([[graft.operators.Graph.triangleCounts]]; Schank & Wagner WEA
    * 2005, Suri & Vassilvitskii WWW 2011): users are connected when
    * they produced the same event type in the same hour at least 3
    * times — the bounded-block pair generation of the dedup family
    * (pairs per (type, hour) block are ≤ block², never corpus²),
    * thresholded to the recurring-co-activity backbone. The engine
    * counts by DEGREE ORIENTATION (wedge set O(m^1.5), no hub hot
    * spot); the oracle enumerates src<dst<dst triples directly — two
    * structurally different algorithms hash-agreeing on every per-node
    * count is the gate. */
  private def q35(spark: SparkSession, dir: String): DataFrame = {
    // DISK_ONLY (the q41 lesson, confirmed by q35's own 300× OOM): the
    // distinct triple frame feeds both sides of the co-occurrence
    // self-join; pinning it in memory starves the join at scale
    val b = Corpus.events(spark, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
        col("user_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val pairs = b.as("b1").join(b.as("b2"),
        col("b1.event_type") === col("b2.event_type") &&
        col("b1.h") === col("b2.h") &&
        col("b1.user_id") < col("b2.user_id"))
      .select(col("b1.user_id").as("src"), col("b2.user_id").as("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 3)
      .select(col("src"), col("dst"))
    graft.operators.Graph.triangleCounts(pairs)
  }

  private val q35Sql =
    s"""WITH b AS (SELECT event_type, date_trunc('hour', ts) AS h, user_id
       |           FROM events GROUP BY 1, 2, 3),
       |e AS (SELECT b1.user_id AS src, b2.user_id AS dst
       |      FROM b b1 JOIN b b2
       |        ON b1.event_type = b2.event_type AND b1.h = b2.h
       |       AND b1.user_id < b2.user_id
       |      GROUP BY 1, 2 HAVING count(*) >= 3),
       |tri AS (SELECT e1.src AS x, e1.dst AS v, e2.dst AS w
       |        FROM e e1 JOIN e e2 ON e1.dst = e2.src
       |        JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |nodes AS (SELECT x AS node FROM tri
       |          UNION ALL SELECT v FROM tri
       |          UNION ALL SELECT w FROM tri)
       |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
       |FROM nodes GROUP BY node
       |ORDER BY node""".stripMargin

  /** Ordered funnel conversion (view → click → purchase): each stage's
    * entry time is the user's EARLIEST qualifying event STRICTLY after
    * the previous stage's — the sequential-pattern shape event
    * analytics runs everywhere and none of q01–q35 covered. Chained
    * conditional-min aggregations, no windows: each stage is one join
    * (keyed on user) + partial-aggregated min, so the shuffle carries
    * one (user, ts) pair per stage — at 100 TB the stage frames are
    * user-sized, never event-sized, and no per-user event list is ever
    * sorted or collected. Output: 3 rows (step, stage, n_users,
    * conversion), conversion = share of the previous stage's cohort
    * (stage 1 converts from all active users). */
  private def q36(spark: SparkSession, dir: String): DataFrame = {
    val ev = Corpus.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val counts = ev.agg(countDistinct(col("user_id")).as("n0"))
      .crossJoin(s1.agg(count(lit(1)).as("n1")))
      .crossJoin(s2.agg(count(lit(1)).as("n2")))
      .crossJoin(s3.agg(count(lit(1)).as("n3")))
    counts.select(explode(array(
        struct(lit(1).as("step"), lit("view").as("stage"),
          col("n1").as("n_users"),
          (col("n1").cast("double") / col("n0").cast("double")).as("conversion")),
        struct(lit(2).as("step"), lit("click_after_view").as("stage"),
          col("n2").as("n_users"),
          (col("n2").cast("double") / col("n1").cast("double")).as("conversion")),
        struct(lit(3).as("step"), lit("purchase_after_click").as("stage"),
          col("n3").as("n_users"),
          (col("n3").cast("double") / col("n2").cast("double")).as("conversion"))))
        .as("f"))
      .select(col("f.step"), col("f.stage"), col("f.n_users"), col("f.conversion"))
      .orderBy(col("step"))
  }

  private val q36Sql =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |            WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2
      |       FROM events e JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3
      |       FROM events e JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
      |c AS (SELECT
      |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS n0,
      |  (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n1,
      |  (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n2,
      |  (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n3)
      |SELECT step, stage, n_users, conversion FROM (
      |  SELECT CAST(1 AS INT) AS step, 'view' AS stage, n1 AS n_users,
      |    CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE) AS conversion FROM c
      |  UNION ALL
      |  SELECT CAST(2 AS INT), 'click_after_view', n2,
      |    CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) FROM c
      |  UNION ALL
      |  SELECT CAST(3 AS INT), 'purchase_after_click', n3,
      |    CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE) FROM c)
      |ORDER BY step""".stripMargin

  /** Weekly retention cohorts: users grouped by the ISO week of their
    * first event, each later-active week counted against the cohort —
    * the standard companion matrix to q36's funnel. Both engines
    * Monday-align via date_trunc('week'), so the offset is an EXACT
    * day-difference ÷ 7 (never a boundary-counting datediff, which
    * disagrees across engines). Shape: distinct (user, week) pairs →
    * per-user min → one join + count aggregations; everything partial-
    * aggregates map-side and the matrix is (weeks × offsets)-sized. */
  private def q37(spark: SparkSession, dir: String): DataFrame = {
    val uw = Corpus.events(spark, dir)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
    val cohort = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val sizes = cohort.groupBy(col("cohort_wk")).agg(count(lit(1)).as("cohort_size"))
    uw.join(cohort, "user_id")
      .withColumn("week_offset",
        (datediff(col("wk"), col("cohort_wk")) / lit(7)).cast("int"))
      .groupBy(col("cohort_wk"), col("week_offset"))
      .agg(count(lit(1)).as("n_active")) // (user, wk) pairs are distinct
      .join(sizes, "cohort_wk")
      .withColumn("retention",
        col("n_active").cast("double") / col("cohort_size").cast("double"))
      .select(col("cohort_wk"), col("week_offset"), col("n_active"),
        col("cohort_size"), col("retention"))
      .orderBy(col("cohort_wk"), col("week_offset"))
  }

  private val q37Sql =
    """WITH uw AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |            FROM events),
      |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY 1),
      |sizes AS (SELECT cohort_wk, CAST(count(*) AS BIGINT) AS cohort_size
      |          FROM cohort GROUP BY 1),
      |m AS (SELECT c.cohort_wk,
      |        CAST(date_diff('day', c.cohort_wk, uw.wk) / 7 AS INT) AS week_offset,
      |        CAST(count(*) AS BIGINT) AS n_active
      |      FROM uw JOIN cohort c ON uw.user_id = c.user_id
      |      GROUP BY 1, 2)
      |SELECT m.cohort_wk, m.week_offset, m.n_active, s.cohort_size,
      |  CAST(m.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention
      |FROM m JOIN sizes s ON m.cohort_wk = s.cohort_wk
      |ORDER BY m.cohort_wk, m.week_offset""".stripMargin

  /** SCD2 attribute history ([[graft.gold.Scd2]]) surfaced as an oracle
    * query: three deterministic "daily" snapshots of the customer dim —
    * day 2 moves every key%10==3 segment and drops every key%17==0 row,
    * day 3 brings the dropped keys back and bumps every key%10==7
    * nation — applied through init + two apply() rounds. The oracle
    * replays the SEMANTICS generically (semi/anti joins per day on
    * key + attributes), not the class arithmetic, so closed ranges,
    * re-opened keys, and unchanged carries all hash-gate. Scale shape:
    * each apply is three key-equi joins against the current slice —
    * never history — plus a union; history accumulates append-only. */
  /** The three day-stamped customer snapshots behind q38 (batch SCD2)
    * and p16 (the SAME change set streamed through
    * [[graft.streaming.SilverStream.scd2Sink]] — one fixture, two
    * application paths, one oracle): day 2 drops every 17th key
    * (closures) and moves segment for key%10==3; day 3 restores the
    * dropped keys and also bumps nation for key%10==7. */
  private[queries] def scd2Snapshots(spark: SparkSession,
      dir: String): Seq[(String, DataFrame)] = {
    val snap1 = Corpus.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        col("c_nationkey").as("nat"))
    val snap2 = snap1.filter(col("c_custkey") % 17 =!= 0)
      .withColumn("seg",
        when(col("c_custkey") % 10 === 3, lit("MOVED")).otherwise(col("seg")))
    val snap3 = snap1
      .withColumn("seg",
        when(col("c_custkey") % 10 === 3, lit("MOVED")).otherwise(col("seg")))
      .withColumn("nat",
        when(col("c_custkey") % 10 === 7, col("nat") + 1).otherwise(col("nat")))
    Seq("2024-01-01" -> snap1, "2024-01-02" -> snap2, "2024-01-03" -> snap3)
  }

  private def q38(spark: SparkSession, dir: String): DataFrame = {
    val Seq((d1s, snap1), (d2s, snap2), (d3s, snap3)) = scd2Snapshots(spark, dir)
    val d1 = graft.gold.Scd2.init(snap1, "c_custkey", Seq("seg", "nat"), d1s)
    val d2 = graft.gold.Scd2(d1, snap2, "c_custkey", Seq("seg", "nat"), d2s)
    val d3 = graft.gold.Scd2(d2, snap3, "c_custkey", Seq("seg", "nat"), d3s)
    d3.orderBy(col("c_custkey"), col("effective_from"))
  }

  private[queries] val q38Sql = {
    // one generic apply() mirror per day: history carry + unchanged
    // (semi) + closed (anti) + opened (snapshot anti current)
    def step(dim: String, snap: String, asOf: String, out: String) =
      s"""$out AS (
         |  SELECT c_custkey, seg, nat, effective_from, effective_to, is_current
         |  FROM $dim WHERE NOT is_current
         |  UNION ALL
         |  SELECT d.* FROM $dim d WHERE d.is_current AND EXISTS (
         |    SELECT 1 FROM $snap s WHERE s.c_custkey = d.c_custkey
         |      AND s.seg = d.seg AND s.nat = d.nat)
         |  UNION ALL
         |  SELECT d.c_custkey, d.seg, d.nat, d.effective_from, '$asOf', false
         |  FROM $dim d WHERE d.is_current AND NOT EXISTS (
         |    SELECT 1 FROM $snap s WHERE s.c_custkey = d.c_custkey
         |      AND s.seg = d.seg AND s.nat = d.nat)
         |  UNION ALL
         |  SELECT s.c_custkey, s.seg, s.nat, '$asOf', CAST(NULL AS VARCHAR), true
         |  FROM $snap s WHERE NOT EXISTS (
         |    SELECT 1 FROM $dim d WHERE d.is_current AND d.c_custkey = s.c_custkey
         |      AND d.seg = s.seg AND d.nat = s.nat))""".stripMargin
    s"""WITH snap1 AS (SELECT c_custkey, c_mktsegment AS seg, c_nationkey AS nat
       |               FROM customer),
       |snap2 AS (SELECT c_custkey,
       |            CASE WHEN c_custkey % 10 = 3 THEN 'MOVED' ELSE seg END AS seg, nat
       |          FROM snap1 WHERE c_custkey % 17 <> 0),
       |snap3 AS (SELECT c_custkey,
       |            CASE WHEN c_custkey % 10 = 3 THEN 'MOVED' ELSE seg END AS seg,
       |            CASE WHEN c_custkey % 10 = 7 THEN nat + 1 ELSE nat END AS nat
       |          FROM snap1),
       |d1 AS (SELECT c_custkey, seg, nat, '2024-01-01' AS effective_from,
       |         CAST(NULL AS VARCHAR) AS effective_to, true AS is_current
       |       FROM snap1),
       |${step("d1", "snap2", "2024-01-02", "d2")},
       |${step("d2", "snap3", "2024-01-03", "d3")}
       |SELECT c_custkey, seg, nat, effective_from, effective_to, is_current
       |FROM d3
       |ORDER BY c_custkey, effective_from""".stripMargin
  }

  /** 2-core of the part co-purchase graph
    * ([[graft.operators.Graph.kCore]]; Seidman 1983): parts are
    * connected when they appear in the SAME order at least twice across
    * the corpus — the repeated-co-purchase backbone — and the core
    * strips every tree-like appendage, leaving only parts embedded in
    * cycles of mutual co-purchase (the "always bought together"
    * clusters a recommender mines). Pair generation is per-order
    * blocked (orders hold ≤ 7 items, so the self-join fanout is
    * bounded per block — the dedup-family discipline, never corpus²);
    * the engine peels synchronously round by round, the oracle replays
    * the ENTIRE peel as one recursive CTE carrying the surviving node
    * LIST per round, and the two must agree on the fixpoint — every
    * survivor and its within-core degree hash-gate. At sf0.01 the peel
    * runs 3 rounds to a 1562-node core; at sf0.1, 6 rounds to an
    * 18-node core (the w ≥ 2 backbone thins as the pair space grows) —
    * both fixpoints replay exactly.
    *
    * Shares [[copurchaseEdges]] with q41. */
  private def q39(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kCore(copurchaseEdges(spark, dir, minW = 2), k = 2)

  /** Co-purchase graph shared by q39/q41: parts paired within an order
    * (bounded per-order fanout — orders hold ≤7 lineitems), kept when
    * the pair repeats across at least `minW` orders. q39 peels the
    * repeat-confirmed graph (minW 2); q41 walks the full pair graph
    * (minW 1) — at sf0.1 the w≥2 graph thins to near-isolated nodes
    * while the walk wants a connected component to traverse. At
    * minW 1 the count/filter keeps everything, so the corpus-scale
    * groupBy would be a pure dedup — skipped: the graph operators
    * canonicalize-and-distinct their input anyway, making them the
    * single dedup point (one full shuffle saved per q41 run). */
  private def copurchaseEdges(spark: SparkSession, dir: String,
      minW: Int): DataFrame = {
    val li = Corpus.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("l1").join(li.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
        col("l1.l_partkey") < col("l2.l_partkey"))
      .select(col("l1.l_partkey").as("src"), col("l2.l_partkey").as("dst"))
    if (minW <= 1) pairs
    else pairs
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minW)
      .select(col("src"), col("dst"))
  }

  private val q39Sql =
    s"""WITH RECURSIVE
       |e0 AS (SELECT l1.l_partkey AS src, l2.l_partkey AS dst
       |       FROM lineitem l1 JOIN lineitem l2
       |         ON l1.l_orderkey = l2.l_orderkey
       |        AND l1.l_partkey < l2.l_partkey
       |       GROUP BY 1, 2 HAVING count(*) >= 2),
       |sym AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |n0 AS (SELECT list(DISTINCT src ORDER BY src) AS nodes FROM sym),
       |peel(it, prev, nodes) AS (
       |  SELECT 0, CAST(NULL AS BIGINT[]), (SELECT nodes FROM n0)
       |  UNION ALL
       |  SELECT it, nodes AS prev, nxt AS nodes FROM (
       |    SELECT p.it + 1 AS it, p.nodes,
       |      coalesce((SELECT list(x ORDER BY x) FROM (
       |         SELECT s.src AS x FROM sym s
       |         WHERE list_contains(p.nodes, s.src)
       |           AND list_contains(p.nodes, s.dst)
       |         GROUP BY s.src HAVING count(*) >= 2) tt),
       |        CAST([] AS BIGINT[])) AS nxt
       |    FROM peel p) q
       |  WHERE len(nxt) < len(nodes)),
       |fin AS (SELECT nodes FROM peel ORDER BY it DESC LIMIT 1)
       |SELECT s.src AS node, CAST(count(*) AS BIGINT) AS core_deg
       |FROM sym s
       |WHERE list_contains((SELECT nodes FROM fin), s.src)
       |  AND list_contains((SELECT nodes FROM fin), s.dst)
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** Hop distance to the nearest HUB part (co-purchase degree ≥ 150 —
    * the ~top-decile tail of the ~119-mean degree distribution), 4-hop
    * horizon: multi-source BFS ([[graft.operators.Graph.bfsHops]] —
    * level-synchronous frontier expansion). Multi-source is the shape
    * that scales: seeds appear in every region of a growing graph, so
    * each round's edge scan does useful work everywhere (a single
    * global seed explores one component and turns the per-round scan
    * into pure waste on a replicated corpus — measured 15.8× at the
    * 100× decade before the change). The oracle walks the same horizon
    * as a recursive CTE and min-groups the (node, dist) closure. */
  private def q41(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.bfsHopsFromHubs(
      copurchaseEdges(spark, dir, minW = 1), minDegree = 150, maxHops = 4)

  private val q41Sql =
    s"""WITH RECURSIVE
       |e0 AS (SELECT l1.l_partkey AS src, l2.l_partkey AS dst
       |       FROM lineitem l1 JOIN lineitem l2
       |         ON l1.l_orderkey = l2.l_orderkey
       |        AND l1.l_partkey < l2.l_partkey
       |       GROUP BY 1, 2),
       |sym AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |seed AS (SELECT src AS node FROM sym GROUP BY 1 HAVING count(*) >= 150),
       |walk(node, dist) AS (
       |  SELECT node, CAST(0 AS BIGINT) AS dist FROM seed
       |  UNION
       |  SELECT s.dst AS node, w.dist + 1 AS dist
       |  FROM walk w JOIN sym s ON s.src = w.node
       |  WHERE w.dist < 4)
       |SELECT node, CAST(min(dist) AS BIGINT) AS dist
       |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin

  /** Z-order layout statistics over lineitem's (l_partkey, l_suppkey)
    * ([[graft.io.ZOrder.layoutStats]]): Morton-bucket the fact table at
    * 10 bits per dimension into 64 buckets and gate every bucket's
    * min/max footer statistics plus its prune verdict against a
    * centered 10%×10% box query — the Delta/Iceberg OPTIMIZE ZORDER
    * capability expressed as exact integer arithmetic both engines
    * replay. The measured point (visible in the gated rows): the box
    * touches a handful of rectangle-shaped buckets, where a
    * single-column sort layout would leave every bucket overlapping on
    * the other dimension. */
  private def q42(spark: SparkSession, dir: String): DataFrame =
    graft.io.ZOrder.layoutStats(
      Corpus.lineitem(spark, dir).select(col("l_partkey"), col("l_suppkey")),
      "l_partkey", "l_suppkey", bits = 10, log2Buckets = 6,
      xLoPm = 450, xHiPm = 550, yLoPm = 450, yHiPm = 550)

  private val q42Sql = {
    import graft.io.ZOrder.{interleaveSql, quantizeSql}
    val z = interleaveSql(quantizeSql("l_partkey", "mxp", 10),
      quantizeSql("l_suppkey", "mxs", 10), 10)
    s"""WITH mx AS (SELECT max(l_partkey) AS mxp, max(l_suppkey) AS mxs
       |            FROM lineitem),
       |zt AS (SELECT l_partkey AS x, l_suppkey AS y,
       |         ($z) >> 14 AS bucket,
       |         ((mxp + 1) * 450) // 1000 AS xlo,
       |         ((mxp + 1) * 550) // 1000 AS xhi,
       |         ((mxs + 1) * 450) // 1000 AS ylo,
       |         ((mxs + 1) * 550) // 1000 AS yhi
       |       FROM lineitem, mx)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
       |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y,
       |  (min(x) <= max(xhi) AND max(x) >= max(xlo) AND
       |   min(y) <= max(yhi) AND max(y) >= max(ylo)) AS box_overlap
       |FROM zt GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Time-weighted average of each user's event `value` — the TWAP /
    * step-function mean of temporal analytics (a plain AVG over
    * irregular observations is biased toward bursts; weighting each
    * value by its holding duration `lead(ts) − ts` is the standard
    * correction). One key-partitioned sort supplies the lead; products
    * `value · duration_us` are single double ops over exact integer
    * micros, and only their Σ crosses the shuffle (decimal detour —
    * summands are O(value·duration) ≫ the 10⁻⁶ grid). Users with one
    * event carry no duration and are excluded, as in any TWAP. */
  private def q43(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Corpus.events(spark, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("dur_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .filter(col("dur_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dur_us")).as("window_us"),
        (Num.dsum(col("value") * col("dur_us").cast("double"))
          / sum(col("dur_us")).cast("double")).as("twap"))
      .orderBy(col("user_id"))
  }

  /** CMS join-cardinality estimate
    * ([[graft.operators.Frequency.cmsJoinSize]]): |R-slice ⋈ A-slice|
    * of lineitem on l_suppkey from two 4×8192 Count-Min matrices — the
    * pre-join planner statistic, gated beside its exact ground truth
    * so the estimator's bias is data. The oracle rebuilds both
    * matrices cell by cell (the t55 chain, twice) and replays every
    * row-wise inner product, the min, and the exact Σ f_R·f_A. */
  private def q44(spark: SparkSession, dir: String): DataFrame = {
    val li = Corpus.lineitem(spark, dir)
    graft.operators.Frequency.cmsJoinSize(
      li.filter(col("l_returnflag") === "R"),
      li.filter(col("l_returnflag") === "A"),
      col("l_suppkey"), depth = 4, width = 8192)
  }

  private val q44Sql = {
    def cellOf(r: String) =
      s"(${Text.foldSql(s"'cms:' || $r || ':' || k")}) % 8192"
    def chain(src: String, flag: String, pfx: String) =
      s"""${pfx}k AS (SELECT CAST(l_suppkey AS VARCHAR) AS k
         |        FROM $src WHERE l_returnflag = '$flag'),
         |${pfx}f AS (SELECT k, CAST(count(*) AS BIGINT) AS freq FROM ${pfx}k GROUP BY k),
         |${pfx}c AS (SELECT CAST(r AS INT) AS row, ${cellOf("r")} AS cell,
         |          CAST(sum(freq) AS BIGINT) AS cnt
         |        FROM ${pfx}f, LATERAL (SELECT unnest(range(0, 4)) AS r) rr
         |        GROUP BY 1, 2)""".stripMargin
    s"""WITH ${chain("lineitem", "R", "a")},
       |${chain("lineitem", "A", "b")},
       |ip AS (SELECT t.r AS row,
       |         CAST(COALESCE(SUM(ac.cnt * bc.cnt), 0) AS BIGINT) AS "inner"
       |       FROM (SELECT unnest(range(0, 4)) AS r) t
       |       LEFT JOIN ac ON ac.row = t.r
       |       LEFT JOIN bc ON bc.row = t.r AND bc.cell = ac.cell
       |       GROUP BY 1),
       |ts AS (SELECT CAST(COALESCE(SUM(af.freq * bf.freq), 0) AS BIGINT) AS true_size
       |       FROM af JOIN bf USING (k)),
       |es AS (SELECT min("inner") AS est FROM ip)
       |SELECT CAST(ip.row AS INT) AS row, ip."inner", ts.true_size, es.est,
       |  es.est - ts.true_size AS overestimate
       |FROM ip, ts, es ORDER BY row""".stripMargin
  }

  private val q43Sql =
    s"""WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us
       |           FROM events
       |           WHERE user_id IS NOT NULL AND value IS NOT NULL),
       |d AS (SELECT user_id, value,
       |        lead(ts_us, 1) OVER (PARTITION BY user_id
       |                             ORDER BY ts_us, event_id) - ts_us AS dur_us
       |      FROM e)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
       |  CAST(sum(dur_us) AS BIGINT) AS window_us,
       |  ${Num.dsumSql("value * CAST(dur_us AS DOUBLE)")}
       |    / CAST(sum(dur_us) AS DOUBLE) AS twap
       |FROM d WHERE dur_us IS NOT NULL
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Rank-function family completion (§2.8): ntile decile, dense_rank,
    * percent_rank, cume_dist over per-customer spend within market
    * segment — the analytic quartet the row_number/lag/lead/range-frame
    * queries (q03/q11/q12/q50) don't cover. The (spend DESC, custkey)
    * order is total, so every rank — including ntile's uneven bucket
    * boundaries and cume_dist's peer counting — is deterministic and
    * replays exactly. Scale note: rank analytics inherently sort their
    * PARTITION; segment cardinality bounds the partition here, and the
    * engine's answer for exact ranks over unpartitionable corpora is
    * selection, not sorting (q27's bounded-sample percentiles, t75's
    * histogram-refined medians). */
  private def q54(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("spend").desc, col("c_custkey"))
    Corpus.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(Num.dsum(col("o_totalprice")).as("spend"))
      .join(Corpus.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_mktsegment"), col("spend"),
        ntile(10).over(w).cast("long").as("decile"),
        dense_rank().over(w).cast("long").as("drank"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
      .orderBy(col("c_custkey"))
  }

  private val q54Sql =
    s"""WITH s AS (SELECT o_custkey, ${dsumSql("o_totalprice")} AS spend
       |           FROM orders GROUP BY o_custkey)
       |SELECT c_custkey, c_mktsegment, spend,
       |  CAST(ntile(10) OVER w AS BIGINT) AS decile,
       |  CAST(dense_rank() OVER w AS BIGINT) AS drank,
       |  percent_rank() OVER w AS prank,
       |  cume_dist() OVER w AS cdist
       |FROM s JOIN customer ON o_custkey = c_custkey
       |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY spend DESC, c_custkey)
       |ORDER BY c_custkey""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q01_pricing_summary", q01, Some(q01Sql)),
    QuerySpec("q02_distinct_dims", q02, Some(q02Sql)),
    QuerySpec("q03_latest_order_per_customer", q03, Some(q03Sql)),
    QuerySpec("q04_token_explode", q04, Some(q04Sql)),
    QuerySpec("q05_filter_topk", q05, Some(q05Sql)),
    QuerySpec("q06_region_customer_stats", q06, Some(q06Sql)),
    QuerySpec("q07_priority_revenue", q07, Some(q07Sql)),
    QuerySpec("q08_anti_unshipped_parts", q08, Some(q08Sql)),
    QuerySpec("q09_semi_active_suppliers", q09, Some(q09Sql)),
    QuerySpec("q10_union_order_slices", q10, Some(q10Sql)),
    QuerySpec("q11_latest_event_per_user", q11, Some(q11Sql)),
    QuerySpec("q12_event_dwell_time", q12, Some(q12Sql)),
    QuerySpec("q13_status_buckets", q13, Some(q13Sql)),
    QuerySpec("q14_top_customers", q14, Some(q14Sql)),
    QuerySpec("q15_rollup_region_nation", q15, Some(q15Sql)),
    QuerySpec("q16_monthly_orders", q16, Some(q16Sql)),
    QuerySpec("q17_point_lookup", q17, Some(q17Sql)),
    QuerySpec("q18_string_norm", q18, Some(q18Sql)),
    QuerySpec("q19_json_extract", q19, Some(q19Sql)),
    QuerySpec("q20_left_join_fill", q20, Some(q20Sql)),
    QuerySpec("q21_date_arith", q21, Some(q21Sql)),
    QuerySpec("q22_distinct_counts", q22, Some(q22Sql)),
    QuerySpec("q23_approx_distinct", q23, Some(q23Sql)),
    QuerySpec("q24_hourly_event_windows", q24, Some(q24Sql)),
    QuerySpec("q25_asof_join", q25, Some(q25Sql)),
    QuerySpec("q26_sessionize", q26, Some(q26Sql)),
    QuerySpec("q27_percentiles", q27, Some(q27Sql)),
    QuerySpec("q28_cube", q28, Some(q28Sql)),
    QuerySpec("q29_pivot", q29, Some(q29Sql)),
    QuerySpec("q30_range_join", q30, Some(q30Sql)),
    QuerySpec("q31_histogram", q31, Some(q31Sql)),
    QuerySpec("q32_unshipped_revenue", q32, Some(q32Sql)),
    QuerySpec("q33_above_group_avg", q33, Some(q33Sql)),
    QuerySpec("q34_pagerank", q34, Some(q34Sql)),
    QuerySpec("q35_triangle_counts", q35, Some(q35Sql)),
    QuerySpec("q36_funnel_conversion", q36, Some(q36Sql)),
    QuerySpec("q37_retention_cohorts", q37, Some(q37Sql)),
    QuerySpec("q38_scd2_history", q38, Some(q38Sql)),
    QuerySpec("q39_kcore_copurchase", q39, Some(q39Sql)),
    QuerySpec("q41_bfs_hops", q41, Some(q41Sql)),
    QuerySpec("q42_zorder_layout", q42, Some(q42Sql)),
    QuerySpec("q43_time_weighted_avg", q43, Some(q43Sql)),
    QuerySpec("q44_cms_join_size", q44, Some(q44Sql)),
    QuerySpec("q45_label_propagation", q45, Some(q45Sql)),
    QuerySpec("q46_pit_lookup", q46, Some(q46Sql)),
    QuerySpec("q47_asof_join", q47, Some(q47Sql)),
    QuerySpec("q48_salted_skew_join", q48, Some(q48Sql)),
    QuerySpec("q49_grouping_sets", q49, Some(q49Sql)),
    QuerySpec("q50_rolling_range_window", q50, Some(q50Sql)),
    QuerySpec("q51_except_all", q51, Some(q51Sql)),
    QuerySpec("q52_intersect", q52, Some(q52Sql)),
    QuerySpec("q53_salted_left_join", q53, Some(q53Sql)),
    QuerySpec("q54_rank_family", q54, Some(q54Sql)))

}
