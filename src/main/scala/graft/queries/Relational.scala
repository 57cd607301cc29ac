package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational / OLAP query surface (SURVEY.md §2B).
  *
  * Scale posture (designed for 100 TB, tested on local testdata):
  *  - Dimension tables (region/nation/customer/part/supplier) are explicitly
  *    `broadcast()`; fact-fact joins shuffle on their natural keys and rely
  *    on AQE for skew splitting.
  *  - Aggregations are plain `groupBy` so Catalyst emits partial (map-side)
  *    aggregation before the shuffle.
  *  - Every query ends in a total ORDER BY with unique-key tiebreaks and
  *    rounds floating-point aggregates, so results are deterministic and
  *    hash-comparable against the DuckDB oracle.
  *  - Event-time values are emitted as epoch-second BIGINT or DATE — never
  *    raw timestamps — to avoid ns (parquet events.ts) vs us (Spark)
  *    precision drift between engines.
  */
object Relational {
  import graft.Tables.t

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- q1
  /** TPC-H Q1 shape: scan → filter → arithmetic exprs → 8 aggs → sort.
    * Filter and the two projected expressions stay inside one
    * WholeStageCodegen span; only one shuffle (the final group-by). */
  val q1PricingSummary: Q = (s, dir) =>
    q1Over(t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp")))

  /** Q1's 8 aggregates per (returnflag, linestatus), sorted, over lineitem
    * rows already cut at the ship date (flat or month-partitioned). */
  private def q1Over(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1PricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_extendedprice), 4) AS avg_price,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q3
  /** TPC-H Q3 shape: broadcast the filtered customer dim, shuffle-join the
    * two fact tables on orderkey, partial-agg, top-k via
    * TakeOrderedAndProject (no full sort). Note the groupBy deliberately
    * runs AFTER the joins: both filters (order date, BUILDING customers)
    * shrink the aggregate's input first, and the join's orderkey
    * partitioning already satisfies the group-by distribution, so the agg
    * adds no exchange. Two measured dead ends (both ~1.5× slower at
    * sf0.1): agg-before-join hashes every lineitem row before the joins
    * can filter them, and pre-joining orders⋈customer before the orderkey
    * exchange breaks the scan→join codegen pipeline for no net row
    * savings at this selectivity. */
  val q3TopOrders: Q = (s, dir) =>
    q3Over(s, dir, t(s, dir, "lineitem"), t(s, dir, "orders"))

  /** Q3's joins, aggregate and top 10 over the given fact tables (flat or
    * bucketed) and the flat customer dim. */
  private def q3Over(s: SparkSession, dir: String, lineitem: DataFrame,
      orders: DataFrame): DataFrame = {
    val cut = lit("1997-06-01").cast("timestamp")
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = orders.filter(col("o_orderdate") < cut)
    val l = lineitem.filter(col("l_shipdate") > cut)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
      .select(col("l_orderkey"), col("revenue"), to_date(col("o_orderdate")).as("o_orderdate"))
  }

  val q3TopOrdersSql: String =
    """SELECT l_orderkey, revenue, o_orderdate FROM (
      |  SELECT l_orderkey,
      |    round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |    CAST(o_orderdate AS DATE) AS o_orderdate
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment = 'BUILDING'
      |    AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
      |    AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
      |  GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
      |) ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // ------------------------------------------- q3 over a bucketed lake
  /** Bucketed-layout twin of [[q3TopOrders]] — THE 100 TB relational
    * lever. Orders and lineitem are written ONCE as bucketed+sorted
    * tables on their join key ([[graft.sources.Lake.bucketize]]);
    * after that the fact-fact join needs NO shuffle at query time.
    * The r15 sf100 audit measured q3's wall as pure shuffle-spill disk
    * I/O (352–851 s on 600M⋈150M rows) with the plan itself already
    * optimal — this layout deletes that entire exchange. Build is
    * once-per-session-per-dir ([[bucketedFacts]]); re-probes reuse it,
    * which is exactly the lake economics (layout cost amortizes over
    * every orderkey-joining query). Same oracle as q3_top_orders:
    * storage layout never changes answers. */
  val q3Bucketed: Q = (s, dir) => {
    val (lTab, oTab) = bucketedFacts(s, dir)
    q3Over(s, dir, s.table(lTab), s.table(oTab))
  }

  /** The per-dir bucketed fact table names — factored so Bench's
    * DROP-before-build uses the identical suffix (a drifted copy of the
    * suffix math would silently skip the drop and bench a stale build). */
  private[graft] def bucketedFactNames(dir: String): (String, String) = {
    val sfx = graft.sources.Lake.dirSuffix(dir)
    (s"graft_b_lineitem_$sfx", s"graft_b_orders_$sfx")
  }

  /** The per-fact durable bucketed layout dir — fingerprinted exactly
    * like the month layout, so a regenerated source parquet can never
    * be served a stale bucketed build. */
  private[graft] def bucketedLayoutDir(dir: String, src: String): java.io.File = {
    val f = new java.io.File(s"$dir/$src.parquet")
    val fp = graft.sources.Lake.layoutFingerprint(f, "bucket32-v2")
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_bucketed_${src}_${graft.sources.Lake.dirSuffix(dir)}_$fp")
  }

  /** True iff both facts' durable bucketed layouts are already built
    * (the bench legs' `reused` flag). */
  private[graft] def bucketedLayoutExists(dir: String): Boolean =
    graft.sources.Lake.layoutComplete(bucketedLayoutDir(dir, "lineitem")) &&
      graft.sources.Lake.layoutComplete(bucketedLayoutDir(dir, "orders"))

  private def ensureBucketedFact(s: SparkSession, dir: String, tab: String,
      src: String, key: String): Unit = {
    if (s.catalog.tableExists(tab)) return
    val root = bucketedLayoutDir(dir, src)
    graft.sources.Lake.ensureLayout(s, root) { tmp =>
      // build under a throwaway catalog name pointed at the temp dir;
      // dropping the EXTERNAL entry keeps the files, so the rename-in
      // hands a complete bucketed layout to the durable location
      val tmpTab = s"${tab}_build_${s.sparkContext.applicationId}"
        .replaceAll("[^A-Za-z0-9_]", "_")
      s.sql(s"DROP TABLE IF EXISTS $tmpTab")
      graft.sources.Lake.bucketizeExternal(
        t(s, dir, src), tmpTab, key, 32, tmp.toString)
      s.sql(s"DROP TABLE $tmpTab")
    }
    graft.sources.Lake.registerBucketed(
      s, tab, t(s, dir, src).schema.toDDL, key, 32, root.toString)
  }

  /** Make the bucketed fact tables for `dir` available in this session
    * (names keyed by dir so different sf dirs coexist). The LAYOUT is
    * durable across runs (r17 verdict #3: the 575–830 s sf100 rebuild
    * per bench pass was the un-amortized half of the lake economics —
    * build once, reuse forever, exactly as the month layout already
    * did); only the catalog registration is per-session, and that is
    * DDL replay at build_s ≈ 0. 32 buckets — matches the session's
    * shuffle parallelism; at cluster scale this is the table's
    * catalog-declared bucket count. Full-width tables, not
    * query-specific projections: a real lake buckets the table once for
    * EVERY orderkey-joining query, and parquet column pruning keeps the
    * probe narrow regardless. */
  private[graft] def bucketedFacts(s: SparkSession, dir: String): (String, String) = {
    val (lTab, oTab) = bucketedFactNames(dir)
    ensureBucketedFact(s, dir, lTab, "lineitem", "l_orderkey")
    ensureBucketedFact(s, dir, oTab, "orders", "o_orderkey")
    (lTab, oTab)
  }

  // ------------------------------------------------------ semi/anti join
  /** Left-semi and left-anti joins (customers with / without orders),
    * reduced to one row of counts. One pass: the distinct order custkeys
    * left-outer-join customer and a single conditional aggregate counts
    * both sides — semantically EXISTS/NOT EXISTS, but one Spark job and
    * one scan of each table instead of separate semi and anti plans
    * glued by a crossJoin (the same win at 100 TB: half the passes). */
  val semiAntiJoin: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val ok = t(s, dir, "orders").select(col("o_custkey")).distinct()
    c.join(ok, col("c_custkey") === col("o_custkey"), "left_outer")
      .agg(count(col("o_custkey")).as("with_orders"),
        (count(lit(1)) - count(col("o_custkey"))).as("without_orders"))
  }

  val semiAntiJoinSql: String =
    """SELECT
      |  (SELECT count(*) FROM customer c WHERE EXISTS
      |     (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS with_orders,
      |  (SELECT count(*) FROM customer c WHERE NOT EXISTS
      |     (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS without_orders""".stripMargin

  // ------------------------------------------------------ range join
  /** Non-equi (interval) join with an equi-key prefix: events within ±5min
    * of each user's first purchase. The user_id equi-key keeps this a hash
    * join (not BNLJ); the interval condition is evaluated post-match. */
  val rangeJoinEvents: Q = (s, dir) => {
    val e = t(s, dir, "events")
    val fp = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("fu")).agg(min(col("ts")).as("fts"))
    val lo = col("fts") - expr("INTERVAL '5' MINUTE")
    val hi = col("fts") + expr("INTERVAL '5' MINUTE")
    e.join(fp, col("user_id") === col("fu") && col("ts").between(lo, hi))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_nearby"), round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("user_id"))
  }

  val rangeJoinEventsSql: String =
    """WITH fp AS (
      |  SELECT user_id AS fu, min(ts) AS fts FROM events
      |  WHERE event_type = 'purchase' GROUP BY user_id)
      |SELECT e.user_id, count(*) AS n_nearby, round(sum(e.value), 4) AS sum_value
      |FROM events e JOIN fp ON e.user_id = fp.fu
      |  AND e.ts BETWEEN fp.fts - INTERVAL 5 MINUTE AND fp.fts + INTERVAL 5 MINUTE
      |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin

  // ------------------------------------------------------ as-of join
  /** As-of join (Spark has no native one — composed): for each event, the
    * most recent order at-or-before the event time for that user.
    *
    * Built as the union + running-window SORT-MERGE form: events and
    * orders interleave into one stream keyed by user, sorted by time
    * (orders before events at equal timestamps, so `<=` semantics hold),
    * and `last(pack, ignoreNulls)` over a running rows-frame carries the
    * latest order forward. The (date, key) pair is packed into one BIGINT
    * (o_orderkey < 10^9, asserted in PropertySpec) so the running `last`
    * resolves both the as-of ordering and the max-orderkey tiebreak.
    *
    * Scale: per-event state is O(1) — one carried BIGINT — regardless of
    * how many prior orders a user has. The previous join+max form built
    * the full (event × prior orders) candidate set before collapsing,
    * which goes quadratic-ish on a hot user at 100 TB; this form is one
    * shuffle on user_id plus a per-partition sort, the classic
    * sort-merge as-of. */
  val asofLatestOrder: Q = (s, dir) => {
    val e = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(null).cast("long").as("pack"))
    val o = t(s, dir, "orders")
      .select(col("o_custkey").as("user_id"),
        col("o_orderdate").cast("timestamp").as("ts"),
        lit(null).cast("long").as("event_id"),
        (unix_seconds(col("o_orderdate").cast("timestamp")) * lit(1000000000L)
          + col("o_orderkey")).as("pack"))
    // pack asc NULLS LAST: at equal ts, order rows precede event rows
    // (`<=` as-of) and the running last order is the max (date, key) pack
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("pack").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.unionByName(o)
      .withColumn("latest_key", last(col("pack"), ignoreNulls = true).over(w))
      .filter(col("event_id").isNotNull && col("latest_key").isNotNull)
      .selectExpr("event_id",
        "latest_key DIV 1000000000 AS latest_od_epoch",
        "latest_key % 1000000000 AS latest_orderkey")
      .orderBy(col("event_id"))
  }

  val asofLatestOrderSql: String =
    """WITH j AS (
      |  SELECT e.event_id,
      |    max(CAST(epoch(o.o_orderdate) AS BIGINT) * 1000000000 + o.o_orderkey) AS latest_key
      |  FROM events e JOIN orders o
      |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
      |  GROUP BY e.event_id)
      |SELECT event_id, latest_key // 1000000000 AS latest_od_epoch,
      |  latest_key % 1000000000 AS latest_orderkey
      |FROM j ORDER BY event_id""".stripMargin

  // ------------------------------------------------------ window: rank
  /** Ranking window: top-2 orders per customer. Unique orderkey in the
    * ORDER BY makes rank() deterministic (rank == row_number, so the
    * top-2 rows per customer ARE the rank<=2 rows).
    *
    * Scale shape (r16): rank()-over-the-raw-fact full-sorts every
    * customer's orders inside the window operator — a 150M-row spill
    * sort at sf100 (109–219 s measured). Instead the bounded `top2_by`
    * DECLARATIVE aggregate ([[graft.functions.Top2By]]) prunes each
    * customer to its 2 candidate rows first, and the genuine rank()
    * window runs over the winner set only.
    * Window.partitionBy(o_custkey) reuses the aggregate's hash
    * partitioning, so the whole key is ONE shuffle and the only window
    * sort is over ≤ 2 rows per customer. Declarative (fixed-width
    * primitive buffer → HashAggregateExec, whole-stage codegen) rather
    * than the generic `topk` TypedImperativeAggregate: the object-agg
    * form falls back to SORT-BASED aggregation past 128 distinct group
    * keys per task, which on 15M customers re-creates the full fact
    * sort this key exists to delete (measured: 35 GB spill at sf100). */
  val windowRank: Q = (s, dir) => {
    val winners = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(expr("top2_by(o_totalprice, o_orderkey)").as("top"))
      .select(col("o_custkey"), explode(col("top")).as("r"))
      .select(col("o_custkey"), col("r.v").as("o_totalprice"),
        col("r.k").as("o_orderkey"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    winners
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 2)
      .select(col("o_custkey"), col("rnk"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
  }

  val windowRankSql: String =
    """SELECT o_custkey, rnk, o_orderkey, round(o_totalprice, 2) AS price FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    rank() OVER (PARTITION BY o_custkey
      |                 ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      |  FROM orders)
      |WHERE rnk <= 2 ORDER BY o_custkey, rnk, o_orderkey""".stripMargin

  /** The same top-2-per-customer result through the bounded `topk`
    * TypedImperativeAggregate instead of a rank window — the 100 TB
    * shape: per-group state is exactly k rows on every map-side partial
    * (no per-group sort of the whole fact). Shares window_rank's oracle
    * (the unique orderkey tiebreak makes rank == row_number). */
  val windowRankTopk: Q = (s, dir) => {
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(expr("topk(struct(-o_totalprice AS np, o_orderkey AS ok), 2)").as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("p", "r")))
      .select(col("o_custkey"), (col("p") + 1).as("rnk"),
        col("r.ok").as("o_orderkey"), round(-col("r.np"), 2).as("price"))
      .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
  }

  // ------------------------------------------------------ window: running
  /** Analytic window with an explicit rows frame: running sum of event
    * values per user in event-time order (event_id tiebreak). */
  val windowRunning: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        round(sum(col("value")).over(w), 4).as("running_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val windowRunningSql: String =
    """SELECT user_id, event_id,
      |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
      |FROM events ORDER BY user_id, event_id""".stripMargin

  // ------------------------------------------------------ window: lead/lag
  /** Offset window functions: each event's previous/next same-user event
    * time and the inter-event gap — the sessionization building block.
    * Epoch-µs BIGINTs end to end (no timestamp precision drift), unique
    * (ts, event_id) ordering, one shuffle on user_id. */
  val windowLeadLag: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    t(s, dir, "events")
      .withColumn("ts_us", expr("unix_micros(ts)"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        lag(col("ts_us"), 1).over(w).as("prev_us"),
        lead(col("ts_us"), 1).over(w).as("next_us"))
      .withColumn("gap_us", col("ts_us") - col("prev_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val windowLeadLagSql: String =
    """SELECT user_id, event_id, ts_us,
      |  lag(ts_us, 1) OVER w AS prev_us,
      |  lead(ts_us, 1) OVER w AS next_us,
      |  ts_us - lag(ts_us, 1) OVER w AS gap_us
      |FROM (SELECT user_id, event_id,
      |        CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  // ------------------------------------------------------ distinct agg
  /** Exact distinct count per group (Catalyst expands to a two-phase
    * aggregate). The HLL variant for 100 TB is `approxDistinctUsers`
    * (bounds-oracled: in-band verdict vs exact). */
  val distinctUsers: Q = (s, dir) => {
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  val distinctUsersSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** approx_count_distinct (HyperLogLog++) — the scale path for distinct
    * counts. BOUNDS oracle (r16, closing the permanent no_oracle row):
    * sketch internals are engine-specific so the estimate itself can't
    * hash-match DuckDB, but the CLAIM — relative error within 5× the
    * configured rsd (0.01) — is deterministic for fixed input (HLL++ has
    * no randomness at eval time) and hashes exactly: the key emits the
    * exact count plus the in-band verdict, and the oracle emits the same
    * exact count plus literal TRUE. The exact co-aggregate is gate-only
    * cost; production runs the sketch alone. */
  val approxDistinctUsers: Q = (s, dir) => {
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("event_type"), col("n_users"),
        (abs(col("approx") - col("n_users"))
          <= col("n_users").cast("double") * 0.05).as("within_eps"))
      .orderBy(col("event_type"))
  }

  val approxDistinctUsersSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users, true AS within_eps
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------ rollup
  /** ROLLUP grouping sets over a broadcast star join. NULLS FIRST is
    * explicit on both engines (DuckDB defaults to NULLS LAST). */
  val rollupSales: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("n_name"), col("o_orderstatus"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(asc_nulls_first("n_name"), asc_nulls_first("o_orderstatus"))
  }

  val rollupSalesSql: String =
    """SELECT n_name, o_orderstatus,
      |  round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ROLLUP (n_name, o_orderstatus)
      |ORDER BY n_name NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  // ------------------------------------------------------ cube
  /** CUBE twin of rollupSales — all 2^n grouping sets, so it adds the
    * (status-only) subtotals rollup omits. Same single Expand + one
    * shuffle plan (rows × 4 sets before partial agg; at 100 TB prefer
    * explicit GROUPING SETS over CUBE's 2^n expansion — see
    * groupingSetsRevenue). NULLS FIRST explicit on both engines. */
  val cubeSales: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .cube(col("n_name"), col("o_orderstatus"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(asc_nulls_first("n_name"), asc_nulls_first("o_orderstatus"))
  }

  val cubeSalesSql: String =
    """SELECT n_name, o_orderstatus,
      |  round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY CUBE (n_name, o_orderstatus)
      |ORDER BY n_name NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  // ------------------------------------------------------ set ops
  /** INTERSECT / EXCEPT / UNION DISTINCT over order-status key sets,
    * reduced to one row of counts. Single-pass plan: one scan, one
    * shuffle on custkey computing per-key membership flags, one global
    * conditional aggregate — instead of three set-op subplans (each with
    * its own distinct shuffle) glued by crossJoins. Same three numbers,
    * 1 job / 2 shuffles at any scale. */
  val setOps: Q = (s, dir) => {
    val flags = t(s, dir, "orders")
      .filter(col("o_orderstatus").isin("F", "O"))
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderstatus") === "F").as("in_f"),
        max(col("o_orderstatus") === "O").as("in_o"))
    flags.agg(
      sum(when(col("in_f") && col("in_o"), 1L).otherwise(0L)).as("n_both"),
      sum(when(col("in_f") && !col("in_o"), 1L).otherwise(0L)).as("n_f_only"),
      count(lit(1)).as("n_any"))
  }

  val setOpsSql: String =
    """SELECT
      |  (SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus='F'
      |    INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus='O')) AS n_both,
      |  (SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus='F'
      |    EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus='O')) AS n_f_only,
      |  (SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus='F'
      |    UNION SELECT o_custkey FROM orders WHERE o_orderstatus='O')) AS n_any""".stripMargin

  // ------------------------------------------------------ string fns
  val stringFuncs: Q = (s, dir) => {
    t(s, dir, "part")
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_parts"),
        min(length(col("p_name"))).as("min_name_len"),
        max(upper(substring(col("p_name"), 1, 4))).as("max_prefix"),
        sum(when(col("p_type").like("%ECO%"), 1).otherwise(0)).as("n_eco"),
        min(concat_ws("-", col("p_type"), col("p_brand"))).as("min_concat"))
      .orderBy(col("p_brand"))
  }

  val stringFuncsSql: String =
    """SELECT p_brand, count(*) AS n_parts,
      |  min(length(p_name)) AS min_name_len,
      |  max(upper(substr(p_name, 1, 4))) AS max_prefix,
      |  CAST(sum(CASE WHEN p_type LIKE '%ECO%' THEN 1 ELSE 0 END) AS BIGINT) AS n_eco,
      |  min(p_type || '-' || p_brand) AS min_concat
      |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ------------------------------------------------------ date fns
  val dateTruncAgg: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .groupBy(to_date(date_trunc("month", col("l_shipdate"))).as("ship_month"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n_items"))
      .orderBy(col("ship_month"))
  }

  val dateTruncAggSql: String =
    """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
      |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_items
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------- time-partitioned lake twins
  /** Month-partitioned lineitem via
    * [[graft.sources.Lake.datePartitionByMonth]] — the TIME-axis lake
    * layout (r16 verdict #1: every remaining sf100 relational wall is a
    * time-keyed scan; layout, not plan surgery, is the lever, exactly as
    * `q3_bucketed` proved for the join axis). At cluster scale this is
    * the catalog table's declared partitioning — built once at ingest,
    * amortized over every time-sliced query.
    *
    * The layout is DURABLE across runs (r17, per ADVICE and for honest
    * benching: probing a 12 GB layout in the same JVM that just built it
    * measures the build's page-cache eviction, not the layout): a fixed
    * per-source dir in java.io.tmpdir, keyed by a CONTENT FINGERPRINT
    * (canonical path + size + mtime of the source parquet), so a
    * regenerated testdata file can never be served a stale layout.
    * Build is race-safe for concurrent Bench/Verify: each builder writes
    * an app-id-suffixed temp dir and atomically renames it in; the
    * rename loser deletes its copy and reads the winner's. Stale
    * fingerprints of the same source dir are swept before building —
    * disk is bounded at one live layout per source file. */
  private[graft] def monthLayoutDir(dir: String): java.io.File = {
    // the tag is the LAYOUT VERSION — bump it when the write format
    // changes (v2: ts-sorted within month files; v3: timestamps as INT64
    // micros, because INT96 — the Spark session default — has no min/max
    // stats and silently voided v2's row-group pruning), so stale-format
    // builds are swept like stale-source ones
    val fp = graft.sources.Lake.layoutFingerprint(
      new java.io.File(s"$dir/lineitem.parquet"), "month-v3")
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_month_lineitem_${graft.sources.Lake.dirSuffix(dir)}_$fp")
  }

  /** True iff the durable month layout for `dir` is already built. */
  private[graft] def monthLayoutExists(dir: String): Boolean =
    graft.sources.Lake.layoutComplete(monthLayoutDir(dir))

  private[graft] def monthLineitem(s: SparkSession, dir: String): DataFrame = {
    val root = monthLayoutDir(dir)
    graft.sources.Lake.ensureLayout(s, root) { tmp =>
      graft.sources.Lake.datePartitionByMonth(
        t(s, dir, "lineitem"), tmp.toString, "l_shipdate", "ship_month")
    }
    graft.Tables.parquet(s, root.toString)
  }

  /** Durable day-partitioned EVENTS layout — the time-axis lever
    * extended to the event stream (r17 verdict #4: the streaming sink
    * already lands `event_date=` dirs; this is the batch-read side of
    * the same layout, so a day-sliced query's time cut is pure
    * directory pruning). Same fingerprint/race/sweep machinery as the
    * month layout ([[graft.sources.Lake.ensureLayout]]). */
  private[graft] def dayEventsLayoutDir(dir: String): java.io.File = {
    val src = new java.io.File(s"$dir/events.parquet")
    val fp = graft.sources.Lake.layoutFingerprint(src, "day-v2")
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_day_events_${graft.sources.Lake.dirSuffix(dir)}_$fp")
  }

  private[graft] def dayEventsLayoutExists(dir: String): Boolean =
    graft.sources.Lake.layoutComplete(dayEventsLayoutDir(dir))

  private[graft] def dayEvents(s: SparkSession, dir: String): DataFrame = {
    val root = dayEventsLayoutDir(dir)
    graft.sources.Lake.ensureLayout(s, root) { tmp =>
      graft.sources.Lake.datePartitionBy(
        t(s, dir, "events"), tmp.toString, "ts", "event_date", "day")
    }
    graft.Tables.parquet(s, root.toString)
  }

  /** [[dateTruncAgg]] over the month-partitioned layout — same oracle
    * (layout never changes answers). The grouping key is the PARTITION
    * column: it comes from directory metadata, so the scan's ReadSchema
    * is l_quantity alone — no timestamp decode at all, where the flat
    * key decodes 600M timestamps at sf100 just to truncate them
    * (PlanShapeSpec pins the pruned ReadSchema). */
  val dateTruncAggPartitioned: Q = (s, dir) => {
    monthLineitem(s, dir)
      .groupBy(col("ship_month"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n_items"))
      .orderBy(col("ship_month"))
  }

  /** [[q1PricingSummary]] over the month-partitioned layout — same
    * oracle. The shipdate cut lands twice: as a PartitionFilter on
    * ship_month (directory pruning — months past the cut are never
    * listed, let alone read) and as the exact pushed parquet predicate
    * on l_shipdate within the boundary month. At TPC-H's 7-year span the
    * cut prunes ~4 of 84 months; the structural win is that ANY
    * time-sliced query (a quarter, a month, a day's reprocess) over this
    * layout reads only its slice — the dominant query class against a
    * 100 TB time-series fact. */
  val q1Partitioned: Q = (s, dir) => {
    val cut = lit("1998-09-02").cast("timestamp")
    q1Over(monthLineitem(s, dir)
      .filter(col("ship_month") <= to_date(cut) && col("l_shipdate") <= cut))
  }

  /** Narrow time-slice over the month layout — THE dominant query class
    * against a 100 TB time-series fact: one quarter's revenue. The
    * BETWEEN on ship_month is PURE directory pruning (3 of ~84 month
    * dirs listed, zero foreign files opened — PlanShapeSpec pins the
    * PartitionFilters), so cost scales with the SLICE, not the table;
    * the flat oracle decodes every row's timestamp to find the same
    * three months. ship_month bounds ⇔ l_shipdate ∈ [Jan 1, Apr 1):
    * month-floor is monotone and partition values are month starts. */
  val timeSliceQuarter: Q = (s, dir) => {
    monthLineitem(s, dir)
      .filter(col("ship_month").between(
        lit("1995-01-01").cast("date"), lit("1995-03-01").cast("date")))
      .groupBy(col("ship_month"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("ship_month"))
  }

  val timeSliceQuarterSql: String =
    """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1995-04-01 00:00:00'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Day-grain slice over the month layout — the pruning HIERARCHY's
    * last level (r17 verdict #2): the ship_month equality prunes to ONE
    * directory, and because rows within each month file are ts-SORTED
    * at build (Lake.datePartitionBy), the day cut's parquet min/max
    * stats skip all but ~1/30 of that file's ROW GROUPS — dir → row
    * group → page, so a day's reprocess cost scales with the DAY even
    * inside the boundary month. LakeSpec pins the row-group skip by
    * bytes-read on a multi-row-group fixture; PlanShapeSpec pins the
    * PartitionFilter + pushed day predicate. Same-oracle pattern:
    * layout never changes answers. */
  val timeSliceDay: Q = (s, dir) => {
    val d0 = lit("1995-02-14").cast("timestamp")
    val d1 = lit("1995-02-15").cast("timestamp")
    monthLineitem(s, dir)
      .filter(col("ship_month") === lit("1995-02-01").cast("date") &&
        col("l_shipdate") >= d0 && col("l_shipdate") < d1)
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val timeSliceDaySql: String =
    """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-02-14 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1995-02-15 00:00:00'""".stripMargin

  // ------------------------------------------------------ JSON fns
  /** JSON path extraction from the events.props payload (codegen'd
    * get_json_object — no UDF). */
  val jsonExtract: Q = (s, dir) => {
    t(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(round(avg(col("k")), 4).as("avg_k"), max(col("k")).as("max_k"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  val jsonExtractSql: String =
    """SELECT event_type,
      |  round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
      |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
      |  count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------ map fns
  /** props parsed to MapType and exploded — exercises from_json + generator.
    * (Testdata props have the single key "k"; the oracle exploits that.) */
  val propsMap: Q = (s, dir) => {
    t(s, dir, "events")
      .select(explode(from_json(col("props"), "map<string,int>", Map.empty[String, String])).as(Seq("key", "val")))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), round(avg(col("val")), 4).as("avg_val"))
      .orderBy(col("key"))
  }

  val propsMapSql: String =
    """SELECT 'k' AS key, count(*) AS n,
      |  round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_val
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------ tumbling window
  /** Tumbling event-time window (batch form; the streaming form shares the
    * same window() expression — see graft.streaming). Buckets emitted as
    * epoch seconds. */
  val tumblingWindow: Q = (s, dir) => {
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("bucket"),
        col("n_events"), col("sum_value"))
      .orderBy(col("bucket"))
  }

  val tumblingWindowSql: String =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket,
      |  count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------ sliding window
  /** Sliding window (1h length, 15min slide): each event lands in exactly 4
    * windows. The oracle reproduces window-assignment arithmetic. */
  val slidingWindow: Q = (s, dir) => {
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("win_start"))
  }

  val slidingWindowSql: String =
    """SELECT CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) - j * 900 AS win_start,
      |  count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------ sessionization
  /** 30-min-gap sessionization via the lag + conditional-sum idiom (batch
    * twin of Structured Streaming's session_window — see graft.streaming). */
  val sessionGap: Q = (s, dir) => sessionsOver(t(s, dir, "events"))

  /** Per user: sessions (a gap over 30 min starts one) and events. */
  private def sessionsOver(events: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts").cast("double") - col("prev_ts").cast("double") > 1800.0, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  val sessionGapSql: String =
    """WITH g AS (
      |  SELECT user_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events)
      |SELECT user_id,
      |  CAST(sum(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      |  count(*) AS n_events
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  /** [[sessionGap]] restricted to ONE day, read off the durable
    * day-partitioned events layout ([[dayEvents]]) — the daily
    * reprocess shape against a 100 TB event stream: the day cut is an
    * `event_date=` PartitionFilter (directory pruning; foreign days are
    * never listed, let alone read — PlanShapeSpec pins it), so the
    * job's scan cost is the DAY's bytes while the flat key full-scans
    * the stream to find the same rows. Sessions are day-scoped by
    * definition here (the lag window sees only the day's events); the
    * oracle applies the identical cut to the flat table, so the answers
    * agree exactly. */
  val sessionGapDay: Q = (s, dir) =>
    sessionsOver(dayEvents(s, dir)
      .filter(col("event_date") === lit("2024-01-15").cast("date")))

  val sessionGapDaySql: String =
    """WITH g AS (
      |  SELECT user_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
      |    AND ts < TIMESTAMP '2024-01-16 00:00:00')
      |SELECT user_id,
      |  CAST(sum(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      |  count(*) AS n_events
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------ quantiles
  /** Exact grouped quantiles: p50/p90/p99 of l_extendedprice per return
    * flag via the exact `percentile` aggregate (linear interpolation —
    * the same definition as DuckDB's quantile_cont). One shuffle on the
    * 3-value group key; each group's sort is distributed by the agg
    * implementation. Rounded to 4 decimals so the two engines' float
    * summation order can't flip a ulp. At 100 TB the drop-in scale
    * variant is approx_percentile (t-digest sketch, mergeable,
    * single-pass) — gated separately with a bounds oracle, like
    * approx_distinct_users. */
  val groupedQuantiles: Q = (s, dir) => {
    val pcts = array(lit(0.5), lit(0.9), lit(0.99))
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        percentile(col("l_extendedprice"), pcts).as("q"))
      .select(col("l_returnflag"), col("n"),
        round(element_at(col("q"), 1), 4).as("p50"),
        round(element_at(col("q"), 2), 4).as("p90"),
        round(element_at(col("q"), 3), 4).as("p99"))
      .orderBy(col("l_returnflag"))
  }

  val groupedQuantilesSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
      |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Sketch twin of grouped_quantiles: approx_percentile at accuracy
    * 10000 — the 100 TB path (bounded-memory quantile sketch,
    * partial-mergeable so the shuffle carries sketches, not values).
    * BOUNDS oracle (r16, closing the permanent no_oracle row): the
    * sketch guarantees rank error ≤ 1/accuracy = 1e-4, so each approx
    * quantile must lie between the EXACT quantiles at p ± 0.005 (50×
    * slack over nominal, absorbing interpolation-vs-member-value
    * differences). The verdict is deterministic for fixed input and
    * hashes against the oracle's literal TRUE columns; the exact
    * co-aggregates are gate-only cost — production runs the sketch
    * alone. */
  val approxQuantiles: Q = (s, dir) => {
    val pcts = array(lit(0.5), lit(0.9), lit(0.99))
    val lo = array(lit(0.495), lit(0.895), lit(0.985))
    val hi = array(lit(0.505), lit(0.905), lit(0.995))
    def band(i: Int) =
      (element_at(col("q"), i) >= element_at(col("ql"), i)) &&
        (element_at(col("q"), i) <= element_at(col("qh"), i))
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        approx_percentile(col("l_extendedprice"), pcts, lit(10000)).as("q"),
        percentile(col("l_extendedprice"), lo).as("ql"),
        percentile(col("l_extendedprice"), hi).as("qh"))
      .select(col("l_returnflag"), col("n"),
        band(1).as("p50_in_band"), band(2).as("p90_in_band"),
        band(3).as("p99_in_band"))
      .orderBy(col("l_returnflag"))
  }

  val approxQuantilesSql: String =
    """SELECT l_returnflag, count(*) AS n, true AS p50_in_band,
      |  true AS p90_in_band, true AS p99_in_band
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------ SQL surface
  /** TPC-H Q5 shape through spark.sql — exercises the SQL parser/analyzer
    * path and Catalyst's join ordering over a 6-table star (dims resolve
    * to broadcasts; the lineitem⋈orders fact join shuffles on orderkey). */
  val sqlRevenueByNation: Q = (s, dir) => {
    for (name <- Seq("region", "nation", "customer", "supplier", "orders", "lineitem"))
      t(s, dir, name).createOrReplaceTempView(name)
    s.sql(sqlRevenueByNationSql)
  }

  val sqlRevenueByNationSql: String =
    """SELECT n_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*) AS n_items
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ------------------------------------------------------ pivot / unpivot
  /** Pivot: order revenue by year × order-status, statuses spread into
    * columns. The value list is EXPLICIT (`Seq("F","O","P")`), so no
    * driver-side distinct scan plans the pivot — at 100 TB an implicit
    * pivot first runs a full distinct over the pivot column; the explicit
    * form compiles straight to one partial-aggregated shuffle on the
    * group key, identical to a plain group-by. */
  val pivotStatusRevenue: Q = (s, dir) => {
    t(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum(col("o_totalprice")), 2))
      .withColumnsRenamed(Map("F" -> "rev_f", "O" -> "rev_o", "P" -> "rev_p"))
      .orderBy(col("order_year"))
  }

  val pivotStatusRevenueSql: String =
    """SELECT year(o_orderdate) AS order_year,
      |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS rev_f,
      |  round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS rev_o,
      |  round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS rev_p
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Unpivot (melt): wide per-flag aggregates back to long
    * (flag, metric, value) rows — the Dataset.unpivot relational
    * generator. Constant-width explode of an already-aggregated tiny
    * frame: no shuffle beyond the group-by that built it. */
  val unpivotMetrics: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price")), "metric", "value")
      .orderBy(col("l_returnflag"), col("metric"))
  }

  val unpivotMetricsSql: String =
    """WITH base AS (
      |  SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
      |    round(sum(l_extendedprice), 2) AS sum_price
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM base
      |UNION ALL
      |SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM base
      |ORDER BY l_returnflag, metric""".stripMargin

  // ------------------------------------------------- distribution windows
  /** ntile / percent_rank / cume_dist over per-customer spend,
    * PARTITIONED by nation — the scale-right distribution-window shape
    * (a global ntile would be a single-partition sort; per-nation keeps
    * every partition bounded by its group). Ties broken by custkey so
    * both engines rank identically. */
  val windowNtile: Q = (s, dir) => {
    val spend = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("spend"))
    val cust = broadcast(t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey")))
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("spend").desc, col("o_custkey"))
    spend.join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nationkey"), col("o_custkey").as("custkey"),
        col("spend"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cdist"))
      .orderBy(col("nationkey"), col("custkey"))
  }

  val windowNtileSql: String =
    """WITH spend AS (
      |  SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
      |  FROM orders GROUP BY 1)
      |SELECT c_nationkey AS nationkey, o_custkey AS custkey, spend,
      |  ntile(4) OVER w AS quartile,
      |  round(percent_rank() OVER w, 4) AS pct_rank,
      |  round(cume_dist() OVER w, 4) AS cdist
      |FROM spend JOIN customer ON o_custkey = c_custkey
      |WINDOW w AS (PARTITION BY c_nationkey ORDER BY spend DESC, o_custkey)
      |ORDER BY nationkey, custkey""".stripMargin

  // ------------------------------------------------------ skew handling
  /** Salted two-stage aggregation over a pathologically skewed key
    * (events has 5 event_type values — at 100 TB each key would be one
    * giant reducer). Stage 1 groups on (key, salt∈[0,16)) so the hot
    * keys fan out across 16× more reducers; stage 2 merges the 5×16
    * partials — a shuffle of 80 rows regardless of input size. This is
    * the manual-salting twin of AQE skew-join splitting, expressed as a
    * first-class operator; the oracle is the plain single-stage group-by
    * (same result, different physical distribution). */
  val saltedSkewAgg: Q = (s, dir) => {
    t(s, dir, "events")
      .withColumn("salt", pmod(hash(col("event_id")), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(sum(col("value")).as("psum"), count(lit(1)).as("pn"))
      .groupBy(col("event_type"))
      .agg(round(sum(col("psum")), 4).as("sum_value"), sum(col("pn")).as("n_events"))
      .orderBy(col("event_type"))
  }

  val saltedSkewAggSql: String =
    """SELECT event_type, round(sum(value), 4) AS sum_value,
      |  count(*) AS n_events
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------- salted skew join
  /** Skew-safe equi-join via SALT REPLICATION — the manual twin of AQE's
    * skew-join split, kept first-class so the plan shape is explicit:
    * the (possibly skewed) FACT side gets a deterministic salt in
    * [0, R); the build side is replicated R× with every salt value; the
    * join keys on (key, salt), so a hot orderkey's rows spread over R
    * reducers instead of one straggler. Exactness: each fact row matches
    * its build row exactly once (at the fact row's own salt), so results
    * equal the unsalted join — which is what the oracle runs. R trades
    * build-side duplication for reducer balance; at 100 TB pick R from
    * the observed key histogram (or let AQE do this when its stats
    * see the skew).
    *
    * The fact-side salt MUST vary WITHIN a join key — hashing the join
    * key alone is a pure function of it, so every row of a hot key
    * would land on the same (key, salt) reducer and the replication
    * buys nothing. Here the salt mixes in l_linenumber (any per-row
    * attribute works; rand() would too but breaks retry determinism). */
  val skewJoinSalted: Q = (s, dir) => {
    val R = 4
    val li = t(s, dir, "lineitem")
      .withColumn("salt_f", pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(R)))
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("salt_d", explode(array((0 until R).map(lit(_)): _*)))
    li.join(o, col("l_orderkey") === col("o_orderkey")
        && col("salt_f") === col("salt_d"))
      .groupBy(col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice")), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderpriority"))
  }

  val skewJoinSaltedSql: String =
    """SELECT o_orderpriority, round(sum(l_extendedprice), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------ sampling
  /** Deterministic hash sampling: keep a row iff the first hex byte of
    * md5(key) falls under the rate threshold ('20'/'100' = 1/8). Unlike
    * TABLESAMPLE or rand(), the sample is a pure function of the key —
    * reproducible across engines, runs, partitionings, and retries
    * (task re-execution can't change membership), and pushes down to the
    * scan as an ordinary filter. The standard train/eval carve-out and
    * down-sampling primitive for 100 TB pipelines. */
  val hashSample: Q = (s, dir) => {
    t(s, dir, "orders")
      .filter(substring(md5(col("o_orderkey").cast("string")), 1, 2) < lit("20"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val hashSampleSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '20'
      |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------- as-of: nearest
  /** As-of join, NEAREST direction with a ±30-minute tolerance: for each
    * purchase event, the same-user VIEW event closest in time (before OR
    * after), ties broken by the lower view event_id — attribution's
    * "which impression drove this purchase". Same shape as
    * `asofLatestOrder` (backward as-of): the equi-key (user) keeps it a
    * hash join, the interval bound keeps per-purchase candidates finite,
    * and packing (|Δt|, event_id) into one BIGINT lets a single min()
    * resolve both the nearest ordering and the tiebreak — one shuffle,
    * no window over the joined fact. At 100 TB the tolerance is what
    * makes nearest-asof tractable: an unbounded nearest needs a global
    * per-user sort; bounded, it's an ordinary interval join.
    *
    * 'Nearest' resolves on FULL microsecond deltas — |Δt| ≤ 30 min =
    * 1.8e9 µs, so Δt_us·10^9 + event_id still fits a BIGINT (max
    * 1.8e18 < 2^63; event_id < 10^9, asserted in PropertySpec) and two
    * views tie only when genuinely equidistant to the microsecond, not
    * merely within the same truncated second. */
  val asofNearestView: Q = (s, dir) => {
    val e = t(s, dir, "events")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val v = e.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
    val lo = col("p_ts") - expr("INTERVAL '30' MINUTE")
    val hi = col("p_ts") + expr("INTERVAL '30' MINUTE")
    val dUs = abs(expr("unix_micros(v_ts)") - expr("unix_micros(p_ts)"))
    p.join(v, col("user_id") === col("v_user") && col("v_ts").between(lo, hi))
      .groupBy(col("p_id"))
      .agg(min(dUs * lit(1000000000L) + col("v_id")).as("pack"),
        count(lit(1)).as("n_cand"))
      .selectExpr("p_id AS purchase_id", "pack DIV 1000000000 AS diff_us",
        "pack % 1000000000 AS nearest_view_id", "n_cand")
      .orderBy(col("purchase_id"))
  }

  val asofNearestViewSql: String =
    """WITH j AS (
      |  SELECT p.event_id AS purchase_id,
      |    min(abs(CAST(epoch_us(v.ts) AS BIGINT)
      |          - CAST(epoch_us(p.ts) AS BIGINT)) * 1000000000 + v.event_id) AS pack,
      |    count(*) AS n_cand
      |  FROM events p JOIN events v
      |    ON p.user_id = v.user_id
      |    AND p.event_type = 'purchase' AND v.event_type = 'view'
      |    AND v.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts + INTERVAL 30 MINUTE
      |  GROUP BY p.event_id)
      |SELECT purchase_id, pack // 1000000000 AS diff_us,
      |  pack % 1000000000 AS nearest_view_id, n_cand
      |FROM j ORDER BY purchase_id""".stripMargin

  // ------------------------------------------- correlated scalar subquery
  /** Correlated scalar subquery through the SQL parser: per-order lineitem
    * count via `(SELECT count(*) ... WHERE l_orderkey = o_orderkey)`.
    * Catalyst DECORRELATES this to an aggregate + left outer join — the
    * plan a user would hand-write — so the subquery form costs nothing
    * extra at 100 TB (one shuffle on orderkey, null→0 handled by the
    * rewrite). Integer counts keep the oracle exact. */
  val scalarSubqueryItems: Q = (s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("orders")
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT o_orderkey, n_items FROM (
        |  SELECT o_orderkey,
        |    (SELECT count(*) FROM lineitem l
        |     WHERE l.l_orderkey = o.o_orderkey) AS n_items
        |  FROM orders o)
        |WHERE n_items >= 6 ORDER BY o_orderkey""".stripMargin)
  }

  val scalarSubqueryItemsSql: String =
    """SELECT o_orderkey, n_items FROM (
      |  SELECT o_orderkey,
      |    (SELECT count(*) FROM lineitem l
      |     WHERE l.l_orderkey = o.o_orderkey) AS n_items
      |  FROM orders o)
      |WHERE n_items >= 6 ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------ grouping sets
  /** Explicit GROUPING SETS — the general form rollup/cube specialize:
    * (year, status), (year), (status), (). Spark expands the sets into
    * one Expand + single-shuffle aggregate (rows × #sets before partial
    * agg — at 100 TB prefer few, targeted sets over CUBE's 2^n).
    * grouping() flags disambiguate real NULLs from subtotal rows, and the
    * ORDER BY pins NULLS FIRST explicitly because Spark and DuckDB
    * default opposite NULL orderings. */
  val groupingSetsRevenue: Q = (s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT year(o_orderdate) AS yr, o_orderstatus AS status,
        |  grouping(year(o_orderdate)) AS g_yr,
        |  grouping(o_orderstatus) AS g_status,
        |  round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders
        |GROUP BY GROUPING SETS ((year(o_orderdate), o_orderstatus),
        |  (year(o_orderdate)), (o_orderstatus), ())
        |ORDER BY g_yr, g_status, yr ASC NULLS FIRST, status ASC NULLS FIRST""".stripMargin)
      .selectExpr("yr", "status", "CAST(g_yr AS INT) AS g_yr",
        "CAST(g_status AS INT) AS g_status", "revenue", "n_orders")
  }

  val groupingSetsRevenueSql: String =
    """SELECT year(o_orderdate) AS yr, o_orderstatus AS status,
      |  CAST(grouping(year(o_orderdate)) AS INT) AS g_yr,
      |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
      |  round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
      |FROM orders
      |GROUP BY GROUPING SETS ((year(o_orderdate), o_orderstatus),
      |  (year(o_orderdate)), (o_orderstatus), ())
      |ORDER BY g_yr, g_status, yr ASC NULLS FIRST, status ASC NULLS FIRST""".stripMargin

  // ------------------------------------------------------ mode (argmax)
  /** Deterministic per-group mode: each user's most frequent event_type,
    * ties broken lexicographically. Built as count-then-argmax (group-by
    * + a window over the tiny distinct-pairs frame — ≤ #types rows per
    * user, so the window state is bounded at any scale) instead of the
    * built-in `mode()` aggregate, whose tie choice is engine-specific and
    * would never hash-match across engines. */
  val modeStats: Q = (s, dir) => {
    val counts = t(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("cnt").desc, col("event_type").asc)
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("mode_type"), col("cnt"))
      .orderBy(col("user_id"))
  }

  val modeStatsSql: String =
    """SELECT user_id, mode_type, cnt FROM (
      |  SELECT user_id, event_type AS mode_type, count(*) AS cnt,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY count(*) DESC, event_type) AS rn
      |  FROM events GROUP BY user_id, event_type)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ------------------------------------------------- bloom-pruned join
  /** Bloom-filter semi-join pruning — the 100 TB pattern for a dim side
    * too big to broadcast whole but whose KEY SET fits a sketch: build a
    * Bloom filter over the filtered dim keys (here BUILDING customers),
    * prefilter the fact scan with mightContain (drops ~the fact's
    * non-matching rows BEFORE the join shuffle), then the exact join
    * removes the filter's false positives — the result is exact, the
    * bloom only prunes. This is the manual twin of Spark's runtime
    * row-level filtering (spark.sql.optimizer.runtime.bloomFilter), made
    * first-class so the pruning applies regardless of optimizer
    * heuristics. The mightContain UDF runs only on the prefilter — off
    * the post-join hot path. */
  val bloomPruneJoin: Q = (s, dir) => {
    // NATIVE bloom machinery (r16, verdict #5 — the Scala-UDF probe
    // replaced): the sketch builds as Spark's own BloomFilterAggregate
    // in a SCALAR SUBQUERY (one distributed pass, no driver-side
    // collect-and-close-over) and the probe is BloomFilterMightContain —
    // a codegen'd Catalyst predicate, so the fact scan's filter stays
    // inside whole-stage codegen. Exactly the expression pair Spark's
    // InjectRuntimeFilter plants, here placed explicitly. The exact
    // join after the probe keeps the result FP-free, so the oracle is
    // the plain join.
    t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey")).createOrReplaceTempView("bloom_dim_keys")
    t(s, dir, "orders").createOrReplaceTempView("bloom_orders")
    s.sql(
      """SELECT count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM (SELECT o_custkey, o_totalprice FROM bloom_orders
        |      WHERE might_contain(
        |        (SELECT bloom_filter_agg(xxhash64(c_custkey)) FROM bloom_dim_keys),
        |        xxhash64(o_custkey))) o
        |JOIN bloom_dim_keys k ON o.o_custkey = k.c_custkey""".stripMargin)
  }

  val bloomPruneJoinSql: String =
    """SELECT count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'""".stripMargin

  // ---------------------------------------------------------------- maps
  val queries: Map[String, Q] = Map(
    "sql_revenue_by_nation" -> sqlRevenueByNation,
    "q1_pricing_summary" -> q1PricingSummary,
    "q3_top_orders" -> q3TopOrders,
    "q3_bucketed" -> q3Bucketed,
    "semi_anti_join" -> semiAntiJoin,
    "range_join_events" -> rangeJoinEvents,
    "asof_latest_order" -> asofLatestOrder,
    "window_rank" -> windowRank,
    "window_rank_topk" -> windowRankTopk,
    "window_running" -> windowRunning,
    "window_lead_lag" -> windowLeadLag,
    "distinct_users" -> distinctUsers,
    "approx_distinct_users" -> approxDistinctUsers,
    "rollup_sales" -> rollupSales,
    "cube_sales" -> cubeSales,
    "set_ops" -> setOps,
    "string_funcs" -> stringFuncs,
    "date_trunc_agg" -> dateTruncAgg,
    "date_trunc_agg_partitioned" -> dateTruncAggPartitioned,
    "q1_partitioned" -> q1Partitioned,
    "time_slice_quarter" -> timeSliceQuarter,
    "time_slice_day" -> timeSliceDay,
    "session_gap_day" -> sessionGapDay,
    "json_extract" -> jsonExtract,
    "props_map" -> propsMap,
    "tumbling_window" -> tumblingWindow,
    "sliding_window" -> slidingWindow,
    "session_gap" -> sessionGap,
    "grouped_quantiles" -> groupedQuantiles,
    "approx_quantiles" -> approxQuantiles,
    "pivot_status_revenue" -> pivotStatusRevenue,
    "unpivot_metrics" -> unpivotMetrics,
    "window_ntile" -> windowNtile,
    "salted_skew_agg" -> saltedSkewAgg,
    "skew_join_salted" -> skewJoinSalted,
    "hash_sample" -> hashSample,
    "asof_nearest_view" -> asofNearestView,
    "scalar_subquery_items" -> scalarSubqueryItems,
    "grouping_sets_revenue" -> groupingSetsRevenue,
    "mode_stats" -> modeStats,
    "bloom_prune_join" -> bloomPruneJoin,
  )

  val oracle: Map[String, String] = Map(
    "sql_revenue_by_nation" -> sqlRevenueByNationSql,
    "q1_pricing_summary" -> q1PricingSummarySql,
    "q3_top_orders" -> q3TopOrdersSql,
    "q3_bucketed" -> q3TopOrdersSql,
    "semi_anti_join" -> semiAntiJoinSql,
    "range_join_events" -> rangeJoinEventsSql,
    "asof_latest_order" -> asofLatestOrderSql,
    "window_rank" -> windowRankSql,
    "window_rank_topk" -> windowRankSql,
    "window_running" -> windowRunningSql,
    "window_lead_lag" -> windowLeadLagSql,
    "distinct_users" -> distinctUsersSql,
    "rollup_sales" -> rollupSalesSql,
    "cube_sales" -> cubeSalesSql,
    "set_ops" -> setOpsSql,
    "string_funcs" -> stringFuncsSql,
    "date_trunc_agg" -> dateTruncAggSql,
    // layout twins share the flat keys' oracles: storage layout never
    // changes answers
    "date_trunc_agg_partitioned" -> dateTruncAggSql,
    "q1_partitioned" -> q1PricingSummarySql,
    "time_slice_quarter" -> timeSliceQuarterSql,
    "time_slice_day" -> timeSliceDaySql,
    "session_gap_day" -> sessionGapDaySql,
    "json_extract" -> jsonExtractSql,
    "props_map" -> propsMapSql,
    "tumbling_window" -> tumblingWindowSql,
    "sliding_window" -> slidingWindowSql,
    "session_gap" -> sessionGapSql,
    "grouped_quantiles" -> groupedQuantilesSql,
    "pivot_status_revenue" -> pivotStatusRevenueSql,
    "unpivot_metrics" -> unpivotMetricsSql,
    "window_ntile" -> windowNtileSql,
    "salted_skew_agg" -> saltedSkewAggSql,
    "skew_join_salted" -> skewJoinSaltedSql,
    "hash_sample" -> hashSampleSql,
    "asof_nearest_view" -> asofNearestViewSql,
    "scalar_subquery_items" -> scalarSubqueryItemsSql,
    "grouping_sets_revenue" -> groupingSetsRevenueSql,
    "mode_stats" -> modeStatsSql,
    "bloom_prune_join" -> bloomPruneJoinSql,
    // r16: the two approx keys now carry BOUNDS oracles (in-band verdict
    // columns vs literal TRUE) — 168/168 gated instead of two permanent
    // no_oracle rows. QuantilesSpec still bounds the raw sketch error.
    "approx_distinct_users" -> approxDistinctUsersSql,
    "approx_quantiles" -> approxQuantilesSql,
  )
}
