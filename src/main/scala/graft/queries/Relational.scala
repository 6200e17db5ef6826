package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryUtil._

/** Relational core — the query engine that sits under the reference's
  * interactive analysis (pandas groupby/join/sort/window idioms from
  * /root/reference/ipynb/pandasVCF_example.ipynb), expressed as Catalyst
  * plans over the driver's TPC-H-ish tables.
  *
  * Oracle discipline (see SURVEY.md §5): decimal-exact internal sums,
  * bit-deterministic double outputs, total-order ORDER BY, explicit
  * NULLS FIRST on the DuckDB side.
  */
object Relational extends QuerySet {

  private val one = expr("CAST(1 AS DECIMAL(18,6))")

  /** Pricing-summary aggregate (TPC-H Q1 shape): scan + filter pushdown +
    * partial-aggregated groupBy. One shuffle on the (tiny-cardinality)
    * group key; at 100 TB this is map-side combined to ~nothing.
    */
  private val q01 = Q(
    "q01_pricing_agg",
    (s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      l.groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec("l_quantity")).as("dq"),
          sum(dec("l_extendedprice")).as("dp"),
          sum(dec("l_extendedprice") * (one - dec("l_discount"))).as("ddp"),
          sum(dec("l_discount")).as("dd"),
          count(lit(1)).as("count_order"))
        .select(
          col("l_returnflag"), col("l_linestatus"),
          money(col("dq")).as("sum_qty"),
          money(col("dp")).as("sum_base_price"),
          money(col("ddp")).as("sum_disc_price"),
          avg6(col("dq"), col("count_order")).as("avg_qty"),
          avg6(col("dd"), col("count_order")).as("avg_disc"),
          col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        ${moneySql("sum(CAST(l_quantity AS DECIMAL(18,6)))")} AS sum_qty,
        ${moneySql("sum(CAST(l_extendedprice AS DECIMAL(18,6)))")} AS sum_base_price,
        ${moneySql("sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))")} AS sum_disc_price,
        ${avg6Sql("sum(CAST(l_quantity AS DECIMAL(18,6)))", "count(*)")} AS avg_qty,
        ${avg6Sql("sum(CAST(l_discount AS DECIMAL(18,6)))", "count(*)")} AS avg_disc,
        count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus
    """))

  /** Selective filter + narrow projection: both the predicate and the
    * 4-column ReadSchema must reach the parquet scan (checked in
    * PlanSpec). No shuffle at all — embarrassingly parallel at any scale.
    */
  private val q02 = Q(
    "q02_filter_project",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber"),
    Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_discount
      FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05
      ORDER BY l_orderkey, l_linenumber
    """))

  /** 3-way join + aggregate: fact-fact shuffle join (orders⋈lineitem on
    * orderkey) with the two dimension joins broadcast. nation is 25 rows
    * at any SF — broadcast; customer is broadcast below the driver's AQE
    * threshold and shuffles cleanly beyond it.
    */
  private val q03 = Q(
    "q03_join_agg",
    (s, dir) => {
      val rev = dec("l_extendedprice") * (one - dec("l_discount"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(rev).as("drev"), count(lit(1)).as("n_items"))
        .select(col("n_name"), money(col("drev")).as("revenue"), col("n_items"))
        .orderBy("n_name")
    },
    Some(s"""
      SELECT n_name,
        ${moneySql("sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))")} AS revenue,
        count(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
      ORDER BY n_name
    """))

  /** Top-k: order + limit compiles to TakeOrderedAndProject — per-partition
    * heap + single-driver merge of k rows, never a full sort at scale.
    * o_orderkey tiebreak keeps the cut deterministic.
    */
  private val q04 = Q(
    "q04_topk",
    (s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice"),
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """))

  /** Distinct on a composite key — hash aggregate, map-side combined. */
  private val q05 = Q(
    "q05_distinct",
    (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      ORDER BY l_returnflag, l_linestatus
    """))

  /** Window functions: row_number + lag over a per-customer window, top-3
    * retained. One shuffle on the partition key; the filter on rn is
    * evaluated streaming inside the window operator.
    */
  private val q06 = Q(
    "q06_window",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"),
          lag("o_totalprice", 1).over(w).as("prev_price"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    },
    Some("""
      SELECT o_custkey, o_orderkey, rn, prev_price FROM (
        SELECT o_custkey, o_orderkey,
          row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
          lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS prev_price
        FROM orders) sub
      WHERE rn <= 3
      ORDER BY o_custkey, rn
    """))

  /** Anti join: customers with no order after a cutoff. The filtered
    * orders side is aggregated to distinct keys by Spark's
    * LeftAnti+broadcast planning; at scale AQE picks broadcast vs
    * shuffled-hash from runtime stats.
    */
  private val q07 = Q(
    "q07_anti_join",
    (s, dir) => {
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-06-01 00:00:00").cast("timestamp"))
      t(s, dir, "customer")
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
      ORDER BY c_custkey
    """))

  /** Rollup (grouping sets): subtotal + grand-total rows; NULL group keys
    * sort NULLS FIRST on both engines (Spark asc default = nulls first;
    * DuckDB told so explicitly).
    */
  private val q08 = Q(
    "q08_rollup",
    (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(dec("l_quantity")).as("dq"), count(lit(1)).as("n"))
        .select(
          col("l_returnflag"), col("l_linestatus"),
          money(col("dq")).as("sum_qty"), col("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        ${moneySql("sum(CAST(l_quantity AS DECIMAL(18,6)))")} AS sum_qty,
        count(*) AS n
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """))

  /** Tumbling-window event aggregation — the batch twin of the
    * Structured Streaming path (graft.streaming); window(ts, 300s) starts
    * align to the epoch, so the oracle recomputes buckets arithmetically.
    */
  private val q50 = Q(
    "q50_event_window",
    (s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "300 seconds"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec("value")).as("dv"))
        .select(
          unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"),
          money(col("dv")).as("sum_value"))
        .orderBy("win_start", "event_type"),
    Some(s"""
      SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 AS win_start,
        event_type, count(*) AS n,
        ${moneySql("sum(CAST(value AS DECIMAL(18,6)))")} AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY win_start, event_type
    """))

  /** As-of join: latest order (per derived customer key) at or before
    * each event's timestamp. One key-shuffle join + one partial-merged
    * aggregation (AsOfJoin.lastBefore); the oracle recomputes via a
    * window rank.
    */
  private val q09 = Q(
    "q09_asof_join",
    (s, dir) => {
      import graft.operators.AsOfJoin
      val ev = events(s, dir)
        .withColumn("uk", col("user_id") % 1500 + 1)
        .select("event_id", "uk", "ts")
      // sorted variant: 2.3× faster here than join+agg (measured at
      // sf0.1) and O(left+right) through one sort vs O(left × history)
      // pair fanout — the margin grows with history length
      AsOfJoin.lastBeforeSorted(
        ev, t(s, dir, "orders"),
        leftKey = col("uk"), rightKey = col("o_custkey"),
        leftTime = col("ts"), rightTime = col("o_orderdate"),
        tiebreak = col("o_orderkey"),
        payload = Seq((col("o_totalprice"), "price")))
        .select(col("event_id"), col("uk"),
          unix_timestamp(col("asof_time")).as("order_epoch"),
          col("asof_tiebreak").as("o_orderkey"), col("price"))
        .orderBy("event_id")
    },
    Some("""
      WITH ev AS (SELECT event_id, user_id % 1500 + 1 AS uk, ts FROM events),
      ranked AS (
        SELECT e.event_id, e.uk,
          CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS order_epoch,
          o.o_orderkey, o.o_totalprice AS price,
          row_number() OVER (PARTITION BY e.event_id
            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM ev e JOIN orders o
          ON o.o_custkey = e.uk AND o.o_orderdate <= e.ts)
      SELECT event_id, uk, order_epoch, o_orderkey, price
      FROM ranked WHERE rn = 1 ORDER BY event_id
    """))

  /** Set operations: (BUILDING ∪ rich) ∖ customers-with-finished-orders. */
  private val q18 = Q(
    "q18_union_except",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val a = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val b = c.filter(col("c_acctbal") > 5000).select("c_custkey")
      val f = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("c_custkey"))
      a.union(b).distinct().except(f).orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      EXCEPT
      SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
      ORDER BY c_custkey
    """))

  /** INTERSECT: building-segment customers who also placed a big order. */
  private val q19 = Q(
    "q19_intersect",
    (s, dir) => {
      val a = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val b = t(s, dir, "orders").filter(col("o_totalprice") > 200000)
        .select(col("o_custkey").as("c_custkey"))
      a.intersect(b).orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000
      ORDER BY c_custkey
    """))

  /** Semi-structured JSON props: typed extraction + aggregation. Spark
    * side uses the real JSON path operator; the oracle re-extracts with
    * a regex (DuckDB's json extension may not autoload offline).
    */
  private val q51 = Q(
    "q51_json_props",
    (s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type"),
    Some("""
      SELECT event_type, count(*) AS n,
        CAST(sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        max(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type
    """))

  /** Skew-salted join as an oracle-gated query (was spec-only): events
    * fan onto 100 hot keys, the right side (per-key order aggregates) is
    * replicated across 8 salt buckets so each hot key spreads over 8
    * reducers. The aggregate result is salt-invariant — each left row
    * joins exactly the one replica matching its salt — so the oracle is
    * the plain unsalted join.
    */
  private val q52 = Q(
    "q52_salted_join",
    (s, dir) => {
      import graft.operators.SkewJoin
      val ev = events(s, dir)
        .select(col("event_type"), (col("user_id") % 100 + 1).as("uk"))
      val ord = t(s, dir, "orders")
        .groupBy((col("o_custkey") % 100 + 1).as("uk"))
        .agg(sum(dec(col("o_totalprice"))).as("tot"), count(lit(1)).as("n_ord"))
      SkewJoin.saltedJoin(ev, ord, "uk", "uk", buckets = 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), money(sum(col("tot"))).as("sum_tot"),
          sum(col("n_ord")).as("n_ord_sum"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH ev AS (SELECT event_type, user_id % 100 + 1 AS uk FROM events),
      ord AS (SELECT o_custkey % 100 + 1 AS uk,
                sum(CAST(o_totalprice AS DECIMAL(18,6))) AS tot,
                count(*) AS n_ord
              FROM orders GROUP BY 1)
      SELECT event_type, count(*) AS n,
        ${moneySql("sum(tot)")} AS sum_tot,
        CAST(sum(n_ord) AS BIGINT) AS n_ord_sum
      FROM ev JOIN ord USING (uk)
      GROUP BY event_type ORDER BY event_type
    """))

  /** Batch sessionization, oracle-locked (the operator itself shipped
    * r1 with a stream-equals-batch spec; this pins its boundary
    * semantics against an independent DuckDB recomputation): 30-min
    * inactivity gap, summarized per user so the output is integer-only
    * — session boundaries, event counts, and second-floored durations
    * are all deterministic regardless of tie order (tied timestamps
    * always share a session: their lag diff is 0).
    */
  private val q75 = Q(
    "q75_sessionize",
    (s, dir) =>
      graft.streaming.EventStreams.sessionizeBatch(events(s, dir), gapSeconds = 1800)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          max(col("n_events")).as("max_session_events"),
          sum(unix_timestamp(col("session_end")) -
            unix_timestamp(col("session_start"))).as("sum_dur_s"))
        .orderBy("user_id"),
    Some(s"""
      WITH e AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
              CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
      lagged AS (SELECT user_id, ts_ms, ts_s,
              CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) IS NULL THEN 1
                   WHEN ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) > 1800000 THEN 1
                   ELSE 0 END AS new_s
            FROM e),
      sess AS (SELECT user_id, ts_s,
              sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms
                ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM lagged),
      agg AS (SELECT user_id, session_seq, count(*) AS n_events,
              max(ts_s) - min(ts_s) AS dur_s
            FROM sess GROUP BY user_id, session_seq)
      SELECT user_id, count(*) AS n_sessions,
        CAST(sum(n_events) AS BIGINT) AS n_events,
        CAST(max(n_events) AS BIGINT) AS max_session_events,
        CAST(sum(dur_s) AS BIGINT) AS sum_dur_s
      FROM agg GROUP BY user_id ORDER BY user_id
    """))

  /** Incremental distinct-user counting via MERGEABLE HLL sketches
    * ([[graft.operators.Sketches]]): the events table split into two
    * "batches" (event_id parity), each sketched independently, the
    * sketch tables merged, estimates read off the merged state — the
    * re-scan-free incremental metric a 100 TB pipeline keeps per
    * day/partition. APPROXIMATE by design, so the estimate itself has
    * no portable hash oracle — instead the gate outputs a DERIVED
    * INVARIANT: the exact per-type distinct count (DuckDB recomputes
    * it independently) plus a boolean pinning the merged-sketch
    * estimate within 5% of it (lgK=12 ⇒ ~1.6% standard error; sparse
    * mode is exact at gate cardinalities). A broken sketch, merge, or
    * estimator flips the boolean and hash-mismatches; the error/merge/
    * size bounds stay in SketchesSpec.
    */
  private val q115 = Q(
    "q115_distinct_sketch",
    (s, dir) => {
      import graft.operators.Sketches
      val ev = QueryUtil.events(s, dir).select("event_id", "user_id", "event_type")
      val b1 = Sketches.distinctSketch(
        ev.filter(col("event_id") % 2 === 0), "user_id", Seq("event_type"))
      val b2 = Sketches.distinctSketch(
        ev.filter(col("event_id") % 2 === 1), "user_id", Seq("event_type"))
      val est = Sketches.estimateDistinct(
        Sketches.mergeSketches(Seq(b1, b2), Seq("event_type")),
        Seq("event_type"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_distinct") - col("n_exact")) * lit(20L) <=
            col("n_exact")).as("est_within_5pct"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        TRUE AS est_within_5pct
      FROM events GROUP BY event_type ORDER BY event_type
    """))

  /** Full CUBE over (returnflag, linestatus) with grouping-id — q08's
    * rollup sibling completing the grouping-sets family: all four
    * grouping combinations plus the GROUPING() marker distinguishing
    * a real NULL key from a subtotal row.
    */
  private val q116 = Q(
    "q116_cube",
    (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum(dec("l_quantity")).as("dq"), count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .select(
          col("l_returnflag"), col("l_linestatus"),
          money(col("dq")).as("sum_qty"), col("n"), col("gid"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"), asc("gid")),
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        ${moneySql("sum(CAST(l_quantity AS DECIMAL(18,6)))")} AS sum_qty,
        count(*) AS n,
        GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
      FROM lineitem
      GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, gid
    """))

  /** PIVOT — wide per-group reshaping (q08/q116's grouping-sets
    * sibling, the reference's notebook `unstack` idiom at relational
    * scale): per line-number row, one decimal-exact quantity column per
    * return flag. Pivot VALUES are passed EXPLICITLY — the two-arg
    * `pivot(col)` form runs a whole extra distinct-scan of the corpus
    * just to discover the column set, and makes the output schema
    * data-dependent (a new flag value silently widens the table) —
    * at 100 TB both are bugs, not conveniences. With literal values
    * the pivot compiles to ONE partial-aggregated groupBy with
    * conditional sums, exactly the oracle's spelling.
    */
  private val q126 = Q(
    "q126_pivot",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_linenumber")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(dec("l_quantity")))
        .select(col("l_linenumber"),
          money(col("A")).as("qty_a"),
          money(col("N")).as("qty_n"),
          money(col("R")).as("qty_r"))
        .orderBy("l_linenumber"),
    Some(s"""
      SELECT l_linenumber,
        ${moneySql("sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,6)) END)")} AS qty_a,
        ${moneySql("sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,6)) END)")} AS qty_n,
        ${moneySql("sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,6)) END)")} AS qty_r
      FROM lineitem GROUP BY l_linenumber ORDER BY l_linenumber
    """))

  /** MELT/UNPIVOT — q126's inverse, completing the reshaping pair
    * (wide measure columns → long (measure, value) rows). Spark's
    * native `unpivot` compiles to ONE Expand projection emitting
    * |measures| rows per input row in the same scan — the UNION-ALL
    * spelling the oracle uses re-reads the corpus once PER MEASURE,
    * which at 100 TB is |measures| full scans for a reshape that needs
    * zero. Decimal-exact values so the long-form sums are
    * bit-deterministic; one partial-aggregated groupBy follows.
    */
  private val q131 = Q(
    "q131_melt",
    (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          dec("l_quantity").as("quantity"),
          dec("l_extendedprice").as("extendedprice"),
          dec("l_discount").as("discount"),
          dec("l_tax").as("tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"),
            col("discount"), col("tax")),
          "measure", "value")
        .groupBy("measure")
        .agg(count(lit(1)).as("n"),
          money(sum(col("value"))).as("sum_value"),
          money(min(col("value"))).as("min_value"),
          money(max(col("value"))).as("max_value"))
        .orderBy("measure"),
    Some(s"""
      WITH m AS (
        SELECT 'quantity' AS measure,
               CAST(l_quantity AS DECIMAL(18,6)) AS value FROM lineitem
        UNION ALL SELECT 'extendedprice',
               CAST(l_extendedprice AS DECIMAL(18,6)) FROM lineitem
        UNION ALL SELECT 'discount',
               CAST(l_discount AS DECIMAL(18,6)) FROM lineitem
        UNION ALL SELECT 'tax',
               CAST(l_tax AS DECIMAL(18,6)) FROM lineitem)
      SELECT measure, count(*) AS n,
        ${moneySql("sum(value)")} AS sum_value,
        ${moneySql("min(value)")} AS min_value,
        ${moneySql("max(value)")} AS max_value
      FROM m GROUP BY measure ORDER BY measure
    """))

  /** Z-ORDER layout stats ([[graft.operators.Layout]] — the Delta
    * OPTIMIZE ZORDER / Iceberg sort-rewrite recipe): Morton-interleave
    * (l_partkey, l_suppkey) into a z-value, assign z-contiguous
    * file cells (fixed-width z ranges — a narrow projection + ONE
    * partial-aggregated groupBy, no global sort, no sampled
    * boundaries), and report the per-file min/max both dimensions a
    * data-skipping reader prunes on. The magic-number bit spread is
    * exact int64 shift/and/or on both engines; LayoutSpec pins the
    * interleave bit-for-bit, the locality win over lexicographic
    * layout, and the prune-fraction read.
    */
  private val q134 = Q(
    "q134_zorder_stats",
    (s, dir) =>
      graft.operators.Layout.zorderStats(
          t(s, dir, "lineitem").select(
            (col("l_partkey") % 256L).as("x"),
            (col("l_suppkey") % 256L).as("y")),
          "x", "y", zShift = 10)
        .orderBy("file_id"),
    Some(s"""
      WITH d AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y
                 FROM lineitem),
      a AS (SELECT x, y,
              (x | (x << 8)) & 16711935 AS xs,
              (y | (y << 8)) & 16711935 AS ys FROM d),
      b AS (SELECT x, y,
              (xs | (xs << 4)) & 252645135 AS xs,
              (ys | (ys << 4)) & 252645135 AS ys FROM a),
      c AS (SELECT x, y,
              (xs | (xs << 2)) & 858993459 AS xs,
              (ys | (ys << 2)) & 858993459 AS ys FROM b),
      e AS (SELECT x, y,
              (xs | (xs << 1)) & 1431655765 AS xs,
              (ys | (ys << 1)) & 1431655765 AS ys FROM c),
      z AS (SELECT x, y, xs | (ys << 1) AS z FROM e)
      SELECT z >> 10 AS file_id, count(*) AS n_rows,
             min(x) AS min_x, max(x) AS max_x,
             min(y) AS min_y, max(y) AS max_y
      FROM z GROUP BY 1 ORDER BY 1
    """))

  /** RETENTION COHORT matrix — the events-side warehouse staple next
    * to q50's windows and q73's funnel: users bucketed by first-seen
    * day (their cohort), then distinct-user counts per (cohort_day,
    * day_offset) cell. Exact integer day arithmetic off the epoch
    * (the q50 spelling). Shape: one user-keyed aggregation for the
    * cohort assignment, joined back CO-KEYED on user (the exchange is
    * shareable), then one partial-aggregated groupBy on the matrix
    * cell — distinct-user counting inside the cell rides the same
    * user-key exchange as the join output.
    */
  private val q137 = Q(
    "q137_retention",
    (s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        expr("unix_timestamp(ts) DIV 86400").as("day"))
      val cohort = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      ev.join(cohort, "user_id")
        .groupBy(col("cohort_day"),
          (col("day") - col("cohort_day")).as("day_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    },
    Some(s"""
      WITH e AS (SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
      f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
      SELECT f.cohort_day, e.day - f.cohort_day AS day_offset,
        count(DISTINCT e.user_id) AS n_users
      FROM e JOIN f USING (user_id)
      GROUP BY 1, 2 ORDER BY cohort_day, day_offset
    """))

  /** ORDERED-STEP CONVERSION FUNNEL
    * ([[graft.operators.Funnel.orderedFunnel]]): of the users who
    * viewed, how many LATER clicked, and later still purchased —
    * first-touch semantics, each step's time the earliest qualifying
    * event STRICTLY AFTER the previous step's and within the 6-hour
    * conversion deadline (without a deadline every long-lived user
    * eventually "converts" by accident — measured: the gate would pass
    * vacuously at 100% on this corpus; with 6 h it reads 150→19→1 at
    * sf0.01). Every exchange in the chain is on the user key (joins
    * co-keyed with the aggs); DuckDB replays the per-step min-after
    * chain, the exact-microsecond deadline, and the conversion floors.
    */
  private val q178 = Q(
    "q178_event_funnel",
    (s, dir) => {
      import graft.operators.Funnel
      Funnel.orderedFunnel(events(s, dir), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), maxGapSeconds = Some(21600L))
        .orderBy("step_idx")
    },
    Some(s"""
      WITH s0 AS (SELECT user_id, min(ts) AS t0 FROM events
                  WHERE event_type = 'view' GROUP BY 1),
      s1 AS (SELECT e.user_id, min(e.ts) AS t1
             FROM events e JOIN s0 USING (user_id)
             WHERE e.event_type = 'click' AND e.ts > s0.t0
               AND epoch_us(e.ts) <= epoch_us(s0.t0) + 21600000000 GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.ts) AS t2
             FROM events e JOIN s1 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > s1.t1
               AND epoch_us(e.ts) <= epoch_us(s1.t1) + 21600000000 GROUP BY 1),
      c AS (SELECT (SELECT count(*) FROM s0) AS n0,
                   (SELECT count(*) FROM s1) AS n1,
                   (SELECT count(*) FROM s2) AS n2)
      SELECT * FROM (
        SELECT 1 AS step_idx, 'view' AS step, n0 AS n_users,
               CAST(1000000 AS BIGINT) AS conv_micro FROM c
        UNION ALL
        SELECT 2, 'click', n1,
               CAST(n1 * 1000000 // greatest(n0, 1) AS BIGINT) FROM c
        UNION ALL
        SELECT 3, 'purchase', n2,
               CAST(n2 * 1000000 // greatest(n1, 1) AS BIGINT) FROM c)
      ORDER BY step_idx
    """))

  /** Integer fixed-point PAGERANK
    * ([[graft.operators.Graphs.pageRankMicro]]): 3 damped power-
    * iteration rounds over the symmetrized part↔supplier co-occurrence
    * graph from lineitem — supplier rank surfaces breadth of catalog,
    * the classic bipartite-projection ranking. Micro fixed-point int64
    * throughout (the deterministic sub-micro mass leak of integer
    * division is identical on both engines), so the oracle replays all
    * three rounds bit-for-bit as unrolled CTEs.
    */
  private val q136 = {
    val iterSql = (i: Int) => s"""
      c$i AS (SELECT e.dst AS node, CAST(sum(p.p // o.outdeg) AS BIGINT) AS s
             FROM edges e JOIN od o ON o.src = e.src
             JOIN p${i - 1} p ON p.node = e.src GROUP BY e.dst),
      p$i AS (SELECT n.node,
               CAST(150000 + 850000 * coalesce(c.s, 0) // 1000000 AS BIGINT) AS p
             FROM nodes n LEFT JOIN c$i c ON c.node = n.node)"""
    Q(
      "q136_pagerank",
      (s, dir) => {
        val pairs = t(s, dir, "lineitem")
          .select(col("l_partkey").as("a"),
            (col("l_suppkey") + 1000000L).as("b"))
          .distinct()
        val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
        graft.operators.Graphs.pageRankMicro(edges, iters = 3)
          .orderBy("node")
      },
      Some(s"""
        WITH pairs AS (SELECT DISTINCT l_partkey AS a,
               l_suppkey + 1000000 AS b FROM lineitem),
        edges AS (SELECT a AS src, b AS dst FROM pairs
                  UNION ALL SELECT b, a FROM pairs),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        od AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS p FROM nodes),
        ${iterSql(1)},
        ${iterSql(2)},
        ${iterSql(3)}
        SELECT node, p FROM p3 ORDER BY node
      """))
  }

  /** SCD TYPE-2 dimension build — the warehouse transform that turns a
    * CHANGE LOG into a versioned dimension (valid_from / valid_to /
    * is_current), i.e. the table q09's as-of join consumes: per key,
    * order the changes, each row valid until the second before its
    * successor, open-ended on the latest. ONE window exchange on the
    * key; version, valid_to, and is_current all ride the same
    * (key, time) sort. Exact epoch-second integers; the tiebreak on
    * event_id makes same-timestamp changes deterministic (and the
    * sort key is the SAME truncated seconds the output carries — a
    * finer sort key than the emitted one would let two engines order
    * sub-second ties differently).
    */
  private val q144 = Q(
    "q144_scd2",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          expr("unix_timestamp(ts)").as("ts_s"), col("value"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_s").asc, col("event_id").asc)
      ev.withColumn("version", row_number().over(w))
        .withColumn("valid_from", col("ts_s"))
        .withColumn("valid_to", lead(col("ts_s"), 1).over(w) - 1)
        .withColumn("is_current", col("valid_to").isNull)
        .select("user_id", "version", "event_id", "valid_from", "valid_to",
          "is_current", "value")
        .orderBy("user_id", "version")
    },
    Some(s"""
      WITH e AS (SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value
           FROM events WHERE event_type = 'purchase')
      SELECT user_id,
        row_number() OVER w AS version, event_id, ts_s AS valid_from,
        lead(ts_s) OVER w - 1 AS valid_to,
        (lead(ts_s) OVER w IS NULL) AS is_current, value
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
      ORDER BY user_id, version
    """))

  /** Robust METRIC-ANOMALY flagging — median/MAD over per-day event
    * counts, the monitoring pass a pipeline runs over its own ingest
    * metrics (mean/stddev break on the very outliers being hunted;
    * median and median-absolute-deviation don't). All EXACT integer
    * arithmetic: the median is the rank-⌈n/2⌉ element under a total
    * order ((value, day) — deterministic through ties), MAD the same
    * over |n − med|, flag = dev > 3·MAD. Shape: one partial-agg
    * (type, day) count, then two rank windows + two broadcast-size
    * joins all partitioned on event_type — |types| × |days| rows ever
    * enter a window.
    */
  private val q145 = Q(
    "q145_anomaly_days",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_timestamp(ts) DIV 86400").as("day"))
        .agg(count(lit(1)).as("n"))
      val wAll = Window.partitionBy("event_type")
      def rankPick(df: org.apache.spark.sql.DataFrame, valueCol: String,
          outCol: String) =
        df.withColumn("__rn", row_number().over(
            Window.partitionBy("event_type")
              .orderBy(col(valueCol).asc, col("day").asc)))
          .withColumn("__cnt", count(lit(1)).over(wAll))
          .filter(col("__rn") === expr("(__cnt + 1) DIV 2"))
          .select(col("event_type"), col(valueCol).as(outCol))
      val med = rankPick(daily, "n", "med")
      val dev = daily.join(med, "event_type")
        .withColumn("dev", abs(col("n") - col("med")))
      val mad = rankPick(dev, "dev", "mad")
      dev.join(mad, "event_type")
        .withColumn("flag", col("dev") > col("mad") * 3)
        .select("event_type", "day", "n", "med", "mad", "dev", "flag")
        .orderBy("event_type", "day")
    },
    Some(s"""
      WITH daily AS (SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             count(*) AS n
           FROM events GROUP BY 1, 2),
      r1 AS (SELECT *, row_number() OVER (PARTITION BY event_type
               ORDER BY n, day) AS rn,
               count(*) OVER (PARTITION BY event_type) AS cnt
             FROM daily),
      med AS (SELECT event_type, n AS med FROM r1 WHERE rn = (cnt + 1) // 2),
      dv AS (SELECT d.event_type, d.day, d.n, m.med, abs(d.n - m.med) AS dev
             FROM daily d JOIN med m USING (event_type)),
      r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
               ORDER BY dev, day) AS rn,
               count(*) OVER (PARTITION BY event_type) AS cnt
             FROM dv),
      mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rn = (cnt + 1) // 2)
      SELECT d.event_type, d.day, d.n, d.med, a.mad, d.dev,
        (d.dev > a.mad * 3) AS flag
      FROM dv d JOIN mad a USING (event_type)
      ORDER BY d.event_type, d.day
    """))

  /** TRIANGLE counts over the part co-purchase graph
    * ([[graft.operators.Graphs.triangleCounts]], degree-ordered
    * orientation — each triangle counted once at its (degree, id)-
    * minimal vertex, per-node wedge fan-out bounded O(√m) so a viral
    * hub can't go quadratic): parts are adjacent when they ship in
    * the same order; dense co-purchase neighborhoods (every order is
    * a clique) make triangle participation the local-density signal.
    * Exact integer counts; DuckDB replays the orientation, the wedge
    * enumeration, and the closing join bit-for-bit.
    */
  private val q149 = Q(
    "q149_triangles",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val pairs = li.as("a")
        .join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        .distinct()
      // r17 (guide §3.1): the SHUFFLED-HASH close — same-boot A/B
      // measured it at 6.07 s / 68 exec-core-s vs 12.16 / 149.6 for
      // the broadcast close here (and vs the original SMJ close that
      // sorted all 41M wedge rows); broadcastClose stays opt-in for
      // graphs where the exchange, not the probe, dominates
      graft.operators.Graphs.triangleCounts(pairs, broadcastClose = false)
        .orderBy("node")
    },
    Some(s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
      e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
            FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      deg AS (SELECT x, count(*) AS d FROM (
               SELECT u AS x FROM e UNION ALL SELECT v FROM e) z
             GROUP BY x),
      ori AS (SELECT
               CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                    THEN e.u ELSE e.v END AS s,
               CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                    THEN e.v ELSE e.u END AS t,
               CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                    THEN dv.d ELSE du.d END AS dt
             FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v),
      w AS (SELECT o1.s, o1.t AS a, o1.dt AS da, o2.t AS b
            FROM ori o1 JOIN ori o2 ON o1.s = o2.s
              AND ((o1.dt < o2.dt) OR (o1.dt = o2.dt AND o1.t < o2.t))),
      tri AS (SELECT w.s FROM w JOIN ori c ON c.s = w.a AND c.t = w.b)
      SELECT s AS node, count(*) AS n_tri FROM tri
      GROUP BY s ORDER BY node
    """))

  /** CDC LATEST-STATE apply — materialize the current snapshot from a
    * change log (the MERGE/upsert read path; q144's SCD2 keeps every
    * version, this keeps the LAST): per key, the latest row under the
    * (ts, event_id) total order plus the change count. The max-STRUCT
    * aggregation shape (the q09 as-of core): ONE partial-aggregated
    * groupBy — each task reduces its slice to one candidate per key
    * map-side and the exchange carries |keys| rows, where the window
    * spelling (row_number desc = 1) shuffles EVERY change row into the
    * sort. At a 100 TB change log that is the difference between
    * shuffling keys and shuffling history. Struct comparison is
    * lexicographic by field order, so the emitted tiebreak IS the sort
    * key — engine-identical.
    */
  private val q157 = Q(
    "q157_upsert_apply",
    (s, dir) => {
      val ev = events(s, dir).select(
        col("user_id"), col("event_type"),
        expr("unix_timestamp(ts)").as("ts_s"),
        col("event_id"), col("value"))
      ev.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_events"),
          max(struct(col("ts_s"), col("event_id"), col("value"))).as("__m"))
        .select(col("user_id"), col("event_type"), col("n_events"),
          col("__m.ts_s").as("last_ts_s"),
          col("__m.event_id").as("last_event_id"),
          col("__m.value").as("last_value"))
        .orderBy("user_id", "event_type")
    },
    Some(s"""
      WITH e AS (SELECT user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id, value
           FROM events),
      r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
               ORDER BY ts_s DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id, event_type) AS n
           FROM e)
      SELECT user_id, event_type, CAST(n AS BIGINT) AS n_events,
        ts_s AS last_ts_s, event_id AS last_event_id, value AS last_value
      FROM r WHERE rn = 1 ORDER BY user_id, event_type
    """))

  /** Per-EDGE triangle SUPPORT over the part co-purchase graph
    * ([[graft.operators.Graphs.edgeSupport]] — the k-truss substrate:
    * support-0 edges are the bridges a community pass prunes first;
    * k-truss = iterate prune → re-support, each round this operator):
    * the q149 enumeration (shared code — one triangle list serves
    * both) + a 3-edge fan-out + one canonical-pair partial agg.
    * DuckDB replays enumeration, fan-out, and counts bit-for-bit.
    */
  private val q159 = Q(
    "q159_edge_support",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val pairs = li.as("a")
        .join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        .distinct()
      // r17: shuffled-hash close — the q149 A/B rationale (one shared
      // enumeration shape; measured flat here, 7.71 vs 7.77)
      graft.operators.Graphs.edgeSupport(pairs, broadcastClose = false)
        .orderBy("u", "v")
    },
    Some(s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
      e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
            FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      deg AS (SELECT x, count(*) AS d FROM (
               SELECT u AS x FROM e UNION ALL SELECT v FROM e) z
             GROUP BY x),
      ori AS (SELECT
               CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                    THEN e.u ELSE e.v END AS s,
               CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                    THEN e.v ELSE e.u END AS t,
               CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                    THEN dv.d ELSE du.d END AS dt
             FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v),
      w AS (SELECT o1.s, o1.t AS a, o2.t AS b
            FROM ori o1 JOIN ori o2 ON o1.s = o2.s
              AND ((o1.dt < o2.dt) OR (o1.dt = o2.dt AND o1.t < o2.t))),
      tri AS (SELECT w.s, w.a, w.b FROM w
              JOIN ori c ON c.s = w.a AND c.t = w.b),
      ed AS (SELECT least(s, a) AS u, greatest(s, a) AS v FROM tri
             UNION ALL SELECT least(s, b), greatest(s, b) FROM tri
             UNION ALL SELECT least(a, b), greatest(a, b) FROM tri)
      SELECT u, v, count(*) AS support FROM ed
      GROUP BY u, v ORDER BY u, v
    """))

  val all: Seq[Q] =
    Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q18, q19, q50, q51,
      q52, q75, q115, q116, q126, q131, q134, q136, q137, q144, q145,
      q149, q157, q159, q178)
}
