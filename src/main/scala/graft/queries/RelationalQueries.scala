package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.DetAgg

/** Relational suite over the TPC-H-ish tables (SURVEY §7 step 3): the full
  * join/aggregate/set-op/sort surface the engine declares beyond the
  * reference's own operator set (the reference has no joins — SURVEY §2.3 —
  * its one key-combination is a broadcast map probe, which `bcast_join`
  * reproduces as a genuine broadcast hash join).
  *
  * Scale notes per query are inline; the common rules: dimension tables
  * (region/nation/supplier/customer at TPC-H ratios) are broadcast so fact
  * scans never shuffle for them; aggregates go through map-side partials;
  * top-k is `orderBy.limit` → `TakeOrderedAndProject` (no global sort).
  */
object RelationalQueries {
  import DetAgg._
  import QuerySpec._

  /** join_multiway_q5's DuckDB twin — shared verbatim with its
    * parser-route restatement (`sql_join_multiway_q5`,
    * [[SqlSurfaceQueries]]) so there is no second oracle to drift. */
  private[queries] val multiwayQ5OracleSql: String =
    s"""SELECT n_name AS nation, count(*) AS n,
       |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY 1""".stripMargin

  /** set_ops' DuckDB twin — shared with `sql_set_ops` (pure ANSI; the
    * parser route needs zero dialect hops beyond the view names). */
  private[queries] val setOpsOracleSql: String =
    """SELECT 'union' AS op, k FROM (
      |  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
      |  UNION SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |UNION ALL
      |SELECT 'intersect', k FROM (
      |  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
      |  INTERSECT SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |UNION ALL
      |SELECT 'except', k FROM (
      |  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
      |  EXCEPT SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""".stripMargin

  /** window_rank_family's DuckDB twin — shared with
    * `sql_window_rank_family` (the named-WINDOW clause parses in both
    * dialects). */
  private[queries] val windowRankFamilyOracleSql: String =
    s"""SELECT o_orderkey, o_orderpriority,
       |  rank() OVER wt AS rnk,
       |  dense_rank() OVER wt AS drnk,
       |  percent_rank() OVER wt AS prnk,
       |  cume_dist() OVER wt AS cdist,
       |  row_number() OVER wo AS rn,
       |  CAST(ntile(4) OVER wo AS BIGINT) AS quartile
       |FROM orders
       |WINDOW wt AS (PARTITION BY o_orderpriority ORDER BY o_orderdate),
       |       wo AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey)""".stripMargin

  /** topk_orders' DuckDB twin — shared with `sql_topk_orders`. */
  private[queries] val topkOrdersOracleSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin

  /** join_asof's DuckDB twin (native `ASOF LEFT JOIN`) — shared with
    * `join_asof_exec`, which answers the identical question through the
    * custom [[graft.plans.AsOfJoinExec]] physical operator instead of
    * the tagged-union window composition. */
  private[queries] val asofBackwardOracleSql: String =
    """WITH clicks AS (SELECT user_id, ts, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
      |errs AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
      |SELECT e.event_id, e.user_id,
      |  c.click_id AS last_click_id,
      |  CAST(epoch_us(e.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
      |FROM errs e ASOF LEFT JOIN clicks c
      |  ON e.user_id = c.user_id AND e.ts >= c.ts""".stripMargin

  /** join_asof_fwd_exec's DuckDB twin (`<=` ASOF = smallest right time ≥
    * left, verified inclusive) — shared with `sql_join_asof_fwd_exec`,
    * the parser route through the [[graft.plans.AsOfJoinRewrite]]
    * marked-join rewrite. */
  private[queries] val asofForwardOracleSql: String =
    """WITH clicks AS (SELECT user_id, ts, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
      |errs AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
      |SELECT e.event_id, e.user_id,
      |  c.click_id AS next_click_id,
      |  CAST(epoch_us(c.ts) - epoch_us(e.ts) AS BIGINT) AS recovery_us
      |FROM errs e ASOF LEFT JOIN clicks c
      |  ON e.user_id = c.user_id AND e.ts <= c.ts""".stripMargin

  /** join_asof_nearest's DuckDB twin — shared with
    * `sql_join_asof_nearest`; the parser route differs only in
    * epoch_us -> unix_micros and DuckDB's inside-paren IGNORE NULLS
    * spelling (both anchored hops in SqlSurfaceQueries.sparkDialect). */
  private[queries] val asofNearestOracleSql: String =
    """WITH clicks AS (SELECT user_id, ts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
        |errs AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'error'),
        |u AS (SELECT user_id, ts, click_id, 0 AS is_left,
        |    CAST(NULL AS BIGINT) AS event_id FROM clicks
        |  UNION ALL SELECT user_id, ts, NULL, 1, event_id FROM errs),
        |c AS (SELECT *,
        |    last_value(click_id IGNORE NULLS) OVER wb AS prev_id,
        |    last_value(CASE WHEN is_left = 0 THEN ts END IGNORE NULLS)
        |      OVER wb AS prev_ts,
        |    first_value(click_id IGNORE NULLS) OVER wf AS next_id,
        |    first_value(CASE WHEN is_left = 0 THEN ts END IGNORE NULLS)
        |      OVER wf AS next_ts
        |  FROM u WINDOW
        |    wb AS (PARTITION BY user_id ORDER BY ts, is_left
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id ORDER BY ts, is_left
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id, user_id,
        |  CASE WHEN prev_ts IS NULL THEN next_id
        |       WHEN next_ts IS NULL THEN prev_id
        |       WHEN epoch_us(ts) - epoch_us(prev_ts)
        |         <= epoch_us(next_ts) - epoch_us(ts) THEN prev_id
        |       ELSE next_id END AS nearest_click_id,
        |  CASE WHEN prev_ts IS NULL THEN epoch_us(ts) - epoch_us(next_ts)
        |       WHEN next_ts IS NULL THEN epoch_us(ts) - epoch_us(prev_ts)
        |       WHEN epoch_us(ts) - epoch_us(prev_ts)
        |         <= epoch_us(next_ts) - epoch_us(ts)
        |       THEN epoch_us(ts) - epoch_us(prev_ts)
        |       ELSE epoch_us(ts) - epoch_us(next_ts) END AS gap_us
        |FROM c WHERE is_left = 1""".stripMargin

  /** agg_grouping_sets' DuckDB twin — shared with `sql_grouping_sets`. */
  private[queries] val groupingSetsOracleSql: String =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
       |  COALESCE(l_linestatus, 'ALL') AS lstatus,
       |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       |  count(*) AS n, ${sqlSum("l_quantity")} AS qty
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())""".stripMargin

  val all: Seq[QuerySpec] = Seq(
    // TPC-H Q1-shaped pricing summary: scan → filter (pushed to parquet) →
    // 4-group hash agg. The workhorse single-pass aggregate.
    checked("q1_pricing",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlSum("l_quantity")} AS sum_qty,
         |  ${sqlSum("l_extendedprice")} AS sum_base_price,
         |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${sqlSum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |  ${sqlAvg("l_quantity")} AS avg_qty,
         |  ${sqlAvg("l_extendedprice")} AS avg_price,
         |  ${sqlAvg("l_discount")} AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    // Star join: fact orders ⋈ customer ⋈ nation ⋈ region, all dims
    // broadcast (the reference's map-probe pattern, PcapKpiExtractor.scala
    // :353,371-374, as a real broadcast hash join). One shuffle total (the
    // final group-by); zero join shuffles.
    checked("join_star",
      s"""SELECT r_name, n_name,
         |  count(*) AS n_orders,
         |  ${sqlSum("o_totalprice")} AS revenue
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("revenue"))
    },

    // Left outer join preserving customers with no orders.
    checked("join_outer",
      s"""SELECT c_custkey, c_name,
         |  count(o_orderkey) AS n_orders,
         |  ${sqlR6(s"COALESCE(${sqlSumRaw("o_totalprice")}, 0.0)")} AS spend
         |FROM customer
         |LEFT JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_custkey, c_name""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey", "c_name")
        .agg(count(col("o_orderkey")).as("n_orders"),
          r6(coalesce(dsumRaw(col("o_totalprice")), lit(0.0))).as("spend"))
    },

    // Semi join: customers that placed at least one 'F'-status order.
    checked("join_semi",
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
    },

    // Anti join: customers with no orders at all.
    checked("join_anti",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },

    // NULL-AWARE anti join — the three-valued-logic regime join_anti's
    // clean NOT IN can't observe: one NULL in the subquery makes
    // `x NOT IN (...)` UNKNOWN for every non-matching row, so the result
    // is EMPTY, and a planner that rewrites it as a plain left-anti join
    // silently returns the wrong rows. Both regimes in one row: the
    // clean branch (status-'F' custkeys, no NULLs → ordinary anti
    // semantics) and the poisoned branch (a CASE injects NULL for 'P'
    // orders → count must be 0). Spark plans the poisoned branch as a
    // broadcast null-aware anti join (single-column NAAJ); the oracle is
    // DuckDB's own three-valued NOT IN.
    checked("join_not_in_null",
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_custkey NOT IN
        |     (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
        |    AS n_clean,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_custkey NOT IN
        |     (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
        |             ELSE o_custkey END FROM orders))
        |    AS n_null_poisoned""".stripMargin) { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("nin_customer")
      Tables.orders(s, d).createOrReplaceTempView("nin_orders")
      s.sql(
        """SELECT
          |  (SELECT CAST(count(*) AS BIGINT) FROM nin_customer
          |   WHERE c_custkey NOT IN
          |     (SELECT o_custkey FROM nin_orders WHERE o_orderstatus = 'F'))
          |    AS n_clean,
          |  (SELECT CAST(count(*) AS BIGINT) FROM nin_customer
          |   WHERE c_custkey NOT IN
          |     (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
          |             ELSE o_custkey END FROM nin_orders))
          |    AS n_null_poisoned""".stripMargin)
    },

    // Non-equi self join: line-item pairs within one order where the later
    // line is cheaper (equi key + theta condition → sort-merge/shuffle-hash
    // on the equi key, theta as residual — never a nested-loop over the
    // full fact).
    checked("join_theta",
      """SELECT a.l_orderkey AS okey, a.l_linenumber AS ln_a, b.l_linenumber AS ln_b
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey
        | AND a.l_linenumber < b.l_linenumber
        | AND a.l_extendedprice > b.l_extendedprice""".stripMargin) { (s, d) =>
      val a = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber").as("ln_a"),
        col("l_extendedprice").as("px_a"))
      val b = Tables.lineitem(s, d).select(
        col("l_orderkey").as("okey_b"), col("l_linenumber").as("ln_b"),
        col("l_extendedprice").as("px_b"))
      a.join(b, col("l_orderkey") === col("okey_b") &&
          col("ln_a") < col("ln_b") && col("px_a") > col("px_b"))
        .select(col("l_orderkey").as("okey"), col("ln_a"), col("ln_b"))
    },

    // Null-safe equi join (<=> / IS NOT DISTINCT FROM) — the surface gap
    // between "join on a key" and "join on a key that is sometimes
    // absent": plain `=` silently drops every null-keyed row from both
    // sides, while the null-safe form matches the null groups to each
    // other (one NULL bucket, the SQL-standard DISTINCT predicate).
    // The full-outer join over per-key click/purchase profiles keeps
    // the unmatched sides too, so all three regimes (matched value,
    // matched NULL-to-NULL, unmatched) decide rows.
    // EqualNullSafe is a legal hash-join key in Catalyst:
    // this still plans as a shuffled hash/sort-merge equi join, not a
    // nested loop — same cost model as `=` at any scale. The key is
    // MADE nullable deterministically (NULLIF(k % 10, 0): the
    // generator's current events data carries `$.k` on every row, so a
    // raw extract would leave the null bucket empty at every SF and the
    // null-to-null match would be pinned by nothing).
    checked("join_null_safe",
      """WITH e AS (SELECT event_type,
        |    NULLIF(CAST(json_extract_string(props, '$.k') AS INTEGER) % 10, 0)
        |      AS k
        |  FROM events),
        |c AS (SELECT k, count(*) AS click_n FROM e
        |  WHERE event_type = 'click' GROUP BY k),
        |p AS (SELECT k, count(*) AS purchase_n FROM e
        |  WHERE event_type = 'purchase' GROUP BY k)
        |SELECT COALESCE(c.k, p.k) AS k, c.click_n, p.purchase_n,
        |  c.k IS NULL AND p.k IS NULL AS null_group
        |FROM c FULL JOIN p ON c.k IS NOT DISTINCT FROM p.k""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.types.{IntegerType, MapType, StringType}
        val e = Tables.events(s, d).select(col("event_type"),
          nullif(pmod(from_json(col("props"), MapType(StringType, IntegerType))
            .getItem("k"), lit(10)), lit(0)).as("k"))
        val c = e.filter(col("event_type") === "click")
          .groupBy("k").agg(count(lit(1)).as("click_n"))
        val p = e.filter(col("event_type") === "purchase")
          .groupBy(col("k").as("pk")).agg(count(lit(1)).as("purchase_n"))
        c.join(p, col("k") <=> col("pk"), "full_outer")
          .select(coalesce(col("k"), col("pk")).as("k"),
            col("click_n"), col("purchase_n"),
            (col("k").isNull && col("pk").isNull).as("null_group"))
    },

    // Binned interval (range) join — the optimization Spark's planner
    // lacks natively: a pure time-range predicate plans as
    // BroadcastNestedLoopJoin, O(|A|·|B|) and a scale-killer the moment
    // neither side broadcasts. Standard fix, done declaratively: quantize
    // time into interval-width bins, EXPLODE each interval into the ≤ 2
    // bins it overlaps (bounded fan-out — bin width = interval length),
    // equi-join on (type, bin), and re-apply the exact range predicate as
    // a residual filter. The pair count is exact with no dedup pass: a
    // probe event lives in exactly one bin, so each qualifying pair
    // matches exactly once. One hash-partitioned shuffle instead of a
    // nested loop; PlanShapeSpec pins the executed join is NOT a BNLJ.
    // Semantics: 6-hour impact windows after each high-value anchor event
    // (value > 300), per event type — events counted into every window
    // they fall in. Bin arithmetic stays in exact integer µs (`div`, no
    // FP division) on both engines.
    checked("join_range_binned", {
      val wUs = 21600L * 1000000L
      s"""SELECT a.event_id AS anchor_id, count(*) AS n,
         |  ${sqlSum("e.value")} AS total_value,
         |  count(DISTINCT e.user_id) AS n_users
         |FROM (SELECT * FROM events WHERE value > 300) a
         |JOIN events e ON a.event_type = e.event_type
         |  AND e.ts >= a.ts AND epoch_us(e.ts) < epoch_us(a.ts) + $wUs
         |GROUP BY 1""".stripMargin
    }) { (s, d) =>
      val wUs = 21600L * 1000000L
      val ev = Tables.events(s, d)
      val anchors = ev.filter(col("value") > 300)
        .select(col("event_id").as("anchor_id"), col("event_type").as("a_type"),
          unix_micros(col("ts")).as("a_us"))
        .withColumn("bin", explode(sequence(
          expr(s"a_us div $wUs"), expr(s"(a_us + $wUs - 1) div $wUs"))))
      val probe = ev.select(col("event_type").as("e_type"),
        unix_micros(col("ts")).as("e_us"), col("value"), col("user_id"))
        .withColumn("bin", expr(s"e_us div $wUs"))
      anchors.join(probe,
          col("a_type") === col("e_type") && anchors("bin") === probe("bin"))
        .filter(col("e_us") >= col("a_us") && col("e_us") < col("a_us") + wUs)
        .groupBy("anchor_id")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"),
          count_distinct(col("user_id")).as("n_users"))
    },

    // Salted skew join: event_type is the corpus's hottest key (5 values
    // over every event row), so a plain shuffle join lands each key's
    // ENTIRE volume on one reducer — the canonical straggler at 100 TB.
    // Salting fans each hot key across Salt reducers: the dim side
    // replicates ×Salt (explode over the salt range), the fact side
    // computes salt = pmod(event_id, Salt) in its projection, and the
    // join key becomes (event_type, salt) — identical rows out, Salt× the
    // parallelism where it was 1×. Broadcast is the first choice when the
    // dim fits (join_star); salting is the structural fallback when both
    // sides are shuffle-sized. The merge hints force the shuffle join at
    // test scale so the plan under test is the one that skews in
    // production; the oracle is the UNSALTED join — same result set.
    checked("join_skew_salted",
      s"""WITH dim AS (SELECT event_type, ${sqlSum("value")} AS type_total
         |  FROM events GROUP BY event_type)
         |SELECT e.event_type, count(*) AS n, min(type_total) AS type_total,
         |  ${sqlR6(sqlSumRaw("e.value / type_total"))} AS share_sum
         |FROM events e JOIN dim ON e.event_type = dim.event_type
         |GROUP BY e.event_type""".stripMargin) { (s, d) =>
      val salt = 8
      val dim = Tables.events(s, d)
        .groupBy("event_type")
        .agg(dsum(col("value")).as("type_total"))
        .withColumn("salt", explode(array((0 until salt).map(i => lit(i.toLong)): _*)))
      val fact = Tables.events(s, d).select(col("event_type"), col("value"),
        pmod(col("event_id"), lit(salt.toLong)).as("salt"))
      fact.hint("merge")
        .join(dim.hint("merge"), Seq("event_type", "salt"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min(col("type_total")).as("type_total"),
          r6(dsumRaw(col("value") / col("type_total"))).as("share_sum"))
    },

    // Correlated scalar subquery (TPC-H Q17 shape): lineitems below 20 % of
    // their part's average quantity. The test of Catalyst's decorrelation —
    // RewriteCorrelatedScalarSubquery turns the per-row subquery into ONE
    // aggregate over lineitem joined back on l_partkey (two scans + two
    // shuffles total), not a subplan per outer row; PlanShapeSpec pins the
    // decorrelated shape. Cross-engine determinism: l_quantity is integral,
    // so the per-part avg is an exact double in both engines and the
    // 0.2×avg threshold comparison cannot ulp-flip.
    checked("scalar_subquery",
      s"""SELECT p_brand, count(*) AS n_small,
         |  ${sqlSum("l_extendedprice")} AS small_revenue
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
         |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
         |GROUP BY p_brand""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("sq_lineitem")
      Tables.part(s, d).createOrReplaceTempView("sq_part")
      s.sql(
        """SELECT p_brand, count(*) AS n_small,
          |  (floor(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,10))) AS STRING) AS DOUBLE) * 1e6 + 0.5) / 1e6) AS small_revenue
          |FROM sq_lineitem JOIN sq_part ON p_partkey = l_partkey
          |WHERE l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
          |                    FROM sq_lineitem l2 WHERE l2.l_partkey = p_partkey)
          |GROUP BY p_brand""".stripMargin)
    },

    // Correlated EXISTS + NOT EXISTS (TPC-H Q21 shape): orders that have a
    // returned line but no late-shipped line. RewritePredicateSubquery
    // plans these as left-semi and left-anti joins on o_orderkey — no
    // per-row probing; PlanShapeSpec pins semi+anti and no nested loop.
    checked("exists_correlated",
      """SELECT o_orderkey, o_orderpriority, o_totalprice
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey
        |                    AND l.l_shipdate > TIMESTAMP '1998-06-30 00:00:00')""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("sq_orders")
      Tables.lineitem(s, d).createOrReplaceTempView("sq_lineitem")
      s.sql(
        """SELECT o_orderkey, o_orderpriority, o_totalprice
          |FROM sq_orders o
          |WHERE EXISTS (SELECT 1 FROM sq_lineitem l
          |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
          |  AND NOT EXISTS (SELECT 1 FROM sq_lineitem l
          |                  WHERE l.l_orderkey = o.o_orderkey
          |                    AND l.l_shipdate > TIMESTAMP '1998-06-30 00:00:00')""".stripMargin)
    },

    // AQE skew-join twin of join_skew_salted: the production-first answer
    // is to let adaptive execution split the skewed shuffle partitions at
    // runtime (spark.sql.adaptive.skewJoin) instead of hand-salting the
    // key. event_type itself is uniform (~2k rows each), so the workload's
    // hot key is modeled by collapsing four of the five types into one
    // 'hot' group (~80 % of the fact rows) — the single-dominant-key shape
    // AQE must handle. Runs in a child session so the lowered skew
    // thresholds (needed for AQE to see "skew" at test scale; production
    // defaults are 256 MB) never leak into the shared session. Manual
    // salting (join_skew_salted) remains the structural answer when the
    // row VOLUME under one key must itself be cut by pre-aggregation; AQE
    // splits the hot partition's rows across tasks and replicates the
    // matching build row, which fixes the straggler without touching the
    // query. PlanShapeSpec pins that the executed plan actually split the
    // skewed partition (isSkewJoin on the SMJ).
    checked("join_skew_aqe",
      s"""WITH f AS (SELECT CASE WHEN event_type = 'purchase' THEN event_type
         |    ELSE 'hot' END AS grp, value FROM events),
         |dim AS (SELECT grp, ${sqlSum("value")} AS grp_total FROM f GROUP BY grp)
         |SELECT f.grp, count(*) AS n, min(grp_total) AS grp_total,
         |  ${sqlR6(sqlSumRaw("f.value / grp_total"))} AS share_sum
         |FROM f JOIN dim ON f.grp = dim.grp
         |GROUP BY f.grp""".stripMargin) { (s, d) =>
      val ss = graft.Sessions.child(s)
      ss.conf.set("spark.sql.adaptive.enabled", "true")
      ss.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      ss.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      ss.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // repartition(16): AQE splits a skewed reduce partition at MAP-OUTPUT
      // granularity — the sf-test events.parquet is one row group → one map
      // task → the hot partition is a single indivisible chunk and the skew
      // rule silently finds nothing to split. At warehouse scale the scan
      // has thousands of map tasks and this shuffle is unnecessary; at test
      // scale it is what makes the demo exercise the production code path.
      val fact = Tables.events(ss, d).select(
        when(col("event_type") === "purchase", col("event_type"))
          .otherwise(lit("hot")).as("grp"),
        col("value"))
        .repartition(16)
      // staged: OptimizeSkewedJoin only matches an SMJ whose children are
      // bare shuffle stages — an aggregate between the dim's exchange and
      // the join hides the stage boundary and silently disables skew
      // handling. Truncating the dim's lineage (2 rows) gives the join its
      // own exchange on both sides.
      val dim = staged(fact.groupBy("grp").agg(dsum(col("value")).as("grp_total")))
      fact.hint("merge")
        .join(dim.hint("merge"), Seq("grp"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"),
          min(col("grp_total")).as("grp_total"),
          r6(dsumRaw(col("value") / col("grp_total"))).as("share_sum"))
    },

    // Runtime bloom-filter join pruning — the third runtime-optimization
    // pin alongside join_skew_aqe and join_dpp: when a selective dim
    // filter can't prune PARTITIONS (the fact isn't partitioned by the
    // join key), Catalyst's InjectRuntimeFilter builds a bloom filter
    // from the filtered creation side and applies might_contain() on the
    // fact scan — rows for never-matching keys die before the shuffle,
    // which at 100 TB is the difference between shuffling the whole fact
    // and shuffling the ~20 % that can match. Child session: the
    // application-side size threshold defaults to 10 GB (production
    // scale); test scale lowers it so the rule fires on the same code
    // path. PlanShapeSpec pins might_contain on the executed plan.
    checked("join_bloom",
      s"""SELECT l_returnflag, count(*) AS n,
         |  ${sqlSum("l_extendedprice")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY 1""".stripMargin) { (s, d) =>
      val ss = graft.Sessions.child(s)
      ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      // Force a shuffle join: against a broadcast join the row filter is
      // moot (the fact rows never cross an exchange).
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      ss.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      Tables.lineitem(ss, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
        .join(Tables.orders(ss, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
    },

    // TPC-H Q5-shaped multiway join — the join-ORDER regime the pairwise
    // join queries can't exercise: six relations, a selective region
    // filter that must prune through nation into both customer and
    // supplier, a date range that pushes into the orders scan, and the
    // classic local-supplier correlation s_nationkey = c_nationkey that
    // only binds once both sides are joined. The declarative form lets
    // Catalyst pick the order; the scale-correct outcome (pinned in
    // PlanShapeSpec) is region/nation/supplier broadcast (tiny dims),
    // customer broadcast after its nation prune, and the ONE big fact
    // (lineitem) flowing through a single shuffle on l_orderkey against
    // date-pruned orders — never a fact-×-fact shuffle pair beyond it.
    // Revenue is the Q1 decimal-exact product sum.
    checked("join_multiway_q5", RelationalQueries.multiwayQ5OracleSql) { (s, d) =>
      val lo = lit("1996-01-01 00:00:00").cast("timestamp")
      val hi = lit("1998-01-01 00:00:00").cast("timestamp")
      Tables.customer(s, d)
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
    },

    // Grouping sets via ROLLUP over the region→nation hierarchy.
    checked("rollup_geo",
      """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
        |  count(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("rname"), col("n_name").as("nname"))
        // rollup(String*) resolves through Dataset.col, whose dataset-id tag
        // plus Expand's attribute duplication trips DetectAmbiguousSelfJoin
        // when joins sit upstream; functions.col is untagged.
        .rollup(col("rname"), col("nname"))
        .agg(count(lit(1)).as("n_customers"))
        .select(coalesce(col("rname"), lit("ALL")).as("region"),
          coalesce(col("nname"), lit("ALL")).as("nation"),
          col("n_customers"))
    },

    // CUBE over two independent order dimensions.
    checked("cube_orders",
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
         |  COALESCE(o_orderpriority, 'ALL') AS priority,
         |  count(*) AS n, ${sqlSum("o_totalprice")} AS total
         |FROM orders
         |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
    },

    // Explicit GROUPING SETS — the general form rollup/cube specialize
    // (an arbitrary, non-hierarchical subset of grouping combinations)
    // plus grouping_id disambiguation, whose bit order (leftmost grouping
    // column = most significant bit) both engines share. One Expand +
    // one aggregate — the same single-shuffle shape as rollup_geo.
    checked("agg_grouping_sets", RelationalQueries.groupingSetsOracleSql) { (s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("gid"), col("n"), col("qty"))
    },

    // Set ops: high-balance ∪/∩/− mid-balance customer keys, tagged.
    checked("set_ops", RelationalQueries.setOpsOracleSql) { (s, d) =>
      val cust = Tables.customer(s, d)
      val rich = cust.filter(col("c_acctbal") > 5000).select(col("c_custkey").as("k"))
      val bld = cust.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
      rich.union(bld).distinct().select(lit("union").as("op"), col("k"))
        .unionAll(rich.intersect(bld).select(lit("intersect").as("op"), col("k")))
        .unionAll(rich.except(bld).select(lit("except").as("op"), col("k")))
    },

    // Top-k: 20 highest-revenue orders, total order for determinism —
    // planned as TakeOrderedAndProject (heap per partition, no full sort).
    checked("topk_orders", RelationalQueries.topkOrdersOracleSql) { (s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    },

    // As-of join (SURVEY §2.3): each error event matched to the same
    // user's most recent prior-or-equal click. Spark has no native as-of;
    // the scalable form is the tagged union + last(ignoreNulls) running
    // carry — ONE shuffle on (user), no range-join explosion, identical to
    // what a sorted merge as-of would do. DuckDB's native ASOF JOIN is the
    // oracle.
    checked("join_asof", RelationalQueries.asofBackwardOracleSql) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
        .select(col("user_id"), col("ts"), col("click_id"), lit(0).as("is_left"),
          lit(null).cast("long").as("event_id"))
      val errs = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), lit(null).cast("long").as("click_id"),
          lit(1).as("is_left"), col("event_id"))
      // right rows sort before left at equal ts → ">= (prior-or-equal)"
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("is_left"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(errs)
        .withColumn("last_click_id", last(col("click_id"), ignoreNulls = true).over(w))
        .withColumn("last_click_ts",
          last(when(col("is_left") === 0, col("ts")), ignoreNulls = true).over(w))
        .filter(col("is_left") === 1)
        .select(col("event_id"), col("user_id"), col("last_click_id"),
          (unix_micros(col("ts")) - unix_micros(col("last_click_ts"))).as("gap_us"))
    },

    // NEAREST-direction as-of join (pandas merge_asof direction=
    // 'nearest') — the matching rule the backward-only ASOF above can't
    // express: each error matches its temporally CLOSEST click, before
    // or after, ties to the backward match (declared convention; a
    // same-timestamp click is a 0-distance backward match). Same
    // tagged-union shape — one (user, ts)-ordered partition carries the
    // backward candidate in one frame and the forward candidate in the
    // mirrored frame, so both directions ride a single shuffle; the
    // pick is a null-guarded distance compare on exact µs integers.
    checked("join_asof_nearest",
      RelationalQueries.asofNearestOracleSql) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
        .select(col("user_id"), col("ts"), col("click_id"),
          lit(0).as("is_left"), lit(null).cast("long").as("event_id"))
      val errs = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"),
          lit(null).cast("long").as("click_id"), lit(1).as("is_left"),
          col("event_id"))
      val wb = Window.partitionBy("user_id").orderBy(col("ts"), col("is_left"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy("user_id").orderBy(col("ts"), col("is_left"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val c = clicks.unionByName(errs)
        .withColumn("prev_id", last(col("click_id"), ignoreNulls = true).over(wb))
        .withColumn("prev_ts", last(when(col("is_left") === 0, col("ts")),
          ignoreNulls = true).over(wb))
        .withColumn("next_id", first(col("click_id"), ignoreNulls = true).over(wf))
        .withColumn("next_ts", first(when(col("is_left") === 0, col("ts")),
          ignoreNulls = true).over(wf))
        .filter(col("is_left") === 1)
      val dPrev = unix_micros(col("ts")) - unix_micros(col("prev_ts"))
      val dNext = unix_micros(col("next_ts")) - unix_micros(col("ts"))
      c.select(col("event_id"), col("user_id"),
        when(col("prev_ts").isNull, col("next_id"))
          .when(col("next_ts").isNull, col("prev_id"))
          .when(dPrev <= dNext, col("prev_id"))
          .otherwise(col("next_id")).as("nearest_click_id"),
        when(col("prev_ts").isNull, -dNext)
          .when(col("next_ts").isNull, dPrev)
          .when(dPrev <= dNext, dPrev)
          .otherwise(-dNext).as("gap_us"))
    },

    // The SAME backward as-of question as join_asof, answered through the
    // library's whole-operator extension ([[graft.plans.AsOfJoinExec]]:
    // custom LogicalPlan → injected SparkStrategy → streaming two-pointer
    // merge exec, SURVEY §4.3 path (c)) instead of the tagged-union
    // window composition — one hash exchange per side, O(1) merge state,
    // no window buffers. Bit-checked against DuckDB's native ASOF LEFT
    // JOIN, and AsOfJoinSpec pins route-equivalence with join_asof plus
    // the plan shape (AsOfJoinExec node, no WindowExec).
    checked("join_asof_exec", RelationalQueries.asofBackwardOracleSql) { (s, d) =>
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
        .select(col("user_id").as("r_user_id"), col("ts").as("r_ts"),
          col("click_id"))
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.plans.AsOf.joinBackward(errs, clicks,
          Seq("user_id"), Seq("r_user_id"), "ts", "r_ts")
        .select(col("event_id"), col("user_id"),
          col("click_id").as("last_click_id"),
          (unix_micros(col("ts")) - unix_micros(col("r_ts"))).as("gap_us"))
    },

    // The forward direction through the same operator: each error's NEXT
    // click at-or-after it (time-to-recovery). Forward needs NO candidate
    // copy at all — the unconsumed right lookahead IS the match, shared
    // by every left row that lands before it. DuckDB's `<=` ASOF (smallest
    // right time ≥ left, verified inclusive) is the oracle.
    checked("join_asof_fwd_exec", RelationalQueries.asofForwardOracleSql) { (s, d) =>
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
        .select(col("user_id").as("r_user_id"), col("ts").as("r_ts"),
          col("click_id"))
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.plans.AsOf.joinForward(errs, clicks,
          Seq("user_id"), Seq("r_user_id"), "ts", "r_ts")
        .select(col("event_id"), col("user_id"),
          col("click_id").as("next_click_id"),
          (unix_micros(col("r_ts")) - unix_micros(col("ts"))).as("recovery_us"))
    },

    // Forward/backward fill (SURVEY §2.5 W3 — train.py:110 ffill/bfill):
    // events.props.k is null when absent; ffill = last non-null before me,
    // bfill = first non-null after me, final fillna(0).
    checked("window_fill",
      """WITH e AS (SELECT event_id, user_id, ts,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |  FROM events)
        |SELECT event_id,
        |  COALESCE(
        |    last_value(k IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    first_value(k IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
        |    0) AS k_filled
        |FROM e""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.{IntegerType, MapType, StringType}
      val k = from_json(col("props"), MapType(StringType, IntegerType)).getItem("k")
      val wf = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wb = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      Tables.events(s, d)
        .withColumn("k", k)
        .select(col("event_id"),
          coalesce(
            last(col("k"), ignoreNulls = true).over(wf),
            first(col("k"), ignoreNulls = true).over(wb),
            lit(0)).as("k_filled"))
    },

    // Time-range trailing window (RANGE frame): per-slice trailing-1-hour
    // event count and value sum at every event — the rolling-feature shape
    // a training pipeline derives per entity. RANGE frames are defined by
    // the ORDER-BY value, so ts ties all share one frame and the result is
    // deterministic under any partitioning with no tie-break needed. Both
    // engines order by exact µs longs and the sum accumulates in decimal —
    // bit-exact. One shuffle on the partition key, same as any window.
    checked("window_range",
      s"""SELECT event_id, count(*) OVER w AS n_trail,
         |  ${sqlR6("""CAST(CAST(sum(CAST(value AS DECIMAL(38,10))) OVER w AS VARCHAR) AS DOUBLE)""")} AS trail_value
         |FROM events
         |WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
         |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy("event_type").orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
        .select(col("event_id"),
          count(lit(1)).over(w).as("n_trail"),
          r6(sum(col("value").cast(DecimalType(38, 10))).over(w)
            .cast("string").cast("double")).as("trail_value"))
    },

    // VALUE-range frame — the RANGE-frame regime window_range (time
    // bounds) doesn't touch: the frame is defined by the ORDERING
    // COLUMN'S VALUE (all events within 50 value-grid units below the
    // current row's), so rows with equal order values are peers and get
    // identical frames — which is exactly why this is deterministic
    // under ties where a ROWS frame would not be (a ROWS frame's
    // content depends on the tie order; a RANGE frame's only on the
    // value bounds). Integer grid (floor(value), 0..1000), integer
    // aggregates. Same scale shape as every per-slice window: one
    // shuffle on the partition key, sort within, single pass with a
    // sliding endpoint.
    checked("window_range_value",
      """SELECT event_id,
        |  count(*) OVER w AS n_near,
        |  CAST(sum(v) OVER w AS BIGINT) AS sum_near
        |FROM (SELECT event_id, event_type,
        |    CAST(floor(value) AS BIGINT) AS v FROM events)
        |WINDOW w AS (PARTITION BY event_type ORDER BY v
        |  RANGE BETWEEN 50 PRECEDING AND CURRENT ROW)""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type").orderBy(col("v"))
          .rangeBetween(-50L, 0L)
        Tables.events(s, d)
          .select(col("event_id"), col("event_type"),
            floor(col("value")).cast("long").as("v"))
          .select(col("event_id"),
            count(lit(1)).over(w).as("n_near"),
            sum(col("v")).over(w).as("sum_near"))
    },

    // Union-by-name with missing columns (SURVEY §2.7 U2 — the py
    // pd.concat of heterogeneous frames): two different projections of
    // customer, aligned by column name.
    checked("union_by_name",
      """SELECT * FROM (
        |  SELECT c_custkey, c_acctbal, NULL AS c_mktsegment FROM customer WHERE c_acctbal > 7000
        |  UNION ALL BY NAME
        |  SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal < 100)""".stripMargin) { (s, d) =>
      val hi = Tables.customer(s, d).filter(col("c_acctbal") > 7000)
        .select("c_custkey", "c_acctbal")
      val lo = Tables.customer(s, d).filter(col("c_acctbal") < 100)
        .select("c_custkey", "c_mktsegment")
      hi.unionByName(lo, allowMissingColumns = true)
    },

    // Analytic window functions: per-customer order sequencing (rank, lag,
    // running sum) — the relational generalization of the reference's
    // per-flow lag (SURVEY §2.5 W1).
    checked("window_orders",
      s"""SELECT o_orderkey, o_custkey,
         |  row_number() OVER w AS rn,
         |  ${sqlR6("COALESCE(o_totalprice - lag(o_totalprice, 1) OVER w, 0.0)")} AS delta_prev,
         |  ${sqlR6("""CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) OVER (
         |        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)""")} AS running_spend
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"),
        row_number().over(w).as("rn"),
        r6(coalesce(col("o_totalprice") - lag(col("o_totalprice"), 1).over(w), lit(0.0))).as("delta_prev"),
        r6(sum(col("o_totalprice").cast(DecimalType(38, 10))).over(wRun)
          .cast("string").cast("double")).as("running_spend"))
    },

    // The full ANSI ranking-function family in one declared query —
    // rank/dense_rank/percent_rank/cume_dist share a TIE-BEARING sort key
    // (o_orderdate: many orders per day per priority, so rank gaps,
    // dense-rank compression, and peer-group cume_dist all actually
    // differ), while row_number/ntile ride the tie-broken total order.
    // percent_rank and cume_dist are integer-derived single divisions —
    // the identical IEEE quotient on both engines, no rounding grid
    // needed (and k·10⁶/(n−1) can never land exactly on a .5 ulp-free
    // boundary since odd·odd ≠ even). One window partition family =
    // one shuffle; all six functions evaluate in a single Window
    // operator pass.
    checked("window_rank_family", RelationalQueries.windowRankFamilyOracleSql) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val wt = Window.partitionBy("o_orderpriority").orderBy(col("o_orderdate"))
      val wo = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderpriority"),
        rank().over(wt).as("rnk"),
        dense_rank().over(wt).as("drnk"),
        percent_rank().over(wt).as("prnk"),
        cume_dist().over(wt).as("cdist"),
        row_number().over(wo).as("rn"),
        ntile(4).over(wo).cast("long").as("quartile"))
    })
}
