package graft.operators

import graft.{BucketedTables, GraftQuery, Tables}
import org.apache.spark.sql.functions._

/** §2A — relational core operators.
  *
  * Numeric convention shared with the DuckDB oracles: per-row arithmetic
  * stays in DOUBLE (bit-identical IEEE ops on both engines), each row
  * value is cast to DECIMAL(25,10) so the group SUM is exact regardless
  * of aggregation order, and the final result is cast back to DOUBLE.
  * That makes aggregate hashes reproducible across engines without
  * rounding fudge.
  */
object Relational {

  /** Sum an expression exactly: double -> decimal -> sum (exact, order-
    * independent) -> double, ROUNDed to 6 decimals. The round matters:
    * DuckDB's DECIMAL->DOUBLE cast is not correctly rounded (off by one
    * ulp vs Spark's BigDecimal.toDouble); rounding both engines to the
    * true decimal scale (inputs have <= 6) lands them on the same double.
    */
  private def xsum(e: String): String =
    s"ROUND(CAST(SUM(CAST(($e) AS DECIMAL(25,10))) AS DOUBLE), 6)"

  val q01_agg: GraftQuery = GraftQuery(
    "q01_agg",
    (s, dir) =>
      Tables.table(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          expr(xsum("l_quantity")).as("sum_qty"),
          expr(xsum("l_extendedprice")).as("sum_base_price"),
          expr(xsum("l_extendedprice * (1 - l_discount)")).as("sum_disc_price"),
          expr(xsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")).as("sum_charge"),
          (expr(xsum("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order")
        ),
    Some(s"""SELECT l_returnflag, l_linestatus,
            |  ${xsum("l_quantity")} AS sum_qty,
            |  ${xsum("l_extendedprice")} AS sum_base_price,
            |  ${xsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
            |  ${xsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
            |  ${xsum("l_quantity")} / COUNT(*) AS avg_qty,
            |  COUNT(*) AS count_order
            |FROM lineitem
            |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
            |GROUP BY l_returnflag, l_linestatus""".stripMargin)
  )

  /** Multi-way dim join; nation/region are explicit broadcasts (they are
    * tiny at every scale), customer joins shuffle-side (large at 100 TB).
    */
  val q02_join_dims: GraftQuery = GraftQuery(
    "q02_join_dims",
    (s, dir) => {
      // the fact sides read the orderkey-bucketed layout
      // (BucketedTables): groupBy(l_orderkey) and the orders join are
      // co-located by the ingest-time bucketing, so the two
      // |lineitem|-wide exchanges the unbucketed plan paid vanish
      // entirely — the recurring-join posture a warehouse would run.
      val li = BucketedTables.lineitem(s, dir)
      val o = BucketedTables.orders(s, dir)
      val c = Tables.table(s, dir, "customer")
      val n = Tables.table(s, dir, "nation")
      val r = Tables.table(s, dir, "region")
      // r17 respelling (TRIALS_r17.json: 2.6 → ~1.5s at sf10 —
      // DuckDB-parity): the whole dim side of the join tree broadcasts,
      // so NOTHING wide ever shuffles. lineitem ⋈ orders is the
      // bucket-colocated sort-merge (zero exchange — BucketedTables),
      // customer prunes to its two-int (c_custkey → c_nationkey) map
      // (~16 B/row: ~12 MB at sf10, holds to ~10⁸ customers on a
      // 4 GiB-executor broadcast budget; past that, revert to the r12
      // cascading per-cust aggregate in git history), and the
      // aggregate goes straight to the 25 nation groups MAP-SIDE — the
      // only exchange in the plan is 25×n_tasks partial rows. The r12
      // per-orderkey cascade is retired here: it shrank a join stream
      // that no longer needs shrinking (the SMJ streams sorted
      // buckets), and its 15M-group aggregate cost more than the 4×
      // join traffic it saved (TRIALS_r17.json: cascade 2.0-2.6s, this 1.5s).
      // rev_part is the ingest-materialized decimal (BucketedTables):
      // same HALF_UP value as the inline cast, minus the per-row
      // Double.toString parse the cast pays. Exact by associativity:
      // DECIMAL partial sums re-sum to the identical bits the flat
      // aggregate produces; the final ROUND sees the same decimal.
      val perNation = li.select(col("l_orderkey"), col("rev_part"))
        .join(o.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c.select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(sum(col("rev_part")).as("rev_d"), count(lit(1)).as("n_i"))
      perNation
        .join(broadcast(n), col("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          round(sum(col("rev_d")).cast("double"), 6).as("revenue"),
          sum(col("n_i")).as("n_items"))
    },
    Some(s"""SELECT r_name, n_name,
            |  ${xsum("l_extendedprice * (1 - l_discount)")} AS revenue,
            |  COUNT(*) AS n_items
            |FROM lineitem
            |JOIN orders ON l_orderkey = o_orderkey
            |JOIN customer ON o_custkey = c_custkey
            |JOIN nation ON c_nationkey = n_nationkey
            |JOIN region ON n_regionkey = r_regionkey
            |GROUP BY r_name, n_name""".stripMargin)
  )

  /** orderBy + limit lowers to TakeOrderedAndProject: no global sort. */
  val q03_topk: GraftQuery = GraftQuery(
    "q03_topk",
    (s, dir) => {
      // aggregate BELOW the join (Catalyst doesn't push aggregates
      // through joins itself): revenue groups by the join key, so the
      // fact pre-aggregates map-side to one row per order BEFORE any
      // exchange — at 100 TB the join inputs shrink from every
      // lineitem row to the distinct-orderkey frame. Legal because the
      // DECIMAL sum is exact (associative), so splitting it around the
      // join cannot change a bit; o_orderdate is functionally
      // dependent on the key and joins back on afterwards.
      // bucketed-by-orderkey layout: the 15M-group revenue aggregate
      // runs exchange-free on co-located bucket files (the dominant
      // cost of the unbucketed plan was shipping per-order DECIMAL
      // partials through the shuffle)
      val li = BucketedTables.lineitem(s, dir)
      val o = BucketedTables.orders(s, dir)
      val rev = li.groupBy(col("l_orderkey"))
        .agg(sum(col("rev_part")).as("rev_d"))
      // top-k BEFORE the join: the ordering key (revenue, orderkey) is
      // fully computable on the aggregated frame, so TakeOrdered runs
      // there and the join probes TEN rows instead of decorating every
      // order with its date only to discard all but 10 — at 100 TB the
      // difference between a second full-table join and a broadcast of
      // 10 keys. Legal because orders.o_orderkey is the PK every
      // lineitem references (inner PK join preserves rows 1:1), and the
      // tie-break (rounded revenue desc, orderkey) is the final output
      // order, so the top-10 sets coincide.
      val top = rev
        .select(col("l_orderkey"), round(col("rev_d").cast("double"), 6).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
      broadcast(top).join(o, col("l_orderkey") === o("o_orderkey"))
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").cast("string").as("order_date"),
          col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
    },
    Some(s"""SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
            |  ${xsum("l_extendedprice * (1 - l_discount)")} AS revenue
            |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            |GROUP BY o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
            |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)
  )

  val q04_semijoin: GraftQuery = GraftQuery(
    "q04_semijoin",
    (s, dir) => {
      val o = Tables.table(s, dir, "orders")
      val li = Tables.table(s, dir, "lineitem").filter(col("l_quantity") > 49)
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    },
    Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           |WHERE EXISTS (SELECT 1 FROM lineitem
           |              WHERE l_orderkey = o_orderkey AND l_quantity > 49)""".stripMargin)
  )

  val q05_antijoin: GraftQuery = GraftQuery(
    "q05_antijoin",
    (s, dir) => {
      val c = Tables.table(s, dir, "customer")
      val o = Tables.table(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1997-01-01"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    },
    Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
           |WHERE NOT EXISTS (SELECT 1 FROM orders
           |                  WHERE o_custkey = c_custkey
           |                    AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01')""".stripMargin)
  )

  /** TPC-H Q6 shape: tight filter that must reach the parquet scan. */
  val q06_filter_pushdown: GraftQuery = GraftQuery(
    "q06_filter_pushdown",
    (s, dir) =>
      Tables.table(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") >= lit("1995-01-01") &&
          col("l_shipdate").cast("date") < lit("1996-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(
          expr(xsum("l_extendedprice * l_discount")).as("revenue"),
          count(lit(1)).as("n_rows")),
    Some(s"""SELECT ${xsum("l_extendedprice * l_discount")} AS revenue, COUNT(*) AS n_rows
            |FROM lineitem
            |WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
            |  AND CAST(l_shipdate AS DATE) < DATE '1996-01-01'
            |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin)
  )

  val q07_window_rank: GraftQuery = GraftQuery(
    "q07_window_rank",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.table(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
           |  SELECT o_custkey, o_orderkey, o_totalprice,
           |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
           |  FROM orders) t WHERE rk <= 3""".stripMargin)
  )

  val q08_distinct: GraftQuery = GraftQuery(
    "q08_distinct",
    (s, dir) =>
      Tables.table(s, dir, "orders")
        .select((col("o_custkey") % 100).as("cust_bucket"), col("o_orderpriority"))
        .distinct(),
    Some("SELECT DISTINCT o_custkey % 100 AS cust_bucket, o_orderpriority FROM orders")
  )

  val q09_rollup: GraftQuery = GraftQuery(
    "q09_rollup",
    (s, dir) =>
      Tables.table(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), expr(xsum("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty")),
    Some(s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
            |  COALESCE(l_linestatus, 'ALL') AS linestatus,
            |  COUNT(*) AS n, ${xsum("l_quantity")} AS sum_qty
            |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)
  )

  val q10_conditional_agg: GraftQuery = GraftQuery(
    "q10_conditional_agg",
    (s, dir) =>
      Tables.table(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
          sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_p"),
          count(lit(1)).as("n_total")),
    Some("""SELECT o_orderpriority,
           |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
           |  COUNT(*) AS n_total
           |FROM orders GROUP BY o_orderpriority""".stripMargin)
  )

  val q11_having: GraftQuery = GraftQuery(
    "q11_having",
    (s, dir) =>
      Tables.table(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), expr(xsum("o_totalprice")).as("total_spent"))
        .filter(col("n_orders") > 12),
    Some(s"""SELECT o_custkey, COUNT(*) AS n_orders, ${xsum("o_totalprice")} AS total_spent
            |FROM orders GROUP BY o_custkey HAVING COUNT(*) > 12""".stripMargin)
  )

  val q12_union: GraftQuery = GraftQuery(
    "q12_union",
    (s, dir) => {
      val o = Tables.table(s, dir, "orders")
      o.filter(col("o_totalprice") > 100000).select(col("o_orderkey"))
        .union(o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey")))
        .distinct()
    },
    Some("""SELECT o_orderkey FROM orders WHERE o_totalprice > 100000
           |UNION
           |SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin)
  )

  val q13_string_ops: GraftQuery = GraftQuery(
    "q13_string_ops",
    (s, dir) =>
      Tables.table(s, dir, "part")
        .filter(col("p_name").like("%a%"))
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_uc"),
          expr("substring(p_name, 1, 10)").as("name10"),
          length(col("p_type")).as("type_len"),
          regexp_replace(col("p_type"), " ", "_").as("type_snake")),
    Some("""SELECT p_partkey, UPPER(p_brand) AS brand_uc, substr(p_name, 1, 10) AS name10,
           |  LENGTH(p_type) AS type_len, REPLACE(p_type, ' ', '_') AS type_snake
           |FROM part WHERE p_name LIKE '%a%'""".stripMargin)
  )

  val q14_date_trunc: GraftQuery = GraftQuery(
    "q14_date_trunc",
    (s, dir) =>
      Tables.table(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
        .agg(count(lit(1)).as("n_orders"), expr(xsum("o_totalprice")).as("month_total")),
    Some(s"""SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
            |  COUNT(*) AS n_orders, ${xsum("o_totalprice")} AS month_total
            |FROM orders GROUP BY strftime(o_orderdate, '%Y-%m')""".stripMargin)
  )

  val all: Seq[GraftQuery] = Seq(
    q01_agg, q02_join_dims, q03_topk, q04_semijoin, q05_antijoin,
    q06_filter_pushdown, q07_window_rank, q08_distinct, q09_rollup,
    q10_conditional_agg, q11_having, q12_union, q13_string_ops, q14_date_trunc)
}
