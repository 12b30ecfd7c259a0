package graft.gates

import graft.agg.GraftFunctions._
import org.apache.spark.sql.functions._

/** Relational coverage: aggregation, joins, windows, rollups, set
  * operations, skew handling and the bloom-pruned join. */
object RelationalGates {

  val all: Seq[Gate] = Seq(
    // classic relational coverage (SURVEY.md §2.5): agg over lineitem
    Gate("q1_agg", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      Some("SELECT l_returnflag, l_linestatus, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, " +
        "count(*) AS n_rows, count(DISTINCT l_orderkey) AS n_orders " +
        "FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2")),

    // join + groupBy: orders per customer segment
    Gate("q_join_segments", (s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("c_mktsegment")
    },
      Some("SELECT c_mktsegment, count(*) AS n_orders, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1 ORDER BY 1")),

    // window function: per-supplier latest shipment line
    Gate("q_window_latest", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate").desc, col("l_orderkey").desc, col("l_linenumber").desc)
      li.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_suppkey")
    },
      Some("SELECT l_suppkey, l_orderkey, l_linenumber FROM (" +
        "SELECT l_suppkey, l_orderkey, l_linenumber, row_number() OVER (" +
        "PARTITION BY l_suppkey ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn " +
        "FROM lineitem) WHERE rn = 1 ORDER BY l_suppkey")),

    Gate("q_rollup", (s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity").cast("long")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n_rows"), col("sum_qty"))
        .orderBy("rf", "ls"),
      Some("SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls, " +
        "count(*) AS n_rows, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) ORDER BY rf, ls")),

    // explicit skew handling: two-phase salted aggregation over a hot
    // key (pre-aggregate on (key, salt), then combine) — the pattern
    // for skewed NON-mergeable aggs where AQE alone can't help; result
    // must equal the direct single-phase aggregation
    Gate("q_skew_salted", (s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderstatus").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          pmod(xxhash64(col("o_orderkey")), lit(16)).as("salt"))
      val salted = o.groupBy("k", "salt")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
        .groupBy("k")
        .agg(sum(col("n")).as("n_orders"), sum(col("c")).as("cents"))
      val direct = o.groupBy("k")
        .agg(count(lit(1)).as("n_d"), sum(col("cents")).as("c_d"))
      salted.join(direct, Seq("k"))
        .select(col("k").as("o_orderstatus"), col("n_orders"), col("cents"),
          (col("n_orders") === col("n_d") && col("cents") === col("c_d")).as("two_phase_ok"))
        .orderBy("o_orderstatus")
    },
      Some("SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents, TRUE AS two_phase_ok " +
        "FROM orders GROUP BY 1 ORDER BY 1")),

    // the reference's production use-case expressed relationally: a
    // bloom sketch of the dim-side keys PRUNES the fact scan before
    // the exact join (bloomd guards Riak lookups the same way; Spark's
    // runtime bloom-filter join is the built-in analog). False
    // positives only pass rows the exact semi-join then drops, so the
    // result equals the plain join — the no-false-negative invariant
    // doing real relational work
    Gate("q_bloom_prejoin", (s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val sketch = sketch_ref(s, cust
        .agg(bloom_agg(col("c_custkey").cast("string"), 100000L, 1e-4).as("sk"))
        .head().getAs[Array[Byte]]("sk"))
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val pruned = orders.filter(
        bloom_contains(sketch, col("o_custkey").cast("string")))
      pruned.join(broadcast(cust), pruned("o_custkey") === cust("c_custkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("o_orderpriority")
    },
      Some("SELECT o_orderpriority, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM orders WHERE EXISTS (SELECT 1 FROM customer " +
        "WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING') " +
        "GROUP BY 1 ORDER BY 1")),

    // JSON column handling: extract + aggregate over the props field
    Gate("q_json_props", (s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type"),
      Some("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, " +
        "CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k, " +
        "CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k " +
        "FROM events GROUP BY 1 ORDER BY 1")),

    // 3-table join + filter + agg + top-k (TPC-H Q3 shape)
    Gate("q3_shipping", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long").as("rev_cents"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(col("rev_cents")).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_orderdate").cast("string").as("o_date"),
          col("revenue_cents"))
    },
      Some("SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_date, CAST(revenue_cents AS BIGINT) AS revenue_cents FROM (" +
        "SELECT o_orderkey, o_orderdate, sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS revenue_cents " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' " +
        "GROUP BY o_orderkey, o_orderdate ORDER BY revenue_cents DESC, o_orderkey LIMIT 10)")),

    // EXISTS-style semi join: customers with at least one urgent order
    Gate("q_semi_join", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val urgent = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority").startsWith("1"))
        .select(col("o_custkey"))
      c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    },
      Some("SELECT c_custkey, c_mktsegment FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority LIKE '1%') " +
        "ORDER BY c_custkey")),

    Gate("q_set_ops", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet").select(col("c_custkey").as("k"))
      val o = s.read.parquet(s"$dir/orders.parquet").select(col("o_custkey").as("k"))
      c.intersect(o).withColumn("op", lit("with_orders"))
        .union(c.except(o).withColumn("op", lit("no_orders")))
        .orderBy("op", "k")
    },
      Some("SELECT k, op FROM (" +
        "SELECT k, 'with_orders' AS op FROM (SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey FROM orders) " +
        "UNION ALL " +
        "SELECT k, 'no_orders' AS op FROM (SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey FROM orders)" +
        ") ORDER BY op, k"))
  )
}
