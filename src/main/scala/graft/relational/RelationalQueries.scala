package graft.relational

import graft.core.{Exact, GraftQuery, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational capability surface (SURVEY.md §2 "free via Catalyst" rows
  * plus §7.1 step 8): scans, filters, projections, all join shapes,
  * hash/rollup/cube aggregation, window functions, sorts/limits/top-k,
  * set operations, string/date/JSON scalar functions.
  *
  * Everything here is declarative DataFrame API — Catalyst supplies pushdown,
  * pruning, join selection (broadcast hints on the dimension tables), partial
  * aggregation and whole-stage codegen. Each query is hash-checked against a
  * DuckDB oracle (see GraftQuery's parity rules).
  *
  * Scale posture: the final `orderBy` on each query exists for deterministic
  * oracle comparison; on a 100 TB run the sort sits on top of an
  * already-reduced result (aggregates) or would be dropped (row-level
  * projections are sink-order-agnostic in production).
  */
object RelationalQueries {
  import Exact._

  val queries: Seq[GraftQuery] = Seq(
    // ---------------------------------------------------------------- q01
    GraftQuery(
      "q01_agg",
      (s, d) => {
        import s.implicits._
        Tables
          .lineitem(s, d)
          .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sumDec($"l_quantity").as("sum_qty"),
            sumDec($"l_extendedprice").as("sum_base_price"),
            sum(dec($"l_extendedprice") * (decF(lit(1)) - decF($"l_discount")))
              .cast("double")
              .as("sum_disc_price"),
            sum(
              dec($"l_extendedprice") * (decF(lit(1)) - decF($"l_discount")) *
                (decF(lit(1)) + decF($"l_tax"))).cast("double").as("sum_charge"),
            avgDec($"l_quantity").as("avg_qty"),
            avgDec($"l_extendedprice").as("avg_price"),
            avgDec($"l_discount").as("avg_disc"),
            count(lit(1)).as("count_order")
          )
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  ${sqlSumDec("l_quantity")} AS sum_qty,
              |  ${sqlSumDec("l_extendedprice")} AS sum_base_price,
              |  CAST(SUM(${sqlDec("l_extendedprice")} * (${sqlDecF("1")} - ${sqlDecF("l_discount")})) AS DOUBLE) AS sum_disc_price,
              |  CAST(SUM(${sqlDec("l_extendedprice")} * (${sqlDecF("1")} - ${sqlDecF("l_discount")}) * (${sqlDecF("1")} + ${sqlDecF("l_tax")})) AS DOUBLE) AS sum_charge,
              |  ${sqlAvgDec("l_quantity")} AS avg_qty,
              |  ${sqlAvgDec("l_extendedprice")} AS avg_price,
              |  ${sqlAvgDec("l_discount")} AS avg_disc,
              |  COUNT(*) AS count_order
              |FROM lineitem
              |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      doc = "TPC-H Q1-style pricing summary: scan→filter→hash agg (partial+final)."
    ),
    // ---------------------------------------------------------------- q02
    GraftQuery(
      "q02_filter_project",
      (s, d) => {
        import s.implicits._
        Tables
          .lineitem(s, d)
          .filter(
            $"l_shipdate" >= lit("1997-06-01").cast("timestamp") &&
              $"l_discount" >= 0.05 && $"l_quantity" < 10)
          .select($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_returnflag")
          .orderBy($"l_orderkey", $"l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
             |  AND l_discount >= 0.05 AND l_quantity < 10
             |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      doc = "Predicate + projection pushdown to the parquet scan (PushedFilters/ReadSchema)."
    ),
    // ---------------------------------------------------------------- q03
    GraftQuery(
      "q03_join_broadcast",
      (s, d) => {
        import s.implicits._
        Tables
          .customer(s, d)
          .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
          .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
          .groupBy($"r_name")
          .agg(
            count(lit(1)).as("n_customers"),
            sumDec($"c_acctbal").as("sum_acctbal"))
          .orderBy($"r_name")
      },
      Some(s"""SELECT r_name, COUNT(*) AS n_customers,
              |  ${sqlSumDec("c_acctbal")} AS sum_acctbal
              |FROM customer
              |JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY r_name ORDER BY r_name""".stripMargin),
      doc = "Dimension snowflake join — both dims broadcast, zero shuffle on the fact side until the agg."
    ),
    // ---------------------------------------------------------------- q04
    GraftQuery(
      "q04_join_agg",
      (s, d) => {
        import s.implicits._
        Tables
          .orders(s, d)
          .join(Tables.lineitem(s, d), $"o_orderkey" === $"l_orderkey")
          .groupBy($"o_orderpriority")
          .agg(
            countDistinct($"o_orderkey").as("n_orders"),
            sum(dec($"l_extendedprice") * (decF(lit(1)) - decF($"l_discount")))
              .cast("double")
              .as("revenue"))
          .orderBy($"o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority,
              |  COUNT(DISTINCT o_orderkey) AS n_orders,
              |  CAST(SUM(${sqlDec("l_extendedprice")} * (${sqlDecF("1")} - ${sqlDecF("l_discount")})) AS DOUBLE) AS revenue
              |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      doc = "Fact-to-fact equi-join on the natural key; AQE picks shuffle strategy, distinct agg."
    ),
    // ---------------------------------------------------------------- q05
    GraftQuery(
      "q05_semi_join",
      (s, d) => {
        import s.implicits._
        val bigOrders =
          Tables.orders(s, d).filter($"o_totalprice" > 400000).select($"o_custkey")
        Tables
          .customer(s, d)
          .join(bigOrders, $"c_custkey" === $"o_custkey", "left_semi")
          .select($"c_custkey", $"c_name", $"c_mktsegment")
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment
             |FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
             |ORDER BY c_custkey""".stripMargin),
      doc = "EXISTS → left-semi join (no row duplication, build side reduced before join)."
    ),
    // ---------------------------------------------------------------- q06
    GraftQuery(
      "q06_anti_join",
      (s, d) => {
        import s.implicits._
        Tables
          .customer(s, d)
          .join(
            Tables.orders(s, d).filter($"o_totalprice" > 350000).select($"o_custkey"),
            $"c_custkey" === $"o_custkey",
            "left_anti")
          .select($"c_custkey", $"c_name", $"c_acctbal")
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal
             |FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_totalprice > 350000)
             |ORDER BY c_custkey""".stripMargin),
      doc = "NOT EXISTS → left-anti join; same shape as the reference's incremental skip (SURVEY §2 P9/J2)."
    ),
    // ---------------------------------------------------------------- q07
    GraftQuery(
      "q07_window_topk",
      (s, d) => {
        import s.implicits._
        val w = Window
          .partitionBy($"o_custkey")
          .orderBy($"o_totalprice".desc, $"o_orderkey")
        Tables
          .orders(s, d)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter($"rn" <= 3)
          .select($"o_custkey", $"rn", $"o_orderkey", $"o_totalprice")
          .orderBy($"o_custkey", $"rn")
      },
      Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey
             |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders)
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
      doc = "Per-group top-k via ranking window; Spark plans a single shuffle on the partition key."
    ),
    // ---------------------------------------------------------------- q08
    GraftQuery(
      "q08_window_running",
      (s, d) => {
        import s.implicits._
        val w = Window
          .partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables
          .orders(s, d)
          .filter($"o_custkey" % 10 === 0)
          .select(
            $"o_custkey",
            $"o_orderkey",
            sum(dec($"o_totalprice")).over(w).cast("double").as("running_spend"))
          .orderBy($"o_custkey", $"o_orderkey")
      },
      Some(s"""SELECT o_custkey, o_orderkey,
              |  CAST(SUM(${sqlDec("o_totalprice")}) OVER (
              |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
              |FROM orders WHERE o_custkey % 10 = 0
              |ORDER BY o_custkey, o_orderkey""".stripMargin),
      doc = "Running aggregate window frame; decimal-exact so frame evaluation order is irrelevant."
    ),
    // ---------------------------------------------------------------- q09
    GraftQuery(
      "q09_rollup",
      (s, d) => {
        import s.implicits._
        Tables
          .lineitem(s, d)
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("n"), sumDec($"l_quantity").as("sum_qty"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              |  ${sqlSumDec("l_quantity")} AS sum_qty
              |FROM lineitem
              |GROUP BY ROLLUP (l_returnflag, l_linestatus)
              |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
      doc = "Hierarchical grouping-set aggregation (ROLLUP) with subtotal + grand-total rows."
    ),
    // ---------------------------------------------------------------- q10
    GraftQuery(
      "q10_cube",
      (s, d) => {
        import s.implicits._
        Tables
          .orders(s, d)
          .cube($"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n"), sumDec($"o_totalprice").as("sum_price"))
          .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
      },
      Some(s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
              |  ${sqlSumDec("o_totalprice")} AS sum_price
              |FROM orders
              |GROUP BY CUBE (o_orderstatus, o_orderpriority)
              |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),
      doc = "Full CUBE over two dimensions."
    ),
    // ---------------------------------------------------------------- q11
    GraftQuery(
      "q11_distinct",
      (s, d) => {
        import s.implicits._
        Tables
          .customer(s, d)
          .select($"c_mktsegment", $"c_nationkey")
          .distinct()
          .orderBy($"c_mktsegment", $"c_nationkey")
      },
      Some("""SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
             |ORDER BY c_mktsegment, c_nationkey""".stripMargin),
      doc = "DISTINCT = hash aggregate on all columns (map-side partial dedup)."
    ),
    // ---------------------------------------------------------------- q12
    GraftQuery(
      "q12_topk",
      (s, d) => {
        import s.implicits._
        Tables
          .orders(s, d)
          .orderBy($"o_totalprice".desc, $"o_orderkey")
          .limit(10)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
      doc = "Global top-k: Spark plans TakeOrderedAndProject (per-partition heap, no full sort)."
    ),
    // ---------------------------------------------------------------- q13
    GraftQuery(
      "q13_string_funcs",
      (s, d) => {
        import s.implicits._
        Tables
          .part(s, d)
          .select(
            $"p_partkey",
            upper($"p_brand").as("brand_u"),
            lower($"p_type").as("type_l"),
            substring($"p_name", 1, 12).as("name12"),
            length($"p_name").cast("long").as("name_len"),
            regexp_extract($"p_type", "^(\\w+)", 1).as("type_head"),
            concat($"p_brand", lit("#"), $"p_size".cast("string")).as("brand_size"))
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey, UPPER(p_brand) AS brand_u, LOWER(p_type) AS type_l,
             |  SUBSTRING(p_name, 1, 12) AS name12,
             |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
             |  REGEXP_EXTRACT(p_type, '^(\w+)', 1) AS type_head,
             |  p_brand || '#' || CAST(p_size AS VARCHAR) AS brand_size
             |FROM part ORDER BY p_partkey""".stripMargin),
      doc = "Codegen'd scalar string/regex functions (SURVEY §2.6 family)."
    ),
    // ---------------------------------------------------------------- q14
    GraftQuery(
      "q14_date_agg",
      (s, d) => {
        import s.implicits._
        Tables
          .orders(s, d)
          .groupBy(
            year($"o_orderdate").cast("long").as("yr"),
            month($"o_orderdate").cast("long").as("mo"))
          .agg(count(lit(1)).as("n"), sumDec($"o_totalprice").as("sum_price"))
          .orderBy($"yr", $"mo")
      },
      Some(s"""SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
              |  CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
              |  COUNT(*) AS n, ${sqlSumDec("o_totalprice")} AS sum_price
              |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin),
      doc = "Calendar extraction + aggregation (UTC session time on both engines)."
    ),
    // ---------------------------------------------------------------- q15
    GraftQuery(
      "q15_case_agg",
      (s, d) => {
        import s.implicits._
        Tables
          .orders(s, d)
          .groupBy($"o_orderstatus")
          .agg(
            sum(when($"o_totalprice" > 200000, 1L).otherwise(0L)).as("n_big"),
            sum(when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L)).as("n_urgent"),
            count(lit(1)).as("n"))
          .orderBy($"o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  CAST(SUM(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
             |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
             |  COUNT(*) AS n
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      doc = "Conditional aggregation (pivot-style counting)."
    ),
    // ---------------------------------------------------------------- q16
    GraftQuery(
      "q16_having",
      (s, d) => {
        import s.implicits._
        Tables
          .orders(s, d)
          .groupBy($"o_custkey")
          .agg(count(lit(1)).as("n_orders"), sumDec($"o_totalprice").as("spend"))
          .filter($"n_orders" >= 15)
          .orderBy($"o_custkey")
      },
      Some(s"""SELECT o_custkey, COUNT(*) AS n_orders,
              |  ${sqlSumDec("o_totalprice")} AS spend
              |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
              |ORDER BY o_custkey""".stripMargin),
      doc = "Post-aggregation filter (HAVING)."
    ),
    // ---------------------------------------------------------------- q17
    GraftQuery(
      "q17_scalar_subquery",
      (s, d) => {
        import s.implicits._
        val cust = Tables.customer(s, d)
        val avgBal = cust.agg(
          (sum(dec($"c_acctbal")).cast("double") / count(lit(1))).as("avg_bal"))
        cust
          .crossJoin(broadcast(avgBal))
          .filter($"c_acctbal" > $"avg_bal" * 1.5)
          .select($"c_custkey", $"c_name", $"c_acctbal")
          .orderBy($"c_custkey")
      },
      Some(s"""SELECT c_custkey, c_name, c_acctbal FROM customer
              |WHERE c_acctbal > (SELECT ${sqlAvgDec("c_acctbal")} FROM customer) * 1.5
              |ORDER BY c_custkey""".stripMargin),
      doc = "Scalar subquery as a broadcast single-row cross join; threshold decimal-exact."
    ),
    // ---------------------------------------------------------------- q18
    GraftQuery(
      "q18_events_json",
      (s, d) => {
        import s.implicits._
        // get_json_object, not from_json: measured on the tiny-object props
        // column (a micro-bench at sf0.1, local[32]) from_json runs
        // ~0.5 s steady / 3.3 s on a cold JVM (Jackson + codegen init — the
        // r8 bench recorded 3.8 s) vs ~0.36 s / 0.65 s for the JSON-path
        // extractor, against a 0.13 s no-extraction floor
        Tables
          .events(s, d)
          .select(
            $"event_type",
            get_json_object($"props", "$.k").cast("long").as("k"))
          .groupBy($"event_type")
          .agg(
            sum($"k").cast("long").as("sum_k"),
            max($"k").cast("long").as("max_k"),
            count(lit(1)).as("n"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type,
             |  CAST(SUM(k) AS BIGINT) AS sum_k, CAST(MAX(k) AS BIGINT) AS max_k,
             |  COUNT(*) AS n
             |FROM (SELECT event_type,
             |        CAST(REGEXP_EXTRACT(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k
             |      FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin),
      doc = "Semi-structured extraction: Spark get_json_object over the props JSON column."
    ),
    // ---------------------------------------------------------------- q19
    GraftQuery(
      "q19_events_window",
      (s, d) => {
        import s.implicits._
        Tables
          .events(s, d)
          .groupBy(
            date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
            $"event_type")
          .agg(count(lit(1)).as("n"), sumDec($"value").as("sum_value"))
          .orderBy($"hour_start", $"event_type")
      },
      Some(s"""SELECT strftime(date_trunc('hour', make_timestamp(epoch_ns(ts) // 1000)),
              |                '%Y-%m-%d %H:%M:%S') AS hour_start,
              |  event_type, COUNT(*) AS n, ${sqlSumDec("value")} AS sum_value
              |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin),
      doc = "Tumbling 1h event-time window as batch groupBy (streaming variant: graft.streaming)."
    ),
    // ---------------------------------------------------------------- q20
    GraftQuery(
      "q20_setops",
      (s, d) => {
        import s.implicits._
        val custNations = Tables.customer(s, d).select($"c_nationkey".as("nationkey")).distinct()
        val suppNations = Tables.supplier(s, d).select($"s_nationkey".as("nationkey")).distinct()
        custNations
          .intersect(suppNations)
          .withColumn("which", lit("both"))
          .union(custNations.except(suppNations).withColumn("which", lit("customer_only")))
          .orderBy($"which", $"nationkey")
      },
      Some("""SELECT nationkey, which FROM (
             |  SELECT nationkey, 'both' AS which FROM
             |    (SELECT DISTINCT c_nationkey AS nationkey FROM customer
             |     INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
             |  UNION ALL
             |  SELECT nationkey, 'customer_only' AS which FROM
             |    (SELECT DISTINCT c_nationkey AS nationkey FROM customer
             |     EXCEPT SELECT DISTINCT s_nationkey FROM supplier))
             |ORDER BY which, nationkey""".stripMargin),
      doc = "Set algebra: INTERSECT / EXCEPT / UNION ALL composition."
    ),
    // ---------------------------------------------------------------- q21
    GraftQuery(
      "q21_count_distinct",
      (s, d) => {
        import s.implicits._
        Tables
          .lineitem(s, d)
          .groupBy($"l_returnflag")
          .agg(
            countDistinct($"l_partkey").as("n_parts"),
            countDistinct($"l_suppkey").as("n_supps"),
            count(lit(1)).as("n"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  COUNT(DISTINCT l_partkey) AS n_parts,
             |  COUNT(DISTINCT l_suppkey) AS n_supps,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      doc = "Multi-column exact distinct aggregation (expand + two-phase agg in Spark)."
    ),
    // ---------------------------------------------------------------- q22
    GraftQuery(
      "q22_approx_distinct",
      (s, d) => {
        import s.implicits._
        // HyperLogLog++ estimates are implementation-defined (DuckDB runs a
        // different sketch), so the oracle-comparable surface is the error
        // BOUND, not the estimate: per group, each approx count must sit
        // within 5% of the exact recomputation (rsd 0.01 -> 5% is a 5-sigma
        // bound; t33 gates the same sketch in violations+sentinel form).
        // Real group keys keep the oracle anchored to the data.
        //
        // The sketches and the exact recomputation run as SEPARATE hash
        // aggregations joined on the 3-row group key: folding them into one
        // agg makes Spark plan the multi-column distinct through Expand and
        // fall back to a sort-based aggregate that churns the 16 KB HLL
        // buffers per expanded row (~50x slower, measured).
        // NOT spread (round-20 driver record: widening regressed q22
        // 3 s -> 4 s at 32 cores): the partial aggregation is hash inserts
        // into per-task HLL buffers — cheap per row — and the round-robin
        // shuffle of 3 columns costs more than the map-side parallelism buys
        val li = Tables.lineitem(s, d)
          .select($"l_returnflag", $"l_partkey", $"l_orderkey")
        val approxSide = li.groupBy($"l_returnflag").agg(
          approx_count_distinct($"l_partkey", 0.01).as("ap"),
          approx_count_distinct($"l_orderkey", 0.01).as("ao"))
        val exactSide = li.groupBy($"l_returnflag").agg(
          countDistinct($"l_partkey").as("ep"),
          countDistinct($"l_orderkey").as("eo"))
        approxSide.join(exactSide, "l_returnflag")
          .select($"l_returnflag",
            (abs($"ap" - $"ep").cast("double") <= $"ep".cast("double") * 0.05).as("parts_ok"),
            (abs($"ao" - $"eo").cast("double") <= $"eo".cast("double") * 0.05).as("orders_ok"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, true AS parts_ok, true AS orders_ok
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      doc = "approx_count_distinct (HLL++), the 100 TB-scale distinct-count " +
        "path, oracle-gated on its 5-sigma error bound vs the exact " +
        "recomputation per group (the estimate itself is sketch-defined).",
      gate = true
    )
  )
}
