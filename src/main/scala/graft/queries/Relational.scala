package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The relational operator surface of SURVEY.md §2B — everything the
  * reference exercises through its host engine (DataFusion), re-expressed
  * as idiomatic Spark DataFrame plans so Catalyst/Tungsten supply the
  * physical strategies (broadcast vs shuffle join, partial aggregation,
  * whole-stage codegen, AQE).
  *
  * Scale notes (100 TB design intent):
  *  - `lineitem`/`orders`/`events` are the fact tables: every plan filters
  *    and projects them FIRST so parquet pushdown bounds IO;
  *  - dimension tables (`region nation supplier part customer`) are
  *    broadcast-joined — no shuffle of the fact side by a dim key;
  *  - aggregations are expressed with `groupBy.agg` so Spark plans
  *    partial (map-side) + final aggregation automatically;
  *  - top-k is `orderBy.limit` which Spark plans as TakeOrderedAndProject
  *    (per-partition heap, no global sort).
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // q03's broadcast gate, memoized per (session, sf dir) like
  // Tables.load, so building the DataFrame a second time starts no
  // Spark job. Entries of stopped sessions are swept on every access.
  private val ordersRows = scala.collection.mutable.Map.empty[(SparkSession, String), Long]

  private def ordersRowCount(s: SparkSession, dir: String): Long = synchronized {
    ordersRows.filterInPlace { case ((ss, _), _) => !ss.sparkContext.isStopped }
    ordersRows.getOrElseUpdate((s, dir), t(s, dir, "orders").count())
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- aggregation: partial+final hash agg over the fact table ----
    QueryDef.sql(
      "q01_agg",
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- filter + projection: both must reach the parquet scan ----
    QueryDef.sql(
      "q02_filter_project",
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity > 45 AND l_discount <= 0.02
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_discount") <= 0.02)
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- shuffled equi join fact-to-fact + agg (TPC-H Q3 shape) ----
    QueryDef.sql(
      "q03_join_agg",
      """SELECT o.o_orderkey,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
        |  count(*) AS n_lines
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY o.o_orderkey
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin) { (s, dir) =>
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      // lineitem STREAMS; the segment-filtered order keys broadcast.
      // Unhinted, Catalyst size estimates picked lineitem — the fact
      // table — as the broadcast build side (collect + hash-relation
      // over every lineitem row); at scale the fact side must never
      // build. The semi-filtered orders key set is the small side by
      // construction (one segment's orders, one bigint column).
      //
      // Gated, not unconditional (r22, ADVICE): one segment's order
      // keys still grow linearly with SF, and a broadcast HINT bypasses
      // autoBroadcastJoinThreshold — at a large enough SF the driver
      // would OOM collecting the hash relation. The gate probes the
      // orders TABLE row count (a metadata-only parquet count, no
      // column IO — measured ~50 ms vs ~180 ms for materializing and
      // counting the key set itself): every segment key set is a
      // subset of orders, so rows(orders) <= cap bounds the broadcast
      // at cap*48 B (~400 MB of LongHashedRelation) regardless of the
      // segment's selectivity. Above the cap the hint is dropped and
      // Catalyst plans its shuffled strategy — the scale-safe shape —
      // mirroring the DriverSolveEdgeLimit discipline in
      // ConnectedComponents.
      val ords = t(s, dir, "orders")
        .join(broadcast(cust), col("c_custkey") === col("o_custkey"))
        .select(col("o_orderkey"))
      val keySide =
        if (ordersRowCount(s, dir) <= 8L * 1000 * 1000) broadcast(ords)
        else ords
      t(s, dir, "lineitem")
        .join(keySide, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(20)
    },

    // ---- broadcast join: small dim side must NOT shuffle the fact ----
    QueryDef.sql(
      "q04_broadcast_join",
      """SELECT p.p_brand,
        |  round(sum(l.l_extendedprice), 2) AS brand_rev,
        |  count(*) AS n
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY p.p_brand
        |ORDER BY p.p_brand""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_extendedprice")), 2).as("brand_rev"), count(lit(1)).as("n"))
        .orderBy(col("p_brand"))
    },

    // ---- 6-way star join (TPC-H Q5 shape): dims broadcast, facts shuffle once ----
    QueryDef.sql(
      "q05_multi_join",
      """SELECT n.n_name,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier sp ON l.l_suppkey = sp.s_suppkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin) { (s, dir) =>
      val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = t(s, dir, "nation")
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("n_name"))
    },

    // ---- pure scan+filter+global agg (TPC-H Q6 shape) ----
    QueryDef.sql(
      "q06_scan_agg",
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS promo_revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_quantity < 24 AND l_discount BETWEEN 0.02 AND 0.06""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") < 24 && col("l_discount").between(0.02, 0.06))
        .agg(
          round(sum(col("l_extendedprice") * col("l_discount")), 2).as("promo_revenue"),
          count(lit(1)).as("n"))
    },

    // ---- top-k: TakeOrderedAndProject, no global sort ----
    QueryDef.sql(
      "q07_sort_limit",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // ---- window functions: rank + running aggregate per key ----
    QueryDef.sql(
      "q08_window",
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS rn,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"),
          round(sum(col("o_totalprice")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("run_spend"))
        .orderBy(col("o_custkey"), col("rn"))
    },

    // ---- CTE + UNION ALL ----
    QueryDef.sql(
      "q09_cte_union",
      """WITH big AS (
        |  SELECT o_orderkey, o_totalprice, 'big' AS tier FROM orders WHERE o_totalprice > 300000
        |), small AS (
        |  SELECT o_orderkey, o_totalprice, 'small' AS tier FROM orders WHERE o_totalprice < 5000
        |)
        |SELECT * FROM big UNION ALL SELECT * FROM small
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      val big = o.filter(col("o_totalprice") > 300000).withColumn("tier", lit("big"))
      val small = o.filter(col("o_totalprice") < 5000).withColumn("tier", lit("small"))
      big.union(small).orderBy("o_orderkey")
    },

    // ---- distinct aggregation. Three distincts in ONE agg would plan
    //      as Expand (3x every row through the partial agg); instead each
    //      column gets its own pruned single-column scan + two-phase
    //      distinct, and the three 1-row results are joined — at 100 TB
    //      the same bytes are read either way, but nothing is tripled in
    //      memory and each shuffle carries only that column's distinct
    //      values ----
    QueryDef.sql(
      "q10_distinct",
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      li.agg(countDistinct(col("l_partkey")).as("n_parts"))
        .crossJoin(li.agg(countDistinct(col("l_suppkey")).as("n_supps")))
        .crossJoin(li.agg(countDistinct(col("l_orderkey")).as("n_orders")))
    },

    // ---- left semi join (EXISTS) ----
    QueryDef.sql(
      "q11_semi_join",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 200000)
      t(s, dir, "customer")
        .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ---- left anti join (NOT EXISTS) ----
    QueryDef.sql(
      "q12_anti_join",
      """SELECT c_custkey, c_acctbal FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
    },

    // ---- ROLLUP (grouping sets; NULL markers coalesced for determinism) ----
    QueryDef.sql(
      "q13_rollup",
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  round(sum(l_quantity), 2) AS qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("qty"), col("n"))
        .orderBy("rf", "ls")
    },

    // ---- CUBE ----
    QueryDef.sql(
      "q14_cube",
      """SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS prio,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, prio""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("n"), col("total"))
        .orderBy("status", "prio")
    },

    // ---- set ops: INTERSECT / EXCEPT (both distinct semantics) ----
    QueryDef.sql(
      "q15_setops",
      """SELECT c_custkey FROM (
        |  SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 150000
        |  INTERSECT
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 0
        |) ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val a = t(s, dir, "orders").filter(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("c_custkey"))
      val b = t(s, dir, "customer").filter(col("c_acctbal") > 0).select("c_custkey")
      a.intersect(b).orderBy("c_custkey")
    },

    QueryDef.sql(
      "q15b_except",
      """SELECT c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 0
        |  EXCEPT
        |  SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 150000
        |) ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val a = t(s, dir, "customer").filter(col("c_acctbal") > 0).select("c_custkey")
      val b = t(s, dir, "orders").filter(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("c_custkey"))
      a.except(b).orderBy("c_custkey")
    },

    // ---- theta/band self-join (mirrors the reference bench query shape,
    //      /root/reference/crates/arrow-zarr/benches/s3_bench.rs:222-234):
    //      one side pre-filtered by modulo, band predicate on the other ----
    QueryDef.sql(
      "q16_theta_join",
      """SELECT t1.c_custkey AS custkey, count(*) AS n_close
        |FROM customer t1 JOIN customer t2
        |  ON t1.c_custkey % 12 = 0
        | AND t2.c_acctbal >= t1.c_acctbal - 10 AND t2.c_acctbal < t1.c_acctbal + 10
        |GROUP BY t1.c_custkey
        |ORDER BY custkey""".stripMargin) { (s, dir) =>
      val c1 = t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
        .filter(col("c_custkey") % 12 === 0).as("t1")
      val c2 = t(s, dir, "customer").select(col("c_acctbal").as("bal2")).as("t2")
      // no broadcast hint: t1 is ~8% of the table — broadcasting a fixed
      // fraction of a fact table OOMs executors at 100 TB. BandJoinRule
      // (GraftExtensions) rewrites the band predicate into a bucketed equi
      // join, and AQE then picks the physical strategy from actual sizes.
      c1
        .join(c2, col("bal2") >= col("c_acctbal") - 10 && col("bal2") < col("c_acctbal") + 10)
        .groupBy(col("c_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_close"))
        .orderBy("custkey")
    },

    // ---- scalar string functions ----
    QueryDef.sql(
      "q17_string_funcs",
      """SELECT p_partkey,
        |  upper(p_name) AS uname,
        |  substr(p_brand, 1, 6) AS brand6,
        |  length(p_type) AS type_len,
        |  concat(p_brand, ':', p_type) AS bt,
        |  replace(p_name, ' ', '_') AS underscored
        |FROM part
        |WHERE p_type LIKE '%O%'
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_type").like("%O%"))
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("uname"),
          substring(col("p_brand"), 1, 6).as("brand6"),
          length(col("p_type")).as("type_len"),
          concat(col("p_brand"), lit(":"), col("p_type")).as("bt"),
          regexp_replace(col("p_name"), " ", "_").as("underscored"))
        .orderBy("p_partkey")
    },

    // ---- date/time functions (timestamps normalized to ints for the oracle) ----
    QueryDef.sql(
      "q18_date_funcs",
      """SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY y, m""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("y", "m")
    },

    // ---- CASE expression bucketing ----
    QueryDef.sql(
      "q19_case_expr",
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
        |            WHEN o_totalprice < 200000 THEN 'mid'
        |            ELSE 'high' END AS bucket,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(
          when(col("o_totalprice") < 50000, "low")
            .when(col("o_totalprice") < 200000, "mid")
            .otherwise("high").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    },

    // ---- HAVING ----
    QueryDef.sql(
      "q20_having",
      """SELECT l_suppkey, round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem
        |GROUP BY l_suppkey
        |HAVING sum(l_quantity) > 100
        |ORDER BY l_suppkey""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("_raw_qty"))
        .filter(col("_raw_qty") > 100)
        .select(col("l_suppkey"), round(col("_raw_qty"), 2).as("total_qty"))
        .orderBy("l_suppkey")
    },

    // ---- scalar subquery ----
    QueryDef.sql(
      "q21_scalar_subquery",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_orderkey, o_totalprice FROM orders
          |WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
          |ORDER BY o_orderkey""".stripMargin)
    },

    // ---- event-time tumbling window over the events stream table
    //      (batch analog of a streaming windowed aggregation) ----
    QueryDef.sql(
      "q22_events_window",
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_epoch, event_type""".stripMargin) { (s, dir) =>
      // ts is read as a raw nanosecond long (see Tables.load); truncating to
      // the hour arithmetically == DuckDB's date_trunc('hour', ts)::epoch
      t(s, dir, "events")
        .groupBy(
          (expr("ts div 3600000000000") * lit(3600L)).as("hour_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy("hour_epoch", "event_type")
    },

    // ---- correlated aggregate subquery via join (TPC-H Q17 shape) ----
    QueryDef.sql(
      "q23_corr_subquery",
      """SELECT l.l_partkey, count(*) AS n_above
        |FROM lineitem l
        |JOIN (SELECT l_partkey, avg(l_quantity) AS avg_qty
        |      FROM lineitem GROUP BY l_partkey) a
        |  ON l.l_partkey = a.l_partkey
        |WHERE l.l_quantity > 1.5 * a.avg_qty
        |GROUP BY l.l_partkey
        |ORDER BY l.l_partkey""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_partkey", "l_quantity")
      val avgs = li.groupBy("l_partkey").agg(avg(col("l_quantity")).as("avg_qty"))
        .withColumnRenamed("l_partkey", "a_partkey")
      li.join(broadcast(avgs), col("l_partkey") === col("a_partkey"))
        .filter(col("l_quantity") > lit(1.5) * col("avg_qty"))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_above"))
        .orderBy("l_partkey")
    },

    // ---- grouping sets via SQL (DataFrame API exposes only rollup/cube) ----
    QueryDef.sql(
      "q24_grouping_sets",
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY rf, ls""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
          |  count(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          |ORDER BY rf, ls""".stripMargin)
    })
}
