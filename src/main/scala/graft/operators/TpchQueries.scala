package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-H q1–q22 adapted to the testdata column subset (FIXTURES.md).
  *
  * The reference ships full TPC-H as its system query suite
  * (reference: dbcon/doc/tpch01.sql…tpch22.sql, perf DB `tpch100` at SF100,
  * utils/scenarios/perf/testcase/grptest.sh:18). These are the same query
  * shapes over the driver-generated star schema.
  *
  * Scale notes: every query here is declarative DataFrame API, so Catalyst
  * pushes filters into the parquet scan, prunes columns, and two-phase
  * aggregates. Dimension tables (region/nation/customer/supplier/part) are
  * broadcast-joined automatically under the 64 MB threshold (Session.tune);
  * at 100 TB only lineitem/orders are big, and every join below keys on
  * their natural keys so AQE handles skew/shuffle sizing.
  */
object TpchQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.table(s, dir, n)

  /** Q1: pricing summary report — scan → wide filter → 8-agg groupBy → sort.
    * (reference: dbcon/doc/tpch01.sql, plan dbcon/doc/q1_plan.txt) */
  val q01: QueryDef = QueryDef(
    "q01_pricing_summary",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum("l_extendedprice").as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax"))).as("sum_charge"),
          avg("l_quantity").as("avg_qty"),
          avg("l_extendedprice").as("avg_price"),
          avg("l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
    oracle = Some("""
      SELECT l_returnflag, l_linestatus,
             sum(l_quantity) AS sum_qty,
             sum(l_extendedprice) AS sum_base_price,
             sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
             sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
             avg(l_quantity) AS avg_qty,
             avg(l_extendedprice) AS avg_price,
             avg(l_discount) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")
  )

  /** Q2: minimum-cost supplier — correlated min subquery over a snowflake
    * (adapted: no partsupp table, so the "cost" is s_acctbal and the
    * part→supplier relation comes from lineitem; reference:
    * dbcon/doc/tpch02.sql). */
  val q02: QueryDef = QueryDef(
    "q02_min_cost_supplier",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
        FROM part, supplier, lineitem, nation, region
        WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          AND p_size = 15 AND p_type = 'LARGE'
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'EUROPE'
          AND s_acctbal = (SELECT min(s_acctbal)
                           FROM supplier, lineitem, nation, region
                           WHERE p_partkey = l_partkey
                             AND s_suppkey = l_suppkey
                             AND s_nationkey = n_nationkey
                             AND n_regionkey = r_regionkey
                             AND r_name = 'EUROPE')
        GROUP BY s_acctbal, s_name, n_name, p_partkey, p_brand
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100""")
    },
    oracle = Some("""
      SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
      FROM part, supplier, lineitem, nation, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND p_size = 15 AND p_type = 'LARGE'
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'EUROPE'
        AND s_acctbal = (SELECT min(s_acctbal)
                         FROM supplier s2, lineitem l2, nation n2, region r2
                         WHERE part.p_partkey = l2.l_partkey
                           AND s2.s_suppkey = l2.l_suppkey
                           AND s2.s_nationkey = n2.n_nationkey
                           AND n2.n_regionkey = r2.r_regionkey
                           AND r2.r_name = 'EUROPE')
      GROUP BY s_acctbal, s_name, n_name, p_partkey, p_brand
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      LIMIT 100""")
  )

  /** Q3: shipping priority — 3-way join, filter each side, top-k.
    * (reference: dbcon/doc/tpch03.sql) */
  val q03: QueryDef = QueryDef(
    "q03_shipping_priority",
    (s, dir) => {
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-03-15"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1997-03-15"))
      // the segment filter keeps ~1/5 of a dimension-sized table:
      // broadcast it statically so orders never shuffles by custkey.
      // (Pre-aggregating lineitem by orderkey before that join measured
      // SLOWER — the key is near-unique, so partial combine removes
      // nothing and the hash table is pure overhead.)
      // lineitem STREAMS (left side): with orders⋈customer on the build
      // side, the only hash relation ever built is the filtered orders
      // sliver — never the fact table. r15: the previous shape streamed
      // orders and let the 64 MB threshold broadcast-BUILD the filtered
      // lineitem side (a fact-table hash build at bench scale, and the
      // side that explodes first at 100 TB); with lineitem on the left
      // the threshold/AQE keeps picking the orders side to build at any
      // scale, degrading to a correctly-oriented shuffle join when the
      // sliver outgrows the threshold.
      li
        .join(ord
            .join(broadcast(cust.select(col("c_custkey"))),
              col("c_custkey") === col("o_custkey")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double")
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    },
    oracle = Some("""
      SELECT l_orderkey, o_orderdate,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING'
        AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderdate, l_orderkey
      LIMIT 10""")
  )

  /** Q4: order priority checking — EXISTS → left-semi join.
    * (reference: dbcon/doc/tpch04.sql; semi-join type joblisttypes.h:85) */
  val q04: QueryDef = QueryDef(
    "q04_order_priority",
    (s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-07-01") &&
          col("o_orderdate") < lit("1996-10-01"))
      // the reference models EXISTS as a SEMI join (ha_exists_sub.cpp)
      val late = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      ord
        .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
    oracle = Some("""
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")
  )

  /** Q5: local supplier volume — 6-way join through the full snowflake.
    * (reference: dbcon/doc/tpch05.sql) */
  val q05: QueryDef = QueryDef(
    "q05_local_supplier_volume",
    (s, dir) => {
      val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
      // restrict BOTH relation legs to the region's 5 nations BEFORE the
      // big fact joins (the reference's optimizer applies the same
      // region→nation transitive restriction up front): customer drops to
      // ~1/5 before the orders shuffle, so every downstream join moves
      // 5× fewer probe rows. Catalyst can't derive this reorder without
      // CBO stats; declaring it keeps the plan optimal at any scale.
      val asiaNations = t(s, dir, "nation")
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = t(s, dir, "customer")
        .join(broadcast(asiaNations),
          col("c_nationkey") === col("n_nationkey"))
      val sup = t(s, dir, "supplier")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
      val li = t(s, dir, "lineitem")
      // lineitem STREAMS: the r15 reorder puts the fact table on the
      // probe side so the hash relations built are the year-filtered
      // orders⋈(region-restricted customers) sliver and supplier — the
      // old shape streamed 15k customers and broadcast-BUILT the entire
      // lineitem (single-threaded 600k-row HashedRelation at bench
      // scale; at 100 TB that side is the first to blow the threshold).
      // No static hint on either fact side: the 64 MB threshold / AQE
      // picks broadcast at bench scale and a correctly-oriented shuffle
      // join once the sliver outgrows it.
      li
        .join(cust.join(ord, col("c_custkey") === col("o_custkey")),
          col("o_orderkey") === col("l_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double")
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    oracle = Some("""
      SELECT n_name, CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name""")
  )

  /** Q6: forecasting revenue change — pure scan + conjunctive filter + agg.
    * The flagship extent-elimination query in the reference (casual
    * partitioning min/max skipping, dbcon/joblist/lbidlist.h:80); for us the
    * same skipping happens in parquet row-group stats. */
  val q06: QueryDef = QueryDef(
    "q06_forecast_revenue",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_rows")),
    oracle = Some("""
      SELECT sum(l_extendedprice * l_discount) AS revenue,
             count(*) AS n_rows
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24""")
  )

  /** Q7: volume shipping between two nations — double nation join with a
    * disjunctive pair predicate (reference: dbcon/doc/tpch07.sql). */
  val q07: QueryDef = QueryDef(
    "q07_volume_shipping",
    (s, dir) => {
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").between("1996-01-01", "1997-12-31"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
        .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
        .filter((col("supp_nation") === "NATION_1" &&
          col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double")
          .as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
    oracle = Some("""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1997-12-31 00:00:00'
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year""")
  )

  /** Q8: national market share — 8-way join + conditional ratio per year
    * (reference: dbcon/doc/tpch08.sql). */
  val q08: QueryDef = QueryDef(
    "q08_market_share",
    (s, dir) => {
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cr_key"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val region = t(s, dir, "region").filter(col("r_name") === "AMERICA")
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_type") === "ECONOMY"),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate").between("1996-01-01", "1997-12-31")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("cn_key"))
        .join(broadcast(region), col("cr_key") === col("r_regionkey"))
        .join(broadcast(n2), col("s_nationkey") === col("sn_key"))
        .withColumn("volume", col("l_extendedprice") * (lit(1) - col("l_discount")))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_3", col("volume"))
          .otherwise(0.0)) / sum(col("volume"))).as("mkt_share"))
        .orderBy(col("o_year"))
    },
    oracle = Some("""
      SELECT year(o_orderdate) AS o_year,
             sum(CASE WHEN n2.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0 END)
               / sum(l_extendedprice * (1 - l_discount)) AS mkt_share
      FROM part, supplier, lineitem, orders, customer,
           nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                            AND TIMESTAMP '1997-12-31 00:00:00'
        AND p_type = 'ECONOMY'
      GROUP BY o_year ORDER BY o_year""")
  )

  /** Q9: product-type profit by nation/year — LIKE + 6-way join (adapted:
    * no partsupp table in the testdata, so cost = 0.6·qty·retailprice;
    * reference: dbcon/doc/tpch09.sql). */
  val q09: QueryDef = QueryDef(
    "q09_product_profit",
    (s, dir) => {
      val nation = t(s, dir, "nation")
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_name").like("%re%")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")) -
          lit(0.6) * col("l_quantity") * col("p_retailprice"))
          .cast("decimal(18,4)")).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
    oracle = Some("""
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 - 0.6 * l_quantity * p_retailprice AS DECIMAL(18,4)))
               AS DOUBLE) AS sum_profit
      FROM lineitem, part, supplier, orders, nation
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%re%'
      GROUP BY n_name, o_year
      ORDER BY nation, o_year DESC""")
  )

  /** Q10: returned item reporting — join + group on many keys + top-k.
    * (reference: dbcon/doc/tpch10.sql) */
  val q10: QueryDef = QueryDef(
    "q10_returned_items",
    (s, dir) => {
      val cust = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-10-01") &&
          col("o_orderdate") < lit("1997-01-01"))
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      cust
        .join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double")
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    oracle = Some("""
      SELECT c_custkey, c_name, c_acctbal, n_name,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem, nation
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""")
  )

  /** Q11: important stock — grouped value vs a global-fraction scalar
    * subquery (adapted: stock value = supplier-part revenue from lineitem;
    * reference: dbcon/doc/tpch11.sql). */
  val q11: QueryDef = QueryDef(
    "q11_important_stock",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val nation = t(s, dir, "nation").filter(col("n_nationkey") < 8)
      val base = li
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .select(col("l_partkey"), col("l_extendedprice"))
      val total = base.agg((sum(col("l_extendedprice")) * 0.001)
        .as("threshold"))
      base.groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice")).as("part_value"))
        .crossJoin(broadcast(total))
        .filter(col("part_value") > col("threshold"))
        .select(col("l_partkey"), col("part_value"))
        .orderBy(col("part_value").desc, col("l_partkey"))
    },
    oracle = Some("""
      SELECT l_partkey, sum(l_extendedprice) AS part_value
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_nationkey < 8
      GROUP BY l_partkey
      HAVING sum(l_extendedprice) >
             (SELECT sum(l_extendedprice) * 0.001
              FROM lineitem, supplier, nation
              WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
                AND n_nationkey < 8)
      ORDER BY part_value DESC, l_partkey""")
  )

  /** Q12: shipping modes — join + CASE-conditional aggregation.
    * (reference: dbcon/doc/tpch12.sql; CASE via func_case.cpp) */
  val q12: QueryDef = QueryDef(
    "q12_ship_mode_priority",
    (s, dir) => {
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_linenumber").isin(1, 2, 3))
      ord
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_linenumber"))
        .agg(
          sum(when(col("o_orderpriority") === "1-URGENT" ||
            col("o_orderpriority") === "2-HIGH", 1).otherwise(0))
            .as("high_line_count"),
          sum(when(col("o_orderpriority") =!= "1-URGENT" &&
            col("o_orderpriority") =!= "2-HIGH", 1).otherwise(0))
            .as("low_line_count"))
        .orderBy(col("l_linenumber"))
    },
    oracle = Some("""
      SELECT l_linenumber,
             CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                        OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
               AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
                       AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END)
               AS BIGINT) AS low_line_count
      FROM orders, lineitem
      WHERE o_orderkey = l_orderkey
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_linenumber IN (1, 2, 3)
      GROUP BY l_linenumber
      ORDER BY l_linenumber""")
  )

  /** Q13: customer distribution — LEFT OUTER join + two-level aggregation.
    * (reference: dbcon/doc/tpch13.sql; LARGEOUTER join joblisttypes.h:86) */
  val q13: QueryDef = QueryDef(
    "q13_customer_distribution",
    (s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
        .filter(!col("o_orderpriority").like("%SPECIFIED%"))
      // r15: aggregate orders by custkey BELOW the outer join (classic
      // agg-through-outer-join pushdown; exact because o_orderkey is
      // never null, so count(o_orderkey) per customer = that customer's
      // order count, and a no-match customer reads coalesce(null,0)=0).
      // The old shape left-outer-joined raw orders (150k-row broadcast
      // BUILD — outer joins can only build the non-preserved side, so
      // the fact side could never stream) and then shuffled the joined
      // rows by c_custkey; now the per-cust counts collapse map-side
      // before anything moves, the build side is the counts sliver
      // (≤ #customers rows), and the post-join c_custkey exchange is
      // gone. Same two final aggregations on top.
      val perCust = ord.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("o_count"))
      cust
        .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"),
          coalesce(col("o_count"), lit(0L)).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    oracle = Some("""
      SELECT c_count, count(*) AS custdist
      FROM (SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey
             AND o_orderpriority NOT LIKE '%SPECIFIED%'
            GROUP BY c_custkey) c_orders
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""")
  )

  /** Q14: promotion effect — LIKE filter + conditional agg ratio.
    * (reference: dbcon/doc/tpch14.sql; LIKE via pdictionaryscan.cpp) */
  val q14: QueryDef = QueryDef(
    "q14_promo_effect",
    (s, dir) => {
      // no broadcast hint: part scales with SF (~gigabytes at SF100), so the
      // join strategy must stay threshold/AQE-driven (PlanSpec asserts this)
      val part = t(s, dir, "part")
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-09-01") &&
          col("l_shipdate") < lit("1996-10-01"))
      li.join(part, col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
          sum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount")))
            .otherwise(0.0)) /
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("promo_revenue"))
    },
    oracle = Some("""
      SELECT 100.00 * sum(CASE WHEN p_type = 'PROMO'
                               THEN l_extendedprice * (1 - l_discount)
                               ELSE 0 END)
               / sum(l_extendedprice * (1 - l_discount)) AS promo_revenue
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""")
  )

  /** Q15: top supplier — derived revenue view + scalar-max selection
    * (reference: dbcon/doc/tpch15.sql). */
  val q15: QueryDef = QueryDef(
    "q15_top_supplier",
    (s, dir) => {
      val revenue = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("total_revenue"))
      val maxRev = revenue.agg(max(col("total_revenue")).as("max_revenue"))
      t(s, dir, "supplier")
        .join(revenue, col("s_suppkey") === col("supplier_no"))
        .crossJoin(broadcast(maxRev))
        .filter(col("total_revenue") === col("max_revenue"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
    oracle = Some("""
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(l_extendedprice * (1 - l_discount)) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_revenue
      FROM supplier, revenue
      WHERE s_suppkey = supplier_no
        AND total_revenue = (SELECT max(total_revenue) FROM revenue)
      ORDER BY s_suppkey""")
  )

  /** Q16: parts/supplier relationship — anti-join + count(distinct).
    * (reference: dbcon/doc/tpch16.sql; NOT IN → ANTI join ha_in_sub.cpp:94) */
  val q16: QueryDef = QueryDef(
    "q16_parts_supplier",
    (s, dir) => {
      val part = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" &&
          !col("p_type").like("SMALL%") &&
          col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
      val li = t(s, dir, "lineitem")
      val badSup = t(s, dir, "supplier")
        .filter(col("s_name").like("%0001%"))
        .select(col("s_suppkey"))
      // part/badSup both scale with SF — leave the join strategy to the
      // 64 MB threshold + AQE instead of forcing a broadcast
      li.join(part, col("l_partkey") === col("p_partkey"))
        .join(badSup, col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
    oracle = Some("""
      SELECT p_brand, p_type, p_size,
             count(DISTINCT l_suppkey) AS supplier_cnt
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND p_brand <> 'Brand#1'
        AND p_type NOT LIKE 'SMALL%'
        AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_name LIKE '%0001%')
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")
  )

  /** Q17: small-quantity-order revenue — correlated scalar subquery → join.
    * (reference: dbcon/doc/tpch17.sql; SCALAR join joblisttypes.h:91) */
  val q17: QueryDef = QueryDef(
    "q17_small_quantity",
    (s, dir) => {
      val part = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#3" && col("p_type") === "ECONOMY")
      val li = t(s, dir, "lineitem")
      val avgQty = li.groupBy(col("l_partkey").as("aq_partkey"))
        .agg((avg(col("l_quantity")) * 0.5).as("half_avg_qty"))
      li.join(part, col("l_partkey") === col("p_partkey"))
        .join(avgQty, col("l_partkey") === col("aq_partkey"))
        .filter(col("l_quantity") < col("half_avg_qty"))
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double") / 7.0).as("avg_yearly"),
          count(lit(1)).as("n_rows"))
    },
    oracle = Some("""
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
             count(*) AS n_rows
      FROM lineitem, part
      WHERE p_partkey = l_partkey
        AND p_brand = 'Brand#3' AND p_type = 'ECONOMY'
        AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem
                          WHERE l_partkey = p_partkey)""")
  )

  /** Q18: large volume customer — IN over a grouped-HAVING subquery.
    * (reference: dbcon/doc/tpch18.sql; having tuplehavingstep.h:39) */
  val q18: QueryDef = QueryDef(
    "q18_large_volume_customer",
    (s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      // the HAVING subquery's aggregate IS the output aggregate (both
      // sum l_quantity per order), so the plan reuses it instead of
      // semi-joining and then re-scanning + re-aggregating lineitem: one
      // lineitem shuffle total, and after the >150 filter the survivors
      // are a sliver of orders, which AQE broadcasts through the orders
      // and customer joins at runtime (no static hint — the sliver's
      // size is data-dependent, exactly what adaptive replan is for).
      val bigOrders = li.groupBy(col("l_orderkey").as("big_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 150)
      ord
        .join(bigOrders, col("o_orderkey") === col("big_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"),
          col("o_orderkey"))
        .limit(100)
    },
    oracle = Some("""
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
             sum(l_quantity) AS sum_qty
      FROM customer, orders, lineitem
      WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey
                           HAVING sum(l_quantity) > 150)
        AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
      LIMIT 100""")
  )

  /** Q19: discounted revenue — disjunctive multi-column predicates over a
    * join (the reference's "function join" / OR-chain ConstantFilter shape,
    * dbcon/execplan/constantfilter.h). */
  val q19: QueryDef = QueryDef(
    "q19_discounted_revenue",
    (s, dir) => {
      // the part-only component of the disjunction pre-filters the part scan
      // (PushedFilters reach parquet), shrinking the join's build side at any
      // SF; the full disjunction still applies above the join for exactness
      val part = t(s, dir, "part")
        .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34") &&
          col("p_size").between(1, 45))
      val li = t(s, dir, "lineitem")
      li.join(part, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 21)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 30) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 45) &&
            col("l_quantity").between(20, 40)))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double")
          .as("revenue"), count(lit(1)).as("n_rows"))
    },
    oracle = Some("""
      SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             count(*) AS n_rows
      FROM lineitem, part
      WHERE p_partkey = l_partkey
        AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
              AND l_quantity BETWEEN 1 AND 21)
          OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 30
              AND l_quantity BETWEEN 10 AND 30)
          OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 45
              AND l_quantity BETWEEN 20 AND 40))""")
  )

  /** Q20: suppliers with excess stock — nested semi-join chain (adapted:
    * "availqty" = the supplier's lineitem quantity per part; reference:
    * dbcon/doc/tpch20.sql). */
  val q20: QueryDef = QueryDef(
    "q20_excess_stock",
    (s, dir) => {
      val greenParts = t(s, dir, "part")
        .filter(col("p_name").like("%green%") || col("p_name").like("%red%"))
        .select(col("p_partkey"))
      val shipped96 = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
      val excess = shipped96
        .join(greenParts, col("l_partkey") === col("p_partkey"),
          "left_semi")
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity")).as("avail_qty"))
        .filter(col("avail_qty") > 50)
        .select(col("l_suppkey")).distinct()
      t(s, dir, "supplier")
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_regionkey") === 2)),
          col("s_nationkey") === col("n_nationkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    },
    oracle = Some("""
      SELECT s_suppkey, s_name
      FROM supplier
      WHERE s_suppkey IN (
          SELECT l_suppkey FROM lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE '%green%'
                                 OR p_name LIKE '%red%')
            AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY l_suppkey, l_partkey
          HAVING sum(l_quantity) > 50)
        AND s_nationkey IN (SELECT n_nationkey FROM nation
                            WHERE n_regionkey = 2)
      ORDER BY s_suppkey""")
  )

  /** Q21: suppliers who kept orders waiting — semi + anti self-joins.
    * (reference: dbcon/doc/tpch21.sql) */
  val q21: QueryDef = QueryDef(
    "q21_suppliers_waiting",
    (s, dir) => {
      val sup = t(s, dir, "supplier")
      val nation = t(s, dir, "nation").filter(col("n_nationkey") < 5)
      val ord = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
      val l1 = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      // r15: the EXISTS/NOT-EXISTS self-joins collapse to ONE per-order
      // min/max aggregate (the classic q21 rewrite). For each l1 probe
      // row (itself a line, and an R line, of its order):
      //   EXISTS other-supplier line          ⟺ min/max suppkey over the
      //     order's lines isn't pinned to this row's suppkey;
      //   NOT EXISTS other-supplier R line    ⟺ min/max suppkey over the
      //     order's R lines both equal it (the probe row guarantees the
      //     R aggregate is non-empty, so the equality is never vacuous).
      // The old shape broadcast-BUILT two lineitem-wide hash relations
      // (the full 600k-row l2 and the R-filtered l3) for the semi/anti
      // probes; the aggregate collapses map-side to one row per order
      // (5 longs), so one small build replaces both fact-table builds —
      // and at 100 TB the same aggregate is a single orderkey shuffle
      // instead of two full-lineitem semi/anti shuffles.
      val perOrder = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("po_orderkey"))
        .agg(min(col("l_suppkey")).as("supp_min"),
          max(col("l_suppkey")).as("supp_max"),
          min(when(col("l_returnflag") === "R", col("l_suppkey")))
            .as("supp_r_min"),
          max(when(col("l_returnflag") === "R", col("l_suppkey")))
            .as("supp_r_max"))
      l1
        // supplier⋈nation is small after the nation filter — broadcast
        // it FIRST so l1 shrinks to the target nations' lines before
        // anything else probes; the ord filter keys project to a single
        // long per surviving order.
        .join(broadcast(sup
            .join(broadcast(nation),
              col("s_nationkey") === col("n_nationkey"))
            .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .join(perOrder, col("l_orderkey") === col("po_orderkey"))
        .filter((col("supp_min") =!= col("l_suppkey") ||
            col("supp_max") =!= col("l_suppkey")) &&
          col("supp_r_min") === col("l_suppkey") &&
          col("supp_r_max") === col("l_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    },
    oracle = Some("""
      SELECT s_name, count(*) AS numwait
      FROM lineitem l1, supplier, nation, orders
      WHERE l1.l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_nationkey < 5
        AND l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
        AND l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 100""")
  )

  /** Q22: global sales opportunity — scalar subquery + NOT EXISTS anti join.
    * (reference: dbcon/doc/tpch22.sql) */
  val q22: QueryDef = QueryDef(
    "q22_global_sales",
    (s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders").select(col("o_custkey"))
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg(avg(col("c_acctbal")).as("avg_bal"))
      cust
        .filter(col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13))
        .crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"), sum(col("c_acctbal")).as("totacctbal"))
        .orderBy(col("c_nationkey"))
    },
    oracle = Some("""
      SELECT c_nationkey, count(*) AS numcust, sum(c_acctbal) AS totacctbal
      FROM customer
      WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
        AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                         WHERE c_acctbal > 0.00)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_nationkey
      ORDER BY c_nationkey""")
  )

  // ---- faithful partsupp shapes --------------------------------------
  //
  // The testdata ships no partsupp table, so q02/q09/q11/q20 above run
  // ADAPTED shapes (noted in README). These four *_partsupp_* variants
  // run the REAL TPC-H query shapes against a DETERMINISTIC derived
  // partsupp: one row per distinct (l_partkey, l_suppkey) pair — the
  // TPC-H invariant that every lineitem pair exists in partsupp — with
  // availqty/supplycost synthesized by integer formulas, so both engines
  // derive the identical table from the identical SQL text and the
  // oracle checks the genuine shape (min-cost correlated subquery,
  // supplycost profit, stock-value HAVING fraction, excess-stock
  // double-nested IN).
  private val partsuppCte = """partsupp AS (
        SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               (l_partkey * 7 + l_suppkey * 3) % 1000 + 1 AS ps_availqty,
               CAST((l_partkey * 31 + l_suppkey * 17) % 10000 AS DOUBLE)
                 / 100 AS ps_supplycost
        FROM lineitem)"""

  private def sameSql(name: String, q: String): QueryDef =
    QueryDef(name,
      (s, dir) => { Tables.registerAll(s, dir); s.sql(q) },
      oracle = Some(q))

  /** Q2 faithful: min-supplycost supplier per part via the correlated
    * partsupp subquery (reference: dbcon/doc/tpch02.sql). */
  val q02ps: QueryDef = sameSql("q02_partsupp_min_cost", s"""
      WITH $partsuppCte
      SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
      FROM part, supplier, partsupp, nation, region
      WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
        AND p_size = 15 AND p_type = 'LARGE'
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'EUROPE'
        AND ps_supplycost = (
          SELECT min(ps2.ps_supplycost)
          FROM partsupp ps2, supplier s2, nation n2, region r2
          WHERE part.p_partkey = ps2.ps_partkey
            AND s2.s_suppkey = ps2.ps_suppkey
            AND s2.s_nationkey = n2.n_nationkey
            AND n2.n_regionkey = r2.r_regionkey
            AND r2.r_name = 'EUROPE')
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      LIMIT 100""")

  /** Q9 faithful: product profit with the partsupp supplycost term
    * (reference: dbcon/doc/tpch09.sql). */
  val q09ps: QueryDef = sameSql("q09_partsupp_profit", s"""
      WITH $partsuppCte
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 - ps_supplycost * l_quantity AS DECIMAL(18,4)))
               AS DOUBLE) AS sum_profit
      FROM part, supplier, lineitem, partsupp, orders, nation
      WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
        AND ps_partkey = l_partkey AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%re%'
      GROUP BY n_name, CAST(year(o_orderdate) AS INTEGER)
      ORDER BY nation, o_year DESC""")

  /** Q11 faithful: stock value per part vs a global-fraction scalar
    * subquery over partsupp (reference: dbcon/doc/tpch11.sql). */
  val q11ps: QueryDef = sameSql("q11_partsupp_stock_value", s"""
      WITH $partsuppCte
      SELECT ps_partkey,
             CAST(sum(CAST(ps_supplycost * ps_availqty AS DECIMAL(18,4)))
               AS DOUBLE) AS value
      FROM partsupp, supplier, nation
      WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_7'
      GROUP BY ps_partkey
      HAVING sum(CAST(ps_supplycost * ps_availqty AS DECIMAL(18,4))) > (
        SELECT sum(CAST(ps_supplycost * ps_availqty AS DECIMAL(18,4)))
                 * 0.001
        FROM partsupp, supplier, nation
        WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_name = 'NATION_7')
      ORDER BY value DESC, ps_partkey""")

  /** Q20 faithful: excess-stock suppliers via the double-nested IN with
    * the correlated half-of-shipped-quantity bound
    * (reference: dbcon/doc/tpch20.sql). */
  val q20ps: QueryDef = sameSql("q20_partsupp_excess", s"""
      WITH $partsuppCte
      SELECT s_name, s_acctbal
      FROM supplier, nation
      WHERE s_suppkey IN (
          SELECT ps_suppkey FROM partsupp
          WHERE ps_partkey IN (SELECT p_partkey FROM part
                               WHERE p_name LIKE 'red%')
            AND ps_availqty > (
              SELECT 0.5 * sum(l_quantity) FROM lineitem
              WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'))
        AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
      ORDER BY s_name""")

  def defs: Seq[QueryDef] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q13, q14,
    q15, q16, q17, q18, q19, q20, q21, q22, q02ps, q09ps, q11ps, q20ps)
}
