package graft

import graft.cube.{Cube, CubeMeta, Dim, GridRef}
import graft.ops._
import graft.text.{Classifier, Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SparkEntry._

/** Relational tier of the driver-contract query surface (r14 hygiene split of
  * SparkEntry's single 10.7k-line file; zero behavior change). Each tier
  * object contributes a `q` (queries) and `sql` (DuckDB oracle) map;
  * `SparkEntry.queries`/`SparkEntry.oracleSql` concatenate the tiers.
  * Shared helpers stay on SparkEntry as `private[graft]`. */
private[graft] object QueriesRelational {

  def q: Map[String, Q] = Map(
    "q_join_bcast" -> ((s, dir) => {
      // broadcast dim join: orders ⋈ customer ⋈ nation
      val o = s.read.parquet(s"$dir/orders.parquet")
      val cst = s.read.parquet(s"$dir/customer.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      o.join(dimHint(cst), o("o_custkey") === cst("c_custkey"))
        .join(dimHint(n), cst("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum(col("o_totalprice")).as("total"), count(lit(1)).as("n_orders"))
    }),
    "q_tpch_q1" -> ((s, dir) => {
      // TPC-H Q1, the scan-heavy single-table pricing summary: ONE
      // parquet scan with the shipdate filter pushed to row groups, one
      // partial+final hash aggregate on a 6-value group key (map-side
      // combine reduces each task to 6 rows before the only exchange) —
      // the 100 TB bread-and-butter plan, pinned in PlanQualitySpec.
      // Money sums run in decimal: products of 2-decimal inputs are
      // exact at scale 4/6, and at gate scale the scaled sums stay
      // below 2^53 so the final decimal→double cast is exact in both
      // engines (same envelope as q_tpch_q3's drevenue).
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      def d12(c: String) = col(c).cast("decimal(12,2)")
      def d4(c: String) = col(c).cast("decimal(4,2)")
      val one = lit(1).cast("decimal(4,2)")
      l.groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(d12("l_extendedprice") * (one - d4("l_discount")))
            .cast("double").as("sum_disc_price"),
          sum(d12("l_extendedprice") * (one - d4("l_discount")) *
              (one + d4("l_tax")))
            .cast("double").as("sum_charge"),
          dmean(col("l_quantity")).as("avg_qty"),
          dmean(col("l_extendedprice")).as("avg_price"),
          dmean(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),
    "q_tpch_q6" -> ((s, dir) => {
      // TPC-H Q6, the forecasting-revenue filter: every predicate
      // (shipdate range, discount band, quantity cap) reaches the scan
      // as a pushed filter, then a single global decimal sum — partial
      // aggregation makes the exchange carry ONE row per task
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
      l.agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          col("l_discount").cast("decimal(4,2)"))
        .cast("double").as("revenue"))
    }),
    "q_tpch_q4" -> ((s, dir) => {
      // TPC-H Q4 shape: EXISTS decorrelates to a LEFT SEMI join (each
      // order emitted at most once however many lineitems match — no
      // row inflation, no distinct pass), with the correlated
      // l_shipdate > o_orderdate predicate riding the join condition.
      // Plan pin: LeftSemi + both date filters pushed to the scans.
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    }),
    "q_tpch_q18" -> ((s, dir) => {
      // TPC-H Q18 shape (large-volume orders): the HAVING subquery is a
      // pre-aggregated key table SEMI-joined back — the aggregate runs
      // once, map-side combined, and the probe side never inflates.
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      val big = l.groupBy("l_orderkey")
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .where(col("sum_qty") > 150)
      val o = s.read.parquet(s"$dir/orders.parquet")
      o.join(big.select("l_orderkey"),
          o("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    }),
    "q_tpch_q22" -> ((s, dir) => {
      // TPC-H Q22 shape (global sales opportunity): NOT EXISTS
      // decorrelates to a LEFT ANTI join — positive-balance customers
      // with no RECENT orders (the date predicate keeps the anti-join
      // non-trivial at every SF), rolled up per segment with exact
      // decimal balance sums. Plan pin: LeftAnti, never a NOT IN
      // cartesian; the date filter pushes to the orders scan.
      val cst = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_acctbal") > 0)
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      cst.join(o, cst("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
    }),
    "q_tpch_q7" -> ((s, dir) => {
      // TPC-H Q7 (volume shipping): the 5-way join tree — lineitem ⋈
      // orders (big SMJ) ⋈ supplier/customer/nation×2 (broadcast dims),
      // the two-nation disjunction applied AFTER both nation names are
      // attached, yearly decimal revenue rollup. The date filter pushes
      // to the lineitem scan.
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate").between(
          lit("1996-01-01").cast("timestamp"),
          lit("1997-12-31").cast("timestamp")))
      val o = s.read.parquet(s"$dir/orders.parquet")
      val cst = s.read.parquet(s"$dir/customer.parquet")
      val sup = s.read.parquet(s"$dir/supplier.parquet")
      val n1 = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      l.join(dimHint(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(dimHint(cst), o("o_custkey") === cst("c_custkey"))
        .join(dimHint(n1), col("s_nationkey") === col("n1_key"))
        .join(dimHint(n2), col("c_nationkey") === col("n2_key"))
        .where((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(drevenue.as("revenue"))
    }),
    "q_tpch_q14" -> ((s, dir) => {
      // TPC-H Q14 (promotion effect): one-month lineitem slice joined to
      // the part dim (broadcast — plan-pinned), ONE conditional decimal
      // aggregate pair, one double division at the end. The month filter
      // reaches the scan; the ratio is computed from two exact decimal
      // sums cast once each, so both engines divide the same doubles.
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      val p = s.read.parquet(s"$dir/part.parquet")
      val disc = col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))
      l.join(dimHint(p), l("l_partkey") === p("p_partkey"))
        .agg((lit(100.0) *
          sum(when(col("p_type") === "PROMO", disc)
            .otherwise(lit(0).cast("decimal(17,4)"))).cast("double") /
          sum(disc).cast("double")).as("promo_revenue"))
    }),
    "q_tpch_q19" -> ((s, dir) => {
      // TPC-H Q19 (discounted revenue, the OR-of-brackets shape): Spark
      // must still extract the p_partkey = l_partkey equi-key from the
      // disjunction — an equi hash join with the OR as residual, never a
      // cartesian (plan-pinned)
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      val p = s.read.parquet(s"$dir/part.parquet")
      val brackets =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30))
      l.join(dimHint(p), l("l_partkey") === p("p_partkey") && brackets)
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(4,2)") -
              col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("revenue"))
    }),
    "q_tpch_q17" -> ((s, dir) => {
      // TPC-H Q17 shape (small-quantity-order revenue): the correlated
      // scalar-aggregate subquery (per-part average quantity) decorrelates
      // to ONE aggregate joined back. Spark-first ordering: the brand
      // filter semi-restricts lineitem FIRST (broadcast of the tiny
      // brand-filtered part dim), so the per-part aggregate only touches
      // qualifying parts' rows — at 100 TB the aggregate input shrinks by
      // the brand selectivity (~1/25) before any shuffle. Exact decimal
      // sums; the 0.2× threshold and final /7.0 are single IEEE ops on
      // identical doubles in both engines.
      val p = s.read.parquet(s"$dir/part.parquet")
        .where(col("p_brand") === "Brand#23").select("p_partkey")
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .join(dimHint(p), col("l_partkey") === col("p_partkey"))
      val avgs = l.groupBy(col("l_partkey").as("a_partkey"))
        .agg((lit(0.2) * dmean(col("l_quantity"))).as("qty_thresh"))
      l.join(avgs, col("l_partkey") === col("a_partkey"))
        .where(col("l_quantity") < col("qty_thresh"))
        .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
    }),
    "q_tpch_q20" -> ((s, dir) => {
      // TPC-H Q20 CANONICAL (r9): excess-stock suppliers — PARTSUPP
      // slots ([[partsuppDf]]) for name-filtered parts whose
      // ps_availqty exceeds half that (part, supplier)'s shipped volume
      // in the window. Decorrelation: ONE aggregate over the
      // window-filtered lineitem joined back on BOTH keys — never a
      // correlated re-scan per slot — then IN ≡ LeftSemi into the
      // supplier dim, nation filter broadcast.
      val pw = s.read.parquet(s"$dir/part.parquet")
        .where(col("p_name").startsWith("red"))
        .select("p_partkey")
      val shipped = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy("l_partkey", "l_suppkey")
        .agg((lit(0.5) * dsum(col("l_quantity"))).as("half_qty"))
      val qualifying = partsuppDf(s, dir)
        .join(dimHint(pw), col("ps_partkey") === col("p_partkey"),
          "left_semi")
        .join(shipped, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .where(col("ps_availqty").cast("double") > col("half_qty"))
        .select("ps_suppkey")
      val n = s.read.parquet(s"$dir/nation.parquet")
        .where(col("n_name").isin("NATION_1", "NATION_2"))
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .join(dimHint(n), col("s_nationkey") === col("n_nationkey"),
          "left_semi")
      sup.join(qualifying, col("s_suppkey") === col("ps_suppkey"),
          "left_semi")
        .select("s_suppkey", "s_name")
    }),
    "q_tpch_q21" -> ((s, dir) => {
      // TPC-H Q21 CANONICAL (r9): "late" is l_receiptdate >
      // l_commitdate over the derived date columns ([[lineitemX]]).
      // The HARDEST subquery pattern — EXISTS plus NOT EXISTS over the
      // SAME self-joined lineitem. Both decorrelate to one pass each:
      // EXISTS (another supplier on the order) → LeftSemi with the
      // suppkey inequality riding the join condition; NOT EXISTS (no
      // OTHER supplier was late) → LeftAnti against the late-filtered
      // side. Never a per-row re-scan, never a cartesian (plan-pinned).
      val late = col("l_receiptdate") > col("l_commitdate")
      val l1 = lineitemX(s, dir).where(late)
        .select("l_orderkey", "l_suppkey")
      val l2 = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey").as("l2_orderkey"),
          col("l_suppkey").as("l2_suppkey"))
      val l3 = lineitemX(s, dir).where(late)
        .select(col("l_orderkey").as("l3_orderkey"),
          col("l_suppkey").as("l3_suppkey"))
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderstatus") === "F").select("o_orderkey")
      val n = s.read.parquet(s"$dir/nation.parquet")
        .where(col("n_name") === "NATION_3")
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .join(dimHint(n), col("s_nationkey") === col("n_nationkey"),
          "left_semi")
      l1.join(o, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .join(l2, col("l_orderkey") === col("l2_orderkey") &&
          col("l_suppkey") =!= col("l2_suppkey"), "left_semi")
        .join(l3, col("l_orderkey") === col("l3_orderkey") &&
          col("l_suppkey") =!= col("l3_suppkey"), "left_anti")
        .join(dimHint(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),
    "q_tpch_q2" -> ((s, dir) => {
      // TPC-H Q2 CANONICAL (r9): minimum-cost EUROPE supplier per
      // filtered part over PARTSUPP's ps_supplycost ([[partsuppDf]] —
      // the derived fixture). The correlated MIN subquery decorrelates
      // to a per-part WINDOW min over the partsupp⋈dims slice — one
      // pass; the window re-shuffles only the partsupp-sized set, never
      // the dims, and the region→nation→supplier chain broadcasts.
      // Costs are exact decimals, so the min equality is
      // engine-portable.
      val r = s.read.parquet(s"$dir/region.parquet")
        .where(col("r_name") === "EUROPE")
      val n = s.read.parquet(s"$dir/nation.parquet")
        .join(dimHint(r), col("n_regionkey") === col("r_regionkey"))
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .join(dimHint(n), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val p = s.read.parquet(s"$dir/part.parquet")
        .where(col("p_size") <= 15 && col("p_type") === "LARGE")
        .select("p_partkey", "p_name")
      val ssp = partsuppDf(s, dir)
        .join(dimHint(p), col("ps_partkey") === col("p_partkey"))
        .join(dimHint(sup), col("ps_suppkey") === col("s_suppkey"))
      val byPart = org.apache.spark.sql.expressions.Window
        .partitionBy("p_partkey")
      ssp.withColumn("min_cost", min(col("ps_supplycost")).over(byPart))
        .where(col("ps_supplycost") === col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),
    "q_tpch_q8" -> ((s, dir) => {
      // TPC-H Q8 shape (national market share): NATION_1's share of
      // AMERICA-market revenue for ECONOMY parts by order year. The
      // share is a CONDITIONAL exact-decimal sum over the same rows
      // divided by the total — numerator and denominator aggregate in
      // one pass, one IEEE division per year. Semi joins for the pure
      // filters (part type, customer region) so no payload columns ride
      // the big join; the supplier nation (the CASE input) broadcasts.
      val r = s.read.parquet(s"$dir/region.parquet")
        .where(col("r_name") === "AMERICA")
      val amNation = s.read.parquet(s"$dir/nation.parquet")
        .join(dimHint(r), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey")
      val amCust = s.read.parquet(s"$dir/customer.parquet")
        .join(dimHint(amNation), col("c_nationkey") === col("n_nationkey"),
          "left_semi")
        .select("c_custkey")
      val supN = s.read.parquet(s"$dir/supplier.parquet")
        .join(dimHint(s.read.parquet(s"$dir/nation.parquet")
            .select(col("n_nationkey").as("sn_nationkey"),
              col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_nationkey"))
        .select("s_suppkey", "supp_nation")
      val p = s.read.parquet(s"$dir/part.parquet")
        .where(col("p_type") === "ECONOMY").select("p_partkey")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val volDec = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
      s.read.parquet(s"$dir/lineitem.parquet")
        .join(dimHint(p), col("l_partkey") === col("p_partkey"), "left_semi")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(dimHint(amCust), col("o_custkey") === col("c_custkey"),
          "left_semi")
        .join(dimHint(supN), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_1", volDec)
            .otherwise(lit(0).cast("decimal(18,2)"))).cast("double") /
          sum(volDec).cast("double")).as("mkt_share"))
    }),
    "q_tpch_q9" -> ((s, dir) => {
      // TPC-H Q9 CANONICAL (r9): profit = revenue − ps_supplycost ×
      // l_quantity with the cost from PARTSUPP ([[partsuppDf]]) joined
      // on BOTH keys (l_partkey, l_suppkey) — the canonical double-key
      // join. Decimal precisions stay ≤ 20 so every product/sum is
      // exact; the final decimal→double cast is the single
      // deterministic step. Part filter semi-restricts lineitem, the
      // partsupp/supplier-nation dims broadcast; lineitem⋈orders is the
      // one big join.
      val p = s.read.parquet(s"$dir/part.parquet")
        .where(col("p_name").contains("widget"))
        .select("p_partkey")
      val ps = partsuppDf(s, dir)
        .select("ps_partkey", "ps_suppkey", "ps_supplycost")
      val supN = s.read.parquet(s"$dir/supplier.parquet")
        .join(dimHint(s.read.parquet(s"$dir/nation.parquet")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_orderdate")
      val amount = col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(3,2)") -
          col("l_discount").cast("decimal(3,2)")) -
        col("ps_supplycost") * col("l_quantity").cast("decimal(4,0)")
      s.read.parquet(s"$dir/lineitem.parquet")
        .join(dimHint(p), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .join(dimHint(ps), col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
        .join(dimHint(supN), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(amount).cast("double").as("sum_profit"))
    }),
    "q_tpch_q11" -> ((s, dir) => {
      // TPC-H Q11 CANONICAL (r9): part value = Σ ps_supplycost ×
      // ps_availqty over PARTSUPP ([[partsuppDf]]) through NATION_0's
      // suppliers vs 0.001 × the total — the HAVING-against-a-
      // global-scalar pattern. Products and sums stay exact decimal
      // (precision ≤ 27, no rounding); the total aggregates ONCE over
      // the same semi-filtered set and broadcasts as a 1-row cross
      // join — never a per-group re-scan; both comparands cast to
      // double at the end, the 0.001 factor one IEEE multiply.
      val n0 = s.read.parquet(s"$dir/nation.parquet")
        .where(col("n_name") === "NATION_0")
      val nsup = s.read.parquet(s"$dir/supplier.parquet")
        .join(dimHint(n0), col("s_nationkey") === col("n_nationkey"),
          "left_semi")
        .select("s_suppkey")
      val nps = partsuppDf(s, dir)
        .join(dimHint(nsup), col("ps_suppkey") === col("s_suppkey"),
          "left_semi")
      def psValue: Column = sum(col("ps_supplycost") *
        col("ps_availqty").cast("decimal(10,0)")).cast("double")
      val vals = nps.groupBy("ps_partkey").agg(psValue.as("part_value"))
      val total = nps.agg(psValue.as("total_value"))
      vals.crossJoin(broadcast(total))
        .where(col("part_value") > lit(0.001) * col("total_value"))
        .select("ps_partkey", "part_value")
    }),
    "q_tpch_q12" -> ((s, dir) => {
      // TPC-H Q12 CANONICAL (r9): groups by l_shipmode with the full
      // late-delivery predicate chain (commit < receipt, ship < commit,
      // receipt in year) over the derived date/mode columns
      // ([[lineitemX]] — the fixture ships none, so both engines derive
      // identical ones). One big join + paired conditional counts (the
      // CASE pair aggregates in one pass, map-side combined); every
      // filter is on the lineitem side and pushes below the join.
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_orderpriority")
      val l = lineitemX(s, dir)
        .where(col("l_shipmode").isin("MAIL", "SHIP") &&
          col("l_commitdate") < col("l_receiptdate") &&
          col("l_shipdate") < col("l_commitdate") &&
          col("l_receiptdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_receiptdate") < lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_shipmode")
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_shipmode")
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
    }),
    "q_tpch_q13" -> ((s, dir) => {
      // TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
      // join (customers with zero orders must survive with count 0 —
      // the ON-condition filter stays on the orders side, never WHERE)
      // + two stacked aggregates. count(o_orderkey) ignores the
      // null-padded rows exactly like SQL COUNT(col).
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .select("o_orderkey", "o_custkey")
      val counts = s.read.parquet(s"$dir/customer.parquet")
        .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
      counts.groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),
    "q_tpch_q15" -> ((s, dir) => {
      // TPC-H Q15 shape (top supplier): the revenue "view" aggregates
      // once; the global MAX reduces it to one broadcast row joined
      // back by double equality (identical exact-decimal operands both
      // sides). Ties all surface, per the spec.
      val rev = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(drevenue.as("total_revenue"))
      val maxr = rev.agg(max(col("total_revenue")).as("max_revenue"))
      rev.join(broadcast(maxr),
          col("total_revenue") === col("max_revenue"))
        .join(dimHint(s.read.parquet(s"$dir/supplier.parquet")),
          col("supplier_no") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    }),
    "q_tpch_q16" -> ((s, dir) => {
      // TPC-H Q16 CANONICAL (r9): supplier count per part attribute
      // triple from PARTSUPP ([[partsuppDf]] — the derived fixture),
      // not lineitem. NOT IN ≡ LEFT ANTI against the tiny
      // excluded-supplier set (broadcast — never the NOT-IN cartesian
      // cliff; the exclusion stays s_acctbal < 0, the fixture has no
      // s_comment), then COUNT DISTINCT per triple (Catalyst's
      // two-phase distinct aggregate).
      val excl = s.read.parquet(s"$dir/supplier.parquet")
        .where(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("x_suppkey"))
      val p = s.read.parquet(s"$dir/part.parquet")
        .where(col("p_brand") =!= "Brand#45" &&
          col("p_type") =!= "STANDARD" && col("p_size").isin(1, 4, 7))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      partsuppDf(s, dir)
        .join(dimHint(excl), col("ps_suppkey") === col("x_suppkey"),
          "left_anti")
        .join(dimHint(p), col("ps_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),
    "q_tpch_q3" -> ((s, dir) => {
      // classic shipping-priority shape: two big-side SMJs + one
      // broadcast dim, selective pushed filters on all three scans,
      // deterministic top-10 as TakeOrderedAndProject (revenue DESC,
      // orderkey tie-break) — never a global sort
      val c = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_mktsegment") === "BUILDING")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(dimHint(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(drevenue.as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
    "q_tpch_q5" -> ((s, dir) => {
      // local-supplier-volume shape: the full 6-table join tree —
      // lineitem ⋈ orders ⋈ customer ⋈ supplier (incl. the
      // c_nationkey = s_nationkey locality condition) with the
      // region→nation dim chain broadcast
      val r = s.read.parquet(s"$dir/region.parquet")
        .where(col("r_name") === "ASIA")
      val n = s.read.parquet(s"$dir/nation.parquet")
        .join(dimHint(r), col("n_regionkey") === col("r_regionkey"))
      val c = s.read.parquet(s"$dir/customer.parquet")
      val sup = s.read.parquet(s"$dir/supplier.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(dimHint(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(drevenue.as("revenue"), count(lit(1)).as("n_items"))
    }),
    "q_bucketed_join" -> ((s, dir) => {
      // co-located bucketed join: both sides written bucketBy(user_id)
      // once, every subsequent join on the key elides BOTH exchanges
      // (plan-pinned in PlanQualitySpec). Result == the plain join,
      // which IS the oracle.
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val ev = readEvents(s, dir)
      graft.ops.Bucketed.writeBucketed(
        ev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("value")),
        s"graft_bkt_purchases_$slug", Seq("user_id"), 8)
      graft.ops.Bucketed.writeBucketed(
        ev.where(col("event_type") === "view")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_views")),
        s"graft_bkt_views_$slug", Seq("user_id"), 8)
      graft.ops.Bucketed.bucketedJoin(s,
          s"graft_bkt_purchases_$slug", s"graft_bkt_views_$slug",
          Seq("user_id"))
        .select("event_id", "user_id", "value", "n_views")
    }),
  )

  def sql: Map[String, String] = Map(
    "q_join_bcast" ->
      s"""SELECT n_name, ${dsumSql("o_totalprice")} AS total, COUNT(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1""",
    "q_tpch_q1" -> s"""
         SELECT l_returnflag, l_linestatus,
           ${dsumSql("l_quantity")} AS sum_qty,
           ${dsumSql("l_extendedprice")} AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
             AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) *
             (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2))))
             AS DOUBLE) AS sum_charge,
           ${dmeanSql("l_quantity")} AS avg_qty,
           ${dmeanSql("l_extendedprice")} AS avg_price,
           ${dmeanSql("l_discount")} AS avg_disc,
           COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY 1, 2""",
    "q_tpch_q6" -> """
         SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
             CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""",
    "q_tpch_q4" -> """
         SELECT o_orderpriority, COUNT(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1997-07-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate)
         GROUP BY 1""",
    "q_tpch_q18" -> s"""
         SELECT o_orderkey, o_orderdate, o_totalprice
         FROM orders
         WHERE o_orderkey IN (
           SELECT l_orderkey FROM lineitem
           GROUP BY 1 HAVING ${dsumSql("l_quantity")} > 150)""",
    "q_tpch_q22" -> s"""
         SELECT c_mktsegment, COUNT(*) AS n_cust,
                ${dsumSql("c_acctbal")} AS total_bal
         FROM customer
         WHERE c_acctbal > 0
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '2000-01-01')
         GROUP BY 1""",
    "q_tpch_q7" -> s"""
         SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
                $drevenueSql AS revenue
         FROM supplier, lineitem, orders, customer, nation n1, nation n2
         WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
           AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
           AND c_nationkey = n2.n_nationkey
           AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
           AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                              AND TIMESTAMP '1997-12-31'
         GROUP BY 1, 2, 3""",
    "q_tpch_q14" -> """
         SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
                  (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
             ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                  (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
             AS DOUBLE) AS promo_revenue
         FROM lineitem, part
         WHERE l_partkey = p_partkey
           AND l_shipdate >= TIMESTAMP '1997-09-01'
           AND l_shipdate < TIMESTAMP '1997-10-01'""",
    "q_tpch_q19" -> """
         SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
             AS DOUBLE) AS revenue
         FROM lineitem, part
         WHERE p_partkey = l_partkey AND (
           (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
             AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
             AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 20 AND 30))""",
    "q_tpch_q17" -> s"""
         SELECT ${dsumSql("l_extendedprice")} / 7.0 AS avg_yearly
         FROM lineitem, part
         WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
           AND l_quantity < (
             SELECT 0.2 * (${dsumSql("l2.l_quantity")} / COUNT(l2.l_quantity))
             FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""",
    "q_tpch_q20" -> s"""
         WITH $partsuppSql
         SELECT s_suppkey, s_name
         FROM supplier
         WHERE s_suppkey IN (
             SELECT ps_suppkey FROM partsupp
             WHERE ps_partkey IN (SELECT p_partkey FROM part
                                  WHERE p_name LIKE 'red%')
               AND CAST(ps_availqty AS DOUBLE) > (
                 SELECT 0.5 * ${dsumSql("l_quantity")}
                 FROM lineitem
                 WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                   AND l_shipdate >= TIMESTAMP '1997-01-01'
                   AND l_shipdate < TIMESTAMP '1998-01-01'))
           AND s_nationkey IN (SELECT n_nationkey FROM nation
                               WHERE n_name IN ('NATION_1', 'NATION_2'))""",
    "q_tpch_q21" -> s"""
         WITH $lineitemXSql
         SELECT s_name, COUNT(*) AS numwait
         FROM supplier, lx l1, orders, nation
         WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
           AND o_orderstatus = 'F'
           AND l1.l_receiptdate > l1.l_commitdate
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lx l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_receiptdate > l3.l_commitdate)
           AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
         GROUP BY s_name
         ORDER BY numwait DESC, s_name LIMIT 100""",
    "q_tpch_q2" -> s"""
         WITH $partsuppSql,
         ssp AS (
           SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
                  s.s_acctbal, n.n_name, ps.ps_supplycost
           FROM partsupp ps JOIN part p ON ps.ps_partkey = p.p_partkey
           JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           WHERE p.p_size <= 15 AND p.p_type = 'LARGE'
             AND r.r_name = 'EUROPE'),
         mn AS (SELECT p_partkey AS m_partkey, MIN(ps_supplycost)
                  AS min_cost
                FROM ssp GROUP BY 1)
         SELECT s_acctbal, s_name, n_name, p_partkey, p_name
         FROM ssp JOIN mn
           ON p_partkey = m_partkey AND ps_supplycost = min_cost
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""",
    "q_tpch_q8" -> """
         SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CASE WHEN sn.n_name = 'NATION_1'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (CAST(1 AS DECIMAL(18,2)) -
                       CAST(l_discount AS DECIMAL(18,2)))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1 AS DECIMAL(18,2)) -
                     CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS mkt_share
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         JOIN region r ON cn.n_regionkey = r.r_regionkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         WHERE r.r_name = 'AMERICA'
           AND o.o_orderdate >= TIMESTAMP '1995-01-01'
           AND o.o_orderdate < TIMESTAMP '1997-01-01'
           AND l.l_partkey IN (SELECT p_partkey FROM part
                               WHERE p_type = 'ECONOMY')
         GROUP BY 1""",
    "q_tpch_q9" -> s"""
         WITH $partsuppSql
         SELECT n_name AS nation,
                CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         (CAST(1 AS DECIMAL(3,2)) -
                          CAST(l_discount AS DECIMAL(3,2))) -
                         ps_supplycost *
                         CAST(l_quantity AS DECIMAL(4,0)))
                  AS DOUBLE) AS sum_profit
         FROM lineitem
         JOIN partsupp ON l_partkey = ps_partkey
                      AND l_suppkey = ps_suppkey
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         WHERE p_name LIKE '%widget%'
         GROUP BY 1, 2""",
    "q_tpch_q11" -> s"""
         WITH $partsuppSql,
         nps AS (SELECT * FROM partsupp
                 WHERE ps_suppkey IN (
                   SELECT s_suppkey FROM supplier JOIN nation
                     ON s_nationkey = n_nationkey
                   WHERE n_name = 'NATION_0'))
         SELECT ps_partkey,
           CAST(SUM(ps_supplycost * CAST(ps_availqty AS DECIMAL(10,0)))
             AS DOUBLE) AS part_value
         FROM nps GROUP BY 1
         HAVING CAST(SUM(ps_supplycost * CAST(ps_availqty
             AS DECIMAL(10,0))) AS DOUBLE) >
           CAST(0.001 AS DOUBLE) *
             (SELECT CAST(SUM(ps_supplycost * CAST(ps_availqty
                AS DECIMAL(10,0))) AS DOUBLE) FROM nps)""",
    "q_tpch_q12" -> s"""
         WITH $lineitemXSql
         SELECT l_shipmode,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM lx JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipmode IN ('MAIL', 'SHIP')
           AND l_commitdate < l_receiptdate
           AND l_shipdate < l_commitdate
           AND l_receiptdate >= TIMESTAMP '1997-01-01'
           AND l_receiptdate < TIMESTAMP '1998-01-01'
         GROUP BY 1""",
    "q_tpch_q13" -> """
         WITH c_orders AS (
           SELECT c_custkey, COUNT(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
             AND o_orderpriority <> '4-NOT SPECIFIED'
           GROUP BY 1)
         SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
         FROM c_orders GROUP BY 1
         ORDER BY custdist DESC, c_count DESC""",
    "q_tpch_q15" -> s"""
         WITH revenue AS (
           SELECT l_suppkey AS supplier_no, $drevenueSql AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1997-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_revenue
         FROM revenue JOIN supplier ON supplier_no = s_suppkey
         WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
         ORDER BY s_suppkey""",
    "q_tpch_q16" -> s"""
         WITH $partsuppSql
         SELECT p_brand, p_type, p_size,
                CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
         FROM partsupp JOIN part ON ps_partkey = p_partkey
         WHERE p_brand <> 'Brand#45' AND p_type <> 'STANDARD'
           AND p_size IN (1, 4, 7)
           AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                  WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "q_tpch_q3" -> s"""
         SELECT l_orderkey, o_orderdate, o_orderpriority,
                $drevenueSql AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q_tpch_q5" -> s"""
         SELECT n_name, $drevenueSql AS revenue,
                CAST(COUNT(*) AS BIGINT) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN customer ON o_custkey = c_custkey
                      AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY 1""",
    "q_bucketed_join" ->
      // bucketing is physical layout; semantics = the plain join
      """WITH nv AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_views
            FROM events WHERE event_type = 'view' GROUP BY 1)
         SELECT e.event_id, e.user_id, e.value, nv.n_views
         FROM events e JOIN nv USING (user_id)
         WHERE e.event_type = 'purchase'""",
  )
}
