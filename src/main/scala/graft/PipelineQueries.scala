package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Relational analytics over the TPC-H-ish tables plus the LLM-data-pipeline
  * operators (dedup / similarity / text analysis — BASELINE.json north star).
  * Monetary aggregates are scaled to integer cents before summing so both
  * engines sum exactly (no float-order nondeterminism).
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  /** extendedprice×(100−disc%) in "cent-percent" integer units. */
  private def revenueCents = round(col("l_extendedprice") * 100).cast("long") *
    (lit(100L) - round(col("l_discount") * 100).cast("long"))

  private val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)

  /** Sum that cannot silently wrap: the OPERAND is cast to decimal(38,0)
    * so the accumulation itself rides decimal (the oracle sums in
    * HUGEINT), then the exact total is cast back to the BIGINT output
    * type. A long-typed sum of ~1e9-per-row revenue values wraps at
    * ~1e10 rows/group in non-ANSI mode — reachable at 100 TB TPC-H. */
  private def sumExactLong(c: Column): Column = sum(c.cast(dec38)).cast("long")

  /** Run independent fixture phases concurrently (optimization-guide
    * §2.6: actions are only sequential because the driver calls them
    * sequentially). The multi-store lifecycle fixtures spend most of
    * their wall time in per-action driver overhead + tiny parquet
    * writes on INDEPENDENT store directories; overlapping the store
    * chains back-fills the executor idle time without changing any
    * store's content (each chain stays internally ordered, results are
    * per-directory deterministic). Rethrows the first failure. */
  private[graft] def inParallel(fs: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(fs.size)
    try {
      val done =
        new java.util.concurrent.ExecutorCompletionService[Unit](pool)
      val futs = fs.map { f =>
        done.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = f()
        })
      }
      // await in COMPLETION order, so the first failure anywhere stops
      // the siblings at once — in submission order a long first chain
      // would hide a later chain's failure until it finished. Surface
      // the ORIGINAL exception (bench/verify print getMessage; an
      // ExecutionException wrapper would blank it). On failure, STOP
      // the sibling chains before unwinding: a plain shutdown() lets
      // them keep running Spark jobs and writing their temp store dirs
      // while the caller (bench/verify) is already deleting those dirs
      // or timing the next query — failure-path races and timing
      // contamination. Cancel-with-interrupt plus a bounded drain keeps
      // the failure path quiet; chains are fixture-sized, so the drain
      // bound is generous, and timing out only degrades to the old
      // behavior (unwind with a straggler alive), logged by the await.
      futs.foreach { _ =>
        try done.take().get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            futs.foreach(_.cancel(true))
            pool.shutdownNow()
            pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
            throw e.getCause
        }
      }
    } finally pool.shutdown()
  }

  /** 60 9×7-pixel image specs for the perceptual-dedup fixture; every 10th
    * is its predecessor's image with the (0,0) red channel nudged +5 — the
    * planted near-duplicate (≤ 1 dHash bit apart). */
  private def imageDedupSpecs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).where(col("doc_id") < 60)
      .select(col("doc_id").as("asset_id"),
        when(col("doc_id") % 10 === 9, col("doc_id") - 1)
          .otherwise(col("doc_id")).as("seed"),
        lit(9).as("w"), lit(7).as("h"),
        when(col("doc_id") % 10 === 9, 5).otherwise(0).as("rplus"))

  // 57 windows × 32 samples; every 10th asset re-renders its predecessor's
  // seed with window 0's amplitude bumped — a planted audio near-dup
  private def audioDedupSpecs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).where(col("doc_id") < 60)
      .select(col("doc_id").as("asset_id"),
        when(col("doc_id") % 10 === 9, col("doc_id") - 1)
          .otherwise(col("doc_id")).as("seed"),
        lit(8000).as("rate"), lit(57 * 32).as("n"), lit(57).as("windows"),
        when(col("doc_id") % 10 === 9, 200).otherwise(0).as("aplus"))

  /** hits@k census shared by every ANN recall query: per query vector,
    * |approx ∩ exact| with zero-fill for queries the approximate path
    * missed entirely (mirrored by [[recallSql]] on the oracle side). */
  private def hitsAtK(q: DataFrame, approx: DataFrame,
                      exact: DataFrame): DataFrame =
    q.select(col("vec_id").as("qid"))
      .join(approx.select("qid", "nid").join(exact.select("qid", "nid"),
          Seq("qid", "nid")).groupBy("qid").agg(count(lit(1)).as("hits")),
        Seq("qid"), "left")
      .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"))
      .orderBy("qid")

  val queries: Map[String, Q] = Map(
    // TPC-H Q1-style pricing summary: group + multi-agg, integer-exact
    "q1_pricing" -> ((s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sumExactLong(round(col("l_extendedprice") * 100).cast("long")).as("sum_base_cents"),
          sumExactLong(revenueCents).as("sum_disc_centpct"),
          count(lit(1)).as("count_order"))),

    // TPC-H Q3-style: join + group + top-k (broadcast the small dims)
    "q3_top_orders" -> ((s, d) => {
      val cust = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      // reduce orders by the selective customer filter FIRST, then join the
      // big fact table once. No forced broadcast: the segment's customers
      // are ~1/5 of the table — SF-linear — so AQE picks the strategy
      ord.join(cust, col("o_custkey") === col("c_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey").as("orderkey"))
        .agg(sumExactLong(revenueCents).as("revenue_centpct"))
        .orderBy(col("revenue_centpct").desc, col("orderkey").asc)
        .limit(10)
    }),

    // TPC-H Q5-style: 4-way join, revenue per nation
    "q5_nation_revenue" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      val nat = Tables.nation(s, d)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        // customer is SF-linear: no forced broadcast (AQE decides); the
        // 25-row nation dim is the only pinned broadcast
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(sumExactLong(revenueCents).as("revenue_centpct"),
          count(lit(1)).as("n_lineitems"))
    }),

    // TPC-H Q7-style: cross-nation trade volume — the fact table joins
    // two dim chains (supplier→nation, orders→customer→nation). Supplier
    // and customer both scale with SF, so neither chain is force-broadcast:
    // only the constant 25-row nation dim carries a hint, and AQE sizes
    // the supplier/customer joins at runtime
    "q7_nation_trade" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val sup = Tables.supplier(s, d)
      val ord = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      val nat = Tables.nation(s, d)
      val supNat = sup.join(broadcast(nat),
        col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val custNat = cust.join(broadcast(nat),
        col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(supNat, col("l_suppkey") === col("s_suppkey"))
        .join(custNat, col("o_custkey") === col("c_custkey"))
        .where(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"))
        .agg(sumExactLong(revenueCents).as("revenue_centpct"),
          count(lit(1)).as("n_lineitems"))
    }),

    // TPC-H Q18-style: large-quantity orders — the HAVING aggregate
    // produces a SMALL key set that semi-joins back (broadcast) before
    // the detail join; the fact table is scanned twice but shuffled never
    "q18_large_orders" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
        .where(col("total_qty") > 300L)
      val ord = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      ord.join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
        // big is HAVING-bounded (qty>300 whales) — broadcast-safe; the
        // full customer table is SF-linear — no hint, AQE decides
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey").as("orderkey"),
          col("total_qty"),
          round(col("o_totalprice") * 100).cast("long").as("total_cents"))
    }),

    // TPC-H Q4-style: orders with at least one SLOW lineitem (shipped
    // > 90 days after the order date), counted by priority — a LEFT SEMI
    // join: the fact side reduces to order keys once, no duplicate
    // explosion from multi-lineitem matches, no distinct shuffle after
    "q4_slow_orders" -> ((s, d) => {
      val ord = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val slow = ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate").cast("timestamp").cast("long") >
          (col("o_orderdate").cast("timestamp").cast("long") + 90L * 86400L),
        "left_semi")
      slow.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          expr("bit_xor(o_orderkey)").as("order_xor"))
    }),

    // TPC-H Q10-style: revenue lost to returns, top-20 customers —
    // selective returnflag filter at the scan, broadcast customer dim,
    // deterministic TakeOrdered tiebreak
    "q10_returned_customers" -> ((s, d) => {
      val li = Tables.lineitem(s, d).where(col("l_returnflag") === "R")
      val ord = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        // customer is SF-linear: no forced broadcast (AQE decides)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(sumExactLong(revenueCents).as("revenue_centpct"))
        .orderBy(col("revenue_centpct").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // TPC-H Q2-style: cheapest supplier per part in a region. The
    // CORRELATED MIN-SUBQUERY (cost = MIN(cost) over the same part's
    // offers) is NOT executed per row: offers are pre-filtered to the
    // selected parts (broadcast dim semi), the per-part min is ONE
    // aggregate over that pruned set, and the equality joins back as a
    // broadcast hash join — the subquery decorrelation done by hand, so
    // it holds at any part cardinality. lineitem plays partsupp's role
    // (the synthetic schema has no partsupp): cost = extendedprice cents.
    "q2_min_cost_supplier" -> ((s, d) => {
      val selParts = Tables.part(s, d).where(col("p_size") === 15)
        .select(col("p_partkey"), col("p_name"))
      val supReg = Tables.supplier(s, d)
        .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, d).where(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"),
          round(col("s_acctbal") * 100).cast("long").as("acctbal_cents"))
      val offers = Tables.lineitem(s, d)
        // supReg (~1/5 of suppliers) and selParts (~1/50 of parts) are both
        // SF-linear: no forced broadcasts, AQE sizes these joins
        .join(supReg, col("l_suppkey") === col("s_suppkey"))
        .join(selParts, col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("p_name"), col("s_name"),
          col("n_name"), col("acctbal_cents"),
          round(col("l_extendedprice") * 100).cast("long").as("cost_cents"))
      val minCost = offers.groupBy(col("p_partkey").as("mk"))
        .agg(min(col("cost_cents")).as("min_cost_cents"))
      // minCost is part-scale (one row per selected part) — also SF-linear,
      // so the join-back is unhinted too
      offers.join(minCost,
          col("p_partkey") === col("mk") &&
            col("cost_cents") === col("min_cost_cents"))
        .select(col("p_partkey"), col("p_name"), col("s_name"),
          col("n_name"), col("acctbal_cents"), col("min_cost_cents"))
        .distinct()
    }),

    // TPC-H Q13-style: order-count distribution with the customers who
    // never ordered INCLUDED — the LEFT OUTER join (with the priority
    // exclusion INSIDE the join condition, so non-matching customers
    // still emit their null row) feeding two cascaded aggregations
    "q13_order_distribution" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val ord = Tables.orders(s, d)
      val perCust = cust.join(ord,
          col("c_custkey") === col("o_custkey") &&
            col("o_orderpriority") =!= "1-URGENT", "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),

    // TPC-H Q21-style: suppliers who kept finished orders waiting —
    // their lineitem shipped late (> 60 days after the order date) on a
    // MULTI-supplier order where NO other supplier was late. The two
    // correlated EXISTS / NOT EXISTS become one LEFT SEMI and one LEFT
    // ANTI hash join (equi on orderkey + the suppkey<> residual), never
    // a per-row subquery and never a distinct-rewrite
    "q21_waiting_supplier" -> ((s, d) => {
      val lateSecs = 60L * 86400L
      val ord = Tables.orders(s, d).where(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val withOrd = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val late = withOrd.where(
        col("l_shipdate").cast("timestamp").cast("long") >
          col("o_orderdate").cast("timestamp").cast("long") + lateSecs)
        .select(col("l_orderkey"), col("l_suppkey"))
      val l1 = late
      // EXISTS: another supplier contributed to the same order
      val multi = l1.join(
        li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2")),
        col("l_orderkey") === col("k2") && col("l_suppkey") =!= col("s2"),
        "left_semi")
      // NOT EXISTS: no OTHER supplier was late on that order
      val sole = multi.join(
        late.select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3")),
        col("l_orderkey") === col("k3") && col("l_suppkey") =!= col("s3"),
        "left_anti")
      // supplier is SF-linear: no forced broadcast (AQE decides)
      sole.join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"),
          expr("bit_xor(l_orderkey)").as("order_xor"))
    }),

    // TPC-H Q8-style: market share of one supplier nation within a
    // customer region, by order year — two nation dims joined twice
    // (broadcast), the share as an integer-exact ppm on decimal sums
    "q8_market_share" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val nat = Tables.nation(s, d)
      val custAsia = Tables.customer(s, d)
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, d).where(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val supNat = Tables.supplier(s, d)
        .join(nat.select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation")),
          col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("supp_nation"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        // customer-scale semi side: NOT force-broadcast — at real SF the
        // region's customers outgrow a broadcast; AQE picks the strategy
        .join(custAsia, col("o_custkey") === col("c_custkey"), "left_semi")
        // supplier scales with SF too: no forced broadcast on supNat
        .join(supNat, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          // cast the OPERAND to decimal so the accumulation itself rides
          // decimal — a long-typed sum wraps silently at ~1e8 rows/group
          // in non-ANSI mode while the oracle sums in HUGEINT
          sum(when(col("supp_nation") === "NATION_7", revenueCents)
            .otherwise(0L).cast(dec)).as("target"),
          sum(revenueCents.cast(dec)).as("total"),
          count(lit(1)).as("n_lineitems"))
        .select(col("o_year"),
          expr("CAST((target * 1000000) div total AS BIGINT)")
            .as("mkt_share_ppm"),
          col("total").cast("long").as("total_centpct"),
          col("n_lineitems"))
    }),

    // TPC-H Q9-style: profit by (supplier nation, order year) over a
    // part-name family — the synthetic schema has no partsupp, so
    // profit = revenue net of discount AND tax (centpctpct units)
    "q9_profit_by_nation" -> ((s, d) => {
      val profit = round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long")) *
        (lit(100L) - round(col("l_tax") * 100).cast("long"))
      val redParts = Tables.part(s, d)
        .where(col("p_name").contains("red")).select(col("p_partkey"))
      val supNat = Tables.supplier(s, d)
        .join(Tables.nation(s, d),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, d)
        // part-scale semi side: no forced broadcast (see q8)
        .join(redParts, col("l_partkey") === col("p_partkey"), "left_semi")
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        // supplier scales with SF too: no forced broadcast on supNat
        .join(supNat, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("supp_nation").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        // the per-row product is ~1e11: accumulate in decimal (a long sum
        // wraps at ~1e8 rows/group; the oracle sums in HUGEINT), then cast
        // the exact result back to the BIGINT output type
        .agg(sum(profit.cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("long").as("profit_centpctpct"), count(lit(1)).as("n"))
    }),

    // TPC-H Q11-style: value concentration with the scalar-subquery
    // HAVING (value > total/2000) as a 1-row broadcast, never a
    // per-group subquery (lineitem value stands in for partsupp)
    "q11_value_concentration" -> ((s, d) => {
      val suppN3 = Tables.supplier(s, d)
        .join(Tables.nation(s, d).where(col("n_name") === "NATION_3"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val perPart = Tables.lineitem(s, d)
        // suppN3 (~1/25 of suppliers) is SF-linear: semi gate, no hint
        .join(suppN3, col("l_suppkey") === col("s_suppkey"),
          "left_semi")
        .groupBy(col("l_partkey"))
        .agg(sumExactLong(round(col("l_extendedprice") * 100).cast("long"))
          .as("value_cents"))
      // the grand total and the ×2000 compare ride decimal — both wrap a
      // long at 100 TB (total ≈ parts × per-part value)
      val total = perPart.agg(sum(col("value_cents").cast(dec38))
        .as("total_cents"))
      perPart.crossJoin(broadcast(total))
        .where(col("value_cents").cast(dec38) * 2000L > col("total_cents"))
        .select(col("l_partkey"), col("value_cents"))
    }),

    // TPC-H Q12-style: high- vs low-priority line counts by linestatus
    // in a shipdate year (no shipmode column in the synthetic schema)
    "q12_priority_class" -> ((s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))),

    // TPC-H Q14-style: promo revenue share in one month — integer-exact
    // ppm on decimal sums (the long product would wrap at the x1e6)
    "q14_promo_revenue" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1996-09-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1996-10-01").cast("timestamp_ntz"))
        .join(Tables.part(s, d).select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          // decimal-operand sums: the accumulation must not ride a long
          // (silent wrap at scale; oracle sums in HUGEINT)
          sum(when(col("p_type") === "PROMO", revenueCents).otherwise(0L)
            .cast(dec)).as("promo"),
          sum(revenueCents.cast(dec)).as("total"),
          count(lit(1)).as("n"))
        .select(
          expr("CAST((promo * 1000000) div total AS BIGINT)")
            .as("promo_ppm"),
          col("total").cast("long").as("total_centpct"), col("n"))
    }),

    // TPC-H Q15-style: top supplier by quarter revenue — the scalar max
    // is a 1-row broadcast joined back on equality, not a re-sort
    "q15_top_supplier" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp_ntz"))
        .groupBy(col("l_suppkey"))
        .agg(sumExactLong(revenueCents).as("total_rev"))
      val maxRev = rev.agg(max(col("total_rev")).as("max_rev"))
      rev.join(broadcast(maxRev), col("total_rev") === col("max_rev"))
        // maxRev is ONE row (global agg) — broadcast-safe; supplier is
        // SF-linear — no hint, AQE decides
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev"))
    }),

    // TPC-H Q16-style: distinct supplier count per (brand, size) with
    // the complaint-supplier NOT IN as a broadcast ANTI join
    "q16_supplier_count" -> ((s, d) => {
      val complaints = Tables.supplier(s, d)
        .where(col("s_acctbal") < 0).select(col("s_suppkey"))
      Tables.lineitem(s, d)
        // the brand/type exclusion keeps MOST of part — no forced
        // broadcast of a table-scale side; AQE sizes the join
        .join(Tables.part(s, d)
          .where(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO")
          .select(col("p_partkey"), col("p_brand"), col("p_size")),
          col("l_partkey") === col("p_partkey"))
        // complaint suppliers are a fraction of an SF-linear table: no
        // forced broadcast on the anti side either
        .join(complaints,
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // TPC-H Q17-style: small-quantity revenue — the correlated
    // per-part AVG decorrelated into ONE aggregate, and the 0.2*avg
    // comparison cross-multiplied (qty*5*cnt < sum) so it stays
    // integer-exact on both engines
    "q17_small_quantity" -> ((s, d) => {
      val brandParts = Tables.part(s, d)
        .where(col("p_brand") === "Brand#5").select(col("p_partkey"))
      val liBrand = Tables.lineitem(s, d)
        // brandParts (~1/25 of parts) is SF-linear: no forced broadcast
        .join(brandParts, col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"),
          col("l_quantity").cast("long").as("qty"),
          round(col("l_extendedprice") * 100).cast("long").as("ext_cents"))
      val pq = liBrand.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("qty")).as("sq"), count(lit(1)).as("cq"))
      // pq has one row per brand part — SF-linear like its domain: no hint
      liBrand.join(pq, col("l_partkey") === col("pk"))
        .where(col("qty") * 5L * col("cq") < col("sq"))
        .agg(
          // decimal accumulation (long sum wraps at scale); div stays exact
          expr("CAST(COALESCE(SUM(CAST(ext_cents AS DECIMAL(38,0))), 0)" +
            " div 7 AS BIGINT)").as("avg_yearly_cents"),
          count(lit(1)).as("n_small"))
    }),

    // TPC-H Q19-style: three disjunctive brand/size/quantity predicate
    // groups — the OR stays a residual on ONE hash join (the equi key
    // keeps it out of nested-loop land)
    "q19_disjunctive" -> ((s, d) => {
      val qty = col("l_quantity")
      val hit =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
          qty >= 1 && qty <= 11) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
          qty >= 10 && qty <= 20) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          qty >= 20 && qty <= 30)
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .where(hit)
        .agg(count(lit(1)).as("n"), sumExactLong(revenueCents).as("revenue_centpct"))
    }),

    // TPC-H Q20-style: suppliers of a nation who shipped > 100 units of
    // some red part in 1996 (threshold sized to the synthetic data) — the nested EXISTS chain as aggregate →
    // semi-join → semi-join, no correlated re-execution
    "q20_part_supplier_chain" -> ((s, d) => {
      val redParts = Tables.part(s, d)
        .where(col("p_name").startsWith("red ")).select(col("p_partkey"))
      val shipped = Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz"))
        .join(redParts, col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("shipped_qty"))
        .where(col("shipped_qty") > 45L)
        .select(col("l_suppkey"))
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .where(col("n_name") === "NATION_2")),
          col("s_nationkey") === col("n_nationkey"))
        .join(shipped, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
    }),

    // TPC-H Q22-style: well-funded customers gone DORMANT (no orders in
    // the final data year; every synthetic customer has some order) — the
    // positive-balance average as a 1-row broadcast with the comparison
    // cross-multiplied (cents*cnt > sum: integer-exact, no double avg),
    // the no-orders check a broadcast-able ANTI join
    "q22_lost_customers" -> ((s, d) => {
      val pool = Tables.customer(s, d)
        .where(col("c_nationkey").isin(1, 3, 5, 7, 9))
        .select(col("c_custkey"), col("c_nationkey"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      val pos = pool.where(col("bal_cents") > 0)
        .agg(sum(col("bal_cents")).as("sum_pos"),
          count(lit(1)).as("cnt_pos"))
      pool.crossJoin(broadcast(pos))
        .where(col("bal_cents") * col("cnt_pos") > col("sum_pos"))
        .join(Tables.orders(s, d)
          .where(col("o_orderdate") >=
            lit("2001-01-01").cast("timestamp_ntz"))
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("bal_cents")).as("totacctbal_cents"))
    }),

    // TPC-H Q6-style: pure selective scan — every predicate pushes down
    "q6_selective_revenue" -> ((s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz") &&
          round(col("l_discount") * 100).cast("long").between(4, 8) &&
          col("l_quantity") < 24)
        .agg(count(lit(1)).as("n"),
          sumExactLong(round(col("l_extendedprice") * 100).cast("long") *
            round(col("l_discount") * 100).cast("long")).as("revenue_centpct"))),

    // ---- text analysis over `documents` ----

    // token counting (whitespace tokenizer)
    "text_tokens" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))),

    // tokenizer fertility per language — tokens/chars (and bytes/token),
    // the budgeting diagnostic that decides how a fixed token budget
    // divides across languages. Integer-exact ppm ratios; one scan, one
    // tiny per-lang aggregation
    "text_fertility" -> ((s, d) =>
      Tables.documents(s, d).select(col("lang"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("toks"),
          length(col("text")).cast("long").as("chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          sum(col("chars")).as("n_chars"),
          // accumulate in decimal(38,0) (sumExactLong discipline): a
          // BIGINT sum wraps once total tokens approach ~9e12 while
          // DuckDB's SUM(BIGINT)→HUGEINT stays exact
          expr("sum(cast(toks as decimal(38,0))) * 1000000 " +
              "div sum(cast(chars as decimal(38,0)))")
            .cast("long").as("tokens_per_char_ppm"))
        .orderBy("lang")),

    // BPE-style pre-tokenization (the GPT-2 regex family, lookahead-free
    // subset so Java regex and RE2 agree): contraction suffixes, space-
    // prefixed letter runs, digit runs, punctuation runs. n_bpe is what a
    // byte-pair tokenizer's pre-split yields — the unit training budgets
    // are planned in (whitespace counting under-counts punctuation-heavy
    // text); reported next to the whitespace count for calibration.
    "text_tokens_bpe" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws"),
        pipeline.TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))),

    // quality scoring: length / vocabulary-diversity signals
    "text_quality" -> ((s, d) => {
      val words = split(col("text"), " ")
      Tables.documents(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_text"),
        size(words).cast("long").as("n_words"),
        size(array_distinct(words)).cast("long").as("n_distinct_words"))
    }),

    // document fingerprinting (content hash over normalized text)
    "text_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), md5(lower(col("text"))).as("fingerprint"))),

    // exact dedup census: total vs content-distinct docs
    "dedup_exact" -> ((s, d) =>
      Tables.documents(s, d).agg(
        count(lit(1)).as("total_docs"),
        countDistinct(md5(col("text"))).as("distinct_docs"))),

    // exact-dup groups: fingerprints appearing more than once
    "dedup_exact_groups" -> ((s, d) =>
      pipeline.Dedup.exactGroups(Tables.documents(s, d), col("text"), col("doc_id"))
        .where(col("n_copies") > 1)
        .orderBy(col("fingerprint"))),

    // n-gram Jaccard near-dup pairs (trigram shingles, ≥ 60%)
    "dedup_jaccard_pairs" -> ((s, d) =>
      pipeline.Dedup.jaccardPairs(Tables.documents(s, d), "doc_id",
        col("text"), 3, 600000L).orderBy("ida", "idb")),

    // MinHash+LSH candidate pairs (32 perms, 8 bands) — engine-internal
    // hashing, rows-only check
    "dedup_minhash_lsh" -> ((s, d) =>
      pipeline.Dedup.minhashCandidates(Tables.documents(s, d), "doc_id",
        col("text")).where(col("est_jaccard_ppm") >= 500000)
        .orderBy("ida", "idb")),

    // hot-bucket guard: a hyper-duplicated doc (10 planted clones of doc 7
    // + the original = an 11-member bucket in EVERY band) is capped to the
    // 4 lowest ids per bucket, so the cluster emits C(4,2)=6 candidate
    // pairs instead of C(11,2)=55 — the bound that keeps a 100k-copy
    // boilerplate page from emitting 5e9 pairs at web-corpus scale
    "dedup_minhash_capped" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val clones = docs.where(col("doc_id") === 7)
        .crossJoin(s.range(10).select(col("id").as("__g")))
        .select((lit(100000L) + col("__g")).as("doc_id"), col("text"))
      val cand = pipeline.Dedup.minhashCandidates(
        docs.unionByName(clones), "doc_id", col("text"), maxBucket = 4)
        .where(col("est_jaccard_ppm") >= 500000)
      val isClone = (c: org.apache.spark.sql.Column) => c === 7L || c >= 100000L
      cand.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(isClone(col("ida")) && isClone(col("idb")), 1L)
          .otherwise(0L)).as("n_clone_pairs"),
        expr("bit_xor(CASE WHEN (ida = 7 OR ida >= 100000) " +
          "AND (idb = 7 OR idb >= 100000) THEN ida * 1000000 + idb " +
          "ELSE 0 END)").as("clone_pair_xor"))
    }),

    // production two-stage dedup: LSH candidate generation + EXACT jaccard
    // verify computed only on candidate pairs (never all-pairs)
    "dedup_minhash_verified" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cand = pipeline.Dedup.minhashCandidates(docs, "doc_id", col("text"))
        .where(col("est_jaccard_ppm") >= 500000)
      val sh = docs.select(col("doc_id"),
        pipeline.Dedup.shingles(col("text"), 3).as("sh"))
      cand
        .join(sh.select(col("doc_id").as("ida"), col("sh").as("sha")), Seq("ida"))
        .join(sh.select(col("doc_id").as("idb"), col("sh").as("shb")), Seq("idb"))
        .select(col("ida"), col("idb"),
          floor(lit(1000000.0) * size(array_intersect(col("sha"), col("shb"))) /
            size(array_union(col("sha"), col("shb")))).cast("long")
            .as("jaccard_ppm"))
        .where(col("jaccard_ppm") >= 600000)
        .orderBy("ida", "idb")
    }),

    // SimHash near-dup candidates (hamming ≤ 3 of 64) — rows-only check
    "dedup_simhash" -> ((s, d) =>
      pipeline.Dedup.simhashPairs(Tables.documents(s, d), "doc_id",
        col("text")).orderBy("ida", "idb")),

    // language-ID heuristic (stopword argmax)
    "text_langid" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        pipeline.TextAnalysis.langId(col("text")).as("pred_lang"))),

    // full quality-signal extraction
    "text_quality_full" -> ((s, d) =>
      pipeline.TextAnalysis.qualitySignals(
        Tables.documents(s, d).select(col("doc_id"), col("text")), col("text"))
        .drop("text")),

    // Gopher-style repetition signals (top word / top 2-gram share,
    // duplicate 3-gram share) — the published boilerplate/spam gate of
    // large-corpus curation, integer-ppm exact
    "text_repetition" -> ((s, d) =>
      pipeline.TextAnalysis.repetitionSignals(Tables.documents(s, d))
        .orderBy("doc_id")),

    // the corresponding drop/keep census — fixture thresholds tightened
    // below the synthetic corpus's signal range so every rule fires
    // (at the published defaults a clean corpus keeps everything and the
    // census would be a vacuous check)
    "corpus_repetition_census" -> ((s, d) =>
      pipeline.TextAnalysis.repetitionFilterCensus(Tables.documents(s, d),
        topWordPpm = 100000L, topBigramPpm = 40000L, dupTrigramPpm = 10000L)),

    // ---- similarity search over `embeddings` ----

    // exact cosine top-5 for the first 5 vectors (baseline path)
    "ann_bruteforce_top5" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      pipeline.Similarity.bruteForceTopK(
        emb.where(col("vec_id") < 5), emb, 5).orderBy("qid", "rank")
    }),

    // LSH-bucketed approximate top-5 — the scale path. The bucket hash is
    // integer-exact and SQL-mirrorable, so this carries a FULL oracle.
    "ann_lsh_top5" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      pipeline.Similarity.lshTopK(
        emb.where(col("vec_id") < 5), emb, 5, planes = 4, bands = 4)
        .orderBy("qid", "rank")
    }),

    // IVF coarse-quantized top-5: deterministic centroids + shuffle-free
    // cell assignment; the whole algorithm mirrors in SQL → full oracle.
    "ann_ivf_top5" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      pipeline.Similarity.ivfTopK(
        emb.where(col("vec_id") < 5), emb, 5, nlist = 16, nprobe = 4)
        .orderBy("qid", "rank")
    }),

    // incremental ANN index maintenance: the base corpus builds the IVF
    // index, a 20% delta batch is ADDED against the frozen quantizer
    // (O(delta) projection + per-cell append — existing postings never
    // move), and the search runs over the grown index. The oracle
    // computes the FULL-REBUILD formulation (whole corpus assigned
    // against the same base-seeded centroids), so the hash match IS the
    // incremental ≡ rebuild proof ([[pipeline.Similarity.ivfAddToIndex]]).
    "ann_ivf_incremental" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val base = emb.where(col("vec_id") % 5 =!= 4)
      val delta = emb.where(col("vec_id") % 5 === 4)
      val cents = pipeline.Similarity.centroids(base, 16)
      val index = pipeline.Similarity.ivfAddToIndex(
        pipeline.Similarity.ivfAssign(base, cents), delta, cents)
      pipeline.Similarity.ivfTopKIndexed(
        emb.where(col("vec_id") < 5), index, cents, 5, nprobe = 4)
        .orderBy("qid", "rank")
    }),

    // the index DELETE door: grow the index incrementally, tombstone
    // every 7th vector (hits base AND delta rows), search through the
    // tombstone filter. The oracle computes the FULL-REBUILD-ON-
    // SURVIVORS formulation under the same frozen quantizer, so the
    // hash match IS the delete ≡ rebuild proof
    // ([[pipeline.Similarity.ivfApplyTombstones]]).
    "ann_ivf_delete" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val base = emb.where(col("vec_id") % 5 =!= 4)
      val delta = emb.where(col("vec_id") % 5 === 4)
      val cents = pipeline.Similarity.centroids(base, 16)
      val grown = pipeline.Similarity.ivfAddToIndex(
        pipeline.Similarity.ivfAssign(base, cents), delta, cents)
      val tombs = emb.where(col("vec_id") % 7 === 0)
        .select(col("vec_id").as("nid"))
      pipeline.Similarity.ivfTopKIndexed(
        emb.where(col("vec_id") < 5),
        pipeline.Similarity.ivfApplyTombstones(grown, tombs),
        cents, 5, nprobe = 4)
        .orderBy("qid", "rank")
    }),

    // the IVF UPDATE door (generation-versioned, the persisted-store
    // path, [[pipeline.Similarity.ivfApplyGenTombstones]]): every 6th
    // vector is re-assigned with its REVERSED embedding under gen 1
    // while a (nid, upto_gen=0) tombstone retires its gen-0 cell row —
    // the fresh generation survives its own id's tombstone. The oracle
    // assigns the UPDATED corpus from scratch under the same frozen
    // quantizer, so the hash match proves stamp + append +
    // gen-tombstone + probe ≡ rebuild.
    "ann_ivf_update" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = pipeline.Similarity.centroids(emb, 16)
      val base = pipeline.Similarity.ivfStampGen(
        pipeline.Similarity.ivfAssign(emb, cents), 0L)
      val upd = emb.where(col("vec_id") % 6 === 3)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val delta = pipeline.Similarity.ivfStampGen(
        pipeline.Similarity.ivfAssign(upd, cents), 1L)
      val tombs = pipeline.Similarity.ivfGenTombstones(
        upd, col("vec_id"), 0L)
      pipeline.Similarity.ivfTopKIndexed(
        emb.where(col("vec_id") < 5),
        pipeline.Similarity.ivfApplyGenTombstones(
          base.unionByName(delta), tombs),
        cents, 5, nprobe = 4)
        .orderBy("qid", "rank")
    }),

    // the IVF lifecycle through [[pipeline.Maintenance.tick]] and the
    // PARTITION-PRUNED serving probe ([[pipeline.VectorLeg.Ivf]]): tick
    // 1 deletes every 9th vector, re-assigns every 6th with its
    // REVERSED embedding under gen 1, and appends id-shifted copies of
    // every 11th; tick 2 deletes
    // previously-UPDATED vectors through the unified tombstone table
    // and re-sends a tick-1 delete (guard-dropped). The oracle assigns
    // the end-state corpus from scratch under the same frozen
    // quantizer, so the hash match proves orchestration + literal-cell
    // pruned probe ≡ rebuild.
    "ann_ivf_lifecycle" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val cents = pipeline.Similarity.centroids(emb, 16)
      val door = new pipeline.Maintenance.IvfDoor(cents)
      val store = new pipeline.Maintenance.FrameStore(
        pipeline.Similarity.ivfStampGen(
          pipeline.Similarity.ivfAssign(emb, cents), 0L))
      var st = pipeline.Maintenance.initialState(s, door)
      val empty = emb.limit(0)
      val upd1 = emb.where(col("vec_id") % 6 === 3)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val del1 = emb.where(col("vec_id") % 9 === 7 &&
        col("vec_id") % 6 =!= 3)
      val add1 = emb.where(col("vec_id") % 11 === 5)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      st = pipeline.Maintenance.tick(door, store, st, adds = add1,
        deletes = del1, updates = upd1)
      val del2 = upd1.where(col("vec_id") % 12 === 3)
        .unionByName(del1.orderBy(col("vec_id")).limit(1)) // re-sent
      st = pipeline.Maintenance.tick(door, store, st, adds = empty,
        deletes = del2, updates = empty)
      pipeline.VectorLeg.Ivf(st.live(door, store), cents, nprobe = 4)
        .batch(emb.where(col("vec_id") < 5), 5).orderBy("qid", "rank")
    }),

    // the PQ-CODE store lifecycle ([[pipeline.Maintenance.IvfPqDoor]]):
    // the ann_ivf_lifecycle mutation plan run against the (cell, nid,
    // codes) serving index — both quantizers frozen (base-seeded
    // centroids AND codebooks), updates re-encode the reversed
    // embedding under gen 1, deletes/re-sends ride the same unified
    // tombstone table — then the pruned ADC probe. The oracle encodes
    // the end-state corpus from scratch under the same frozen tables,
    // so the hash match pins assign+encode+gen-door+ADC ≡ rebuild: the
    // memory-bounded billion-vector serving regime, live-mutated.
    "ann_ivfpq_lifecycle" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val cents = pipeline.Similarity.centroids(emb, 16)
      // same first-16-by-id seed prefix centroids already collected —
      // derive the codebooks driver-side, no second collect job
      val cbs = pipeline.Similarity.pqCodebooksFromSeeds(
        cents.map(_._2).toArray, 8)
      val door = new pipeline.Maintenance.IvfPqDoor(cents, cbs)
      val store = new pipeline.Maintenance.FrameStore(
        pipeline.Similarity.ivfStampGen(
          pipeline.Similarity.ivfPqAssign(emb, cents, cbs), 0L))
      var st = pipeline.Maintenance.initialState(s, door)
      val empty = emb.limit(0)
      val upd1 = emb.where(col("vec_id") % 6 === 3)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val del1 = emb.where(col("vec_id") % 9 === 7 &&
        col("vec_id") % 6 =!= 3)
      val add1 = emb.where(col("vec_id") % 11 === 5)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      st = pipeline.Maintenance.tick(door, store, st, adds = add1,
        deletes = del1, updates = upd1)
      val del2 = upd1.where(col("vec_id") % 12 === 3)
        .unionByName(del1.orderBy(col("vec_id")).limit(1)) // re-sent
      st = pipeline.Maintenance.tick(door, store, st, adds = empty,
        deletes = del2, updates = empty)
      pipeline.VectorLeg.Pq(st.live(door, store), cents, cbs, nprobe = 4)
        .batch(emb.where(col("vec_id") < 5), 5).orderBy("qid", "rank")
    }),

    // the RESIDUAL PQ-code store lifecycle ([[pipeline.Maintenance
    // .IvfPqResidualDoor]], IVFADC): same mutation plan as
    // ann_ivfpq_lifecycle but with residual-encoded codes under BOTH
    // frozen tables — centroids and the Lloyd-trained residual
    // codebooks (trained ONCE on the base corpus at door construction;
    // every delta, including the reversed-embedding updates, encodes
    // under them). The oracle trains on the base table and re-encodes
    // the end-state corpus from scratch, so the hash match pins the
    // accuracy-per-byte serving shape live-mutated.
    "ann_ivfpqr_lifecycle" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val cents = pipeline.Similarity.centroids(emb, 16)
      val rcbs = pipeline.Similarity.ivfPqResidualTrain(
        emb, cents, 8, 16, trainIters = 1)
      val door = new pipeline.Maintenance.IvfPqResidualDoor(cents, rcbs)
      val store = new pipeline.Maintenance.FrameStore(
        pipeline.Similarity.ivfStampGen(
          pipeline.Similarity.ivfPqResidualAssign(emb, cents, rcbs), 0L))
      var st = pipeline.Maintenance.initialState(s, door)
      val empty = emb.limit(0)
      val upd1 = emb.where(col("vec_id") % 6 === 3)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val del1 = emb.where(col("vec_id") % 9 === 7 &&
        col("vec_id") % 6 =!= 3)
      val add1 = emb.where(col("vec_id") % 11 === 5)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      st = pipeline.Maintenance.tick(door, store, st, adds = add1,
        deletes = del1, updates = upd1)
      val del2 = upd1.where(col("vec_id") % 12 === 3)
        .unionByName(del1.orderBy(col("vec_id")).limit(1)) // re-sent
      st = pipeline.Maintenance.tick(door, store, st, adds = empty,
        deletes = del2, updates = empty)
      pipeline.VectorLeg.PqResidual(st.live(door, store), cents, rcbs,
        nprobe = 4)
        .batch(emb.where(col("vec_id") < 5), 5).orderBy("qid", "rank")
    }),

    // the EXACT-RERANK TAIL on the maintained PQ-code store
    // ([[pipeline.VectorLeg.Pq]] with `rerank`): the
    // ann_ivfpq_lifecycle mutation plan runs against BOTH maintained
    // stores — the (cell, nid, codes) code store AND its full-vector
    // IVF twin, fed the same ticks — then the serving probe ADC-ranks
    // 15 candidates from the code store and refetches ONLY those
    // queries × 15 full vectors from the vector store's live view for
    // exact top-5 cosine. The oracle re-encodes the end-state corpus
    // from scratch under the frozen tables, ADC-ranks 15, and reranks
    // against the end-state vectors — the hash match pins the
    // production serving chain (memory-bounded ADC working set +
    // candidate-wise full-vector tail) live-mutated.
    "ann_ivfpq_store_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val cents = pipeline.Similarity.centroids(emb, 16)
      // same first-16-by-id seed prefix centroids already collected —
      // derive the codebooks driver-side, no second collect job
      val cbs = pipeline.Similarity.pqCodebooksFromSeeds(
        cents.map(_._2).toArray, 8)
      val pqDoor = new pipeline.Maintenance.IvfPqDoor(cents, cbs)
      val pqStore = new pipeline.Maintenance.FrameStore(
        pipeline.Similarity.ivfStampGen(
          pipeline.Similarity.ivfPqAssign(emb, cents, cbs), 0L))
      val vecDoor = new pipeline.Maintenance.IvfDoor(cents)
      val vecStore = new pipeline.Maintenance.FrameStore(
        pipeline.Similarity.ivfStampGen(
          pipeline.Similarity.ivfAssign(emb, cents), 0L))
      var pqSt = pipeline.Maintenance.initialState(s, pqDoor)
      var vecSt = pipeline.Maintenance.initialState(s, vecDoor)
      val empty = emb.limit(0)
      val upd1 = emb.where(col("vec_id") % 6 === 3)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val del1 = emb.where(col("vec_id") % 9 === 7 &&
        col("vec_id") % 6 =!= 3)
      val add1 = emb.where(col("vec_id") % 11 === 5)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val del2 = upd1.where(col("vec_id") % 12 === 3)
        .unionByName(del1.orderBy(col("vec_id")).limit(1)) // re-sent
      // the two in-memory stores are independent: overlap their tick
      // chains (§2.6), each internally ordered
      inParallel(
        () => {
          pqSt = pipeline.Maintenance.tick(pqDoor, pqStore, pqSt,
            adds = add1, deletes = del1, updates = upd1)
          pqSt = pipeline.Maintenance.tick(pqDoor, pqStore, pqSt,
            adds = empty, deletes = del2, updates = empty)
        },
        () => {
          vecSt = pipeline.Maintenance.tick(vecDoor, vecStore, vecSt,
            adds = add1, deletes = del1, updates = upd1)
          vecSt = pipeline.Maintenance.tick(vecDoor, vecStore, vecSt,
            adds = empty, deletes = del2, updates = empty)
        })
      pipeline.VectorLeg.Pq(pqSt.live(pqDoor, pqStore), cents, cbs,
        nprobe = 4, rerank = Some((15,
          vecSt.live(vecDoor, vecStore).select(col("nid"), col("ne")))))
        .batch(emb.where(col("vec_id") < 5), 5)
        .orderBy("qid", "rank")
    }),

    // the residual (IVFADC) store's rerank tail, refetching from the
    // KEPT full-vector table instead of a second maintained store —
    // the other side-table option the tail takes (a deployment that
    // keeps the corpus parquet current pays no second index)
    "ann_ivfpqr_store_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val cents = pipeline.Similarity.centroids(emb, 16)
      val rcbs = pipeline.Similarity.ivfPqResidualTrain(
        emb, cents, 8, 16, trainIters = 1)
      val door = new pipeline.Maintenance.IvfPqResidualDoor(cents, rcbs)
      val store = new pipeline.Maintenance.FrameStore(
        pipeline.Similarity.ivfStampGen(
          pipeline.Similarity.ivfPqResidualAssign(emb, cents, rcbs), 0L))
      var st = pipeline.Maintenance.initialState(s, door)
      val empty = emb.limit(0)
      val upd1 = emb.where(col("vec_id") % 6 === 3)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val del1 = emb.where(col("vec_id") % 9 === 7 &&
        col("vec_id") % 6 =!= 3)
      val add1 = emb.where(col("vec_id") % 11 === 5)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      st = pipeline.Maintenance.tick(door, store, st, adds = add1,
        deletes = del1, updates = upd1)
      val del2 = upd1.where(col("vec_id") % 12 === 3)
        .unionByName(del1.orderBy(col("vec_id")).limit(1)) // re-sent
      st = pipeline.Maintenance.tick(door, store, st, adds = empty,
        deletes = del2, updates = empty)
      // the kept full-vector table: the end-state corpus
      val kept = emb
        .where(!(col("vec_id") % 9 === 7 && col("vec_id") % 6 =!= 3) &&
          !(col("vec_id") % 12 === 3))
        .select(col("vec_id"),
          when(col("vec_id") % 6 === 3, reverse(col("embedding")))
            .otherwise(col("embedding")).as("embedding"))
        .unionByName(emb.where(col("vec_id") % 11 === 5)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            col("embedding")))
      pipeline.VectorLeg.PqResidual(st.live(door, store), cents, rcbs,
        nprobe = 4, rerank = Some((15, kept)))
        .batch(emb.where(col("vec_id") < 5), 5)
        .orderBy("qid", "rank")
    }),

    // the CODE-STORE tuning sweep ([[pipeline.Retrieval
    // .annRecallSweep]] over PQ legs): recall/MRR/MAP of the pruned
    // ADC probe + exact-rerank tail at (nprobe, rerankC) ∈ {2,8}×{10,25} against
    // the brute-force top-5 — the 2-D operating surface (cells scanned
    // × full-vector bytes touched) a code-store deployment reads its
    // knobs off, one integer-exact macro row per point
    "ann_pq_recall_sweep" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") < 5)
      val cents = pipeline.Similarity.centroids(emb, 16)
      // same first-16-by-id seed prefix centroids already collected —
      // derive the codebooks driver-side, no second collect job
      val cbs = pipeline.Similarity.pqCodebooksFromSeeds(
        cents.map(_._2).toArray, 8)
      val index = pipeline.Similarity.ivfPqAssign(emb, cents, cbs)
      val vectors = emb.select(col("vec_id"), col("embedding"))
      pipeline.Retrieval.annRecallSweep(q, Seq("nprobe", "rerank_c"),
        Seq((2, 10), (2, 25), (8, 10), (8, 25)).map { case (np, rc) =>
          Seq(np.toLong, rc.toLong) ->
            pipeline.VectorLeg.Pq(index, cents, cbs, np, Some((rc, vectors)))
        }, 5,
        pipeline.Similarity.bruteForceTopK(q, emb, 5)
          .select(col("qid"), col("nid")))
    }),

    // the SCHEDULED-REBUILD door ([[graft.streaming
    // .IndexMaintenanceStream.reseed]]): the full-vector store takes a
    // mixed mutation batch through the versioned layout, then its
    // committed view funds a TIER MIGRATION — a new PQ-code store
    // bootstrapped under NEW frozen tables (re-seeded nlist-8 coarse
    // quantizer + codebooks), quantizer file persisted from batch 0 —
    // and the new store's pruned ADC probe is hash-matched against a
    // from-scratch encode of the mutated corpus under the new tables:
    // the drift remedy every frozen-quantizer door documents, as an
    // operator
    "ann_reseed_migrate" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val cents16 = pipeline.Similarity.centroids(emb, 16)
      val vecDoor = new pipeline.Maintenance.IvfDoor(cents16)
      val vecDir = java.nio.file.Files
        .createTempDirectory("graft-reseed-vec").toString
      val newDir = java.nio.file.Files
        .createTempDirectory("graft-reseed-pq").toString
      def cellWrite(df: org.apache.spark.sql.DataFrame, dst: String,
                    mode: String): Unit =
        df.write.partitionBy("cell").mode(mode).parquet(dst)
      val vUpd1 = emb.where(col("vec_id") % 6 === 3)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val v0 = emb.where(col("vec_id") % 11 === 5)
        .select(lit("add").as("op"),
          (col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .unionByName(emb
          .where(col("vec_id") % 9 === 7 && col("vec_id") % 6 =!= 3)
          .select(lit("delete").as("op"), col("vec_id"),
            col("embedding")))
        .unionByName(vUpd1.select(lit("update").as("op"), col("vec_id"),
          col("embedding")))
      graft.streaming.IndexMaintenanceStream.bootstrap(
        s, vecDoor, vecDir, cellWrite, emb)
      graft.streaming.IndexMaintenanceStream.applyBatch(
        s, vecDoor, vecDir, cellWrite, v0, 0L)
      // drift remedy: migrate into a PQ store under re-seeded tables.
      // Both new tables are first-by-id prefixes of the cents16 rows
      // already collected for the old door (centroids(emb, 8) is the
      // first 8; the codebook seeds are all 16) — derive them
      // driver-side, zero extra training jobs, identical values
      val cents8 = cents16.take(8)
      val cbs = pipeline.Similarity.pqCodebooksFromSeeds(
        cents16.map(_._2).toArray, 8)
      val pqDoor = new pipeline.Maintenance.IvfPqDoor(cents8, cbs)
      graft.streaming.IndexMaintenanceStream.reseed(
        s, vecDoor, vecDir, pqDoor, newDir, cellWrite)
      val (view, _) = graft.streaming.IndexMaintenanceStream
        .currentView(s, pqDoor, newDir)
      val result = pipeline.Dedup.checkpointCorpus(
        pipeline.VectorLeg.Pq(view, cents8, cbs, nprobe = 4)
          .batch(emb.where(col("vec_id") < 5), 5)
          .orderBy("qid", "rank"))
      Seq(vecDir, newDir).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(p)))
      result
    }),

    // CUTOVER as an operator ([[graft.streaming.IndexMaintenanceStream
    // .cutover]]): the reseed migration FINISHED under a feed that
    // kept writing — batch 0 lands on the old full-vector store,
    // reseed captures its view into a NEW PQ store, batch 1 lands on
    // the OLD store mid-window (the lost-batch hazard), cutover
    // replays it from the feed's log, parks the serving pointer on
    // the sentinel, drains, repoints — and batch 2 then applies to
    // whichever dir the pointer names (the feed's contract). The
    // served probe hash-matches a from-scratch encode of the corpus
    // after ALL THREE batches under the new tables: nothing lost.
    "ann_cutover_live" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val cents16 = pipeline.Similarity.centroids(emb, 16)
      val vecDoor = new pipeline.Maintenance.IvfDoor(cents16)
      val vecDir = java.nio.file.Files
        .createTempDirectory("graft-cut-vec").toString
      val newDir = java.nio.file.Files
        .createTempDirectory("graft-cut-pq").toString
      val servingDir = java.nio.file.Files
        .createTempDirectory("graft-cut-ptr").toString
      def cellWrite(df: org.apache.spark.sql.DataFrame, dst: String,
                    mode: String): Unit =
        df.write.partitionBy("cell").mode(mode).parquet(dst)
      graft.streaming.IndexMaintenanceStream.bootstrap(
        s, vecDoor, vecDir, cellWrite, emb)
      graft.streaming.DocsStream.swapPointer(s, servingDir, vecDir)
      val vUpd1 = emb.where(col("vec_id") % 6 === 3)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      // the feed's replayable log: batch 0 mixed, batch 1 deletes the
      // updated-12th ids, batch 2 adds an id-shifted copy of every
      // 13th — fetch(b) IS this map, the Structured Streaming
      // replay-by-offset contract
      def fetch(b: Long): org.apache.spark.sql.DataFrame = b match {
        case 0L => emb.where(col("vec_id") % 11 === 5)
          .select(lit("add").as("op"),
            (col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
          .unionByName(emb
            .where(col("vec_id") % 9 === 7 && col("vec_id") % 6 =!= 3)
            .select(lit("delete").as("op"), col("vec_id"),
              col("embedding")))
          .unionByName(vUpd1.select(lit("update").as("op"),
            col("vec_id"), col("embedding")))
        case 1L => vUpd1.where(col("vec_id") % 12 === 3)
          .select(lit("delete").as("op"), col("vec_id"),
            col("embedding"))
        case 2L => emb.where(col("vec_id") % 13 === 1)
          .select(lit("add").as("op"),
            (col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
        case _ => emb.limit(0)
          .select(lit("delete").as("op"), col("vec_id"),
            col("embedding"))
      }
      // feed: batch 0 → old store (pointer names it)
      graft.streaming.IndexMaintenanceStream.applyBatch(
        s, vecDoor, vecDir, cellWrite, fetch(0L), 0L)
      // drift remedy begins: reseed into a PQ store under NEW tables.
      // Both are first-by-id prefixes of the cents16 rows already
      // collected for the old door — derived driver-side, zero extra
      // training jobs, identical values
      val cents8 = cents16.take(8)
      val cbs = pipeline.Similarity.pqCodebooksFromSeeds(
        cents16.map(_._2).toArray, 8)
      val pqDoor = new pipeline.Maintenance.IvfPqDoor(cents8, cbs)
      val asOf = graft.streaming.IndexMaintenanceStream.reseed(
        s, vecDoor, vecDir, pqDoor, newDir, cellWrite)
      // the feed KEEPS WRITING: batch 1 lands on the OLD store while
      // the migration is in flight — the batch a hand-rolled cutover
      // loses
      graft.streaming.IndexMaintenanceStream.applyBatch(
        s, vecDoor, vecDir, cellWrite, fetch(1L), 1L)
      graft.streaming.IndexMaintenanceStream.cutover(
        s, pqDoor, newDir, vecDir, cellWrite, fetch, servingDir, asOf,
        graceMs = 100L)
      // post-repoint: the feed's next batch follows the pointer
      val servedDir = graft.streaming.DocsStream
        .readPointer(s, servingDir).get
      graft.streaming.IndexMaintenanceStream.applyBatch(
        s, pqDoor, servedDir, cellWrite, fetch(2L), 2L)
      val (view, _) = graft.streaming.IndexMaintenanceStream
        .currentView(s, pqDoor, servedDir)
      val result = pipeline.Dedup.checkpointCorpus(
        pipeline.VectorLeg.Pq(view, cents8, cbs, nprobe = 4)
          .batch(emb.where(col("vec_id") < 5), 5)
          .orderBy("qid", "rank"))
      Seq(vecDir, newDir, servingDir).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(p)))
      result
    }),

    // SQ8 (int8 scalar-quantized) top-5 ([[pipeline.Similarity
    // .sq8TopKIndexed]]): the middle tier of the bytes-vs-recall
    // spectrum — d bytes/vector (4× smaller than float32), cosine over
    // the integer arrays directly (scale-invariant, no dequantize) —
    // integer-exact and SQL-mirrorable end to end
    "ann_sq8_top5" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = pipeline.Similarity.centroids(emb, 16)
      pipeline.Similarity.sq8TopKIndexed(
        emb.where(col("vec_id") < 5),
        pipeline.Similarity.sq8Assign(emb, cents), cents, 5, nprobe = 4)
        .orderBy("qid", "rank")
    }),

    // SQ8 recall vs exact brute force — where this tier sits on the
    // spectrum, measured: near the full-vector probe (the int8
    // rounding rarely reorders a top-5) at a quarter of the bytes
    "ann_sq8_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") < 5)
      val cents = pipeline.Similarity.centroids(emb, 16)
      val approx = pipeline.Similarity.sq8TopKIndexed(
        q, pipeline.Similarity.sq8Assign(emb, cents), cents, 5,
        nprobe = 4)
      val exact = pipeline.Similarity.bruteForceTopK(q, emb, 5)
      hitsAtK(q, approx, exact)
    }),

    // the SQ8 store lifecycle ([[pipeline.Maintenance.IvfSq8Door]]):
    // the ann_ivf_lifecycle mutation plan against the quantized store,
    // then the pruned int8-cosine probe — the oracle re-quantizes the
    // end-state corpus from scratch under the frozen coarse quantizer,
    // so the hash match pins quantize+assign+gen-door+probe ≡ rebuild
    "ann_sq8_lifecycle" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val cents = pipeline.Similarity.centroids(emb, 16)
      val door = new pipeline.Maintenance.IvfSq8Door(cents)
      val store = new pipeline.Maintenance.FrameStore(
        pipeline.Similarity.ivfStampGen(
          pipeline.Similarity.sq8Assign(emb, cents), 0L))
      var st = pipeline.Maintenance.initialState(s, door)
      val empty = emb.limit(0)
      val upd1 = emb.where(col("vec_id") % 6 === 3)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val del1 = emb.where(col("vec_id") % 9 === 7 &&
        col("vec_id") % 6 =!= 3)
      val add1 = emb.where(col("vec_id") % 11 === 5)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      st = pipeline.Maintenance.tick(door, store, st, adds = add1,
        deletes = del1, updates = upd1)
      val del2 = upd1.where(col("vec_id") % 12 === 3)
        .unionByName(del1.orderBy(col("vec_id")).limit(1)) // re-sent
      st = pipeline.Maintenance.tick(door, store, st, adds = empty,
        deletes = del2, updates = empty)
      pipeline.VectorLeg.Sq8(st.live(door, store), cents, nprobe = 4)
        .batch(emb.where(col("vec_id") < 5), 5).orderBy("qid", "rank")
    }),

    // the SQ8 store's OPTIONAL exact-rerank tail ([[pipeline
    // .VectorLeg.Sq8]] with `rerank`): the
    // ann_sq8_lifecycle mutation plan against the quantized store,
    // int8-ranked to 15 candidates, then ONLY those rows refetch full
    // vectors from the KEPT end-state table for exact top-5 — the
    // remedy knob for the clustered-fixture regime where int8
    // rounding reorders the cut line (uniform fixtures measured at
    // full-vector recall without it). Oracle re-quantizes the
    // end-state corpus from scratch and reranks against it.
    "ann_sq8_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val cents = pipeline.Similarity.centroids(emb, 16)
      val door = new pipeline.Maintenance.IvfSq8Door(cents)
      val store = new pipeline.Maintenance.FrameStore(
        pipeline.Similarity.ivfStampGen(
          pipeline.Similarity.sq8Assign(emb, cents), 0L))
      var st = pipeline.Maintenance.initialState(s, door)
      val empty = emb.limit(0)
      val upd1 = emb.where(col("vec_id") % 6 === 3)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val del1 = emb.where(col("vec_id") % 9 === 7 &&
        col("vec_id") % 6 =!= 3)
      val add1 = emb.where(col("vec_id") % 11 === 5)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      st = pipeline.Maintenance.tick(door, store, st, adds = add1,
        deletes = del1, updates = upd1)
      val del2 = upd1.where(col("vec_id") % 12 === 3)
        .unionByName(del1.orderBy(col("vec_id")).limit(1)) // re-sent
      st = pipeline.Maintenance.tick(door, store, st, adds = empty,
        deletes = del2, updates = empty)
      // the kept full-vector table: the end-state corpus
      val kept = emb
        .where(!(col("vec_id") % 9 === 7 && col("vec_id") % 6 =!= 3) &&
          !(col("vec_id") % 12 === 3))
        .select(col("vec_id"),
          when(col("vec_id") % 6 === 3, reverse(col("embedding")))
            .otherwise(col("embedding")).as("embedding"))
        .unionByName(emb.where(col("vec_id") % 11 === 5)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            col("embedding")))
      pipeline.VectorLeg.Sq8(st.live(door, store), cents, nprobe = 4,
        rerank = Some((15, kept)))
        .batch(emb.where(col("vec_id") < 5), 5)
        .orderBy("qid", "rank")
    }),

    // the SQ8 tier's own recall-vs-cost curve ([[pipeline.Retrieval
    // .annRecallSweep]] over SQ8 legs) — completes the per-tier
    // sweep set (IVF 1-D, PQ 2-D, SQ8 here): the pruned int8 probe at nprobe ∈
    // {1,2,4,8} scored against the exact brute-force top-5 through
    // the integer-exact metric chain
    "ann_sq8_recall_sweep" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") < 5)
      val cents = pipeline.Similarity.centroids(emb, 16)
      val index = pipeline.Similarity.sq8Assign(emb, cents)
      pipeline.Retrieval.annRecallSweep(q, Seq("nprobe"),
        Seq(1, 2, 4, 8).map(np =>
          Seq(np.toLong) -> pipeline.VectorLeg.Sq8(index, cents, np)), 5,
        pipeline.Similarity.bruteForceTopK(q, emb, 5)
          .select(col("qid"), col("nid")))
    }),

    // MARGIN-ROUTED adaptive rerank ([[pipeline.VectorLeg
    // .Sq8Adaptive]]): one int8 probe ranks 15
    // candidates; queries whose rank-5/rank-6 margin is under the
    // ppm threshold route those candidates through the exact
    // full-vector tail, confident queries serve int8 directly — the
    // serving shape that spends full-vector bytes only where int8
    // rounding can actually reorder the cut. The oracle recomputes
    // the margin rule and both routes from scratch in SQL.
    "ann_sq8_adaptive" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val cents = pipeline.Similarity.centroids(emb, 16)
      pipeline.VectorLeg.Sq8Adaptive(
        pipeline.Similarity.sq8Assign(emb, cents), cents, nprobe = 4,
        rerankC = 15, marginPpm = 3000L,
        vectors = emb.select(col("vec_id"), col("embedding")))
        .batch(emb.where(col("vec_id") < 5), 5)
        .orderBy("qid", "rank")
    }),

    // the ANN TUNING SWEEP ([[pipeline.Retrieval.annRecallSweep]]):
    // recall/MRR/MAP of the pruned IVF probe at nprobe ∈ {1,2,4,8}
    // against the exact brute-force top-5 — the measured
    // recall-vs-cost curve the PQ/IVF ledgers call for, one
    // integer-exact macro row per operating point
    "ann_recall_sweep" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") < 5)
      val cents = pipeline.Similarity.centroids(emb, 16)
      val index = pipeline.Similarity.ivfAssign(emb, cents)
      pipeline.Retrieval.annRecallSweep(q, Seq("nprobe"),
        Seq(1, 2, 4, 8).map(np =>
          Seq(np.toLong) -> pipeline.VectorLeg.Ivf(index, cents, np)), 5,
        pipeline.Similarity.bruteForceTopK(q, emb, 5)
          .select(col("qid"), col("nid")))
    }),

    // recall report: hits@5 of each approximate path against the exact
    // brute-force top-5, per query — oracle-checked end to end
    "ann_ivf_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") < 5)
      val approx = pipeline.Similarity.ivfTopK(q, emb, 5, nlist = 16, nprobe = 4)
      val exact = pipeline.Similarity.bruteForceTopK(q, emb, 5)
      hitsAtK(q, approx, exact)
    }),

    "ann_lsh_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") < 5)
      val approx = pipeline.Similarity.lshTopK(q, emb, 5, planes = 4, bands = 4)
      val exact = pipeline.Similarity.bruteForceTopK(q, emb, 5)
      hitsAtK(q, approx, exact)
    }),

    // IVF with a Lloyd-refined (k-means) coarse quantizer — the trained
    // production shape; recall reported against brute force, full oracle
    // (quantized centroid updates are integer-exact, see kmeansRefine).
    // On this clusterless random fixture training does NOT beat the seeded
    // quantizer (21 vs 23 of 25 hits) — expected: Lloyd pulls centroids
    // toward the global mean when there is no cluster structure; the gain
    // appears on real (clustered) embedding corpora.
    "ann_ivf_kmeans_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") < 5)
      val approx = pipeline.Similarity.ivfKmeansTopK(q, emb, 5,
        nlist = 16, nprobe = 4, iters = 1)
      val exact = pipeline.Similarity.bruteForceTopK(q, emb, 5)
      hitsAtK(q, approx, exact)
    }),

    // product-quantization top-5: corpus compressed to m=8 codes/vector
    // (codegen'd PqCodes projection), scored via per-query ADC lookup
    // tables — every fold is index-ordered so the whole path mirrors in
    // SQL → full oracle
    "ann_pq_top5" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      pipeline.Similarity.pqTopK(
        emb.where(col("vec_id") < 5), emb, 5, m = 8, ksub = 16)
        .orderBy("qid", "rank")
    }),

    "ann_pq_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") < 5)
      val approx = pipeline.Similarity.pqTopK(q, emb, 5, m = 8, ksub = 16)
      val exact = pipeline.Similarity.bruteForceTopK(q, emb, 5)
      hitsAtK(q, approx, exact)
    }),

    // PQ with Lloyd-TRAINED codebooks (the standard trained form):
    // one k-means iteration per subspace, quantized integer updates →
    // the whole trained index mirrors in SQL, full oracle. Like
    // ann_ivf_kmeans_recall, training does not beat the seeds on this
    // clusterless random fixture (7 vs 7 of 25) — Lloyd pulls entries
    // toward subspace means when there is no cluster structure; the gain
    // appears on real (clustered) embedding corpora.
    "ann_pq_trained_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") < 5)
      val approx = pipeline.Similarity.pqTrainedTopK(q, emb, 5,
        m = 8, ksub = 16, iters = 1)
      val exact = pipeline.Similarity.bruteForceTopK(q, emb, 5)
      hitsAtK(q, approx, exact)
    }),

    // IVFPQ (FAISS IVFx,PQy): coarse cell + PQ codes in ONE shuffle-free
    // projection; probes scan ~nprobe/nlist of the code table with ADC
    // lookups — the billion-vector serving shape, full oracle
    "ann_ivfpq_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") < 5)
      val approx = pipeline.Similarity.ivfPqTopK(q, emb, 5,
        nlist = 16, nprobe = 8, m = 8, ksub = 16)
      val exact = pipeline.Similarity.bruteForceTopK(q, emb, 5)
      hitsAtK(q, approx, exact)
    }),

    // Residual IVFPQ (IVFADC proper, Jégou et al. 2011): codes encode
    // v − centroid(cell); reconstruction terms (q·cent per probe,
    // cell-keyed cross table) are bounded and broadcast, corpus side
    // stays one shuffle-free projection — full oracle
    "ann_ivfpq_residual_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") < 5)
      val approx = pipeline.Similarity.ivfPqResidualTopK(q, emb, 5,
        nlist = 16, nprobe = 8, m = 8, ksub = 16, trainIters = 2)
      val exact = pipeline.Similarity.bruteForceTopK(q, emb, 5)
      hitsAtK(q, approx, exact)
    }),

    // IVFPQ + exact re-rank: ADC ranks 25 candidates/query off the code
    // table, only those rows fetch full vectors for an exact cosine
    // top-5 — the complete production retrieval chain (coarse cells →
    // compressed scan → bounded refine), full oracle
    "ann_ivfpq_rerank_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") < 5)
      val approx = pipeline.Similarity.ivfPqRerankTopK(q, emb, 5,
        rerankC = 25, nlist = 16, nprobe = 8, m = 8, ksub = 16)
      val exact = pipeline.Similarity.bruteForceTopK(q, emb, 5)
      hitsAtK(q, approx, exact)
    }),

    // symmetric int8 quantization: per-vector absmax scaling, summarized
    // with integer-exact stats (saturation count, q-sums) for the oracle
    "emb_quantize_int8" -> ((s, d) => {
      val qv = pipeline.Similarity.quantizeInt8(Tables.embeddings(s, d))
      qv.select(col("vec_id"), col("scale_x1e9"), posexplode(col("qvec")))
        .groupBy("vec_id")
        .agg(first(col("scale_x1e9")).as("scale_x1e9"),
          sum(col("col")).as("q_sum"),
          min(col("col")).as("q_min"),
          max(col("col")).as("q_max"),
          sum(when(abs(col("col")) === 127, 1L).otherwise(0L)).as("n_sat"))
        .orderBy("vec_id")
    }),

    // embedding near-dup pairs: banded LSH candidates + exact-cosine verify
    // at ≥ 0.40 (the synthetic embeddings are random — 0.40 is the actual
    // high tail; a threshold above max-sim would make the check vacuous).
    // planes=6/bands=8 tuned for non-empty, brute-force-confirmable output.
    "emb_near_dup" -> ((s, d) =>
      pipeline.Similarity.cosineNearDupPairs(
        Tables.embeddings(s, d), 400000L, planes = 6, bands = 8)
        .orderBy("ida", "idb")),

    // SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup —
    // near-dup search only WITHIN an IVF cell, keep the least-central
    // member of each duplicate pair. Same 0.40 exact-cosine threshold as
    // emb_near_dup; nlist=16 over the 500-vector fixture (the paper's
    // lever is nlist ∝ N). Census + the dropped rows themselves.
    "emb_semdedup_census" -> ((s, d) =>
      pipeline.Similarity.semDeDupCensus(
        Tables.embeddings(s, d), nlist = 16, thresholdPpm = 400000L)),

    "emb_semdedup_drops" -> ((s, d) =>
      pipeline.Similarity.semDeDupDrops(
        Tables.embeddings(s, d), nlist = 16, thresholdPpm = 400000L)
        .orderBy("nid")),

    // MODEL-FREE text embeddings (feature hashing, Weinberger et al.
    // 2009): every embedding operator applies to corpora with no
    // embedding model — here the full near-dup sweep over hashed
    // bag-of-words vectors; fixture near-dups land at cosine ≥ 0.997
    // while random pairs stay ≤ 0.82 (0.99 threshold)
    "text_hash_embedding_neardup" -> ((s, d) => {
      // checkpoint the featurized vectors: cosineNearDupPairs evaluates
      // its input THREE times (bucket explode + both pair join-backs) —
      // 16 doubles/doc materialized once beats re-featurizing the corpus
      val vecs = pipeline.Dedup.checkpointCorpus(
        Tables.documents(s, d).select(
          col("doc_id").as("vec_id"),
          pipeline.TextAnalysis.hashedEmbedding(col("text"), 16).as("embedding")))
      pipeline.Similarity.cosineNearDupPairs(vecs, 990000L,
        planes = 8, bands = 4).orderBy("ida", "idb")
    }),

    // CROSS-MODAL verify: semantic (embedding-LSH) candidate pairs
    // joined back to the documents table (vec_id ≡ doc_id) and verified
    // with exact TEXT 3-gram Jaccard — the two-view dedup pattern
    // (embeddings recall paraphrase candidates, lexical overlap confirms)
    "dedup_semantic_verified" -> ((s, d) => {
      val pairs = pipeline.Similarity.cosineNearDupPairs(
        Tables.embeddings(s, d), 400000L, planes = 6, bands = 8)
      val sh = Tables.documents(s, d).select(col("doc_id"),
        pipeline.Dedup.shingles(col("text"), 3).as("sh"))
      pairs
        .join(sh.select(col("doc_id").as("ida"), col("sh").as("sha")), Seq("ida"))
        .join(sh.select(col("doc_id").as("idb"), col("sh").as("shb")), Seq("idb"))
        .select(col("ida"), col("idb"), col("sim_ppm"),
          floor(lit(1000000.0) * size(array_intersect(col("sha"), col("shb"))) /
            size(array_union(col("sha"), col("shb")))).cast("long")
            .as("jaccard_ppm"))
        .orderBy("ida", "idb")
    }),

    // ---- events (time-series) ----

    // hourly anomaly detection, integer-exact: flag hours whose count
    // sits more than 3σ above the type's mean. z² > 9 rewrites to
    // (n·H − S)² > 9·(Q·H − S²) on pure integers (H hours, S = Σn,
    // Q = Σn²) — no floating point, so the flags hash bit-for-bit on any
    // engine. Shape: one hourly aggregation (corpus shuffle), a
    // per-type stats aggregate of ~|types| rows broadcast back, filter.
    "events_anomaly_hours" -> ((s, d) => {
      // every product runs in decimal(38,0) (DuckDB mirror: HUGEINT) —
      // long products like n² and (n·H−S)² clear 2⁶³ once a type logs
      // ~3×10⁹ events in an hour, and a LongType Σn² would silently wrap
      // there while the decimal holds exact to 10³⁸
      val dec = "decimal(38,0)"
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts div 3600000000000").as("hr"))
        .agg(count(lit(1)).as("n"))
      val stats = hourly.groupBy("event_type").agg(
        count(lit(1)).as("h"), sum(col("n")).as("s"),
        sum(col("n").cast(dec) * col("n")).as("q"))
      val dev = col("n").cast(dec) * col("h") - col("s")
      val varTerm = col("q") * col("h").cast(dec) -
        col("s").cast(dec) * col("s")
      hourly.join(broadcast(stats), Seq("event_type"))
        .where(dev > 0 && dev * dev > lit(9) * varTerm)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_anomalous"), expr("bit_xor(hr)").as("hour_xor"))
    }),

    // interval-overlap join: each type's first-3-days window × each
    // user's first-day window — same bucketization as the range join,
    // but a pair shares every bucket its intersection spans, so the
    // canonical-bucket tiebreak (keep only where bucket == the
    // intersection's left edge) makes emission exactly-once with NO
    // dropDuplicates shuffle after the join.
    "events_overlap_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val dayNs = 86400L * 1000000000L
      val tw = ev.groupBy(col("event_type")).agg(min(col("ts")).as("t_start"))
        .withColumn("t_end", col("t_start") + lit(3L * dayNs))
      val uw = ev.groupBy(col("user_id")).agg(min(col("ts")).as("u_start"))
        .withColumn("u_end", col("u_start") + lit(dayNs))
      graft.operators.RangeJoin.intervalOverlapJoinAuto(
          tw, "t_start", "t_end", uw, "u_start", "u_end")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_overlapping_users"),
          expr("bit_xor(user_id)").as("user_xor"))
    }),

    // the SAME overlap join written NAIVELY — RangeJoinRewrite's second
    // shape (both-side bucket explode + canonical-bucket exactly-once)
    // turns the would-be BroadcastNestedLoop into an equi-join; same
    // oracle as events_overlap_join
    "events_overlap_join_rule" -> ((s, d) => {
      plans.RangeJoinRewrite.install(s)
      val ev = Tables.events(s, d)
      val dayNs = 86400L * 1000000000L
      val tw = ev.groupBy(col("event_type")).agg(min(col("ts")).as("t_start"))
        .withColumn("t_end", col("t_start") + lit(3L * dayNs))
      val uw = ev.groupBy(col("user_id")).agg(min(col("ts")).as("u_start"))
        .withColumn("u_end", col("u_start") + lit(dayNs))
      // route through the SQL door's width tuner — the DataFrame door
      // otherwise optimizes with the rule's static default width, and
      // the bench then measures the fan-out-capped fallback shape
      engine.SqlShim.tuneRangeJoinWidth(s,
        tw.join(uw,
            col("t_start") <= col("u_end") && col("u_start") <= col("t_end"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_overlapping_users"),
            expr("bit_xor(user_id)").as("user_xor")))
    }),

    // range (point-in-interval) join: every event landing inside each
    // type's first-3-days window. A raw non-equi join plans as
    // BroadcastNestedLoop (quadratic); operators.RangeJoin buckets the
    // timeline (1-day buckets) so it runs as ONE shuffled equi-join —
    // the 100 TB-safe rewrite. The DuckDB oracle is the plain BETWEEN
    // join, so the bucketization itself is what's being verified.
    "events_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val dayNs = 86400L * 1000000000L
      val iv = ev.groupBy(col("event_type").as("itype"))
        .agg(min(col("ts")).as("w_start"))
        .withColumn("w_end", col("w_start") + lit(3L * dayNs))
      graft.operators.RangeJoin.rangeJoinAuto(
          ev.select(col("ts"), col("event_id")), "ts",
          iv, "w_start", "w_end")
        .groupBy(col("itype").as("event_type"))
        .agg(count(lit(1)).as("n_in_window"),
          expr("bit_xor(event_id)").as("event_xor"))
    }),

    // the SAME range join written NAIVELY (raw BETWEEN join, the plan
    // Spark turns into BroadcastNestedLoop) — but the RangeJoinRewrite
    // optimizer rule (plans/RangeJoinRewrite, normally injected via
    // spark.sql.extensions; installed here through
    // experimental.extraOptimizations for the driver's plain session)
    // rewrites it to the bucketized equi-join automatically. Same oracle
    // as events_range_join: the rewrite must be invisible in results
    "events_range_join_rule" -> ((s, d) => {
      plans.RangeJoinRewrite.install(s)
      val ev = Tables.events(s, d)
      val dayNs = 86400L * 1000000000L
      val iv = ev.groupBy(col("event_type").as("itype"))
        .agg(min(col("ts")).as("w_start"))
        .withColumn("w_end", col("w_start") + lit(3L * dayNs))
      // tuned width via the SQL door's tuner (see events_overlap_join_rule)
      engine.SqlShim.tuneRangeJoinWidth(s,
        ev.select(col("ts"), col("event_id"))
          .join(iv, col("ts") >= col("w_start") && col("ts") <= col("w_end"))
          .groupBy(col("itype").as("event_type"))
          .agg(count(lit(1)).as("n_in_window"),
            expr("bit_xor(event_id)").as("event_xor")))
    }),

    // hourly histogram per event type (ns-timestamp handling)
    "events_hourly" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("ts div 3600000000000 * 3600").as("hour_epoch"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))),

    // per-user event stats (groupBy + multi-agg)
    "events_user_stats" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"),
          countDistinct(col("event_type")).as("n_types"))),

    // end-to-end corpus dedup: cluster resolution + keeper selection;
    // rows-only (engine-internal hashing)
    "dedup_corpus" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val kept = pipeline.Dedup.dedupCorpus(docs, "doc_id", col("text"))
      docs.agg(count(lit(1)).as("total_docs"))
        .crossJoin(kept.agg(count(lit(1)).as("kept_docs")))
    }),

    // quality gate census (oracle-checked: thresholds mirror in SQL)
    // doc-length distribution (decimal-digit buckets — integer-exact
    // cross-engine, same trick as events_interarrival): the shape of a
    // corpus at a glance, one scan
    "corpus_length_histogram" -> ((s, d) => {
      val nToks = size(pipeline.TextAnalysis.tokens(col("text")))
      Tables.documents(s, d)
        .select(length(nToks.cast("string")).as("len_digits"),
          nToks.cast("long").as("n_toks"))
        .groupBy(col("len_digits"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("token_mass"))
    }),

    // embedding-norm census (ppt-floored): detects unnormalized /
    // degenerate vectors before they poison cosine ANN — a scan-parallel
    // data-quality gate over the embeddings table
    "emb_norm_census" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          floor(pipeline.Similarity.norm(col("embedding")) * 1000)
            .cast("long").as("norm_ppt"))
        .groupBy(col("norm_ppt"))
        .agg(count(lit(1)).as("n_vecs"), expr("bit_xor(vec_id)").as("vec_xor"))),

    // corpus quality report: the documents-side analog of the NNA
    // suggestions census — many metrics, ONE scan, one 1-row aggregate
    // (the reference re-scans per metric; at 100 TB one-pass is the
    // difference between a report and a day of cluster time)
    "corpus_quality_report" -> ((s, d) => {
      val toks = pipeline.TextAnalysis.tokens(col("text"))
      Tables.documents(s, d).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(size(toks).cast("long")).as("total_tokens"),
        sum(when(size(toks) < 50, 1L).otherwise(0L)).as("n_short"),
        countDistinct(col("lang")).as("n_langs"),
        max(col("n_chars")).as("max_chars"))
    }),

    "text_quality_filter" -> ((s, d) =>
      pipeline.TextAnalysis.qualityFilter(
        Tables.documents(s, d), col("text"),
        minTokens = 10, maxTokens = 1000, minDistinctPpm = 200000)
        .agg(count(lit(1)).as("kept"), sum(col("n_chars")).as("kept_chars"))),

    // windowed funnel (ClickHouse windowFunnel analog): deepest step of
    // the signup → view → click → purchase chain within 7 days of the
    // chain start, greedy-earliest semantics — per-step reach census
    // with the reaching-user set xor-pinned
    "events_funnel" -> ((s, d) =>
      graft.operators.WindowFunnel.funnelCensus(Tables.events(s, d),
        Seq("signup", "view", "click", "purchase"),
        7L * 86400L * 1000000000L).orderBy("step")),

    // funnel time-to-convert: exact percentiles of (t_purchase − t_signup)
    // over the converted-user chain times — the funnel output is
    // users-sized (not events-sized). As with nna_size_percentiles, the
    // EXACT percentile here is the verifiable twin of approx_percentile
    // (the mergeable-sketch path to use when converted users alone
    // outgrow one aggregation buffer); seconds-floored for integer-exact
    // oracle parity
    "events_funnel_ttc" -> ((s, d) => {
      val times = graft.operators.WindowFunnel.funnelTimes(
        Tables.events(s, d), Seq("signup", "view", "click", "purchase"),
        7L * 86400L * 1000000000L).last
      times.selectExpr("(t4 - t1) div 1000000000 AS ttc_s")
        .selectExpr(
          "count(*) AS n_converted",
          "floor(percentile(ttc_s, 0.5)) AS ttc_p50_s",
          "floor(percentile(ttc_s, 0.9)) AS ttc_p90_s",
          "max(ttc_s) AS ttc_max_s")
    }),

    // ClickHouse-parity any-start funnel: every signup anchors a chain,
    // per-user maximal depth — n_reached ≥ the greedy census per step
    // (a short window makes the two visibly diverge on this fixture)
    "events_funnel_anystart" -> ((s, d) =>
      graft.operators.WindowFunnel.funnelCensusAnyStart(Tables.events(s, d),
        Seq("signup", "view", "click", "purchase"),
        12L * 3600L * 1000000000L).orderBy("step")),

    // JSON props extraction + per-type aggregation
    // near-dup cluster-size census: how duplication is DISTRIBUTED — a
    // corpus with one 10k-doc cluster needs different handling than ten
    // thousand pairs. Same candidate graph + min-label components as
    // dedup_corpus, then two tiny aggregations (labels, then sizes);
    // label_xor pins exact cluster membership per size class.
    "dedup_cluster_sizes" -> ((s, d) => {
      val pairs = pipeline.Dedup.minhashCandidates(
          Tables.documents(s, d), "doc_id", col("text"))
        .where(col("est_jaccard_ppm") >= 900000)
      pipeline.Dedup.clusterLabels(pairs)
        .groupBy("label").agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          expr("bit_xor(label)").as("label_xor"))
    }),

    "events_json_stats" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("k_sum"))),

    // batch sessionization (30-min gaps): the window-function twin of the
    // flatMapGroupsWithState streaming path, integer-exact per-user stats
    "events_sessions" -> ((s, d) =>
      streaming.EventsStream.sessionizeBatch(
        Tables.events(s, d), 30L * 60 * 1000 * 1000000)),

    // native session_window sessionization — same stats as
    // events_sessions through Spark's session-merging aggregate
    // (no per-user sort-window over full history; map-side partials;
    // the same plan runs under streaming with watermark state eviction).
    // Split is strict > gap like the lag twin, but on µs event_time;
    // see EventsStream.sessionizeNative.
    "events_sessions_native" -> ((s, d) =>
      streaming.EventsStream.sessionizeNative(Tables.events(s, d), "30 minutes")),

    // sliding-window census (2 h window, 1 h slide): each event lands in
    // exactly width/slide = 2 windows — the fan-out is a constant factor
    // in the partial aggregation, NOT a self-join; epoch-aligned starts
    // make the oracle a 2-way shifted-bucket union
    "events_sliding" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
        .groupBy(window(col("event_time"), "2 hours", "1 hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .select(unix_micros(col("window.start")).as("w_start_us"),
          col("event_type"), col("n"), col("value_cents"))),

    // hourly distinct users, exact + HLL cross-check: the exact path
    // shuffles (hour, user) pairs — corpus-sized at 100 TB; the HLL++
    // sketch (approx_count_distinct, rsd 1%) moves one mergeable sketch
    // per group. approx_ok pins the sketch within 5% of exact (±2 slack
    // for tiny groups) so the scale path's accuracy is oracle-audited,
    // not asserted.
    "events_distinct_hourly" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(expr("ts div 3600000000000 * 3600").as("hour_epoch"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          approx_count_distinct(col("user_id"), 0.01).as("n_approx"))
        .select(col("hour_epoch"), col("n_users"),
          (abs(col("n_approx") - col("n_users")) <=
            greatest(ceil(col("n_users") * 0.05), lit(2L))).as("approx_ok"))),

    // Mergeable distinct census (operators.HllCensus): build per-(day,
    // type) DataSketches HLL sketches in ONE partial-aggregated pass,
    // then answer the per-type distinct-users question by UNION-MERGING
    // the persisted day sketches — the re-aggregation never touches raw
    // events, which is the O(segments) serving primitive at 100 TB. At
    // gate scale the merged sketches sit in the sparse-exact regime, so
    // the estimate equals DuckDB's exact COUNT(DISTINCT) bit-for-bit,
    // pinning the two-level union algebra (day build → type merge)
    // rather than an approximation tolerance.
    "events_distinct_sketch" -> ((s, d) => {
      val daySketches = graft.operators.HllCensus.build(
        Tables.events(s, d),
        Seq(expr("ts div 86400000000000").as("day"), col("event_type")),
        col("user_id"))
      graft.operators.HllCensus
        .estimate(daySketches, Seq(col("event_type")), "n_users")
        .orderBy("event_type")
    }),

    // first-touch attribution: each user's earliest event (ts, event_id
    // tie-break) via min(struct(...)) — partial-aggregated (SortAggregate
    // over the struct min: map side reduces to ONE row per user per
    // partition before the exchange), where the naive window/row_number
    // plan shuffles every event and sorts full user histories; census
    // per acquiring event type with the user set xor-pinned
    "events_first_touch" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(struct(col("ts"), col("event_id"), col("event_type")))
          .as("first"))
        .groupBy(col("first.event_type").as("first_type"))
        .agg(count(lit(1)).as("n_users"),
          expr("bit_xor(user_id)").as("user_xor"))),

    // cohort retention matrix: users bucketed by first-active week, then
    // counted per (cohort_week, week_offset). ONE corpus-sized shuffle
    // (user_id) — the per-user active-week set rides a collect_set
    // bounded by the calendar span (weeks, not events), so there is NO
    // cohort self-join; the explode fans back out to ≤ users × span rows
    // and the final cell aggregation exchanges only that (partial-agg'd)
    // table. user_xor pins the exact membership of each cell.
    "events_retention" -> ((s, d) =>
      operators.Retention.cohorts(
        Tables.events(s, d).select(col("user_id"), col("ts")))),

    // quantile census (operators.QuantileCensus / functions.QuantileDigest):
    // per-(day,type) GK digests re-merged per type answer p50/p90/p99
    // from digest rows alone. The quantile VALUE may move within the
    // ε-rank bound under AQE's merge order, so the oracle pins the GK
    // contract itself — exact ranks of the returned values, recomputed
    // in-engine against the raw rows, must sit within 2ε·N — plus the
    // digest's exact count (the heavy-hitters bounds-boolean pattern).
    "events_quantiles_sketch" -> ((s, d) => {
      val eps = 0.001
      val ev = Tables.events(s, d).where(col("value").isNotNull)
      val digests = graft.operators.QuantileCensus.build(ev,
        Seq(expr("ts div 86400000000000").as("day"), col("event_type")),
        col("value"), eps)
      val merged = graft.operators.QuantileCensus.quantiles(digests,
        Seq(col("event_type")), Seq(0.5, 0.9, 0.99))
      def okCols(qppm: Long, p: String) = Seq(
        (sum(when(col("value") <= col(p), 1L).otherwise(0L)) * 1000000L
          >= (lit(qppm - 2000L) * first(col("n")) - 1000000L)) &&
        (sum(when(col("value") < col(p), 1L).otherwise(0L)) * 1000000L
          <= (lit(qppm + 2000L) * first(col("n")) + 1000000L)))
      ev.join(broadcast(merged), "event_type")
        .groupBy(col("event_type"))
        .agg(first(col("n")).as("n"),
          okCols(500000L, "p50").head.as("p50_ok"),
          okCols(900000L, "p90").head.as("p90_ok"),
          okCols(990000L, "p99").head.as("p99_ok"))
        .orderBy("event_type")
    }),

    // week-over-week retention by SET ALGEBRA over persisted sketches
    // (inclusion–exclusion with the scalar hll_union) — zero raw-row
    // input at serving time, vs the exact path's (user, week) shuffle
    // per question. Sparse-exact at gate scale, so the oracle is the
    // exact self-join intersection, not a tolerance.
    "events_retention_sketch" -> ((s, d) => {
      val weekly = graft.operators.HllCensus.build(
        Tables.events(s, d),
        Seq(expr("ts div 604800000000000").as("week")), col("user_id"))
      graft.operators.HllCensus.consecutiveOverlap(weekly, "week")
        .orderBy("week_a")
    }),

    // heavy hitters via the Misra–Gries TypedImperativeAggregate: k=64
    // counters per partial regardless of vocabulary size (the exact
    // top-terms path shuffles every distinct token — corpus-sized at
    // 100 TB; the sketch moves only k-entry maps). The sketch guarantee
    // — ĉ ≤ c and (c − ĉ)·(k+1) ≤ N, so anything with c·(k+1) > N must
    // be reported — is asserted in-engine against the exact twin on pure
    // integers; the oracle pins the booleans TRUE.
    "text_heavy_hitters" -> ((s, d) => {
      val k = 64
      // the token explode feeds three aggregations (N, the sketch, the
      // exact twin) but is deliberately NOT checkpointed: each consumer
      // is a streaming scan-parallel aggregate with a tiny shuffle, so
      // re-running the explode costs two extra scans while materializing
      // it would store a corpus-token-sized RDD (measured slower even at
      // sf0.1). The vocab-sized `exact` below IS checkpointed — it feeds
      // two consumers and costs a corpus shuffle to rebuild.
      val toks = Tables.documents(s, d)
        .select(explode(pipeline.TextAnalysis.tokens(col("text"))).as("tok"))
      val nDf = toks.agg(count(lit(1)).as("n_tokens"))
      val sk = toks
        .agg(graft.functions.MisraGries.misra_gries(col("tok"), k).as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e").getField("item").as("tok"),
          col("e").getField("cnt").as("est"))
      val exact = pipeline.Dedup.checkpointCorpus(
        toks.groupBy("tok").agg(count(lit(1)).as("c")))
      val bounds = sk.join(exact, Seq("tok")).crossJoin(broadcast(nDf))
        .agg(
          expr(s"bool_and(est <= c AND (c - est) * ${k + 1} <= n_tokens)")
            .as("within_bounds"),
          (count(lit(1)) <= k).as("reported_le_k"))
      val uncovered = exact.crossJoin(broadcast(nDf))
        .where(col("c") * (k + 1) > col("n_tokens"))
        .join(sk, Seq("tok"), "left_anti")
        .agg(count(lit(1)).as("miss"))
      nDf.crossJoin(bounds).crossJoin(uncovered)
        .select(col("n_tokens"), col("within_bounds"),
          (col("miss") === 0).as("heavy_covered"), col("reported_le_k"))
    }),

    // grouped heavy hitters: the same sketch under groupBy — one
    // ObjectHashAggregate with a k-counter map PER GROUP (languages
    // here; sources/domains in production), bounds asserted per group
    "corpus_heavy_per_lang" -> ((s, d) => {
      val k = 16
      // same reuse shape (and the same deliberate non-checkpoint of the
      // explode) as text_heavy_hitters
      val toks = Tables.documents(s, d).select(col("lang"),
        explode(pipeline.TextAnalysis.tokens(col("text"))).as("tok"))
      val n = toks.groupBy("lang").agg(count(lit(1)).as("n_tokens"))
      val sk = toks.groupBy("lang")
        .agg(graft.functions.MisraGries.misra_gries(col("tok"), k).as("sk"))
        .select(col("lang"), explode(col("sk")).as("e"))
        .select(col("lang"), col("e").getField("item").as("tok"),
          col("e").getField("cnt").as("est"))
      val exact = pipeline.Dedup.checkpointCorpus(
        toks.groupBy("lang", "tok").agg(count(lit(1)).as("c")))
      val bounds = sk.join(exact, Seq("lang", "tok"))
        .join(broadcast(n), Seq("lang")).groupBy("lang")
        .agg(expr(s"bool_and(est <= c AND (c - est) * ${k + 1} <= n_tokens)")
            .as("within_bounds"),
          (count(lit(1)) <= k).as("reported_le_k"))
      val uncovered = exact.join(broadcast(n), Seq("lang"))
        .where(col("c") * (k + 1) > col("n_tokens"))
        .join(sk, Seq("lang", "tok"), "left_anti")
        .groupBy("lang").agg(count(lit(1)).as("miss"))
      n.join(bounds, Seq("lang")).join(uncovered, Seq("lang"), "left")
        .select(col("lang"), col("n_tokens"), col("within_bounds"),
          (coalesce(col("miss"), lit(0L)) === 0).as("heavy_covered"),
          col("reported_le_k"))
    }),

    // vocabulary census: exact distinct tokens (production uses
    // approx_count_distinct at corpus scale — bounded-error HLL, no
    // value shuffle; the exact twin is the verifiable baseline)
    "text_vocab" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(pipeline.TextAnalysis.tokens(col("text"))).as("tok"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_distinct"))),

    // The PRODUCTION vocabulary path: approx_count_distinct (HLL++, one
    // pass, fixed sketch memory, partials merge map-side — no value
    // shuffle like exact DISTINCT needs at corpus scale). HLL++ with rsd r
    // has standard error r·exact; the query checks |approx − exact| ≤ 5·r·
    // exact in-engine (5σ ≈ never for a correct sketch) and returns the
    // bound as a boolean the oracle pins to TRUE — a drifting sketch fails
    // the round. Exact twin rides along as the oracled anchor value.
    "text_vocab_approx" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(pipeline.TextAnalysis.tokens(col("text"))).as("tok"))
        .agg(countDistinct(col("tok")).as("n_distinct"),
          approx_count_distinct(col("tok"), rsd = 0.02).as("__approx"))
        .select(col("n_distinct"),
          (abs(col("__approx") - col("n_distinct"))
            <= col("n_distinct") * lit(5 * 0.02)).as("within_bounds"))),

    // top terms by document frequency (stopword discovery / vocab pruning)
    "text_top_terms" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(pipeline.TextAnalysis.tokens(col("text"))))
            .as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("tok").asc)
        .limit(20)),

    // PII scrub: the corpus text is PII-free word soup, so deterministic
    // emails/phones/IPs are PLANTED per doc (mod cycles vary the counts
    // 0–2 per class), then detected and redacted. Scan-parallel regex
    // expressions, zero shuffles; the redacted text is pinned bit-exact
    // via its portable hash, not just the counts.
    "text_pii_scrub" -> ((s, d) => {
      val did = col("doc_id")
      val planted = Tables.documents(s, d).select(did, concat(
        col("text"),
        when(did % 3 === 0,
          concat(lit(" mail u"), did.cast("string"), lit("@ex"),
            (did % 7).cast("string"), lit(".org"))).otherwise(lit("")),
        when(did % 6 === 0,
          concat(lit(" cc backup-"), did.cast("string"),
            lit("@archive.net"))).otherwise(lit("")),
        when(did % 5 === 0,
          concat(lit(" call 555-"),
            lpad((did % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
        when(did % 4 === 0,
          concat(lit(" from 10."), (did % 256).cast("string"), lit("."),
            (did % 100).cast("string"), lit(".7"))).otherwise(lit("")))
        .as("t"))
      pipeline.Pii.signals(planted, col("doc_id"), col("t"))
    }),

    // most distinctive term per doc — the tf-idf argmax with an
    // integer-exact tf/df score (no floating ln, so the ranking is
    // engine-portable): tf within the doc, df across docs, floor-ppm
    // ratio, row_number over (score desc, term asc)
    "text_tfidf_top" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(pipeline.TextAnalysis.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score_ppm").desc, col("tok").asc)
      tf.join(dfreq.hint("shuffle_hash"), Seq("tok"))
        .withColumn("score_ppm",
          floor(col("tf") * lit(1000000.0) / col("df")).cast("long"))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("doc_id"), col("tok").as("top_term"),
          col("tf"), col("df"), col("score_ppm"))
    }),

    // deterministic train/val/test assignment from the portable id hash —
    // reproducible across runs/engines/cluster sizes, census oracled
    "corpus_splits" -> ((s, d) =>
      pipeline.Curation.withSplit(Tables.documents(s, d), col("doc_id"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))),

    // CLUSTER-AWARE splits + leakage audit: hashing doc_id into
    // train/val/test puts near-duplicate documents on BOTH sides of the
    // split — eval leakage, the quiet way a 100 TB corpus inflates its
    // benchmark numbers. Splitting by the near-dup CLUSTER label instead
    // (every member co-travels) makes cross-split near-dup pairs zero BY
    // CONSTRUCTION — and this query measures both schemes' leakage
    // rather than asserting it
    "corpus_split_leakage" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = pipeline.Dedup.minhashCandidates(docs, "doc_id",
          col("text")).where(col("est_jaccard_ppm") >= 500000)
        .select(col("ida"), col("idb")).localCheckpoint(true)
      val labels = pipeline.Dedup.clusterLabels(pairs)
      def splitOf(c: org.apache.spark.sql.Column) =
        when(pipeline.Curation.pctBucket(c) < 80, "train")
          .when(pipeline.Curation.pctBucket(c) < 90, "val")
          .otherwise("test")
      val sp = docs.select(col("doc_id"))
        .join(labels, col("doc_id") === col("did"), "left_outer")
        .select(col("doc_id"),
          splitOf(col("doc_id")).as("naive_split"),
          splitOf(coalesce(col("label"), col("doc_id"))).as("aware_split"))
      val leak = pairs
        .join(sp.select(col("doc_id").as("ida"),
          col("naive_split").as("na"), col("aware_split").as("aa")), Seq("ida"))
        .join(sp.select(col("doc_id").as("idb"),
          col("naive_split").as("nb"), col("aware_split").as("ab")), Seq("idb"))
        .agg(
          coalesce(sum(when(col("na") =!= col("nb"), 1L).otherwise(0L)),
            lit(0L)).as("naive_leak_pairs"),
          coalesce(sum(when(col("aa") =!= col("ab"), 1L).otherwise(0L)),
            lit(0L)).as("aware_leak_pairs"))
      val sizes = sp.agg(
        sum(when(col("aware_split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("aware_split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("aware_split") === "test", 1L).otherwise(0L)).as("n_test"))
      leak.crossJoin(sizes)
    }),

    // single-pass filter-stage audit (Observation API): per-stage
    // first-fail drop counts ride the SAME action as the filter — zero
    // extra scans at any corpus size; invariant Σdropped + kept = total
    "corpus_filter_audit" -> ((s, d) =>
      pipeline.Observability.auditCensus(s, Tables.documents(s, d),
        pipeline.Observability.standardStages())),

    // 5-gram benchmark decontamination: docs 0–49 play the eval set; any
    // training doc sharing a 5-gram with it is flagged and dropped
    "corpus_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.where(col("doc_id") < 50)
      val train = docs.where(col("doc_id") >= 50)
      // one contamination scan (checkpointed); the clean count still runs
      // the real anti-join rather than subtracting, as a consistency check
      val cont = pipeline.Curation.contaminatedIds(
        train, bench, "doc_id", col("text"), 5).localCheckpoint(true)
      val clean = train.join(cont, Seq("doc_id"), "left_anti")
      train.agg(count(lit(1)).as("n_train"))
        .crossJoin(cont.agg(count(lit(1)).as("n_contaminated")))
        .crossJoin(clean.agg(count(lit(1)).as("n_clean")))
    }),

    // operator composition: per-language corpus stats (language-ID keying
    // a quality aggregation) — the everyday filter-then-report shape of a
    // multilingual training-data pipeline
    "text_lang_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"),
          pipeline.TextAnalysis.langId(col("text")).as("pred_lang"),
          length(col("text")).cast("long").as("n_chars"),
          pipeline.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          sum(col("n_tokens")).as("tokens"),
          floor(avg(col("n_tokens"))).cast("long").as("avg_tokens"))
    }),

    // as-of join: each purchase matched to the user's most recent prior
    // error event (composition: union + one keyed window — one shuffle)
    "events_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("ts"))
      operators.AsOfJoin.asofJoin(purchases, errors, "user_id", "ts", Seq("ts"))
        .select(col("event_id"), col("user_id"),
          coalesce(expr("(ts - asof_ts) div 1000000000"), lit(-1L)).as("gap_s"))
    }),

    // the whale-key-proof two-phase as-of (per-(key, day-bucket) windows
    // + boundary stitch) — same oracle as events_asof_join: the
    // bucketing must be invisible in results
    "events_asof_bucketed" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("ts"))
      operators.AsOfJoin.asofJoinBucketed(purchases, errors,
          "user_id", "ts", Seq("ts"))
        .select(col("event_id"), col("user_id"),
          coalesce(expr("(ts - asof_ts) div 1000000000"), lit(-1L)).as("gap_s"))
    }),

    // forward as-of with tolerance: each error matched to the user's NEXT
    // purchase within 24 h (pandas merge_asof direction='forward';
    // same one-shuffle union+window composition, descending)
    "events_asof_forward" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.where(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      operators.AsOfJoin.asofJoinForward(errors, purchases, "user_id", "ts",
          Seq("ts"), toleranceNs = Some(86400L * 1000000000L))
        .select(col("event_id"), col("user_id"),
          coalesce(expr("(asof_ts - ts) div 1000000000"), lit(-1L)).as("ttp_s"))
    }),

    // nearest as-of (direction trio complete): each error to its CLOSEST
    // purchase within 24 h either way, ties backward; both directions
    // ride one union — single shuffle, two in-partition sorted frames
    "events_asof_nearest" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.where(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      operators.AsOfJoin.asofJoinNearest(errors, purchases, "user_id", "ts",
          Seq("ts"), toleranceNs = 86400L * 1000000000L)
        .select(col("event_id"), col("user_id"),
          coalesce(expr("abs(asof_ts - ts) div 1000000000"), lit(-1L))
            .as("abs_gap_s"),
          col("asof_dir"))
    }),

    // interval-union coverage: each event claims [ts, ts+5min); per user,
    // total covered time + merged-interval count. Overlap merge IS
    // session_window with gap = interval length (spans [first, last+L)),
    // so the whole union runs in the session-merging aggregate — no
    // self-join, no full-history sort-window
    "events_active_time" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
        .groupBy(col("user_id"),
          session_window(col("event_time"), "5 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(unix_micros(col("session_window.end")) -
            unix_micros(col("session_window.start"))).as("covered_us"))),

    // purchase↔preceding-hour-error pairs via the SAME logical plan that
    // runs as a watermarked stream-stream interval join in streaming
    // (EventsStream.purchaseErrorJoin; equality test-pinned) — batch
    // plans it as an equi-join on user + range filter, one shuffle
    "events_error_purchase_pairs" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      streaming.EventsStream.purchaseErrorJoin(ev)
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(expr("bit_xor(p_id)"), lit(0L)).as("p_xor"),
          coalesce(expr("bit_xor(e_id)"), lit(0L)).as("e_xor"))
    }),

    // rolling range-window census: per event, how many same-user events
    // landed in the preceding hour (inclusive, value-range frame — no
    // fixed row count); distribution census keeps the output small.
    // Per-user range windows sort only each user's history, not the
    // corpus; 100 TB shape is events-per-user-bounded, same as sessions
    "events_rolling_count" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"))
        .rangeBetween(-3599999999999L, 0) // strictly-within-1h lookback
      Tables.events(s, d)
        .select(col("user_id"), col("ts"))
        .withColumn("rolling_n", count(lit(1)).over(w))
        .groupBy(col("rolling_n"))
        .agg(count(lit(1)).as("n_events"))
    }),

    // one-pass multi-level census via ROLLUP: (type, day), per-type
    // totals, and the grand total from a single Expand + aggregation —
    // no re-scan per level
    "events_rollup" -> ((s, d) =>
      Tables.events(s, d)
        .rollup(col("event_type"), expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("day"), lit(-1L)).as("day"),
          col("n"), col("value_cents"))),

    // inter-arrival time distribution: per-user lag gaps bucketed by
    // decimal digit count (integer-exact cross-engine bucket — no
    // float log), censused per event type with the gap mass pinned
    "events_interarrival" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("gap", col("ts") - lag("ts", 1).over(w))
        .where(col("gap").isNotNull)
        .groupBy(col("event_type"),
          length(col("gap").cast("string")).as("gap_digits"))
        .agg(count(lit(1)).as("n"), sum(col("gap")).as("gap_sum"))
    }),

    // activity heatmap: (day-of-week × hour-of-day) census in pure
    // integer arithmetic (epoch day 0 = Thursday → dow = (d + 4) % 7,
    // 0 = Sunday) — no date/tz functions to disagree across engines
    "events_dow_hour_heatmap" -> ((s, d) =>
      Tables.events(s, d)
        .select(expr("(ts div 86400000000000 + 4) % 7").as("dow"),
          expr("(ts div 3600000000000) % 24").as("hour"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n"))),

    // behavior transition matrix: consecutive same-user event-type pairs
    // censused into a Markov-style (prev → next) matrix — per-user lag
    // only (bounded histories), transition membership xor-pinned
    "events_transitions" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(event_id)").as("event_xor"))
    }),

    // cumulative daily revenue: per-day aggregate FIRST (corpus shuffle
    // reduces to one row per day), then the running sum windows over the
    // days-sized frame — the orders twin of the distributed prefix-sum
    // pattern (the naive cumulative window over raw orders sorts the
    // whole fact table in one partition)
    "orders_cumulative_revenue" -> ((s, d) => {
      val byDay = Tables.orders(s, d)
        .groupBy(expr(
          "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
          .as("day"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("day_cents"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      byDay
        .withColumn("cum_orders", sum(col("n_orders")).over(w))
        .withColumn("cum_cents", sum(col("day_cents")).over(w))
        .select(col("day"), col("n_orders"), col("cum_orders"), col("cum_cents"))
    }),

    // set-difference audience: purchasers who never errored — distinct
    // reduction BEFORE the anti join, so the join ships user ids once
    // regardless of per-user event counts
    "events_purchasers_no_error" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id")).distinct()
      val e = ev.where(col("event_type") === "error")
        .select(col("user_id")).distinct()
      p.join(e, Seq("user_id"), "left_anti")
        .agg(count(lit(1)).as("n_users"),
          coalesce(expr("bit_xor(user_id)"), lit(0L)).as("user_xor"))
    }),

    // single-pass column profiler: min/max/sum/null-count for three
    // measure columns in ONE scan + one partial-agg row (the stack to
    // tidy long format happens on the 1-row aggregate, not the data)
    "profile_lineitem" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      def cents(c: String) = round(col(c) * 100).cast("long")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val aggs = cols.flatMap { c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        min(cents(c)).as(s"${c}_min"), max(cents(c)).as(s"${c}_max"),
        sum(cents(c)).as(s"${c}_sum"))
      }
      val stackArgs = cols.map(c =>
        s"'$c', ${c}_nulls, ${c}_min, ${c}_max, ${c}_sum").mkString(", ")
      li.agg(count(lit(1)).as("n"), aggs: _*)
        .selectExpr("n",
          s"stack(${cols.size}, $stackArgs) AS (col_name, n_null, min_c, max_c, sum_c)")
        .select(col("col_name"), col("n"), col("n_null"),
          col("min_c"), col("max_c"), col("sum_c"))
    }),

    // ---- multimodal plumbing (stubbed decode; rows-only checks) ----

    "multimodal_features" -> ((s, d) => {
      val assets = pipeline.Multimodal.syntheticAssets(Tables.documents(s, d))
      assets.select(col("asset_id"), col("modality"),
        length(col("content")).cast("long").as("n_bytes"),
        pipeline.Multimodal.stubDecodeFeatures(col("content")).as("features"))
        .withColumn("feat_norm_x1000",
          floor(pipeline.Similarity.norm(col("features")) * 1000).cast("long"))
        .drop("features").orderBy("asset_id")
    }),

    "multimodal_frames" -> ((s, d) => {
      val assets = pipeline.Multimodal.syntheticAssets(Tables.documents(s, d))
        .where(col("modality") === "video")
      pipeline.Multimodal.sampleFrames(assets, 4, 32)
        .groupBy(col("modality"))
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame"))).cast("long").as("frame_bytes"))
    }),

    // SEMANTIC corpus dedup: cluster the embedding near-dup graph and keep
    // one representative per component — the embedding-space analog of
    // dedup_corpus (fixture-tuned LSH: planes=6/bands=8, cosine ≥ 0.4 ppm
    // threshold like emb_near_dup, so the graph is non-trivial)
    "emb_dedup_corpus" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val pairs = pipeline.Similarity.cosineNearDupPairs(
        emb, 400000L, planes = 6, bands = 8)
      val labels = pipeline.Dedup.clusterLabels(pairs)
      val losers = labels.where(col("label") < col("did"))
        .agg(count(lit(1)).as("__losers"))
      emb.agg(count(lit(1)).as("total_vecs")).crossJoin(losers)
        .select(col("total_vecs"),
          (col("total_vecs") - col("__losers")).as("kept_vecs"))
    }),

    // Stratified per-language sampling: deterministic hash-rank within
    // each language stratum, k per stratum — the reproducible
    // "balanced subset" primitive of corpus curation. The census pins the
    // exact sampled SET (id sums), not just counts.
    // weighted Bernoulli sample: inclusion probability ∝ document length
    // (the training-mix move: longer docs carry more tokens). Fully
    // deterministic and engine-portable — the md5-derived uniform makes
    // the sampled SET reproducible in SQL, so the oracle hash-checks the
    // exact membership (id xor + sampled char mass), not just the rate.
    // Scan-parallel: one pass, no shuffle before the final 1-row census
    "corpus_weighted_sample" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("u", pipeline.Dedup.portableHash(
          concat(lit("wsmp:"), col("doc_id").cast("string"))) % 20000000L)
        .withColumn("take_id", // p = n_chars / 20,000
          when(col("u") < col("n_chars") * 1000L, col("doc_id")))
        .agg(count(lit(1)).as("n_total"),
          count(col("take_id")).as("n_sampled"),
          sum(when(col("take_id").isNotNull, col("n_chars")).otherwise(0L))
            .as("sampled_chars"),
          coalesce(expr("bit_xor(take_id)"), lit(0L)).as("id_xor"))),

    // per-type time-weighted average value — the two-phase (type,
    // day-bucket) window chain lives in operators.TimeWeightedAvg
    // (shared with the ScaleBench events stage)
    "events_twa" -> ((s, d) =>
      operators.TimeWeightedAvg.compute(Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("v_cents")))),

    "corpus_stratified_sample" -> ((s, d) => {
      val k = 20
      val lang = Tables.documents(s, d).select(col("doc_id"),
        pipeline.TextAnalysis.langId(col("text")).as("pred_lang"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("pred_lang")
        .orderBy(pipeline.Dedup.portableHash(
          concat(lit("smp:"), col("doc_id").cast("string"))).asc,
          col("doc_id").asc)
      lang.withColumn("rk", row_number().over(w))
        .groupBy(col("pred_lang"))
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("rk") <= k, 1L).otherwise(0L)).as("n_sampled"),
          sum(when(col("rk") <= k, col("doc_id")).otherwise(0L))
            .as("sample_id_sum"))
        .orderBy("pred_lang")
    }),

    // REAL image decode (javax.imageio, JDK codec): render deterministic
    // PNGs executor-side, decode them back, and emit integer-exact pixel
    // sums. The oracle recomputes the sums from the closed-form pixel
    // formula — so a decode that flips a channel, drops a row, or is
    // lossy in any way hash-mismatches. 24 images ≤ 32×32: the payload is
    // small but the codec is the real one.
    "multimodal_decode" -> ((s, d) => {
      val specs = Tables.documents(s, d).where(col("doc_id") < 24)
        .select(col("doc_id").as("asset_id"),
          (col("doc_id") % 25 + 8).as("w"),
          ((col("doc_id") * 3) % 25 + 8).as("h"))
      val assets = pipeline.Multimodal.renderPngAssets(s, specs)
      pipeline.Multimodal.decodeImageFeatures(s, assets).orderBy("asset_id")
    }),

    // REAL audio decode twin of multimodal_decode: synthesized 16-bit PCM
    // WAV clips decoded with the JDK codec (javax.sound.sampled) — the
    // sample sums are integer-exact and closed-form, so encode→decode→
    // aggregate is oracle-checked end to end
    "multimodal_audio" -> ((s, d) => {
      val specs = Tables.documents(s, d).where(col("doc_id") < 24)
        .select(col("doc_id").as("asset_id"),
          (lit(8000) + (col("doc_id") % 3) * 4000).as("rate"),
          (col("doc_id") * 50 + 100).as("n"))
      val assets = pipeline.Multimodal.renderWavAssets(s, specs)
      pipeline.Multimodal.decodeAudioFeatures(s, assets).orderBy("asset_id")
    }),

    // Perceptual image dedup over REAL decoded pixels: every 10th asset is
    // a one-pixel-perturbed copy of its predecessor; dHash + banded hamming
    // join must surface exactly those pairs. The oracle recomputes the
    // hashes from the closed-form pixel formula — the decode, the hash
    // loop, the banding and the verify are all hash-checked end to end.
    "multimodal_image_dhash" -> ((s, d) =>
      pipeline.Multimodal.imageDHash(s,
        pipeline.Multimodal.renderPngAssetsQuad(s, imageDedupSpecs(s, d)))
        .orderBy("asset_id")),

    "multimodal_image_neardup" -> ((s, d) =>
      pipeline.Multimodal.imageNearDupPairs(
        pipeline.Multimodal.imageDHash(s,
          pipeline.Multimodal.renderPngAssetsQuad(s, imageDedupSpecs(s, d))),
        bands = 7, maxHamming = 2)
        .orderBy("ida", "idb")),

    // Perceptual audio dedup over REAL decoded PCM: window-energy
    // fingerprint (the energy-envelope analog of dHash), banded hamming
    // join; the oracle recomputes the fingerprints from the closed-form
    // gained-sawtooth sample formula — encode, javax.sound decode, window
    // energies, banding and verify all hash-checked end to end.
    // Video near-dup via frame-hash-set overlap: each "video" is 10 real
    // PNG frames (no JDK video codec — the container decode slot is the
    // disclosed sampleFrames stub; frames and their dHashes are real);
    // every 10th video re-renders 8 of its predecessor's 10 frame seeds →
    // Jaccard 8/12. The oracle recomputes every frame hash from the
    // closed-form pixel formula and the set overlap in SQL.
    "multimodal_video_neardup" -> ((s, d) => {
      val frames = Tables.documents(s, d).where(col("doc_id") < 24)
        .select(col("doc_id").as("vid"),
          explode(sequence(lit(0), lit(9))).as("fidx"))
        .select(col("vid"), col("fidx"),
          when(col("vid") % 10 === 9 && col("fidx") < 8, col("vid") - 1)
            .otherwise(col("vid")).as("evid"))
      val specs = frames.select(
        (col("vid") * 101 + col("fidx")).as("asset_id"),
        (col("evid") * 101 + col("fidx")).as("seed"),
        lit(9).as("w"), lit(7).as("h"), lit(0).as("rplus"))
      val hashes = pipeline.Multimodal.imageDHash(s,
        pipeline.Multimodal.renderPngAssetsQuad(s, specs))
        .select(expr("asset_id DIV 101").as("video_id"), col("dhash"))
      pipeline.Multimodal.frameSetNearDupPairs(hashes, 500000L)
        .orderBy("vida", "vidb")
    }),

    "multimodal_audio_fingerprint" -> ((s, d) =>
      pipeline.Multimodal.audioFingerprint(s,
        pipeline.Multimodal.renderWavAssetsSeeded(s, audioDedupSpecs(s, d)))
        .orderBy("asset_id")),

    "multimodal_audio_neardup" -> ((s, d) =>
      pipeline.Multimodal.hammingNearDupPairs(
        pipeline.Multimodal.audioFingerprint(s,
          pipeline.Multimodal.renderWavAssetsSeeded(s, audioDedupSpecs(s, d))),
        "afp", 56, bands = 7, maxHamming = 2)
        .orderBy("ida", "idb")),

    // exact repeated-n-gram census (word-level exact substring dedup, Lee
    // et al. 2022): per doc, the share of its 5-grams that appear in any
    // OTHER doc — no pair materialization, linear at any corpus size
    "dedup_repeated_ngrams" -> ((s, d) =>
      pipeline.Curation.repeatedNgramStats(
          Tables.documents(s, d), "doc_id", col("text"), 5)
        .select(col("did").as("doc_id"), col("n_grams"),
          col("n_dup_grams"), col("dup_ppm"))
        .orderBy("doc_id")),

    // exact duplicated-SPAN localization (the position-aware substring
    // dedup of Lee et al. 2022): maximal runs of consecutive positions
    // whose 5-gram occurs >1× in the corpus → span lengths per doc
    "dedup_dup_spans" -> ((s, d) =>
      pipeline.Dedup.duplicatedSpans(
          Tables.documents(s, d), "doc_id", col("text"), 5)
        .select(col("did").as("doc_id"), col("n_grams"),
          col("n_dup_grams"), col("longest_dup_span"), col("n_spans"))
        .orderBy("doc_id")),

    // winnowed fingerprint census (MOSS): per-doc selected-print count
    // and an order-independent xor pin of the print set
    "text_winnow" -> ((s, d) =>
      pipeline.Dedup.winnowedFingerprints(
          Tables.documents(s, d), "doc_id", col("text"), 5, 4)
        .groupBy(col("did"))
        .agg(count(lit(1)).as("n_prints"),
          expr("bit_xor(f)").as("prints_xor"))
        .select(col("did").as("doc_id"), col("n_prints"), col("prints_xor"))
        .orderBy("doc_id")),

    // candidate pairs from shared winnowed prints, boilerplate-guarded
    "dedup_winnow_pairs" -> ((s, d) =>
      pipeline.Dedup.winnowPairs(
          Tables.documents(s, d), "doc_id", col("text"))
        .orderBy("ida", "idb")),

    // semantic-diversity sampling: IVF cells as strata, deterministic
    // hash-rank sample of 8 vectors per cell, census + xor-pinned picks
    "corpus_diverse_sample" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = pipeline.Similarity.centroids(emb, 16)
      pipeline.Similarity.diverseSample(emb, cents, 8).orderBy("cell")
    }),

    // incremental dedup: docs < 250 are the already-kept corpus (its
    // signature table is the persisted index), docs >= 250 arrive as a
    // new batch — census of vs-index drops, within-batch drops, the kept
    // set (xor-pinned) and the updated index size
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // the kept corpus's index is a PERSISTED table in production —
      // checkpoint stands in, so its explode+agg lineage isn't recomputed
      // by each of the call's two consumers (band keys + estimate join)
      val oldSigs = pipeline.Dedup.checkpointCorpus(
        pipeline.Dedup.minhashSignatures(
          docs.where(col("doc_id") < 250), "doc_id", col("text"), 3, 64))
      val batch = docs.where(col("doc_id") >= 250)
      val (kept, index) = pipeline.Dedup.incrementalDedup(
        batch, "doc_id", col("text"), oldSigs, thresholdPpm = 500000L)
      batch.agg(count(lit(1)).as("n_new"))
        .crossJoin(kept.agg(count(lit(1)).as("n_kept"),
          expr("bit_xor(doc_id)").as("kept_xor")))
        .crossJoin(index.agg(count(lit(1)).as("index_size")))
    }),

    // the STREAMING shape of incremental dedup (DocsStream.nearDedupStream
    // applies exactly this per microbatch): two sequential batches, each
    // deduped against the index the previous one left behind — batch 2
    // must see batch 1's survivors, not just the initial index
    "dedup_incremental_stream" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // persisted-index stand-in (see dedup_incremental): without it the
      // initial index's explode+agg lineage re-runs up to 4x across the
      // two chained calls' band/estimate consumers
      val idx0 = pipeline.Dedup.checkpointCorpus(
        pipeline.Dedup.minhashSignatures(
          docs.where(col("doc_id") < 250), "doc_id", col("text"), 3, 64))
      val b1 = docs.where(col("doc_id") >= 250 && col("doc_id") < 400)
      val b2 = docs.where(col("doc_id") >= 400)
      val (k1, i1) = pipeline.Dedup.incrementalDedup(
        b1, "doc_id", col("text"), idx0, thresholdPpm = 500000L)
      val (k2, i2) = pipeline.Dedup.incrementalDedup(
        b2, "doc_id", col("text"), i1, thresholdPpm = 500000L)
      b1.agg(count(lit(1)).as("n_b1"))
        .crossJoin(k1.agg(count(lit(1)).as("n_kept1"),
          expr("bit_xor(doc_id)").as("kept1_xor")))
        .crossJoin(b2.agg(count(lit(1)).as("n_b2")))
        .crossJoin(k2.agg(count(lit(1)).as("n_kept2"),
          expr("bit_xor(doc_id)").as("kept2_xor")))
        .crossJoin(i2.agg(count(lit(1)).as("index_size")))
    }),

    // corpus-level census over the same stats: how much of the corpus is
    // boilerplate (≥50% repeated grams) vs fully unique
    "corpus_dup_ngram_census" -> ((s, d) =>
      pipeline.Curation.repeatedNgramStats(
          Tables.documents(s, d), "doc_id", col("text"), 5)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_grams")).as("total_grams"),
          sum(col("n_dup_grams")).as("dup_grams"),
          sum(when(col("dup_ppm") >= 500000L, 1L).otherwise(0L))
            .as("n_dup_heavy"),
          sum(when(col("dup_ppm") === 0L, 1L).otherwise(0L))
            .as("n_unique_docs"))),

    // CCNet-style head/middle/tail terciles per language: rank by
    // vocabulary diversity inside each language, cut in thirds, census
    "corpus_quality_buckets" -> ((s, d) =>
      pipeline.Curation.qualityTerciles(Tables.documents(s, d),
          col("doc_id"), col("lang"), col("text"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars_text")).as("chars"),
          min(col("score_ppm")).as("min_score"),
          max(col("score_ppm")).as("max_score"))
        .orderBy("lang", "bucket")),

    // C4-style per-source cap: at most 15 docs per source, chosen by
    // deterministic hash rank; census pins the exact kept SET per source
    "corpus_domain_cap" -> ((s, d) =>
      pipeline.Curation.domainCapCensus(Tables.documents(s, d),
          col("doc_id"), col("source"), 15)
        .orderBy("source")),

    // sequence packing: fixed 2048-token bins under a deterministic global
    // order, computed as a DISTRIBUTED two-phase prefix sum (no global
    // window); per-bin fill census
    "corpus_pack_bins" -> ((s, d) =>
      pipeline.Curation.packBins(Tables.documents(s, d),
          col("doc_id"), col("text"), 2048L)
        .orderBy("bin")),

    // token-budget selection: keep the highest-quality documents that
    // fit a total token budget (top-N-tokens curation). The kept set is
    // a deterministic prefix of the (score desc, id) order, computed as
    // a bucketed two-phase prefix sum — the oracle's single global
    // window IS the naive formulation, so the hash match doubles as the
    // two-phase ≡ global proof. Census per (lang, kept); the decision
    // frame is id-keyed and text-free, re-joined to the corpus for lang
    "corpus_token_budget" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val picks = pipeline.Curation.tokenBudgetSelect(
        docs, col("doc_id"), col("text"), 14000L)
      picks.join(docs.select(col("doc_id").as("did"), col("lang")), "did")
        .groupBy(col("lang"), col("kept"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"),
          min(col("score_ppm")).as("min_score"),
          max(col("score_ppm")).as("max_score"))
        .orderBy("lang", "kept")
    }),

    // sliding token windows (context shaping for training/RAG): content
    // pinned by the portable hash of each window, not just the arithmetic
    "corpus_chunks" -> ((s, d) =>
      pipeline.Curation.chunkTokens(Tables.documents(s, d),
          "doc_id", col("text"), 16, 8)
        .select(col("did").as("doc_id"), col("chunk_idx"), col("start_tok"),
          col("n_tok_chunk"), col("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")),

    // mixture planning: uniform 20% target share per language; S binds on
    // the scarcest language, everything else downsamples to match
    "corpus_mixture_plan" -> ((s, d) =>
      pipeline.Curation.mixturePlan(Tables.documents(s, d),
          col("lang"), col("text"),
          Map("de" -> 200000L, "en" -> 200000L, "es" -> 200000L,
            "fr" -> 200000L, "zh" -> 200000L))
        .orderBy("lang")),

    // corpus-trained unigram commonness (the integer-exact analog of a
    // perplexity quality filter): per-doc expected token probability, ppm
    "text_unigram_score" -> ((s, d) =>
      pipeline.TextAnalysis.unigramCommonness(
          Tables.documents(s, d), "doc_id", col("text"))
        .select(col("did").as("doc_id"), col("n_tokens"),
          col("commonness_ppm"))
        .orderBy("doc_id")),

    // the WHOLE pipeline composed end-to-end — quality gate → near-dedup
    // keepers → n-gram decontamination vs the eval slice → shard
    // manifest of the export. One oracle pins every stage boundary: a
    // drift in any stage's semantics moves the final manifest hash.
    "corpus_curate_export" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val quality = pipeline.TextAnalysis.qualityFilter(docs, col("text"),
        minTokens = 10, maxTokens = 1000, minDistinctPpm = 200000)
      val kept = pipeline.Dedup.dedupCorpus(quality, "doc_id", col("text"))
      val clean = pipeline.Curation.decontaminate(
        kept.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50),
        "doc_id", col("text"), 5)
      pipeline.Curation.shardManifest(clean, col("doc_id"), col("text"), 4)
        .orderBy("shard")
    }),

    // SEMANTIC decontamination: drop training vectors within cosine 0.40
    // of any eval vector (vec_id < 50 plays the eval set) — the
    // embedding-space complement of the n-gram paths, catching
    // paraphrases; census with the dropped set xor-pinned
    "corpus_semantic_decontaminate" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val bench = emb.where(col("vec_id") < 50)
      val train = emb.where(col("vec_id") >= 50)
      val hits = pipeline.Similarity.crossNearDupPairs(
          train, bench, 400000L, planes = 6, bands = 8)
        .select(col("cid")).distinct()
      train.agg(count(lit(1)).as("n_train"))
        .crossJoin(hits.agg(
          count(lit(1)).as("n_contaminated"),
          coalesce(expr("bit_xor(cid)"), lit(0L)).as("contaminated_xor")))
        .withColumn("n_clean", col("n_train") - col("n_contaminated"))
    }),

    // training-shard manifest — the export contract of the last-mile
    // writer (Curation.writeShards): per-shard doc/token/char totals with
    // the exact membership xor-pinned, deterministic across engines
    "corpus_shard_manifest" -> ((s, d) =>
      pipeline.Curation.shardManifest(Tables.documents(s, d),
        col("doc_id"), col("text"), 8).orderBy("shard")),

    // decontamination, 100 TB shape: a driver-built bloom over the bounded
    // bench-gram set drops non-candidate grams AT THE SCAN (codegen'd bit
    // test, no join), so only bloom survivors shuffle into the exact
    // verify; result provably equals corpus_decontaminate's
    "corpus_decontaminate_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.where(col("doc_id") < 50)
      val train = docs.where(col("doc_id") >= 50)
      val stats = pipeline.Curation.bloomDecontaminationStats(
        train, bench, "doc_id", col("text"), 5).localCheckpoint(true)
      train.agg(count(lit(1)).as("n_train"))
        .crossJoin(stats.agg(
          coalesce(sum(col("bloom_hit")), lit(0L)).as("n_bloom_candidates"),
          coalesce(sum(col("contaminated")), lit(0L)).as("n_contaminated")))
        .withColumn("n_clean", col("n_train") - col("n_contaminated"))
    }),

    // key-skew profiler — the pre-flight diagnostic every big join/agg
    // needs at 100 TB (a whale key is the straggler/OOM that AQE's skew
    // join, salting, or the bucketed as-of exist to absorb). One partial-
    // agg shuffle of (key, count) pairs; the global scalars ride a 1-row
    // broadcast (bounded — broadcast-hygiene safe). skew_x1000 =
    // max/avg · 1000, integer-exact via cross-multiplication.
    "profile_key_skew" -> ((s, d) => {
      val counts = Tables.events(s, d)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("total"),
        count(lit(1)).as("n_keys"), max(col("n")).as("max_n"))
      counts.crossJoin(broadcast(tot))
        .select(col("user_id"), col("n"),
          // operands ride decimal(38,0) before the cross-multiply: at the
          // 100 TB target (n_keys ~1e9, max_n ~1e7) the BIGINT product
          // wraps silently while the oracle's HUGEINT stays exact
          expr("cast(n as decimal(38,0)) * 1000000 div total")
            .cast("long").as("share_ppm"),
          expr("cast(max_n as decimal(38,0)) * n_keys * 1000 div total")
            .cast("long").as("skew_x1000"))
        .orderBy(col("n").desc, col("user_id").asc)
        .limit(10)
    }),

    // join-cardinality pre-flight: |A ⋈ B| on a key = Σ_k nA(k)·nB(k),
    // computed from the two per-key count tables (each a partial-agg
    // shuffle of (key, count) — fact rows never join). est_rows sizes
    // the shuffle a planner is about to pay; max_key_rows is the whale
    // key's contribution — the skew-join/salting trigger. Accumulation
    // rides decimal (sumExactLong): per-key products summed over 1e10
    // keys wrap a long.
    // pre-flight join-strategy ADVISOR: the per-key count profiles
    // (aggregate-space, fact rows never join) feed a deterministic
    // decision ladder — broadcast / cap-fanout / salt / plain shuffle —
    // so the wrong-join failure classes (driver OOM, whale-key
    // straggler, shuffle explosion) are caught before the join is paid.
    // The three analyzed pairs exercise three ladder rungs on real data
    // at gate scale; the threshold constants live in BOTH engines.
    "profile_join_advice" -> ((s, d) => {
      import graft.operators.JoinAdvisor.advise
      val bc = 5000L
      advise(Tables.orders(s, d), col("o_orderkey"),
          Tables.lineitem(s, d), col("l_orderkey"), "orders_lineitem", bc)
        .unionByName(advise(Tables.orders(s, d), col("o_custkey"),
          Tables.customer(s, d), col("c_custkey"), "orders_customer", bc))
        .unionByName(advise(Tables.events(s, d), col("user_id"),
          Tables.events(s, d), col("user_id"), "events_self", bc))
        .orderBy("pair")
    }),

    "profile_join_cardinality" -> ((s, d) => {
      val a = Tables.orders(s, d)
        .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("na"))
      val b = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("nb"))
      a.join(b, Seq("k"))
        .agg(count(lit(1)).as("n_keys"),
          sumExactLong(col("na") * col("nb")).as("est_rows"),
          max(col("na") * col("nb")).as("max_key_rows"))
    }),

    // corpus drift census: distribution shift between two corpus
    // snapshots (here: the doc_id-parity halves standing in for
    // yesterday/today), per categorical feature. The metric is total
    // variation distance in ppm — Σ|p_a − p_b| div 2 — chosen over
    // PSI/KL deliberately: TVD is pure integer arithmetic, so the
    // number is bit-identical across engines and across re-runs (a
    // log-based metric inherits libm's last-ulp variance, which a
    // drift THRESHOLD then amplifies into a flapping alert). Shape:
    // one scan (both features ride one explode), one partial-agg
    // shuffle of (feature, bucket) counts, per-feature totals as
    // windows over that |buckets|-sized frame — aggregate-space end
    // to end, like the other pre-flight profilers.
    "profile_corpus_drift" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val fv = Tables.documents(s, d).select(
          (col("doc_id") % 2 === 0).as("in_a"),
          explode(array(
            struct(lit("lang").as("feature"), col("lang").as("bucket")),
            struct(lit("source").as("feature"), col("source").as("bucket"))))
            .as("fv"))
        .select(col("fv.feature").as("feature"),
          col("fv.bucket").as("bucket"), col("in_a"))
      val counts = fv.groupBy("feature", "bucket")
        .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"))
      // per-feature totals via a WINDOW over the |buckets|-sized counts
      // frame, not a self-join: a join would re-derive counts from a
      // second scan (column pruning makes the subtrees non-identical,
      // so exchange reuse can't kick in) — the window keeps the corpus
      // scanned exactly once, and everything after the first agg is
      // aggregate-space
      val byFeature = Window.partitionBy("feature")
      counts
        .withColumn("tot_a", sum("n_a").over(byFeature))
        .withColumn("tot_b", sum("n_b").over(byFeature))
        .select(col("feature"), col("bucket"), col("n_a"), col("n_b"),
          // decimal operands: at 1e12 docs n*1e6 wraps a BIGINT
          expr("cast(n_a as decimal(38,0)) * 1000000 div tot_a")
            .cast("long").as("a_ppm"),
          expr("cast(n_b as decimal(38,0)) * 1000000 div tot_b")
            .cast("long").as("b_ppm"))
        .withColumn("shift_ppm", abs(col("a_ppm") - col("b_ppm")))
        .withColumn("sum_shift", sum(col("shift_ppm")).over(byFeature))
        .withColumn("feature_tvd_ppm", expr("sum_shift div 2"))
        .drop("sum_shift")
        .orderBy("feature", "bucket")
    }),

    // BM25-style ranked retrieval over the corpus; the integer-exact
    // scoring rationale and scale shape live on the operator
    // ([[pipeline.TextAnalysis.bm25TopK]]).
    "text_bm25_topk" -> ((s, d) =>
      pipeline.TextAnalysis.bm25TopK(Tables.documents(s, d),
        col("doc_id"), col("text"), Seq("data", "stream", "shuffle"), 10)),

    // The same ranked retrieval through the PERSISTENT posting-list
    // index ([[pipeline.Bm25Index]]): build → search must equal the
    // index-free scan bit-for-bit, which sharing the oracle SQL pins.
    // The checkpoint stands in for the persisted partitioned parquet.
    "retrieval_bm25_indexed" -> ((s, d) => {
      val (postings, stats) = pipeline.Bm25Index.build(
        Tables.documents(s, d), col("doc_id"), col("text"), 64)
      pipeline.Bm25Index.search(pipeline.Dedup.checkpointCorpus(postings),
        stats, Seq("data", "stream", "shuffle"), 10, 64)
    }),

    // the posting-index DELETE door: build base, add a delta batch,
    // tombstone every 7th document (O(delta) — the stats correction
    // comes from the deleted docs' own tokenization), search through
    // the tombstone filter. The oracle runs the full scoring over ONLY
    // the surviving documents, so the hash match proves add + delete +
    // search ≡ rebuild on the survivors ([[pipeline.Bm25Index.delete]]).
    "retrieval_bm25_delete" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.where(col("doc_id") % 5 =!= 4)
      val delta = docs.where(col("doc_id") % 5 === 4)
      val (p0, s0) = pipeline.Bm25Index.build(
        base, col("doc_id"), col("text"), 64)
      val (p1, s1) = pipeline.Bm25Index.add(
        p0, s0, delta, col("doc_id"), col("text"), 64)
      val (tombs, s2) = pipeline.Bm25Index.delete(
        s1, docs.where(col("doc_id") % 7 === 0), col("doc_id"), col("text"))
      pipeline.Bm25Index.search(
        pipeline.Dedup.checkpointCorpus(
          pipeline.Bm25Index.applyTombstones(p1, tombs)),
        s2, Seq("data", "stream", "shuffle"), 10, 64)
    }),

    // the posting-index UPDATE door (generation-versioned, the
    // persisted-store path): every 6th document is re-indexed with
    // version-1 text under gen 1 while a (doc_id, upto_gen=0) tombstone
    // retires its gen-0 rows — the fresh generation survives its own
    // id's tombstone ([[pipeline.Bm25Index.applyGenTombstones]]). The
    // oracle scores the UPDATED corpus from scratch, so the hash match
    // proves stamp + append + gen-tombstone + search ≡ rebuild.
    "retrieval_bm25_update" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val oldU = docs.where(col("doc_id") % 6 === 3)
      val newU = oldU.select(col("doc_id"),
        concat(col("text"), lit(" shuffle data")).as("text"))
      val (p0, s0) = pipeline.Bm25Index.build(
        docs, col("doc_id"), col("text"), 64)
      val (delta, tombs, s1) = pipeline.Bm25Index.update(
        s0, oldU, newU, col("doc_id"), col("text"), 64, newGen = 1L)
      pipeline.Bm25Index.search(
        pipeline.Dedup.checkpointCorpus(
          pipeline.Bm25Index.applyGenTombstones(
            pipeline.Bm25Index.stampGen(p0, 0L).unionByName(delta),
            tombs)),
        s1, Seq("data", "stream", "shuffle"), 10, 64)
    }),

    // the full maintenance LIFECYCLE through [[pipeline.Maintenance
    // .tick]] — two ticks against the gen-versioned store, exercising
    // every guard the one-call door owns: tick 1 updates every 6th doc
    // (gen 1) + deletes every 7th + appends id-shifted copies of every
    // 11th; tick 2 deletes PREVIOUSLY-UPDATED docs (the unified-table
    // path an id-only guard silently swallowed — round 12's latent
    // defect) and re-sends a tick-1 delete (the gen-aware guard must
    // drop it or stats drift). The oracle scores the end-state corpus
    // from scratch, so the hash match proves the orchestrated
    // delete/update/add/guard/stats composition ≡ rebuild.
    "retrieval_bm25_lifecycle" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val door = new pipeline.Maintenance.Bm25Door(col("text"), 64)
      val (p0, s0) = pipeline.Bm25Index.build(
        docs, col("doc_id"), col("text"), 64)
      val store = new pipeline.Maintenance.FrameStore(
        pipeline.Bm25Index.stampGen(p0, 0L))
      var st = pipeline.Maintenance.initialState(s, door, Some(s0))
      val empty = docs.limit(0)
      val upd1old = docs.where(col("doc_id") % 6 === 3)
      val upd1new = upd1old.select(col("doc_id"),
        concat(col("text"), lit(" shuffle data")).as("text"))
      val del1 = docs.where(col("doc_id") % 7 === 0 &&
        col("doc_id") % 6 =!= 3)
      val add1 = docs.where(col("doc_id") % 11 === 5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      st = pipeline.Maintenance.tick(door, store, st, adds = add1,
        deletes = del1, updates = upd1new, updatesOld = Some(upd1old))
      val del2 = upd1new.where(col("doc_id") % 12 === 3)
        .unionByName(del1.orderBy(col("doc_id")).limit(1)) // re-sent
      st = pipeline.Maintenance.tick(door, store, st, adds = empty,
        deletes = del2, updates = empty, updatesOld = Some(empty))
      pipeline.Bm25Index.search(
        pipeline.Dedup.checkpointCorpus(st.live(door, store)),
        st.stats.get, Seq("data", "stream", "shuffle"), 10, 64)
    }),

    // the same two-tick mutation plan through the streaming TAILER's
    // persistence ([[streaming.IndexMaintenanceStream]]): bootstrap the
    // versioned parquet layout, apply each tick as a mutation
    // micro-batch (op rows; update rows carry the superseded text),
    // search the committed serving view. Shares
    // `retrieval_bm25_lifecycle`'s oracle derivation — the hash match
    // proves the tailer's versioned store/state plumbing changes
    // NOTHING about the answer.
    "retrieval_bm25_tailer" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val door = new pipeline.Maintenance.Bm25Door(col("text"), 64)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-tailer").toString
      graft.streaming.IndexMaintenanceStream.bootstrap(
        s, door, dir, pipeline.Bm25Index.write, docs)
      val oldV: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame =
        u => u.select(col("doc_id"), col("old_text").as("text"))
      val upd1old = docs.where(col("doc_id") % 6 === 3)
      val b0 = docs.where(col("doc_id") % 11 === 5)
        .select(lit("add").as("op"),
          (col("doc_id") + 1000000L).as("doc_id"), col("text"),
          lit(null).cast("string").as("old_text"))
        .unionByName(docs
          .where(col("doc_id") % 7 === 0 && col("doc_id") % 6 =!= 3)
          .select(lit("delete").as("op"), col("doc_id"), col("text"),
            lit(null).cast("string").as("old_text")))
        .unionByName(upd1old.select(lit("update").as("op"),
          col("doc_id"),
          concat(col("text"), lit(" shuffle data")).as("text"),
          col("text").as("old_text")))
      graft.streaming.IndexMaintenanceStream.applyBatch(
        s, door, dir, pipeline.Bm25Index.write, b0, 0L, Some(oldV))
      val b1 = upd1old.where(col("doc_id") % 12 === 3)
        .select(lit("delete").as("op"), col("doc_id"),
          concat(col("text"), lit(" shuffle data")).as("text"),
          lit(null).cast("string").as("old_text"))
      graft.streaming.IndexMaintenanceStream.applyBatch(
        s, door, dir, pipeline.Bm25Index.write, b1, 1L, Some(oldV))
      val (live, stats) = graft.streaming.IndexMaintenanceStream
        .currentView(s, door, dir)
      // eager-checkpoint the tiny RESULT so nothing downstream reads
      // the temp tree (stats now come back as a LAZY 1-row scan over
      // the state dir — the r16 load-time job cut), then drop the
      // store instead of leaking a corpus-sized layout per repetition
      val result = pipeline.Dedup.checkpointCorpus(
        pipeline.Bm25Index.search(
          pipeline.Dedup.checkpointCorpus(live),
          stats.get, Seq("data", "stream", "shuffle"), 10, 64))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      result
    }),

    // HYBRID retrieval: reciprocal-rank fusion of the BM25 lexical leg
    // and the cosine vector leg ([[pipeline.Retrieval.hybridTopK]]) —
    // integer-exact fusion (1000000 div (60 + rank)) over both legs'
    // deterministic ranks, so the whole two-leg ranker mirrors in SQL.
    "retrieval_hybrid_rrf" -> ((s, d) =>
      pipeline.Retrieval.hybridTopK(
        Tables.documents(s, d), Tables.embeddings(s, d),
        col("doc_id"), col("text"), Seq("data", "stream", "shuffle"),
        qid = 0L, k = 10, legK = 20)),

    // the same fusion through the SERVING indexes — the BM25 posting
    // index (bucket-pruned probe) and the IVF cell index under the
    // frozen corpus-seeded quantizer
    // ([[pipeline.Retrieval.hybridTopKIndexed]]). The oracle's vector
    // leg mirrors the IVF probe (nlist 16, nprobe 4), so the hash match
    // pins the whole indexed hybrid path, approximation and all.
    "retrieval_hybrid_indexed" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = pipeline.Similarity.centroids(emb, 16)
      val index = pipeline.Similarity.ivfAssign(emb, cents)
      val (postings, stats) = pipeline.Bm25Index.build(
        Tables.documents(s, d), col("doc_id"), col("text"), 64)
      pipeline.Retrieval.hybridTopKIndexed(
        pipeline.Dedup.checkpointCorpus(postings), stats, 64,
        index, cents, emb.where(col("vec_id") === 0L),
        Seq("data", "stream", "shuffle"), k = 10, legK = 20, nprobe = 4)
    }),

    // the SCALAR single-query door ([[pipeline.Retrieval
    // .hybridTopKIndexedScalar]]): the same fused answer as
    // retrieval_hybrid_indexed served through the (qid, vector) entry
    // point — no guard action, probe cells resolved driver-side
    // through the same compiled argmax; the oracle is the SAME SQL as
    // the DataFrame door's, so the hash match pins the scalar door's
    // bit-equality through the driver gate (the spec pins the
    // action-count cut)
    "retrieval_hybrid_scalar" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = pipeline.Similarity.centroids(emb, 16)
      val index = pipeline.Similarity.ivfAssign(emb, cents)
      val (postings, stats) = pipeline.Bm25Index.build(
        Tables.documents(s, d), col("doc_id"), col("text"), 64)
      val qVec = emb.where(col("vec_id") === 0L)
        .select("embedding").collect().head
        .getSeq[Float](0).map(_.toDouble)
      pipeline.Retrieval.hybridTopKIndexedScalar(
        pipeline.Dedup.checkpointCorpus(postings), stats, 64,
        index, cents, 0L -> qVec,
        Seq("data", "stream", "shuffle"), k = 10, legK = 20, nprobe = 4)
    }),

    // WEIGHTED hybrid: the lexical leg at 3× the vector leg's weight
    // (the standard knob when the text signal is trusted more than the
    // embedding) — integer ppm weights keep the fused ordering
    // SQL-mirrorable bit-for-bit.
    "retrieval_hybrid_weighted" -> ((s, d) =>
      pipeline.Retrieval.hybridTopK(
        Tables.documents(s, d), Tables.embeddings(s, d),
        col("doc_id"), col("text"), Seq("data", "stream", "shuffle"),
        qid = 0L, k = 10, legK = 20,
        weights = Seq(1500000L, 500000L))),

    // BATCHED hybrid serving: five queries, each with its own term
    // list and query vector, answered in ONE pass over each index —
    // [[pipeline.Bm25Index.searchBatch]] unions all queries' bucket
    // predicates so every touched posting bucket is read once for the
    // whole batch, the IVF probe batches natively, and the RRF fusion
    // is per-qid ([[pipeline.Retrieval.hybridTopKBatch]]).
    "retrieval_hybrid_batch" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = pipeline.Similarity.centroids(emb, 16)
      val index = pipeline.Similarity.ivfAssign(emb, cents)
      val (postings, stats) = pipeline.Bm25Index.build(
        Tables.documents(s, d), col("doc_id"), col("text"), 64)
      pipeline.Retrieval.hybridTopKBatch(
        pipeline.Dedup.checkpointCorpus(postings), stats, 64,
        index, cents, emb.where(col("vec_id") < 5), hybridBatchTerms,
        k = 10, legK = 20, nprobe = 4)
        .orderBy("qid", "rank")
    }),

    // hybrid fusion from BOTH maintained gen stores after their
    // lifecycle mutation plans: the BM25 store runs the two
    // `retrieval_bm25_lifecycle` ticks over documents, the IVF store
    // the two `ann_ivf_lifecycle` ticks over embeddings, and the
    // serving answer fuses the tombstone-filtered BM25 probe with the
    // partition-pruned IVF probe. The oracle rebuilds BOTH mutated
    // corpora from scratch and fuses — the hash match proves the whole
    // hybrid serving stack stays correct under live mutation.
    "retrieval_hybrid_lifecycle" -> ((s, d) => {
      // ---- BM25 store: the retrieval_bm25_lifecycle mutation plan
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val bmDoor = new pipeline.Maintenance.Bm25Door(col("text"), 64)
      val (p0, s0) = pipeline.Bm25Index.build(
        docs, col("doc_id"), col("text"), 64)
      val bmStore = new pipeline.Maintenance.FrameStore(
        pipeline.Bm25Index.stampGen(p0, 0L))
      var bmSt = pipeline.Maintenance.initialState(s, bmDoor, Some(s0))
      val dEmpty = docs.limit(0)
      val upd1old = docs.where(col("doc_id") % 6 === 3)
      val upd1new = upd1old.select(col("doc_id"),
        concat(col("text"), lit(" shuffle data")).as("text"))
      val del1 = docs.where(col("doc_id") % 7 === 0 &&
        col("doc_id") % 6 =!= 3)
      val add1 = docs.where(col("doc_id") % 11 === 5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      // ---- IVF store: the ann_ivf_lifecycle mutation plan
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val cents = pipeline.Similarity.centroids(emb, 16)
      val ivfDoor = new pipeline.Maintenance.IvfDoor(cents)
      val ivfStore = new pipeline.Maintenance.FrameStore(
        pipeline.Similarity.ivfStampGen(
          pipeline.Similarity.ivfAssign(emb, cents), 0L))
      var ivfSt = pipeline.Maintenance.initialState(s, ivfDoor)
      val vEmpty = emb.limit(0)
      val vUpd1 = emb.where(col("vec_id") % 6 === 3)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val vDel1 = emb.where(col("vec_id") % 9 === 7 &&
        col("vec_id") % 6 =!= 3)
      val vAdd1 = emb.where(col("vec_id") % 11 === 5)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      // the two in-memory stores are independent: their tick chains
      // overlap (§2.6), each chain internally ordered
      inParallel(
        () => {
          bmSt = pipeline.Maintenance.tick(bmDoor, bmStore, bmSt,
            adds = add1, deletes = del1, updates = upd1new,
            updatesOld = Some(upd1old))
          bmSt = pipeline.Maintenance.tick(bmDoor, bmStore, bmSt,
            adds = dEmpty,
            deletes = upd1new.where(col("doc_id") % 12 === 3),
            updates = dEmpty, updatesOld = Some(dEmpty))
        },
        () => {
          ivfSt = pipeline.Maintenance.tick(ivfDoor, ivfStore, ivfSt,
            adds = vAdd1, deletes = vDel1, updates = vUpd1)
          ivfSt = pipeline.Maintenance.tick(ivfDoor, ivfStore, ivfSt,
            adds = vEmpty,
            deletes = vUpd1.where(col("vec_id") % 12 === 3),
            updates = vEmpty)
        })
      // ---- fuse the two serving probes
      val lex = pipeline.Retrieval.rankLex(pipeline.Bm25Index.search(
        pipeline.Dedup.checkpointCorpus(bmSt.live(bmDoor, bmStore)),
        bmSt.stats.get, Seq("data", "stream", "shuffle"), 20, 64))
      val vec = pipeline.VectorLeg.Ivf(ivfSt.live(ivfDoor, ivfStore),
        cents, nprobe = 4)
        .batch(emb.where(col("vec_id") === 0L), 20)
        .select(col("nid").as("doc_id"), col("rank"))
      pipeline.Retrieval.rrfFuse(Seq(lex, vec), k = 10)
    }),

    // WEIGHTED fusion through the BATCH tier: the same per-leg ppm
    // knob `retrieval_hybrid_weighted` pins for a single query, now in
    // [[pipeline.Retrieval.rrfFuseByQuery]] — five queries, one pass
    // over each index, lexical leg at 3× the vector leg's weight
    "retrieval_hybrid_batch_weighted" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = pipeline.Similarity.centroids(emb, 16)
      val index = pipeline.Similarity.ivfAssign(emb, cents)
      val (postings, stats) = pipeline.Bm25Index.build(
        Tables.documents(s, d), col("doc_id"), col("text"), 64)
      pipeline.Retrieval.hybridTopKBatch(
        pipeline.Dedup.checkpointCorpus(postings), stats, 64,
        index, cents, emb.where(col("vec_id") < 5), hybridBatchTerms,
        k = 10, legK = 20, nprobe = 4,
        weights = Seq(1500000L, 500000L))
        .orderBy("qid", "rank")
    }),

    // METADATA-FILTERED BM25 ([[pipeline.Bm25Index.searchFiltered]]):
    // the allowed slice (every 3rd doc) masks candidates BEFORE the
    // top-k limit while scoring stays global (Lucene filter-query
    // semantics) — the oracle scores the FULL corpus and ranks only
    // the slice, so the hash match pins both halves of the contract
    "retrieval_bm25_filtered" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (postings, stats) = pipeline.Bm25Index.build(
        docs, col("doc_id"), col("text"), 64)
      pipeline.Bm25Index.searchFiltered(
        pipeline.Dedup.checkpointCorpus(postings), stats,
        Seq("data", "stream", "shuffle"), 10, 64,
        docs.where(col("doc_id") % 3 === 0).select("doc_id"))
    }),

    // METADATA-FILTERED IVF probe ([[pipeline.VectorLeg.Ivf]] with
    // `allowed`, FAISS-IDSelector semantics):
    // the mask applies before the per-query rank window under the
    // frozen quantizer — the oracle assigns and probes only the
    // allowed slice, so filtered probe ≡ index-of-the-slice
    "ann_ivf_filtered" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = pipeline.Similarity.centroids(emb, 16)
      val index = pipeline.Similarity.ivfAssign(emb, cents)
      pipeline.VectorLeg.Ivf(index, cents, 4)
        .batch(emb.where(col("vec_id") < 5), 5,
          Some(emb.where(col("vec_id") % 3 === 0).select("vec_id")))
        .orderBy("qid", "rank")
    }),

    // FILTERED HYBRID ([[pipeline.Retrieval.hybridTopKIndexedFiltered]]):
    // "search within a slice" — both legs masked before their top-k,
    // fused by RRF; the oracle rebuilds both filtered legs from scratch
    "retrieval_hybrid_filtered" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val docs = Tables.documents(s, d)
      val cents = pipeline.Similarity.centroids(emb, 16)
      val index = pipeline.Similarity.ivfAssign(emb, cents)
      val (postings, stats) = pipeline.Bm25Index.build(
        docs, col("doc_id"), col("text"), 64)
      pipeline.Retrieval.hybridTopKIndexedFiltered(
        pipeline.Dedup.checkpointCorpus(postings), stats, 64,
        index, cents, emb.where(col("vec_id") === 0L),
        Seq("data", "stream", "shuffle"),
        docs.where(col("doc_id") % 3 === 0).select("doc_id"),
        k = 10, legK = 20, nprobe = 4)
    }),

    // BATCHED STORE-BACKED hybrid ([[pipeline.Retrieval.storeHybrid]]
    // over an IVF leg): both tailer-maintained stores run
    // their two lifecycle mutation batches through the versioned
    // parquet layout, then five queries are answered in ONE pass over
    // each store at one consistent asOf (min committed batch) — the
    // oracle rebuilds BOTH mutated corpora from scratch and fuses
    // per-qid, pinning batch amortization + store consistency together
    "retrieval_hybrid_store_batch" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      // ---- BM25 store: the retrieval_bm25_tailer mutation batches
      val bmDoor = new pipeline.Maintenance.Bm25Door(col("text"), 64)
      val bmDir = java.nio.file.Files
        .createTempDirectory("graft-hsb-bm").toString
      val oldV: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame =
        u => u.select(col("doc_id"), col("old_text").as("text"))
      val upd1old = docs.where(col("doc_id") % 6 === 3)
      val b0 = docs.where(col("doc_id") % 11 === 5)
        .select(lit("add").as("op"),
          (col("doc_id") + 1000000L).as("doc_id"), col("text"),
          lit(null).cast("string").as("old_text"))
        .unionByName(docs
          .where(col("doc_id") % 7 === 0 && col("doc_id") % 6 =!= 3)
          .select(lit("delete").as("op"), col("doc_id"), col("text"),
            lit(null).cast("string").as("old_text")))
        .unionByName(upd1old.select(lit("update").as("op"),
          col("doc_id"),
          concat(col("text"), lit(" shuffle data")).as("text"),
          col("text").as("old_text")))
      val b1 = upd1old.where(col("doc_id") % 12 === 3)
        .select(lit("delete").as("op"), col("doc_id"),
          concat(col("text"), lit(" shuffle data")).as("text"),
          lit(null).cast("string").as("old_text"))
      // ---- IVF store: the ann_ivf_lifecycle mutation batches
      val cents = pipeline.Similarity.centroids(emb, 16)
      val ivfDoor = new pipeline.Maintenance.IvfDoor(cents)
      val ivfDir = java.nio.file.Files
        .createTempDirectory("graft-hsb-ivf").toString
      def ivfWrite(df: org.apache.spark.sql.DataFrame, dst: String,
                   mode: String): Unit =
        df.write.partitionBy("cell").mode(mode).parquet(dst)
      val vUpd1 = emb.where(col("vec_id") % 6 === 3)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val v0 = emb.where(col("vec_id") % 11 === 5)
        .select(lit("add").as("op"),
          (col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .unionByName(emb
          .where(col("vec_id") % 9 === 7 && col("vec_id") % 6 =!= 3)
          .select(lit("delete").as("op"), col("vec_id"),
            col("embedding")))
        .unionByName(vUpd1.select(lit("update").as("op"), col("vec_id"),
          col("embedding")))
      val v1 = vUpd1.where(col("vec_id") % 12 === 3)
        .select(lit("delete").as("op"), col("vec_id"), col("embedding"))
      // two independent store dirs: the chains overlap (§2.6); each
      // chain keeps its own batch order (bootstrap → b0 → b1)
      inParallel(
        () => {
          graft.streaming.IndexMaintenanceStream.bootstrap(
            s, bmDoor, bmDir, pipeline.Bm25Index.write, docs)
          graft.streaming.IndexMaintenanceStream.applyBatch(
            s, bmDoor, bmDir, pipeline.Bm25Index.write, b0, 0L, Some(oldV))
          graft.streaming.IndexMaintenanceStream.applyBatch(
            s, bmDoor, bmDir, pipeline.Bm25Index.write, b1, 1L, Some(oldV))
        },
        () => {
          graft.streaming.IndexMaintenanceStream.bootstrap(
            s, ivfDoor, ivfDir, ivfWrite, emb)
          graft.streaming.IndexMaintenanceStream.applyBatch(
            s, ivfDoor, ivfDir, ivfWrite, v0, 0L)
          graft.streaming.IndexMaintenanceStream.applyBatch(
            s, ivfDoor, ivfDir, ivfWrite, v1, 1L)
        })
      // ---- one consistent batched fusion; eager-checkpoint the tiny
      // result so both temp stores can be dropped before the caller's
      // action runs (the tailer-fixture discipline)
      val result = pipeline.Dedup.checkpointCorpus(
        pipeline.Retrieval.storeHybrid(s, bmDoor, bmDir, 64,
          pipeline.VectorLeg.ivfStore(ivfDoor, ivfDir, cents, 4),
          pipeline.Retrieval.BatchQuery(emb.where(col("vec_id") < 5),
            hybridBatchTerms), k = 10, legK = 20)
          .orderBy("qid", "rank"))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(bmDir))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(ivfDir))
      result
    }),

    // HYBRID SERVING FROM THE CODE-STORE TIER ([[pipeline.Retrieval
    // .storeHybrid]] over a PQ leg, one query): the memory-bounded deployment triple —
    // BM25 postings, the PQ-code store (8+m bytes/vector ADC working
    // set), and the full-vector store that funds the exact-rerank tail
    // — all bootstrapped through the versioned layout, mutated by one
    // mixed batch each, and served at ONE min-committed batch: the
    // vector leg ADC-ranks 40 candidates from the code store and
    // refetches only those 40 full vectors for exact top-20 scoring
    // before the fusion. The oracle rebuilds both mutated corpora from
    // scratch (frozen tables), replays ADC-40 → exact-20 → RRF — the
    // hash match pins the whole code-tier serving chain, consistency
    // rule included.
    "retrieval_hybrid_pq_store" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      // ---- BM25 store: one mixed mutation batch
      val bmDoor = new pipeline.Maintenance.Bm25Door(col("text"), 64)
      val bmDir = java.nio.file.Files
        .createTempDirectory("graft-hpq-bm").toString
      val oldV: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame =
        u => u.select(col("doc_id"), col("old_text").as("text"))
      val upd1old = docs.where(col("doc_id") % 6 === 3)
      val b0 = docs.where(col("doc_id") % 11 === 5)
        .select(lit("add").as("op"),
          (col("doc_id") + 1000000L).as("doc_id"), col("text"),
          lit(null).cast("string").as("old_text"))
        .unionByName(docs
          .where(col("doc_id") % 7 === 0 && col("doc_id") % 6 =!= 3)
          .select(lit("delete").as("op"), col("doc_id"), col("text"),
            lit(null).cast("string").as("old_text")))
        .unionByName(upd1old.select(lit("update").as("op"),
          col("doc_id"),
          concat(col("text"), lit(" shuffle data")).as("text"),
          col("text").as("old_text")))
      // ---- PQ-code store + full-vector store: the same vector batch
      val cents = pipeline.Similarity.centroids(emb, 16)
      // same first-16-by-id seed prefix centroids already collected —
      // derive the codebooks driver-side, no second collect job
      val cbs = pipeline.Similarity.pqCodebooksFromSeeds(
        cents.map(_._2).toArray, 8)
      val pqDoor = new pipeline.Maintenance.IvfPqDoor(cents, cbs)
      val vecDoor = new pipeline.Maintenance.IvfDoor(cents)
      val pqDir = java.nio.file.Files
        .createTempDirectory("graft-hpq-pq").toString
      val vecDir = java.nio.file.Files
        .createTempDirectory("graft-hpq-vec").toString
      def cellWrite(df: org.apache.spark.sql.DataFrame, dst: String,
                    mode: String): Unit =
        df.write.partitionBy("cell").mode(mode).parquet(dst)
      val vUpd1 = emb.where(col("vec_id") % 6 === 3)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val v0 = emb.where(col("vec_id") % 11 === 5)
        .select(lit("add").as("op"),
          (col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .unionByName(emb
          .where(col("vec_id") % 9 === 7 && col("vec_id") % 6 =!= 3)
          .select(lit("delete").as("op"), col("vec_id"),
            col("embedding")))
        .unionByName(vUpd1.select(lit("update").as("op"), col("vec_id"),
          col("embedding")))
      // the three stores are INDEPENDENT directories; each chain stays
      // internally ordered (bootstrap → batch), the chains overlap
      inParallel(
        () => {
          graft.streaming.IndexMaintenanceStream.bootstrap(
            s, bmDoor, bmDir, pipeline.Bm25Index.write, docs)
          graft.streaming.IndexMaintenanceStream.applyBatch(
            s, bmDoor, bmDir, pipeline.Bm25Index.write, b0, 0L, Some(oldV))
        },
        () => {
          graft.streaming.IndexMaintenanceStream.bootstrap(
            s, pqDoor, pqDir, cellWrite, emb)
          graft.streaming.IndexMaintenanceStream.applyBatch(
            s, pqDoor, pqDir, cellWrite, v0, 0L)
        },
        () => {
          graft.streaming.IndexMaintenanceStream.bootstrap(
            s, vecDoor, vecDir, cellWrite, emb)
          graft.streaming.IndexMaintenanceStream.applyBatch(
            s, vecDoor, vecDir, cellWrite, v0, 0L)
        })
      // ---- one consistent code-tier serving read
      val result = pipeline.Dedup.checkpointCorpus(
        pipeline.Retrieval.storeHybrid(s, bmDoor, bmDir, 64,
          pipeline.VectorLeg.pqStore(pqDoor, pqDir, cents, cbs,
            vecDoor, vecDir, nprobe = 4, rerankC = 40),
          pipeline.Retrieval.BatchQuery(emb.where(col("vec_id") === 0L),
            Seq(0L -> Seq("data", "stream", "shuffle"))),
          k = 10, legK = 20)
          .select("doc_id", "rrf_ppm", "n_legs"))
      Seq(bmDir, pqDir, vecDir).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(p)))
      result
    }),

    // HYBRID SERVING FROM THE SQ8 TIER ([[pipeline.Retrieval
    // .storeHybrid]] over an SQ8 leg, one query): the quantized middle tier serving the
    // fused ranker — BM25 postings + the int8 store (both mutated by
    // one mixed batch through the versioned layout) at one
    // min-committed batch; the vector leg is the int8-cosine pruned
    // probe, no rerank tail. The oracle rebuilds both mutated corpora
    // from scratch (re-quantizing under the frozen coarse tables) and
    // fuses — the hash match pins the whole quantized serving chain.
    "retrieval_hybrid_sq8_store" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val bmDoor = new pipeline.Maintenance.Bm25Door(col("text"), 64)
      val bmDir = java.nio.file.Files
        .createTempDirectory("graft-hsq-bm").toString
      val oldV: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame =
        u => u.select(col("doc_id"), col("old_text").as("text"))
      val upd1old = docs.where(col("doc_id") % 6 === 3)
      val b0 = docs.where(col("doc_id") % 11 === 5)
        .select(lit("add").as("op"),
          (col("doc_id") + 1000000L).as("doc_id"), col("text"),
          lit(null).cast("string").as("old_text"))
        .unionByName(docs
          .where(col("doc_id") % 7 === 0 && col("doc_id") % 6 =!= 3)
          .select(lit("delete").as("op"), col("doc_id"), col("text"),
            lit(null).cast("string").as("old_text")))
        .unionByName(upd1old.select(lit("update").as("op"),
          col("doc_id"),
          concat(col("text"), lit(" shuffle data")).as("text"),
          col("text").as("old_text")))
      val cents = pipeline.Similarity.centroids(emb, 16)
      val sq8Door = new pipeline.Maintenance.IvfSq8Door(cents)
      val sq8Dir = java.nio.file.Files
        .createTempDirectory("graft-hsq-sq8").toString
      def cellWrite(df: org.apache.spark.sql.DataFrame, dst: String,
                    mode: String): Unit =
        df.write.partitionBy("cell").mode(mode).parquet(dst)
      val vUpd1 = emb.where(col("vec_id") % 6 === 3)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val v0 = emb.where(col("vec_id") % 11 === 5)
        .select(lit("add").as("op"),
          (col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .unionByName(emb
          .where(col("vec_id") % 9 === 7 && col("vec_id") % 6 =!= 3)
          .select(lit("delete").as("op"), col("vec_id"),
            col("embedding")))
        .unionByName(vUpd1.select(lit("update").as("op"), col("vec_id"),
          col("embedding")))
      // independent store dirs: the two chains overlap (§2.6)
      inParallel(
        () => {
          graft.streaming.IndexMaintenanceStream.bootstrap(
            s, bmDoor, bmDir, pipeline.Bm25Index.write, docs)
          graft.streaming.IndexMaintenanceStream.applyBatch(
            s, bmDoor, bmDir, pipeline.Bm25Index.write, b0, 0L, Some(oldV))
        },
        () => {
          graft.streaming.IndexMaintenanceStream.bootstrap(
            s, sq8Door, sq8Dir, cellWrite, emb)
          graft.streaming.IndexMaintenanceStream.applyBatch(
            s, sq8Door, sq8Dir, cellWrite, v0, 0L)
        })
      val result = pipeline.Dedup.checkpointCorpus(
        pipeline.Retrieval.storeHybrid(s, bmDoor, bmDir, 64,
          pipeline.VectorLeg.sq8Store(sq8Door, sq8Dir, cents, 4),
          pipeline.Retrieval.BatchQuery(emb.where(col("vec_id") === 0L),
            Seq(0L -> Seq("data", "stream", "shuffle"))),
          k = 10, legK = 20)
          .select("doc_id", "rrf_ppm", "n_legs"))
      Seq(bmDir, sq8Dir).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(p)))
      result
    }),

    // the ADAPTIVE-TIER hybrid ([[pipeline.Retrieval
    // .storeHybrid]] over an SQ8-adaptive leg, one query): the margin router serving the
    // fused ranker from THREE mutated stores (BM25 + SQ8 codes + full
    // vectors) at one min-committed batch — the vector leg int8-ranks
    // 40 candidates and routes through the exact full-vector tail
    // only if the rank-20/21 margin is under the threshold. The
    // oracle recomputes the margin rule and BOTH routes from scratch
    // over the re-quantized mutated corpus.
    "retrieval_hybrid_sq8_adaptive" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val bmDoor = new pipeline.Maintenance.Bm25Door(col("text"), 64)
      val bmDir = java.nio.file.Files
        .createTempDirectory("graft-hsa-bm").toString
      val oldV: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame =
        u => u.select(col("doc_id"), col("old_text").as("text"))
      val upd1old = docs.where(col("doc_id") % 6 === 3)
      val b0 = docs.where(col("doc_id") % 11 === 5)
        .select(lit("add").as("op"),
          (col("doc_id") + 1000000L).as("doc_id"), col("text"),
          lit(null).cast("string").as("old_text"))
        .unionByName(docs
          .where(col("doc_id") % 7 === 0 && col("doc_id") % 6 =!= 3)
          .select(lit("delete").as("op"), col("doc_id"), col("text"),
            lit(null).cast("string").as("old_text")))
        .unionByName(upd1old.select(lit("update").as("op"),
          col("doc_id"),
          concat(col("text"), lit(" shuffle data")).as("text"),
          col("text").as("old_text")))
      val cents = pipeline.Similarity.centroids(emb, 16)
      val sq8Door = new pipeline.Maintenance.IvfSq8Door(cents)
      val vecDoor = new pipeline.Maintenance.IvfDoor(cents)
      val sq8Dir = java.nio.file.Files
        .createTempDirectory("graft-hsa-sq8").toString
      val vecDir = java.nio.file.Files
        .createTempDirectory("graft-hsa-vec").toString
      def cellWrite(df: org.apache.spark.sql.DataFrame, dst: String,
                    mode: String): Unit =
        df.write.partitionBy("cell").mode(mode).parquet(dst)
      val vUpd1 = emb.where(col("vec_id") % 6 === 3)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val v0 = emb.where(col("vec_id") % 11 === 5)
        .select(lit("add").as("op"),
          (col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .unionByName(emb
          .where(col("vec_id") % 9 === 7 && col("vec_id") % 6 =!= 3)
          .select(lit("delete").as("op"), col("vec_id"),
            col("embedding")))
        .unionByName(vUpd1.select(lit("update").as("op"), col("vec_id"),
          col("embedding")))
      // three independent store dirs: the chains overlap (§2.6)
      inParallel(
        () => {
          graft.streaming.IndexMaintenanceStream.bootstrap(
            s, bmDoor, bmDir, pipeline.Bm25Index.write, docs)
          graft.streaming.IndexMaintenanceStream.applyBatch(
            s, bmDoor, bmDir, pipeline.Bm25Index.write, b0, 0L, Some(oldV))
        },
        () => {
          graft.streaming.IndexMaintenanceStream.bootstrap(
            s, sq8Door, sq8Dir, cellWrite, emb)
          graft.streaming.IndexMaintenanceStream.applyBatch(
            s, sq8Door, sq8Dir, cellWrite, v0, 0L)
        },
        () => {
          graft.streaming.IndexMaintenanceStream.bootstrap(
            s, vecDoor, vecDir, cellWrite, emb)
          graft.streaming.IndexMaintenanceStream.applyBatch(
            s, vecDoor, vecDir, cellWrite, v0, 0L)
        })
      val result = pipeline.Dedup.checkpointCorpus(
        pipeline.Retrieval.storeHybrid(s, bmDoor, bmDir, 64,
          pipeline.VectorLeg.sq8AdaptiveStore(sq8Door, sq8Dir, cents,
            vecDoor, vecDir, nprobe = 4, rerankC = 40, marginPpm = 3000L),
          pipeline.Retrieval.BatchQuery(emb.where(col("vec_id") === 0L),
            Seq(0L -> Seq("data", "stream", "shuffle"))),
          k = 10, legK = 20)
          .select("doc_id", "rrf_ppm", "n_legs"))
      Seq(bmDir, sq8Dir, vecDir).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(p)))
      result
    }),

    // the code-tier hybrid BATCHED and FILTERED together ([[pipeline
    // .Retrieval.storeHybrid]] over a PQ leg with `allowed`): five
    // queries in one pass over the three mutated stores, the slice
    // mask (base ids ≡ 0 mod 3) applied to the lexical pool, the ADC
    // candidates, AND therefore the rerank tail — global scoring
    // preserved on both legs. The oracle rebuilds everything from
    // scratch per qid with the mask as an explicit base-slice
    // semi-join (the shifted add-ids are NOT in the mask even where
    // their id happens to be ≡ 0 mod 3).
    "retrieval_hybrid_pq_batch_filtered" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val bmDoor = new pipeline.Maintenance.Bm25Door(col("text"), 64)
      val bmDir = java.nio.file.Files
        .createTempDirectory("graft-hpqf-bm").toString
      val oldV: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame =
        u => u.select(col("doc_id"), col("old_text").as("text"))
      val upd1old = docs.where(col("doc_id") % 6 === 3)
      val b0 = docs.where(col("doc_id") % 11 === 5)
        .select(lit("add").as("op"),
          (col("doc_id") + 1000000L).as("doc_id"), col("text"),
          lit(null).cast("string").as("old_text"))
        .unionByName(docs
          .where(col("doc_id") % 7 === 0 && col("doc_id") % 6 =!= 3)
          .select(lit("delete").as("op"), col("doc_id"), col("text"),
            lit(null).cast("string").as("old_text")))
        .unionByName(upd1old.select(lit("update").as("op"),
          col("doc_id"),
          concat(col("text"), lit(" shuffle data")).as("text"),
          col("text").as("old_text")))
      val cents = pipeline.Similarity.centroids(emb, 16)
      // same first-16-by-id seed prefix centroids already collected —
      // derive the codebooks driver-side, no second collect job
      val cbs = pipeline.Similarity.pqCodebooksFromSeeds(
        cents.map(_._2).toArray, 8)
      val pqDoor = new pipeline.Maintenance.IvfPqDoor(cents, cbs)
      val vecDoor = new pipeline.Maintenance.IvfDoor(cents)
      val pqDir = java.nio.file.Files
        .createTempDirectory("graft-hpqf-pq").toString
      val vecDir = java.nio.file.Files
        .createTempDirectory("graft-hpqf-vec").toString
      def cellWrite(df: org.apache.spark.sql.DataFrame, dst: String,
                    mode: String): Unit =
        df.write.partitionBy("cell").mode(mode).parquet(dst)
      val vUpd1 = emb.where(col("vec_id") % 6 === 3)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val v0 = emb.where(col("vec_id") % 11 === 5)
        .select(lit("add").as("op"),
          (col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .unionByName(emb
          .where(col("vec_id") % 9 === 7 && col("vec_id") % 6 =!= 3)
          .select(lit("delete").as("op"), col("vec_id"),
            col("embedding")))
        .unionByName(vUpd1.select(lit("update").as("op"), col("vec_id"),
          col("embedding")))
      // three independent store dirs: the chains overlap (§2.6)
      inParallel(
        () => {
          graft.streaming.IndexMaintenanceStream.bootstrap(
            s, bmDoor, bmDir, pipeline.Bm25Index.write, docs)
          graft.streaming.IndexMaintenanceStream.applyBatch(
            s, bmDoor, bmDir, pipeline.Bm25Index.write, b0, 0L, Some(oldV))
        },
        () => {
          graft.streaming.IndexMaintenanceStream.bootstrap(
            s, pqDoor, pqDir, cellWrite, emb)
          graft.streaming.IndexMaintenanceStream.applyBatch(
            s, pqDoor, pqDir, cellWrite, v0, 0L)
        },
        () => {
          graft.streaming.IndexMaintenanceStream.bootstrap(
            s, vecDoor, vecDir, cellWrite, emb)
          graft.streaming.IndexMaintenanceStream.applyBatch(
            s, vecDoor, vecDir, cellWrite, v0, 0L)
        })
      val result = pipeline.Dedup.checkpointCorpus(
        pipeline.Retrieval.storeHybrid(s, bmDoor, bmDir, 64,
          pipeline.VectorLeg.pqStore(pqDoor, pqDir, cents, cbs,
            vecDoor, vecDir, nprobe = 4, rerankC = 40),
          pipeline.Retrieval.BatchQuery(emb.where(col("vec_id") < 5),
            hybridBatchTerms), k = 10, legK = 20,
          allowed = Some(docs.where(col("doc_id") % 3 === 0)
            .select("doc_id")))
          .orderBy("qid", "rank"))
      Seq(bmDir, pqDir, vecDir).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(p)))
      result
    }),

    // FILTERED retrieval on the BATCH tier ([[pipeline.Retrieval
    // .hybridTopKBatch]] with `allowed`): five queries, one pass over
    // each index, BOTH legs masked to the slice (every 3rd id) before
    // their per-qid top-k with global scoring preserved — the r15
    // filtered semantics and the batch amortization composing in one
    // call. The oracle ranks the slice under full-corpus scoring per
    // qid and fuses, so the hash match pins mask + batch together.
    "retrieval_hybrid_batch_filtered" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val docs = Tables.documents(s, d)
      val cents = pipeline.Similarity.centroids(emb, 16)
      val index = pipeline.Similarity.ivfAssign(emb, cents)
      val (postings, stats) = pipeline.Bm25Index.build(
        docs, col("doc_id"), col("text"), 64)
      pipeline.Retrieval.hybridTopKBatch(
        pipeline.Dedup.checkpointCorpus(postings), stats, 64,
        index, cents, emb.where(col("vec_id") < 5), hybridBatchTerms,
        k = 10, legK = 20, nprobe = 4,
        allowed = Some(
          docs.where(col("doc_id") % 3 === 0).select("doc_id")))
        .orderBy("qid", "rank")
    }),

    // RETRIEVAL EVALUATION harness ([[pipeline.Retrieval.evalMetrics]]):
    // per-query recall@20 / MRR / AP of the batched BM25 ranking
    // against a deterministic qrels rule — every metric integer-exact
    // (ppm div), so the whole eval mirrors in SQL; queries with zero
    // hits still appear (the silent-drop eval bug, oracled away)
    "retrieval_eval_metrics" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val (postings, stats) = pipeline.Bm25Index.build(
        docs, col("doc_id"), col("text"), 64)
      val res = pipeline.Bm25Index.searchBatch(
        pipeline.Dedup.checkpointCorpus(postings), stats,
        hybridBatchTerms, 20, 64)
      val qids = hybridBatchTerms.map(_._1).toDF("qid")
      val qrels = qids.crossJoin(docs.select(col("doc_id")))
        .where((col("doc_id") + col("qid") * 3) % 23 === 0)
      pipeline.Retrieval.evalMetrics(
        res.select(col("qid"), col("doc_id"), col("rank")), qrels, 20)
        .orderBy("qid")
    }),

    // TUNING SWEEP ([[pipeline.Retrieval.evalSweep]]): four fusion
    // variants (balanced / lexical-heavy / vector-heavy weights, plus
    // a low-k0 variant) of the SAME two ranked legs, each scored
    // against the deterministic qrels, ranked by macro MAP — the legs
    // are probed once for the whole sweep (ScaleBench pins the cost
    // shape at 1M); the oracle recomputes every variant's fusion and
    // metrics from scratch, so the hash match pins the entire
    // sweep-and-rank loop
    "retrieval_eval_sweep" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val cents = pipeline.Similarity.centroids(emb, 16)
      val index = pipeline.Similarity.ivfAssign(emb, cents)
      val (postings, stats) = pipeline.Bm25Index.build(
        docs, col("doc_id"), col("text"), 64)
      val lex = pipeline.Bm25Index.searchBatch(
        pipeline.Dedup.checkpointCorpus(postings), stats,
        hybridBatchTerms, 20, 64)
      val vec = pipeline.Similarity.ivfTopKIndexed(
        emb.where(col("vec_id") < 5), index, cents, 20, nprobe = 4)
        .select(col("qid"), col("nid").as("doc_id"), col("rank"))
      val qids = hybridBatchTerms.map(_._1).toDF("qid")
      val qrels = qids.crossJoin(docs.select(col("doc_id")))
        .where((col("doc_id") + col("qid") * 3) % 23 === 0)
      pipeline.Retrieval.evalSweep(lex, vec, sweepVariants,
        k = 10, qrels, evalK = 10)
    }),

    // the macro averages over the same eval — one integer-exact row
    "retrieval_eval_macro" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val (postings, stats) = pipeline.Bm25Index.build(
        docs, col("doc_id"), col("text"), 64)
      val res = pipeline.Bm25Index.searchBatch(
        pipeline.Dedup.checkpointCorpus(postings), stats,
        hybridBatchTerms, 20, 64)
      val qids = hybridBatchTerms.map(_._1).toDF("qid")
      val qrels = qids.crossJoin(docs.select(col("doc_id")))
        .where((col("doc_id") + col("qid") * 3) % 23 === 0)
      pipeline.Retrieval.evalMacro(pipeline.Retrieval.evalMetrics(
        res.select(col("qid"), col("doc_id"), col("rank")), qrels, 20))
    }),

    // Hilbert layout key: same census as layout_zorder_code but along
    // the adjacency-preserving curve — oracling the 16-round
    // rotate/reflect LOOP (functions.HilbertCode, eval AND codegen)
    // bit-for-bit against a fully unrolled SQL derivation
    "layout_hilbert_code" -> ((s, d) => {
      val hc = graft.operators.ZOrder.hilbert(
        col("l_partkey"), col("l_suppkey"))
      Tables.lineitem(s, d)
        .select(shiftright(hc, 24).as("zcell"), hc.as("zcode"))
        .groupBy("zcell")
        .agg(count(lit(1)).as("n"),
          min(col("zcode")).as("zmin"), max(col("zcode")).as("zmax"))
        .orderBy("zcell")
    }),

    // Z-order layout key (operators.ZOrder / functions.MortonCode): the
    // per-curve-cell census of lineitem's (partkey, suppkey) Morton
    // interleave — oracling the native codegen'd expression bit-for-bit
    // against the explicit shift/mask formula. The census (256 cells,
    // min/max code per cell) is the exact shape a layout job's planner
    // reads to size output files.
    "layout_zorder_code" -> ((s, d) => {
      val zc = graft.operators.ZOrder.code(col("l_partkey"), col("l_suppkey"))
      Tables.lineitem(s, d)
        .select(shiftright(zc, 24).as("zcell"), zc.as("zcode"))
        .groupBy("zcell")
        .agg(count(lit(1)).as("n"),
          min(col("zcode")).as("zmin"), max(col("zcode")).as("zmax"))
        .orderBy("zcell")
    })
  )

  // DuckDB mirrors of the text operators, generated from the same marker
  // lists so the two engines cannot drift.
  private def duckList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")
  private val toksSql = "string_split_regex(lower(trim(text)), '\\s+')"
  private def hitsSql(lang: String): String =
    s"len(list_filter($toksSql, x -> list_contains(" +
      duckList(pipeline.TextAnalysis.stopwords(lang)) + ", x)))"
  private val langIdSql: String = {
    val langs = pipeline.TextAnalysis.stopwords.keys.toSeq.sorted
    val scores = langs.map(l => s"${hitsSql(l)} AS s_$l").mkString(", ")
    val best = langs.map(l => s"s_$l").mkString("GREATEST(", ", ", ")")
    val cases = langs.map(l => s"WHEN s_$l = best THEN '$l'").mkString(" ")
    s"WITH s AS (SELECT doc_id, $scores FROM documents), " +
    s"g AS (SELECT *, $best AS best FROM s) " +
    s"SELECT doc_id, CASE WHEN best = 0 THEN 'und' $cases ELSE 'und' END AS pred_lang FROM g"
  }

  // ---- DuckDB mirrors of the vector operators ----
  // LshBuckets is integer arithmetic (see its Scaladoc), so the bucket ids
  // reproduce exactly in SQL; IVF centroids are deterministic and cosine is
  // bit-exact vs list_cosine_similarity, so ranks reproduce too.

  // ---- DuckDB mirrors of the hash-based dedup operators ----
  // Dedup.portableHash is md5-hex-parse and the permutations are integer
  // affine maps, so signatures, band keys and simhashes reproduce exactly.

  /** The shingle-list expression of [[graft.pipeline.Dedup.shingles]]
    * (distinct word `n`-grams, single-space-joined, short-text fallback)
    * over a token-list column — the ONE definition every oracle that
    * shingles text builds on, so the fallback/edge semantics cannot
    * drift between mirrors. */
  private def shingleCaseSql(n: Int, tk: String): String =
    s"""CASE WHEN len($tk) >= $n THEN
          list_distinct(list_transform(generate_series(1, len($tk) - ${n - 1}),
            i -> array_to_string($tk[i:i+${n - 1}], ' ')))
        ELSE [array_to_string($tk, ' ')] END"""

  /** CTEs `tk → shl` mirroring [[graft.pipeline.Dedup.shingles]]. */
  private def shingleCtes(n: Int): String =
    s"""tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
       shl AS (SELECT doc_id, ${shingleCaseSql(n, "tk")} AS sh FROM tk)"""

  /** CTE chain `bk → cand → nd(ida, idb, sim_ppm)` mirroring
    * `Similarity.cosineNearDupPairs`: banded-LSH candidates, exact-cosine
    * verify, ppm threshold — shared by every oracle consuming embedding
    * near-dup pairs. */
  private def semanticNdSql(planes: Int, bands: Int, thresholdPpm: Long): String =
    s"""${lshBkSql(planes, bands)},
       cand AS (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
         FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       scored AS (SELECT c.ida, c.idb,
           ${cosDSql("ea.embedding", "eb.embedding")} AS sim
         FROM cand c JOIN embeddings ea ON ea.vec_id = c.ida
         JOIN embeddings eb ON eb.vec_id = c.idb),
       nd AS (SELECT ida, idb, CAST(FLOOR(sim * 1000000) AS BIGINT) AS sim_ppm
         FROM scored WHERE FLOOR(sim * 1000000) >= $thresholdPpm)"""

  /** CTE chain `tk → shl → mex → msig → mband → mcand → mest` mirroring
    * [[graft.pipeline.Dedup.minhashCandidates]] (shingleN=3, perms=64,
    * bands=8). */
  /** Minhash CTE chain over source relation `src(doc_id, text)`; `cap > 0`
    * mirrors the engine's hot-bucket guard (`maxBucket`): keep only the
    * `cap` lowest doc_ids per (band, hash) bucket before the self-join. */
  private def minhashCtesOver(src: String, cap: Int): String = {
    val bandCte =
      if (cap <= 0)
        s"""mband AS (SELECT doc_id, k // 8 AS b,
             md5(string_agg(m::VARCHAR, ',' ORDER BY k)) AS h
           FROM msig GROUP BY doc_id, k // 8)"""
      else
        s"""mband0 AS (SELECT doc_id, k // 8 AS b,
             md5(string_agg(m::VARCHAR, ',' ORDER BY k)) AS h
           FROM msig GROUP BY doc_id, k // 8),
           mband AS (SELECT doc_id, b, h FROM (
             SELECT doc_id, b, h,
               ROW_NUMBER() OVER (PARTITION BY b, h ORDER BY doc_id) AS rk
             FROM mband0) WHERE rk <= $cap)"""
    s"""tk AS (SELECT doc_id, $toksSql AS tk FROM $src),
       shl AS (SELECT doc_id, ${shingleCaseSql(3, "tk")} AS sh FROM tk),
       mex AS (SELECT doc_id,
           ('0x' || substr(md5(u.s), 1, 15))::BIGINT % 2147483647 AS h0p
         FROM shl, UNNEST(sh) AS u(s)),
       msig AS (SELECT doc_id, kk.k,
           MIN((h0p * (((kk.k + 1) * 2654435761) % 2147483647)
             + ((kk.k + 1) * 40503) % 2147483647) % 2147483647) AS m
         FROM mex CROSS JOIN
           (SELECT unnest(generate_series(0, 63)) AS k) kk
         GROUP BY doc_id, kk.k),
       $bandCte,
       mcand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         FROM mband a JOIN mband b ON a.b = b.b AND a.h = b.h
           AND a.doc_id < b.doc_id),
       mest AS (SELECT c.ida, c.idb,
           CAST(FLOOR(1000000.0 *
             SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 64) AS BIGINT)
             AS est_jaccard_ppm
         FROM mcand c JOIN msig sa ON sa.doc_id = c.ida
         JOIN msig sb ON sb.doc_id = c.idb AND sb.k = sa.k
         GROUP BY c.ida, c.idb)"""
  }

  private val minhashCtes: String = minhashCtesOver("documents", 0)

  /** CTE chain mirroring [[graft.pipeline.Dedup.simhashPairs]] (60-bit
    * portable hash, 4 bands × 15 bits). */
  private val simhashCtes: String =
    s"""tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
       sth AS (SELECT doc_id,
           ('0x' || substr(md5(u.t), 1, 15))::BIGINT AS h
         FROM tk, UNNEST(tk.tk) AS u(t)),
       sbits AS (SELECT doc_id, bb.b,
           SUM(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
         FROM sth CROSS JOIN
           (SELECT unnest(generate_series(0, 59)) AS b) bb
         GROUP BY doc_id, bb.b),
       ssh AS (SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
             ELSE 0 END) AS BIGINT) AS sh
         FROM sbits GROUP BY doc_id),
       sband AS (SELECT doc_id, sh, bb.b, (sh >> (bb.b * 15)) & 32767 AS v
         FROM ssh CROSS JOIN
           (SELECT unnest(generate_series(0, 3)) AS b) bb),
       spairs AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
           bit_count(xor(a.sh, b.sh)) AS hamming
         FROM sband a JOIN sband b ON a.b = b.b AND a.v = b.v
           AND a.doc_id < b.doc_id)"""

  /** CTEs `ihash(asset_id, dhash)` mirroring [[imageDedupSpecs]] →
    * `Multimodal.renderPngAssetsQuad` → `Multimodal.imageDHash`: the
    * closed-form pixel gray sums and the bit-per-comparison fold. Every
    * bit index ≤ 55, so BIGINT `<<` agrees between engines. */
  private def imageDHashSql: String =
    """ia AS (
         SELECT doc_id AS asset_id,
           CASE WHEN doc_id % 10 = 9 THEN doc_id - 1 ELSE doc_id END AS seed,
           CASE WHEN doc_id % 10 = 9 THEN 5 ELSE 0 END AS rplus
         FROM documents WHERE doc_id < 60),
       ipxb AS (
         SELECT asset_id, gx.x, gy.y,
           (gx.x * 31 + gy.y * 17 + seed * 7919) % 2147483647 AS b,
           CASE WHEN gx.x = 0 AND gy.y = 0 THEN rplus ELSE 0 END AS rp
         FROM ia, generate_series(0, 8) gx(x), generate_series(0, 6) gy(y)),
       ig AS (
         SELECT asset_id, x, y,
           ((xor(b + 1, (b + 1) >> 13) * 2654435761) % 4294967296
              // 16777216 + rp) % 256
           + (xor(b + 11, (b + 11) >> 13) * 2246822519) % 4294967296
              // 16777216
           + (xor(b + 22, (b + 22) >> 13) * 3266489917) % 4294967296
              // 16777216 AS gs
         FROM ipxb),
       ihash AS (
         SELECT g1.asset_id,
           CAST(SUM(CASE WHEN g2.gs > g1.gs
             THEN CAST(1 AS BIGINT) << (g1.y * 8 + g1.x) ELSE 0 END)
             AS BIGINT) AS dhash
         FROM ig g1 JOIN ig g2 ON g2.asset_id = g1.asset_id
           AND g2.x = g1.x + 1 AND g2.y = g1.y
         WHERE g1.x < 8 GROUP BY g1.asset_id)"""

  /** CTEs `ahash(asset_id, afp)` mirroring [[audioDedupSpecs]] →
    * `Multimodal.renderWavAssetsSeeded` → `Multimodal.audioFingerprint`:
    * the closed-form per-sample-hashed amplitudes, per-window energy
    * sums, and the bit-per-comparison fold. Every bit index ≤ 55, so
    * BIGINT `<<` agrees between engines. */
  private def audioFpSql: String =
    """aa AS (
         SELECT doc_id AS asset_id,
           CASE WHEN doc_id % 10 = 9 THEN doc_id - 1 ELSE doc_id END AS seed,
           CASE WHEN doc_id % 10 = 9 THEN 200 ELSE 0 END AS aplus
         FROM documents WHERE doc_id < 60),
       asamp AS (
         SELECT asset_id, si.i // 32 AS w,
           (xor((seed * 1000003 + si.i + 1) % 2147483647,
                ((seed * 1000003 + si.i + 1) % 2147483647) >> 13)
            * 2654435761) % 4294967296 // 1048576
           + CASE WHEN si.i < 32 THEN aplus ELSE 0 END AS s
         FROM aa, generate_series(0, 1823) si(i)),
       aen AS (
         SELECT asset_id, w, SUM(s) AS e
         FROM asamp GROUP BY asset_id, w),
       ahash AS (
         SELECT e1.asset_id,
           CAST(SUM(CASE WHEN e2.e > e1.e
             THEN CAST(1 AS BIGINT) << e1.w ELSE 0 END)
             AS BIGINT) AS afp
         FROM aen e1 JOIN aen e2 ON e2.asset_id = e1.asset_id
           AND e2.w = e1.w + 1
         WHERE e1.w < 56 GROUP BY e1.asset_id)"""

  /** CTEs `sd_drops(nid, cell, cent_ppm)` mirroring
    * [[graft.pipeline.Similarity.semDeDupDrops]]: seeded-centroid cell
    * assignment ranked by the exact double cosine (tie → lower cell id,
    * matching `NearestCentroids`), within-cell pairs at ≥ thresholdPpm,
    * drop the pair member more similar to the centroid (tie → higher id). */
  private def semDeDupSql(nlist: Int, thresholdPpm: Long): String =
    s"""sd_cent AS (
         SELECT vec_id AS cell,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
         FROM embeddings ORDER BY vec_id LIMIT $nlist),
       sd_asg AS (
         SELECT cell, nid, ne,
           CAST(FLOOR(csim * 1000000) AS BIGINT) AS cent_ppm FROM (
           SELECT ct.cell, e.vec_id AS nid, e.embedding AS ne,
             ${cosDSql("e.embedding", "ct.cent")} AS csim,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ${cosDSql("e.embedding", "ct.cent")} DESC,
                        ct.cell ASC) AS rk
           FROM embeddings e CROSS JOIN sd_cent ct) WHERE rk = 1),
       sd_pairs AS (
         SELECT a.cell, a.nid AS ida, b.nid AS idb,
           a.cent_ppm AS ca, b.cent_ppm AS cb
         FROM sd_asg a JOIN sd_asg b ON a.cell = b.cell AND a.nid < b.nid
         WHERE CAST(FLOOR(${cosDSql("a.ne", "b.ne")} * 1000000) AS BIGINT)
           >= $thresholdPpm),
       sd_drops AS (
         SELECT DISTINCT
           CASE WHEN ca < cb THEN idb WHEN cb < ca THEN ida
                ELSE idb END AS nid,
           cell,
           CASE WHEN ca < cb THEN cb WHEN cb < ca THEN ca
                ELSE cb END AS cent_ppm
         FROM sd_pairs)"""

  /** Double-precision sequential cosine fold — bit-identical to
    * [[graft.functions.CosineSimilarity]] (list_reduce is left-to-right;
    * `0.0 + e1 == e1` so the missing init value changes nothing). */
  private def cosDSql(a: String, b: String): String =
    s"""(list_reduce(list_transform(list_zip($a, $b),
          z -> CAST(struct_extract(z, 1) AS DOUBLE) *
               CAST(struct_extract(z, 2) AS DOUBLE)), (x, y) -> x + y)
        / (sqrt(list_reduce(list_transform($a,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
         * sqrt(list_reduce(list_transform($b,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))))"""

  /** CTE `rep(doc_id, n_words, top_word_ppm, top_bigram_ppm,
    * dup_trigram_ppm)` mirroring `TextAnalysis.repetitionSignals`. */
  private val repetitionCte: String =
    """WITH w AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS pos
         FROM documents),
       g AS (
         SELECT doc_id, w,
           lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
           lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
         FROM w),
       uni AS (
         SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, MAX(c) AS top_w
         FROM (SELECT doc_id, w, COUNT(*) AS c FROM g GROUP BY doc_id, w)
         GROUP BY doc_id),
       bi AS (
         SELECT doc_id, SUM(c) AS n_bi, MAX(c) AS top_bi
         FROM (SELECT doc_id, w || ' ' || w2 AS gg, COUNT(*) AS c FROM g
               WHERE w2 IS NOT NULL GROUP BY doc_id, gg)
         GROUP BY doc_id),
       tri AS (
         SELECT doc_id, SUM(c) AS n_tri, COUNT(*) AS distinct_tri
         FROM (SELECT doc_id, w || ' ' || w2 || ' ' || w3 AS gg, COUNT(*) AS c
               FROM g WHERE w3 IS NOT NULL GROUP BY doc_id, gg)
         GROUP BY doc_id),
       rep AS (
         SELECT u.doc_id, u.n_words,
           CAST(FLOOR(u.top_w * 1000000.0 / u.n_words) AS BIGINT)
             AS top_word_ppm,
           CAST(COALESCE(FLOOR(b.top_bi * 1000000.0 / b.n_bi), 0) AS BIGINT)
             AS top_bigram_ppm,
           CAST(COALESCE(FLOOR((t.n_tri - t.distinct_tri) * 1000000.0
             / t.n_tri), 0) AS BIGINT) AS dup_trigram_ppm
         FROM uni u
         LEFT JOIN bi b ON b.doc_id = u.doc_id
         LEFT JOIN tri t ON t.doc_id = u.doc_id)"""

  private def lshBkSql(planes: Int, bands: Int): String =
    lshBkSqlOver("embeddings", planes, bands)

  /** CTE `bk(vec_id, bucket)` mirroring [[graft.functions.LshBuckets]]
    * over any `src(vec_id, embedding)` relation. */
  private def lshBkSqlOver(src: String, planes: Int, bands: Int): String =
    s"""u AS (SELECT vec_id, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS j FROM $src),
       proj AS (
         SELECT vec_id, p,
           SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1048576) AS BIGINT) *
               (('0x' || substr(md5(CAST(p AS VARCHAR) || ',' ||
                  CAST(j AS VARCHAR)), 1, 15))::BIGINT % 2147483648
                 - 1073741824)) AS proj
         FROM u CROSS JOIN
           (SELECT unnest(generate_series(0, ${bands * planes - 1})) AS p) pp
         GROUP BY vec_id, p),
       bk AS (
         SELECT vec_id, (p // $planes) * ${1L << planes} +
           CAST(SUM(CASE WHEN proj > 0 THEN 1 << (p % $planes) ELSE 0 END)
             AS BIGINT) AS bucket
         FROM proj GROUP BY vec_id, p // $planes)"""

  /** The batched-hybrid query set: per-qid term lists (vocabulary
    * words of the synthetic `documents` fixture), paired with query
    * vectors `vec_id = qid`. Shared by the Spark plan and the oracle's
    * `qt(qid, term)` VALUES table. */
  private val hybridBatchTerms: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("data", "stream"), 1L -> Seq("shuffle", "join"),
    2L -> Seq("spark", "table"), 3L -> Seq("query", "scan"),
    4L -> Seq("hash", "agg"))

  /** The sweep grid shared by the `retrieval_eval_sweep` query and its
    * oracle: (variant_id, (lexWeightPpm, vecWeightPpm), k0). */
  private val sweepVariants: Seq[(Long, (Long, Long), Int)] = Seq(
    (1L, (1000000L, 1000000L), 60),
    (2L, (1500000L, 500000L), 60),
    (3L, (500000L, 1500000L), 60),
    (4L, (1000000L, 1000000L), 10))

  /** CTE chain ending in `lex(doc_id, rank)` — the BM25 scoring of
    * `documents` for the standard query terms, ranked 1..`legK` with
    * the engine's tie-break (score desc, doc_id asc). Mirrors
    * [[graft.pipeline.TextAnalysis.bm25TopK]] +
    * [[graft.pipeline.Retrieval.rankLex]]. */
  /** CTE chain for the retrieval-eval oracles: the batched BM25
    * top-20 (`lex(qid, doc_id, rank)` — the same scoring as the
    * hybrid-batch oracle), the deterministic qrels rule
    * `(doc_id + qid·3) % 23 = 0`, and the per-query hit/precision
    * aggregates (`nrel`, `ag`) the metric selects read. */
  private lazy val evalCtesSql: String = {
    val qtVals = hybridBatchTerms.flatMap { case (q, ts) =>
      ts.map(t => s"($q, '$t')")
    }.mkString(", ")
    val qidVals = hybridBatchTerms.map(q => s"(${q._1})").mkString(", ")
    s"""qt(qid, term) AS (SELECT * FROM (VALUES $qtVals)
         AS v(qid, term)),
       tok AS (SELECT doc_id, unnest($toksSql) AS term
         FROM documents),
       tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         FROM tok GROUP BY 1, 2),
       dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
         FROM tc GROUP BY 1),
       tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
       df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc
         WHERE term IN (SELECT term FROM qt) GROUP BY 1),
       sc AS (SELECT qt.qid, tc.doc_id,
         CAST(CAST(n - df AS HUGEINT) * 1000000 // n AS BIGINT)
           AS rarity_ppm,
         CAST(CAST(22 AS HUGEINT) * tf * total_len * 1000000 //
           (CAST(10 AS HUGEINT) * tf * total_len +
            CAST(3 AS HUGEINT) * total_len +
            CAST(9 AS HUGEINT) * dl * n) AS BIGINT) AS tfnorm_ppm
         FROM tc JOIN qt USING (term) JOIN df USING (term)
         JOIN dl USING (doc_id) CROSS JOIN tot),
       bm AS (SELECT qid, doc_id,
         CAST(SUM(rarity_ppm * tfnorm_ppm) AS BIGINT) AS score
         FROM sc GROUP BY 1, 2),
       lex AS (SELECT qid, doc_id, rank FROM (
         SELECT qid, doc_id, ROW_NUMBER() OVER (PARTITION BY qid
           ORDER BY score DESC, doc_id ASC) AS rank FROM bm)
         WHERE rank <= 20),
       qrels AS (SELECT v.qid, d.doc_id
         FROM (VALUES $qidVals) AS v(qid), documents d
         WHERE (d.doc_id + v.qid * 3) % 23 = 0),
       nrel AS (SELECT qid, CAST(COUNT(DISTINCT doc_id) AS BIGINT)
           AS n_rel FROM qrels GROUP BY 1),
       hits AS (SELECT l.qid, l.rank FROM lex l
         JOIN (SELECT DISTINCT qid, doc_id FROM qrels) r
         ON l.qid = r.qid AND l.doc_id = r.doc_id),
       ph AS (SELECT qid, rank, CAST(ROW_NUMBER() OVER (
           PARTITION BY qid ORDER BY rank) AS BIGINT) AS hit_idx
         FROM hits),
       pp AS (SELECT qid, rank,
         CAST(hit_idx * 1000000 // rank AS BIGINT) AS prec_ppm FROM ph),
       ag AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS hits,
           MIN(rank) AS fhr, CAST(SUM(prec_ppm) AS BIGINT) AS spp
         FROM pp GROUP BY 1)"""
  }

  /** `lexWhere` filters the RANKING POOL only (e.g. `WHERE doc_id % 3
    * = 0`) — scoring stays global, mirroring
    * [[graft.pipeline.Bm25Index.searchFiltered]]'s candidate-mask
    * semantics. */
  private def bm25LexLegSql(legK: Int,
                            docsFrom: String = "documents",
                            lexWhere: String = ""): String =
    s"""tok AS (SELECT doc_id, unnest($toksSql) AS term
         FROM $docsFrom),
       tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         FROM tok GROUP BY 1, 2),
       dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
         FROM tc GROUP BY 1),
       tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
       df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc
         WHERE term IN ('data', 'stream', 'shuffle') GROUP BY 1),
       sc AS (SELECT tc.doc_id,
         CAST(CAST(n - df AS HUGEINT) * 1000000 // n AS BIGINT)
           AS rarity_ppm,
         CAST(CAST(22 AS HUGEINT) * tf * total_len * 1000000 //
           (CAST(10 AS HUGEINT) * tf * total_len +
            CAST(3 AS HUGEINT) * total_len +
            CAST(9 AS HUGEINT) * dl * n) AS BIGINT) AS tfnorm_ppm
         FROM tc JOIN df USING (term) JOIN dl USING (doc_id)
         CROSS JOIN tot),
       bm AS (SELECT doc_id,
         CAST(SUM(rarity_ppm * tfnorm_ppm) AS BIGINT) AS score
         FROM sc GROUP BY 1),
       lex AS (SELECT doc_id, rank FROM (
         SELECT doc_id, ROW_NUMBER() OVER (
           ORDER BY score DESC, doc_id ASC) AS rank FROM bm $lexWhere)
         WHERE rank <= $legK)"""

  /** CTEs `assigned(cell,nid,ne)` + `probes(cell,qid,qe)` + `ivf_topk`
    * mirroring [[graft.pipeline.Similarity.ivfTopK]]. */
  private def ivfSql(nlist: Int, nprobe: Int, k: Int,
                     centWhere: String = "",
                     corpusWhere: String = "",
                     corpusFrom: String = "embeddings",
                     queryWhere: String = "WHERE vec_id < 5"): String =
    s"""cent AS (SELECT vec_id AS cent_id, embedding AS cent
         FROM embeddings $centWhere
         ORDER BY vec_id LIMIT $nlist),
       assigned AS (
         SELECT cell, nid, ne FROM (
           SELECT ct.cent_id AS cell, e.vec_id AS nid, e.embedding AS ne,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, ct.cent) DESC,
                        ct.cent_id ASC) AS rk
           FROM (SELECT * FROM $corpusFrom $corpusWhere) e
           CROSS JOIN cent ct) WHERE rk = 1),
       probes AS (
         SELECT cell, qid, qe FROM (
           SELECT ct.cent_id AS cell, q.vec_id AS qid, q.embedding AS qe,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, ct.cent) DESC,
                        ct.cent_id ASC) AS rk
           FROM (SELECT * FROM embeddings $queryWhere) q
           CROSS JOIN cent ct) WHERE rk <= $nprobe),
       ivf_topk AS (
         SELECT qid, nid, rank FROM (
           SELECT s.qid, s.nid, ROW_NUMBER() OVER (PARTITION BY s.qid
             ORDER BY s.sim DESC, s.nid ASC) AS rank FROM (
             SELECT p.qid, a.nid,
               list_cosine_similarity(p.qe, a.ne) AS sim
             FROM assigned a JOIN probes p USING (cell)
             WHERE p.qid <> a.nid) s) WHERE rank <= $k)"""

  /** CTE `lsh_topk(qid,nid,rank)` mirroring `lshTopK` (banded: a pair is a
    * candidate when ANY band's bucket collides, scored once). */
  private def lshTopkSql(planes: Int, bands: Int, k: Int): String =
    s"""${lshBkSql(planes, bands)},
       lsh_cand AS (
         SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
         FROM bk q JOIN bk c USING (bucket)
         WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
       lsh_topk AS (
         SELECT qid, nid, rank FROM (
           SELECT s.qid, s.nid, ROW_NUMBER() OVER (PARTITION BY s.qid
             ORDER BY s.sim DESC, s.nid ASC) AS rank FROM (
             SELECT cd.qid, cd.nid,
               list_cosine_similarity(eq.embedding, ec.embedding) AS sim
             FROM lsh_cand cd
             JOIN embeddings eq ON eq.vec_id = cd.qid
             JOIN embeddings ec ON ec.vec_id = cd.nid) s)
         WHERE rank <= $k)"""

  /** CTE chain mirroring `ivfKmeansTopK(nlist=16, nprobe=4, k=5, iters=1)`:
    * float-centroid assignment, integer-quantized Lloyd update, cosDSql-ranked
    * re-assignment and probes over the refined double centroids. The engine's
    * update uses `Math.floorDiv` (floors toward −∞); DuckDB `//` TRUNCATES
    * toward zero (−7//2 = −3, floorDiv gives −4), which diverges whenever a
    * cell's quantized component sum is negative — so the mirror subtracts the
    * positive modulus first, making `//` exact floor division. */
  private def ivfKmeansSql(nlist: Int, nprobe: Int, k: Int): String =
    s"""cent0 AS (SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
         ORDER BY vec_id LIMIT $nlist),
       a1 AS (
         SELECT cell, nid, ne FROM (
           SELECT ct.cent_id AS cell, e.vec_id AS nid, e.embedding AS ne,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, ct.cent) DESC,
                        ct.cent_id ASC) AS rk
           FROM embeddings e CROSS JOIN cent0 ct) WHERE rk = 1),
       updx AS (SELECT cell, unnest(ne) AS v,
           generate_subscripts(ne, 1) AS j FROM a1),
       upd AS (
         SELECT cell, j,
           SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1048576) AS BIGINT)) AS s,
           COUNT(*) AS n
         FROM updx GROUP BY cell, j),
       cent1 AS (
         SELECT cell, list(((s - (((s % n) + n) % n)) // n) / 1048576.0 ORDER BY j) AS cent
         FROM upd GROUP BY cell),
       centr AS (
         SELECT c0.cent_id,
           COALESCE(c1.cent,
             list_transform(c0.cent, x -> CAST(x AS DOUBLE))) AS cent
         FROM cent0 c0 LEFT JOIN cent1 c1 ON c1.cell = c0.cent_id),
       a2 AS (
         SELECT cell, nid, ne FROM (
           SELECT ct.cent_id AS cell, e.vec_id AS nid, e.embedding AS ne,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ${cosDSql("e.embedding", "ct.cent")} DESC,
                        ct.cent_id ASC) AS rk
           FROM embeddings e CROSS JOIN centr ct) WHERE rk = 1),
       probes2 AS (
         SELECT cell, qid, qe FROM (
           SELECT ct.cent_id AS cell, q.vec_id AS qid, q.embedding AS qe,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY ${cosDSql("q.embedding", "ct.cent")} DESC,
                        ct.cent_id ASC) AS rk
           FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
           CROSS JOIN centr ct) WHERE rk <= $nprobe),
       km_topk AS (
         SELECT qid, nid, rank FROM (
           SELECT s.qid, s.nid, ROW_NUMBER() OVER (PARTITION BY s.qid
             ORDER BY s.sim DESC, s.nid ASC) AS rank FROM (
             SELECT p.qid, a.nid,
               list_cosine_similarity(p.qe, a.ne) AS sim
             FROM a2 a JOIN probes2 p USING (cell)
             WHERE p.qid <> a.nid) s) WHERE rank <= $k)"""

  /** Shared PQ CTEs mirroring [[graft.functions.PqCodes]] + the ADC LUTs of
    * `Similarity.pqTopK`: `cbn(sub, code, entry, sq)` codebooks seeded from
    * the first `ksub` vectors, `encd(nid, sub, code)` the per-subspace
    * argmin-L2 codes (sequential folds, ties → lower code), `qn(qid, qe,
    * qnorm)` and `lut(qid, sub, code, dot, sq)` the query-side tables. */
  private def pqBaseSql(m: Int, ksub: Int, subDim: Int,
                        corpusFrom: String = "embeddings"): String = {
    def sub(v: String) = s"list_transform($v[(c.sub*$subDim+1):((c.sub+1)*$subDim)], x -> CAST(x AS DOUBLE))"
    s"""cbv AS (SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
         FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $ksub)),
       cbn AS (
         SELECT c.sub, r.code,
           list_transform(r.embedding[(c.sub*$subDim+1):((c.sub+1)*$subDim)],
             x -> CAST(x AS DOUBLE)) AS entry,
           list_reduce(list_transform(
             r.embedding[(c.sub*$subDim+1):((c.sub+1)*$subDim)],
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) AS sq
         FROM (SELECT unnest(generate_series(0, ${m - 1})) AS sub) c
         CROSS JOIN cbv r),
       encd AS (SELECT nid, sub, code FROM (
           SELECT e.vec_id AS nid, c.sub, c.code,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.sub
               ORDER BY list_reduce(list_transform(
                 list_zip(${sub("e.embedding")}, c.entry),
                 z -> (struct_extract(z, 1) - struct_extract(z, 2)) *
                      (struct_extract(z, 1) - struct_extract(z, 2))),
                 (x, y) -> x + y) ASC, c.code ASC) AS rk
           FROM $corpusFrom e CROSS JOIN cbn c) WHERE rk = 1),
       qn AS (SELECT vec_id AS qid, embedding AS qe,
           sqrt(list_reduce(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
             AS qnorm
         FROM embeddings WHERE vec_id < 5),
       lut AS (SELECT q.qid, c.sub, c.code, c.sq,
           list_reduce(list_transform(list_zip(${sub("q.qe")}, c.entry),
             z -> struct_extract(z, 1) * struct_extract(z, 2)),
             (x, y) -> x + y) AS dot
         FROM qn q CROSS JOIN cbn c)"""
  }

  /** CTE `pq_topk(qid,nid,rank)` mirroring `Similarity.pqTopK`. */
  private def pqSql(m: Int, ksub: Int, subDim: Int, k: Int): String =
    s"""${pqBaseSql(m, ksub, subDim)},
       pqscore AS (
         SELECT l.qid, e.nid,
           list_reduce(list(l.dot ORDER BY l.sub), (x, y) -> x + y) AS dotsum,
           list_reduce(list(l.sq ORDER BY l.sub), (x, y) -> x + y) AS rsq
         FROM encd e JOIN lut l ON l.sub = e.sub AND l.code = e.code
         WHERE l.qid <> e.nid
         GROUP BY l.qid, e.nid),
       pq_topk AS (SELECT qid, nid, rank FROM (
           SELECT s.qid, s.nid, ROW_NUMBER() OVER (PARTITION BY s.qid
             ORDER BY s.dotsum / (q.qnorm * sqrt(s.rsq)) DESC, s.nid ASC)
             AS rank
           FROM pqscore s JOIN qn q USING (qid)) WHERE rank <= $k)"""

  /** CTE `pqt_topk(qid,nid,rank)` mirroring `Similarity.pqTrainedTopK`
    * (one Lloyd iteration): quantized per-(sub, code, dim) mean updates
    * over the seeded encoding (floor division via the positive-modulus
    * trick — DuckDB `//` truncates, the engine floors), re-encode against
    * the refined entries, ADC-score, rank. */
  private def pqTrainedSql(m: Int, ksub: Int, subDim: Int, k: Int): String = {
    def subq(v: String) = s"list_transform($v[(c.sub*$subDim+1):((c.sub+1)*$subDim)], x -> CAST(x AS DOUBLE))"
    s"""${pqBaseSql(m, ksub, subDim)},
       pex AS (SELECT vec_id AS nid, (j - 1) // $subDim AS sub,
           (j - 1) % $subDim AS jj,
           CAST(FLOOR(CAST(v AS DOUBLE) * 1048576) AS BIGINT) AS vq
         FROM (SELECT vec_id, unnest(embedding) AS v,
           generate_subscripts(embedding, 1) AS j FROM embeddings)),
       upd AS (SELECT p.sub, e.code, p.jj, SUM(p.vq) AS s, COUNT(*) AS n
         FROM pex p JOIN encd e ON e.nid = p.nid AND e.sub = p.sub
         GROUP BY p.sub, e.code, p.jj),
       cbn2 AS (SELECT c.sub, c.code,
           list(COALESCE(((u.s - (((u.s % u.n) + u.n) % u.n)) // u.n) / 1048576.0,
             list_extract(c.entry, gj.j + 1)) ORDER BY gj.j) AS entry
         FROM cbn c CROSS JOIN
           (SELECT unnest(generate_series(0, ${subDim - 1})) AS j) gj
         LEFT JOIN upd u ON u.sub = c.sub AND u.code = c.code AND u.jj = gj.j
         GROUP BY c.sub, c.code),
       cbn2s AS (SELECT sub, code, entry,
           list_reduce(list_transform(entry, x -> x * x), (x, y) -> x + y)
             AS sq
         FROM cbn2),
       encd2 AS (SELECT nid, sub, code FROM (
           SELECT e.vec_id AS nid, c.sub, c.code,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.sub
               ORDER BY list_reduce(list_transform(
                 list_zip(${subq("e.embedding")}, c.entry),
                 z -> (struct_extract(z, 1) - struct_extract(z, 2)) *
                      (struct_extract(z, 1) - struct_extract(z, 2))),
                 (x, y) -> x + y) ASC, c.code ASC) AS rk
           FROM embeddings e CROSS JOIN cbn2s c) WHERE rk = 1),
       lut2 AS (SELECT q.qid, c.sub, c.code, c.sq,
           list_reduce(list_transform(list_zip(${subq("q.qe")}, c.entry),
             z -> struct_extract(z, 1) * struct_extract(z, 2)),
             (x, y) -> x + y) AS dot
         FROM qn q CROSS JOIN cbn2s c),
       pqscore2 AS (
         SELECT l.qid, e.nid,
           list_reduce(list(l.dot ORDER BY l.sub), (x, y) -> x + y) AS dotsum,
           list_reduce(list(l.sq ORDER BY l.sub), (x, y) -> x + y) AS rsq
         FROM encd2 e JOIN lut2 l ON l.sub = e.sub AND l.code = e.code
         WHERE l.qid <> e.nid
         GROUP BY l.qid, e.nid),
       pqt_topk AS (SELECT qid, nid, rank FROM (
           SELECT s.qid, s.nid, ROW_NUMBER() OVER (PARTITION BY s.qid
             ORDER BY s.dotsum / (q.qnorm * sqrt(s.rsq)) DESC, s.nid ASC)
             AS rank
           FROM pqscore2 s JOIN qn q USING (qid)) WHERE rank <= $k)"""
  }

  /** CTE `ivfpq_topk(qid,nid,rank)` mirroring `Similarity.ivfPqTopK`:
    * IVF cell assignment/probes (float-cosine, as `ivfSql`) restrict which
    * PQ codes each query ADC-scores. */
  /** `candWhere` (e.g. `"AND a.nid IN (...)"`) masks the ADC
    * candidates BEFORE the rank window — `Similarity`'s FAISS-
    * IDSelector `allowed` semantics (codes and cells are per-row, so
    * the mask changes no score). */
  private def ivfPqSql(nlist: Int, nprobe: Int, m: Int, ksub: Int,
                       subDim: Int, k: Int,
                       corpusFrom: String = "embeddings",
                       candWhere: String = ""): String =
    s"""${pqBaseSql(m, ksub, subDim, corpusFrom)},
       cent AS (SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
         ORDER BY vec_id LIMIT $nlist),
       assigned AS (
         SELECT cell, nid FROM (
           SELECT ct.cent_id AS cell, e.vec_id AS nid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, ct.cent) DESC,
                        ct.cent_id ASC) AS rk
           FROM $corpusFrom e CROSS JOIN cent ct) WHERE rk = 1),
       probes AS (
         SELECT cell, qid FROM (
           SELECT ct.cent_id AS cell, q.vec_id AS qid,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, ct.cent) DESC,
                        ct.cent_id ASC) AS rk
           FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
           CROSS JOIN cent ct) WHERE rk <= $nprobe),
       cand AS (SELECT p.qid, a.nid FROM assigned a JOIN probes p USING (cell)
         WHERE p.qid <> a.nid $candWhere),
       pairsc AS (
         SELECT c.qid, c.nid,
           list_reduce(list(l.dot ORDER BY l.sub), (x, y) -> x + y) AS dotsum,
           list_reduce(list(l.sq ORDER BY l.sub), (x, y) -> x + y) AS rsq
         FROM cand c JOIN encd e ON e.nid = c.nid
         JOIN lut l ON l.qid = c.qid AND l.sub = e.sub AND l.code = e.code
         GROUP BY c.qid, c.nid),
       ivfpq_topk AS (SELECT qid, nid, rank FROM (
           SELECT s.qid, s.nid, ROW_NUMBER() OVER (PARTITION BY s.qid
             ORDER BY s.dotsum / (q.qnorm * sqrt(s.rsq)) DESC, s.nid ASC)
             AS rank
           FROM pairsc s JOIN qn q USING (qid)) WHERE rank <= $k)"""

  /** CTE `ivfpqr_topk(qid,nid,rank)` mirroring
    * `Similarity.ivfPqResidualTopK` (IVFADC): residual codebooks seeded
    * from the `ksub` residuals AFTER the centroid range (the first
    * `nlist` residuals are identically zero), refined by `iters`
    * quantized Lloyd sweeps over the residual distribution, codes
    * assigned on residual subvectors, ADC cosine rebuilt as
    * `(q·cent + Σ lut) / (‖q‖·√(‖cent‖² + Σ cross))`. */
  /** `corpusFrom` swaps the SERVED corpus (final assignment + final
    * encoding + candidates) while TRAINING — seeds, Lloyd sweeps —
    * stays on the base `embeddings` table, mirroring a frozen-door
    * lifecycle (the engine trains the codebooks once at door
    * construction and encodes every later delta under them). */
  private def ivfPqResidualSql(nlist: Int, nprobe: Int, m: Int, ksub: Int,
                               subDim: Int, k: Int, iters: Int,
                               corpusFrom: String = "embeddings")
      : String = {
    def dslice(v: String, sub: String) =
      s"list_transform($v[($sub*$subDim+1):(($sub+1)*$subDim)], x -> CAST(x AS DOUBLE))"
    // argmin encoding of every residual in `from` against codebook
    // table cbnr$i
    def encCte(name: String, cb: String, from: String = "resv") =
      s"""$name AS (SELECT nid, sub, code FROM (
           SELECT v.nid, c.sub, c.code,
             ROW_NUMBER() OVER (PARTITION BY v.nid, c.sub
               ORDER BY list_reduce(list_transform(
                 list_zip(v.rese[(c.sub*$subDim+1):((c.sub+1)*$subDim)],
                   c.entry),
                 z -> (struct_extract(z, 1) - struct_extract(z, 2)) *
                      (struct_extract(z, 1) - struct_extract(z, 2))),
                 (x, y) -> x + y) ASC, c.code ASC) AS rk
           FROM $from v CROSS JOIN $cb c) WHERE rk = 1)"""
    // one Lloyd sweep: encode with cbnr${i-1}, recompute entries as
    // quantized means (floor-division via positive modulus), entries
    // that lose all members keep their previous value
    def sweep(i: Int) =
      s"""${encCte(s"encr${i - 1}", s"cbnr${i - 1}")},
       updr$i AS (SELECT p.sub, e.code, p.jj, SUM(p.vq) AS s, COUNT(*) AS n
         FROM pexr p JOIN encr${i - 1} e ON e.nid = p.nid AND e.sub = p.sub
         GROUP BY p.sub, e.code, p.jj),
       cbnr${i}e AS (SELECT c.sub, c.code,
           list(COALESCE(((u.s - (((u.s % u.n) + u.n) % u.n)) // u.n) / 1048576.0,
             list_extract(c.entry, gj.j + 1)) ORDER BY gj.j) AS entry
         FROM cbnr${i - 1} c CROSS JOIN
           (SELECT unnest(generate_series(0, ${subDim - 1})) AS j) gj
         LEFT JOIN updr$i u ON u.sub = c.sub AND u.code = c.code
           AND u.jj = gj.j
         GROUP BY c.sub, c.code),
       cbnr$i AS (SELECT sub, code, entry,
           list_reduce(list_transform(entry, x -> x * x), (x, y) -> x + y)
             AS sq
         FROM cbnr${i}e)"""
    val sweeps =
      if (iters == 0) "" else (1 to iters).map(sweep).mkString(",\n", ",\n", "")
    val cbFinal = s"cbnr$iters"
    // served-corpus legs: identical to the training legs when
    // corpusFrom is the base table (no duplicate CTEs emitted), split
    // into assignedq/resvq when a lifecycle oracle serves a MUTATED
    // corpus under the base-trained frozen tables
    val sameCorpus = corpusFrom == "embeddings"
    val servedCtes = if (sameCorpus) "" else s""",
       assignedq AS (
         SELECT cell, nid FROM (
           SELECT ct.cent_id AS cell, e.vec_id AS nid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, ct.cent) DESC,
                        ct.cent_id ASC) AS rk
           FROM $corpusFrom e CROSS JOIN cent ct) WHERE rk = 1),
       resvq AS (
         SELECT a.nid, a.cell,
           list_transform(list_zip(e.embedding, ct.cent),
             z -> CAST(struct_extract(z, 1) AS DOUBLE) -
                  CAST(struct_extract(z, 2) AS DOUBLE)) AS rese
         FROM assignedq a
         JOIN $corpusFrom e ON e.vec_id = a.nid
         JOIN cent ct ON ct.cent_id = a.cell)"""
    val servedAssign = if (sameCorpus) "assigned" else "assignedq"
    val servedResv = if (sameCorpus) "resv" else "resvq"
    s"""cent AS (SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
         ORDER BY vec_id LIMIT $nlist),
       assigned AS (
         SELECT cell, nid FROM (
           SELECT ct.cent_id AS cell, e.vec_id AS nid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, ct.cent) DESC,
                        ct.cent_id ASC) AS rk
           FROM embeddings e CROSS JOIN cent ct) WHERE rk = 1),
       resv AS (
         SELECT a.nid, a.cell,
           list_transform(list_zip(e.embedding, ct.cent),
             z -> CAST(struct_extract(z, 1) AS DOUBLE) -
                  CAST(struct_extract(z, 2) AS DOUBLE)) AS rese
         FROM assigned a
         JOIN embeddings e ON e.vec_id = a.nid
         JOIN cent ct ON ct.cent_id = a.cell)$servedCtes,
       pexr AS (SELECT nid, (j - 1) // $subDim AS sub, (j - 1) % $subDim AS jj,
           CAST(FLOOR(v * 1048576) AS BIGINT) AS vq
         FROM (SELECT nid, unnest(rese) AS v,
           generate_subscripts(rese, 1) AS j FROM resv)),
       cbvr AS (SELECT rese, ROW_NUMBER() OVER (ORDER BY nid) - 1 AS code
         FROM (SELECT * FROM resv ORDER BY nid LIMIT $ksub OFFSET $nlist)),
       cbnr0 AS (
         SELECT c.sub, r.code,
           r.rese[(c.sub*$subDim+1):((c.sub+1)*$subDim)] AS entry,
           list_reduce(list_transform(
             r.rese[(c.sub*$subDim+1):((c.sub+1)*$subDim)],
             x -> x * x), (x, y) -> x + y) AS sq
         FROM (SELECT unnest(generate_series(0, ${m - 1})) AS sub) c
         CROSS JOIN cbvr r)$sweeps,
       ${encCte("encdr", cbFinal, servedResv)},
       qn AS (SELECT vec_id AS qid, embedding AS qe,
           sqrt(list_reduce(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
             AS qnorm
         FROM embeddings WHERE vec_id < 5),
       lutr AS (SELECT q.qid, c.sub, c.code,
           list_reduce(list_transform(list_zip(${dslice("q.qe", "c.sub")},
             c.entry),
             z -> struct_extract(z, 1) * struct_extract(z, 2)),
             (x, y) -> x + y) AS dot
         FROM qn q CROSS JOIN $cbFinal c),
       probes AS (
         SELECT cell, qid FROM (
           SELECT ct.cent_id AS cell, q.vec_id AS qid,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, ct.cent) DESC,
                        ct.cent_id ASC) AS rk
           FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
           CROSS JOIN cent ct) WHERE rk <= $nprobe),
       centdot AS (SELECT q.qid, p.cell,
           list_reduce(list_transform(list_zip(q.qe, ct.cent),
             z -> CAST(struct_extract(z, 1) AS DOUBLE) *
                  CAST(struct_extract(z, 2) AS DOUBLE)), (x, y) -> x + y)
             AS centdot
         FROM probes p JOIN qn q USING (qid)
         JOIN cent ct ON ct.cent_id = p.cell),
       ccsq AS (SELECT cent_id AS cell,
           list_reduce(list_transform(cent,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)
             AS ccsq
         FROM cent),
       crosst AS (SELECT ct.cent_id AS cell, c.sub, c.code,
           2 * list_reduce(list_transform(
             list_zip(${dslice("ct.cent", "c.sub")}, c.entry),
             z -> struct_extract(z, 1) * struct_extract(z, 2)),
             (x, y) -> x + y) + c.sq AS crossv
         FROM cent ct CROSS JOIN $cbFinal c),
       candr AS (SELECT p.qid, a.nid, a.cell
         FROM $servedAssign a JOIN probes p USING (cell)
         WHERE p.qid <> a.nid),
       pairscr AS (
         SELECT c.qid, c.nid,
           cd.centdot + list_reduce(list(l.dot ORDER BY l.sub),
             (x, y) -> x + y) AS dotsum,
           cq.ccsq + list_reduce(list(x.crossv ORDER BY x.sub),
             (x, y) -> x + y) AS rsq
         FROM candr c
         JOIN encdr e ON e.nid = c.nid
         JOIN lutr l ON l.qid = c.qid AND l.sub = e.sub AND l.code = e.code
         JOIN crosst x ON x.cell = c.cell AND x.sub = e.sub
           AND x.code = e.code
         JOIN centdot cd ON cd.qid = c.qid AND cd.cell = c.cell
         JOIN ccsq cq ON cq.cell = c.cell
         GROUP BY c.qid, c.nid, cd.centdot, cq.ccsq),
       ivfpqr_topk AS (SELECT qid, nid, rank FROM (
           SELECT s.qid, s.nid, ROW_NUMBER() OVER (PARTITION BY s.qid
             ORDER BY s.dotsum / (q.qnorm * sqrt(s.rsq)) DESC, s.nid ASC)
             AS rank
           FROM pairscr s JOIN qn q USING (qid)) WHERE rank <= $k)"""
  }

  /** CTE `sq8_topk(qid,nid,rank)` mirroring `Similarity.sq8TopKIndexed`:
    * cells from the RAW vectors (the shared IVF argmax), similarity =
    * cosine over the per-vector-absmax int8 quantizations of both sides
    * (`round(x·127/max|x|)` — the [[quantizeInt8]] arithmetic; cosine is
    * scale-invariant so no dequantization appears on either engine). */
  private def sq8Sql(nlist: Int, nprobe: Int, k: Int,
                     corpusFrom: String = "embeddings"): String = {
    def qz(src: String) =
      s"""SELECT vec_id, list_transform(embedding,
           x -> ROUND(CAST(x AS DOUBLE) * 127.0 / GREATEST(
             list_aggregate(list_transform(embedding,
               y -> abs(CAST(y AS DOUBLE))), 'max'), 1e-300))) AS qv
         FROM $src"""
    s"""cent AS (SELECT vec_id AS cent_id, embedding AS cent
         FROM embeddings ORDER BY vec_id LIMIT $nlist),
       assigned8 AS (
         SELECT cell, nid FROM (
           SELECT ct.cent_id AS cell, e.vec_id AS nid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, ct.cent) DESC,
                        ct.cent_id ASC) AS rk
           FROM $corpusFrom e CROSS JOIN cent ct) WHERE rk = 1),
       qz8 AS (${qz(corpusFrom)}),
       qq8 AS (${qz("(SELECT * FROM embeddings WHERE vec_id < 5)")}),
       probes8 AS (
         SELECT cell, qid FROM (
           SELECT ct.cent_id AS cell, q.vec_id AS qid,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, ct.cent) DESC,
                        ct.cent_id ASC) AS rk
           FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
           CROSS JOIN cent ct) WHERE rk <= $nprobe),
       sq8_topk AS (
         SELECT qid, nid, rank FROM (
           SELECT s.qid, s.nid, ROW_NUMBER() OVER (PARTITION BY s.qid
             ORDER BY s.sim DESC, s.nid ASC) AS rank FROM (
             SELECT p.qid, a.nid,
               list_cosine_similarity(qq.qv, qv.qv) AS sim
             FROM assigned8 a JOIN probes8 p USING (cell)
             JOIN qz8 qv ON qv.vec_id = a.nid
             JOIN qq8 qq ON qq.vec_id = p.qid
             WHERE p.qid <> a.nid) s) WHERE rank <= $k)"""
  }

  private val bruteTopkSql: String =
    """brute_topk AS (
         SELECT qid, nid FROM (
           SELECT p.qid, p.nid, ROW_NUMBER() OVER (PARTITION BY p.qid
             ORDER BY p.sim DESC, p.nid ASC) AS rank FROM (
             SELECT q.vec_id AS qid, e.vec_id AS nid,
               list_cosine_similarity(q.embedding, e.embedding) AS sim
             FROM (SELECT * FROM embeddings WHERE vec_id < 5) q,
               embeddings e WHERE e.vec_id <> q.vec_id) p) WHERE rank <= 5)"""

  private def recallSql(topkCte: String, topkName: String): String =
    s"""WITH $topkCte, $bruteTopkSql
       SELECT q.vec_id AS qid, COALESCE(h.hits, 0) AS hits
       FROM (SELECT vec_id FROM embeddings WHERE vec_id < 5) q
       LEFT JOIN (
         SELECT a.qid, COUNT(*) AS hits FROM $topkName a
         JOIN brute_topk b ON a.qid = b.qid AND a.nid = b.nid
         GROUP BY a.qid) h ON h.qid = q.vec_id
       ORDER BY qid"""

  /** DuckDB mirror of `Multimodal.stubDecodeFeatures` feature `i` over a
    * text-backed payload (utf8 string concat ≡ byte concat). */
  private def stubFeatSql(i: Int): String =
    s"((('0x' || substr(md5(text || ':$i'), 1, 15))::BIGINT % 1000000) / 1000000.0)"

  /** End-state corpus after the two Maintenance lifecycle ticks (every
    * 6th doc updated with the suffix, tick-1 deletes = every 7th
    * outside the update class, tick-2 deletes = every updated 12th,
    * id-shifted adds of every 11th) scored from scratch — shared by
    * the orchestrated (`retrieval_bm25_lifecycle`) and streaming-tailer
    * (`retrieval_bm25_tailer`) formulations, which must agree with it
    * AND each other. */
  private val bm25LifecycleOracleSql: String =
    s"""WITH docs2 AS (SELECT doc_id,
             CASE WHEN doc_id % 6 = 3 THEN text || ' shuffle data'
                  ELSE text END AS text FROM documents
             WHERE NOT (doc_id % 7 = 0 AND doc_id % 6 <> 3)
               AND NOT (doc_id % 12 = 3)
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents
             WHERE doc_id % 11 = 5),
         tok AS (SELECT doc_id, unnest(
             string_split_regex(lower(trim(text)), '\\s+')) AS term
           FROM docs2),
         tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tc GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc
           WHERE term IN ('data', 'stream', 'shuffle') GROUP BY 1),
         sc AS (SELECT tc.doc_id,
           CAST(CAST(n - df AS HUGEINT) * 1000000 // n AS BIGINT)
             AS rarity_ppm,
           CAST(CAST(22 AS HUGEINT) * tf * total_len * 1000000 //
             (CAST(10 AS HUGEINT) * tf * total_len +
              CAST(3 AS HUGEINT) * total_len +
              CAST(9 AS HUGEINT) * dl * n) AS BIGINT) AS tfnorm_ppm
           FROM tc JOIN df USING (term) JOIN dl USING (doc_id)
           CROSS JOIN tot)
         SELECT doc_id, CAST(SUM(rarity_ppm * tfnorm_ppm) AS BIGINT)
           AS score
         FROM sc GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10"""

  val oracleSql: Map[String, String] = Map(
    "multimodal_features" -> {
      // norm fold in the engine's accumulation order: left-assoc f0²+f1²+…
      val sumSquares = (0 until 8).map(i => s"${stubFeatSql(i)} * ${stubFeatSql(i)}")
        .mkString(" + ")
      "SELECT doc_id AS asset_id, " +
      "CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' " +
      "ELSE 'video' END AS modality, " +
      "CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
      s"CAST(FLOOR(sqrt($sumSquares) * 1000) AS BIGINT) AS feat_norm_x1000 " +
      "FROM documents ORDER BY asset_id"
    },

    "multimodal_frames" ->
      ("WITH v AS (SELECT octet_length(encode(text)) AS len FROM documents " +
       "WHERE doc_id % 3 = 2), " +
       "fr AS (SELECT CAST(TRUNC(ii.i * GREATEST((len - 32) / 3.0, 1.0)) AS INTEGER) AS off, len " +
       "FROM v CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) ii), " +
       "fl AS (SELECT GREATEST(LEAST(32, len - off), 0) AS fb FROM fr) " +
       "SELECT 'video' AS modality, COUNT(*) AS n_frames, " +
       "CAST(SUM(fb) AS BIGINT) AS frame_bytes FROM fl WHERE fb > 0"),

    // pixel sums from the closed form — decode must reproduce them exactly
    "multimodal_decode" ->
      ("WITH a AS (SELECT doc_id AS asset_id, doc_id % 25 + 8 AS w, " +
       "(doc_id * 3) % 25 + 8 AS h FROM documents WHERE doc_id < 24), " +
       "px AS (SELECT a.asset_id, a.w, a.h, gx.x, gy.y FROM a, " +
       "generate_series(0, 32) gx(x), generate_series(0, 32) gy(y) " +
       "WHERE gx.x < a.w AND gy.y < a.h) " +
       "SELECT asset_id, CAST(MAX(w) AS INTEGER) AS width, " +
       "CAST(MAX(h) AS INTEGER) AS height, CAST(3 AS INTEGER) AS channels, " +
       "CAST(SUM((x * 31 + y * 17 + asset_id * 7) % 256) AS BIGINT) AS sum_r, " +
       "CAST(SUM((x * 31 + y * 17 + asset_id * 7 + 11) % 256) AS BIGINT) AS sum_g, " +
       "CAST(SUM((x * 31 + y * 17 + asset_id * 7 + 22) % 256) AS BIGINT) AS sum_b " +
       "FROM px GROUP BY asset_id ORDER BY asset_id"),

    "multimodal_audio" ->
      ("WITH a AS (SELECT doc_id AS asset_id, " +
       "8000 + (doc_id % 3) * 4000 AS rate, doc_id * 50 + 100 AS n " +
       "FROM documents WHERE doc_id < 24), " +
       "sm AS (SELECT a.asset_id, a.rate, a.n, " +
       "((g.i * 31 + a.asset_id * 7) % 4001) - 2000 AS s " +
       "FROM a, generate_series(0, 1299) g(i) WHERE g.i < a.n) " +
       "SELECT asset_id, CAST(MAX(rate) AS INTEGER) AS sample_rate, " +
       "CAST(1 AS INTEGER) AS channels, CAST(16 AS INTEGER) AS bits, " +
       "CAST(MAX(n) AS BIGINT) AS n_samples, " +
       "CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs, " +
       "CAST(MAX(ABS(s)) AS BIGINT) AS peak " +
       "FROM sm GROUP BY asset_id ORDER BY asset_id"),

    "multimodal_image_dhash" ->
      (s"WITH $imageDHashSql " +
       "SELECT asset_id, dhash FROM ihash ORDER BY asset_id"),

    "multimodal_image_neardup" ->
      (s"WITH $imageDHashSql, " +
       "ibands AS (SELECT asset_id, bb.b, (dhash >> (8 * bb.b)) & 255 AS v " +
       "FROM ihash, generate_series(0, 6) bb(b)), " +
       "icand AS (SELECT DISTINCT a.asset_id AS ida, c.asset_id AS idb " +
       "FROM ibands a JOIN ibands c ON a.b = c.b AND a.v = c.v " +
       "AND a.asset_id < c.asset_id), " +
       "ipairs AS (SELECT icand.ida, icand.idb, " +
       "CAST(bit_count(xor(ha.dhash, hb.dhash)) AS BIGINT) AS hamming " +
       "FROM icand JOIN ihash ha ON ha.asset_id = icand.ida " +
       "JOIN ihash hb ON hb.asset_id = icand.idb) " +
       "SELECT ida, idb, hamming FROM ipairs WHERE hamming <= 2 " +
       "ORDER BY ida, idb"),

    "multimodal_video_neardup" ->
      ("""WITH vf AS (
           SELECT doc_id AS vid, f.fidx,
             (CASE WHEN doc_id % 10 = 9 AND f.fidx < 8 THEN doc_id - 1
                   ELSE doc_id END) * 101 + f.fidx AS seed
           FROM documents, generate_series(0, 9) f(fidx) WHERE doc_id < 24),
         vpx AS (
           SELECT vid, fidx, gx.x, gy.y,
             (gx.x * 31 + gy.y * 17 + seed * 7919) % 2147483647 AS b
           FROM vf, generate_series(0, 8) gx(x), generate_series(0, 6) gy(y)),
         vg AS (
           SELECT vid, fidx, x, y,
             (xor(b + 1, (b + 1) >> 13) * 2654435761) % 4294967296
                // 16777216
             + (xor(b + 11, (b + 11) >> 13) * 2246822519) % 4294967296
                // 16777216
             + (xor(b + 22, (b + 22) >> 13) * 3266489917) % 4294967296
                // 16777216 AS gs
           FROM vpx),
         vhash AS (
           SELECT g1.vid, g1.fidx,
             CAST(SUM(CASE WHEN g2.gs > g1.gs
               THEN CAST(1 AS BIGINT) << (g1.y * 8 + g1.x) ELSE 0 END)
               AS BIGINT) AS dhash
           FROM vg g1 JOIN vg g2 ON g2.vid = g1.vid AND g2.fidx = g1.fidx
             AND g2.x = g1.x + 1 AND g2.y = g1.y
           WHERE g1.x < 8 GROUP BY g1.vid, g1.fidx),
         vsets AS (SELECT DISTINCT vid, dhash FROM vhash),
         vsizes AS (SELECT vid, COUNT(*) AS nf FROM vsets GROUP BY vid),
         vshared AS (
           SELECT a.vid AS vida, c.vid AS vidb, COUNT(*) AS shared
           FROM vsets a JOIN vsets c ON a.dhash = c.dhash AND a.vid < c.vid
           GROUP BY a.vid, c.vid)
         SELECT vida, vidb, CAST(shared AS BIGINT) AS shared,
           CAST(shared * 1000000 // (sa.nf + sb.nf - shared) AS BIGINT)
             AS jaccard_ppm
         FROM vshared JOIN vsizes sa ON sa.vid = vida
           JOIN vsizes sb ON sb.vid = vidb
         WHERE shared * 1000000 // (sa.nf + sb.nf - shared) >= 500000
         ORDER BY vida, vidb"""),

    "multimodal_audio_fingerprint" ->
      (s"WITH $audioFpSql " +
       "SELECT asset_id, afp FROM ahash ORDER BY asset_id"),

    "multimodal_audio_neardup" ->
      (s"WITH $audioFpSql, " +
       "abands AS (SELECT asset_id, bb.b, (afp >> (8 * bb.b)) & 255 AS v " +
       "FROM ahash, generate_series(0, 6) bb(b)), " +
       "acand AS (SELECT DISTINCT a.asset_id AS ida, c.asset_id AS idb " +
       "FROM abands a JOIN abands c ON a.b = c.b AND a.v = c.v " +
       "AND a.asset_id < c.asset_id), " +
       "apairs AS (SELECT acand.ida, acand.idb, " +
       "CAST(bit_count(xor(ha.afp, hb.afp)) AS BIGINT) AS hamming " +
       "FROM acand JOIN ahash ha ON ha.asset_id = acand.ida " +
       "JOIN ahash hb ON hb.asset_id = acand.idb) " +
       "SELECT ida, idb, hamming FROM apairs WHERE hamming <= 2 " +
       "ORDER BY ida, idb"),

    "dedup_minhash_lsh" ->
      (s"WITH $minhashCtes " +
       "SELECT ida, idb, est_jaccard_ppm FROM mest " +
       "WHERE est_jaccard_ppm >= 500000 ORDER BY ida, idb"),

    "dedup_minhash_capped" ->
      ("WITH corp AS (SELECT doc_id, text FROM documents UNION ALL " +
       "SELECT 100000 + g.s AS doc_id, text FROM documents CROSS JOIN " +
       "(SELECT unnest(generate_series(0, 9)) AS s) g WHERE doc_id = 7), " +
       s"${minhashCtesOver("corp", 4)}, " +
       "capped AS (SELECT * FROM mest WHERE est_jaccard_ppm >= 500000) " +
       "SELECT COUNT(*) AS n_pairs, " +
       "CAST(SUM(CASE WHEN (ida = 7 OR ida >= 100000) " +
       "AND (idb = 7 OR idb >= 100000) THEN 1 ELSE 0 END) AS BIGINT) " +
       "AS n_clone_pairs, " +
       "bit_xor(CASE WHEN (ida = 7 OR ida >= 100000) " +
       "AND (idb = 7 OR idb >= 100000) THEN ida * 1000000 + idb " +
       "ELSE 0 END) AS clone_pair_xor FROM capped"),

    "dedup_minhash_verified" ->
      (s"WITH $minhashCtes, " +
       "vcand AS (SELECT ida, idb FROM mest WHERE est_jaccard_ppm >= 500000), " +
       "vj AS (SELECT v.ida, v.idb, " +
       "CAST(FLOOR(1000000.0 * len(list_intersect(sa.sh, sb.sh)) / " +
       "len(list_distinct(sa.sh || sb.sh))) AS BIGINT) AS jaccard_ppm " +
       "FROM vcand v JOIN shl sa ON sa.doc_id = v.ida " +
       "JOIN shl sb ON sb.doc_id = v.idb) " +
       "SELECT ida, idb, jaccard_ppm FROM vj " +
       "WHERE jaccard_ppm >= 600000 ORDER BY ida, idb"),

    "dedup_simhash" ->
      (s"WITH $simhashCtes " +
       "SELECT ida, idb, CAST(hamming AS BIGINT) AS hamming FROM spairs " +
       "WHERE hamming <= 3 ORDER BY ida, idb"),

    // cluster resolution mirrored with a recursive min-label closure over
    // the candidate graph (the engine's fixpoint loop, as SQL recursion)
    "dedup_corpus" ->
      (s"WITH RECURSIVE $minhashCtes, " +
       "cedges0 AS (SELECT ida, idb FROM mest WHERE est_jaccard_ppm >= 900000), " +
       "cedges AS (SELECT ida AS src, idb AS dst FROM cedges0 " +
       "UNION ALL SELECT idb, ida FROM cedges0), " +
       "reach AS (SELECT DISTINCT src AS did, src AS label FROM cedges " +
       "UNION SELECT e.dst AS did, r.label FROM reach r " +
       "JOIN cedges e ON e.src = r.did), " +
       "comp AS (SELECT did, MIN(label) AS label FROM reach GROUP BY did), " +
       "nlosers AS (SELECT COUNT(*) AS n FROM comp WHERE label < did) " +
       "SELECT (SELECT COUNT(*) FROM documents) AS total_docs, " +
       "(SELECT COUNT(*) FROM documents) - (SELECT n FROM nlosers) AS kept_docs"),

    "corpus_split_leakage" ->
      (s"WITH RECURSIVE $minhashCtes, " +
       "cedges0 AS (SELECT ida, idb FROM mest WHERE est_jaccard_ppm >= 500000), " +
       "cedges AS (SELECT ida AS src, idb AS dst FROM cedges0 " +
       "UNION ALL SELECT idb, ida FROM cedges0), " +
       "reach AS (SELECT DISTINCT src AS did, src AS label FROM cedges " +
       "UNION SELECT e.dst AS did, r.label FROM reach r " +
       "JOIN cedges e ON e.src = r.did), " +
       "comp AS (SELECT did, MIN(label) AS label FROM reach GROUP BY did), " +
       "sp AS (SELECT d.doc_id, " +
       "CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train' " +
       "WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'val' " +
       "ELSE 'test' END AS naive_split, " +
       "CASE WHEN ('0x' || substr(md5(CAST(COALESCE(c.label, d.doc_id) AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train' " +
       "WHEN ('0x' || substr(md5(CAST(COALESCE(c.label, d.doc_id) AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'val' " +
       "ELSE 'test' END AS aware_split " +
       "FROM documents d LEFT JOIN comp c ON c.did = d.doc_id), " +
       "leak AS (SELECT " +
       "CAST(COALESCE(SUM(CASE WHEN a.naive_split <> b.naive_split THEN 1 ELSE 0 END), 0) AS BIGINT) AS naive_leak_pairs, " +
       "CAST(COALESCE(SUM(CASE WHEN a.aware_split <> b.aware_split THEN 1 ELSE 0 END), 0) AS BIGINT) AS aware_leak_pairs " +
       "FROM cedges0 JOIN sp a ON a.doc_id = ida JOIN sp b ON b.doc_id = idb), " +
       "sizes AS (SELECT " +
       "CAST(SUM(CASE WHEN aware_split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train, " +
       "CAST(SUM(CASE WHEN aware_split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val, " +
       "CAST(SUM(CASE WHEN aware_split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test FROM sp) " +
       "SELECT * FROM leak, sizes"),

    "dedup_cluster_sizes" ->
      (s"WITH RECURSIVE $minhashCtes, " +
       "cedges0 AS (SELECT ida, idb FROM mest WHERE est_jaccard_ppm >= 900000), " +
       "cedges AS (SELECT ida AS src, idb AS dst FROM cedges0 " +
       "UNION ALL SELECT idb, ida FROM cedges0), " +
       "reach AS (SELECT DISTINCT src AS did, src AS label FROM cedges " +
       "UNION SELECT e.dst AS did, r.label FROM reach r " +
       "JOIN cedges e ON e.src = r.did), " +
       "comp AS (SELECT did, MIN(label) AS label FROM reach GROUP BY did), " +
       "sizes AS (SELECT label, COUNT(*) AS sz FROM comp GROUP BY label) " +
       "SELECT sz AS cluster_size, COUNT(*) AS n_clusters, " +
       "bit_xor(label) AS label_xor FROM sizes GROUP BY sz"),

    "ann_ivf_top5" ->
      (s"WITH ${ivfSql(16, 4, 5)} " +
       "SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM ivf_topk " +
       "ORDER BY qid, rank"),

    // full-rebuild formulation: whole corpus assigned against the
    // base-seeded quantizer — matching the engine's incremental add
    // proves incremental ≡ rebuild
    "ann_ivf_incremental" ->
      (s"WITH ${ivfSql(16, 4, 5, "WHERE vec_id % 5 <> 4")} " +
       "SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM ivf_topk " +
       "ORDER BY qid, rank"),

    // rebuild-on-survivors formulation under the same base-seeded
    // quantizer — matching the engine's tombstone-filtered search
    // proves delete ≡ rebuild
    "ann_ivf_delete" ->
      (s"WITH ${ivfSql(16, 4, 5, "WHERE vec_id % 5 <> 4",
          "WHERE vec_id % 7 <> 0")} " +
       "SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM ivf_topk " +
       "ORDER BY qid, rank"),

    // rebuild-on-the-updated-corpus under the same frozen quantizer:
    // every 6th vector carries its reversed embedding
    "ann_ivf_update" ->
      (s"WITH ${ivfSql(16, 4, 5,
          corpusFrom = "(SELECT vec_id, CASE WHEN vec_id % 6 = 3 " +
            "THEN list_reverse(embedding) ELSE embedding END " +
            "AS embedding FROM embeddings)")} " +
       "SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM ivf_topk " +
       "ORDER BY qid, rank"),

    // end-state corpus after the two Maintenance ticks: every 6th
    // vector reversed (gen-1 update), every 9th deleted, every
    // updated-12th deleted AFTER its update, id-shifted copies of
    // every 11th appended; centroids stay seeded from the BASE table
    // (frozen quantizer)
    "ann_ivf_lifecycle" ->
      (s"WITH ${ivfSql(16, 4, 5,
          corpusFrom = "(SELECT vec_id, CASE WHEN vec_id % 6 = 3 " +
            "THEN list_reverse(embedding) ELSE embedding END " +
            "AS embedding FROM embeddings " +
            "WHERE NOT (vec_id % 9 = 7 AND vec_id % 6 <> 3) " +
            "AND NOT (vec_id % 12 = 3) " +
            "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding " +
            "FROM embeddings WHERE vec_id % 11 = 5)")} " +
       "SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM ivf_topk " +
       "ORDER BY qid, rank"),

    // the PQ-code store lifecycle: the end-state corpus encoded from
    // scratch under the FROZEN base-seeded centroids AND codebooks
    // (cent/cbv read the base table; only assignment/encoding read the
    // mutated corpus), ADC-scored per probe cell
    "ann_ivfpq_lifecycle" ->
      (s"WITH ${ivfPqSql(16, 4, 8, 16, 8, 5,
          corpusFrom = "(SELECT vec_id, CASE WHEN vec_id % 6 = 3 " +
            "THEN list_reverse(embedding) ELSE embedding END " +
            "AS embedding FROM embeddings " +
            "WHERE NOT (vec_id % 9 = 7 AND vec_id % 6 <> 3) " +
            "AND NOT (vec_id % 12 = 3) " +
            "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding " +
            "FROM embeddings WHERE vec_id % 11 = 5)")} " +
       "SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM ivfpq_topk " +
       "ORDER BY qid, rank"),

    // the ANN tuning sweep: the probe rank rides ONE shared
    // probes-with-rank CTE (rk ≤ max nprobe); each variant slices
    // rk ≤ its own nprobe, ranks, and is scored against the exact
    // brute-force top-5 through the same integer-exact metric chain
    "ann_recall_sweep" -> {
      val nprobes = Seq(1, 2, 4, 8)
      val variantCtes = nprobes.map { np =>
        s"""tk$np AS (SELECT qid, nid, rank FROM (
             SELECT s.qid, s.nid, ROW_NUMBER() OVER (PARTITION BY s.qid
               ORDER BY s.sim DESC, s.nid ASC) AS rank FROM (
               SELECT p.qid, a.nid,
                 list_cosine_similarity(p.qe, a.ne) AS sim
               FROM assigned a JOIN probesall p USING (cell)
               WHERE p.qid <> a.nid AND p.rk <= $np) s)
             WHERE rank <= 5),
           ph$np AS (SELECT qid, rank, CAST(ROW_NUMBER() OVER (
                 PARTITION BY qid ORDER BY rank) AS BIGINT) AS hit_idx
             FROM (SELECT t.qid, t.rank FROM tk$np t
               JOIN brute_topk b ON t.qid = b.qid AND t.nid = b.nid)),
           ag$np AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS hits,
               MIN(rank) AS fhr,
               CAST(SUM(CAST(hit_idx * 1000000 // rank AS BIGINT))
                 AS BIGINT) AS spp
             FROM ph$np GROUP BY 1),
           pq$np AS (SELECT n.qid,
               CAST(COALESCE(a.hits, 0) * 1000000 // n.n_rel AS BIGINT)
                 AS recall_ppm,
               CAST(COALESCE(1000000 // a.fhr, 0) AS BIGINT) AS mrr_ppm,
               CAST(COALESCE(a.spp, 0) // n.n_rel AS BIGINT) AS ap_ppm
             FROM nrel n LEFT JOIN ag$np a USING (qid)),
           mac$np AS (SELECT CAST($np AS BIGINT) AS nprobe,
               CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT)
                 AS macro_recall_ppm,
               CAST(SUM(mrr_ppm) // COUNT(*) AS BIGINT) AS macro_mrr_ppm,
               CAST(SUM(ap_ppm) // COUNT(*) AS BIGINT) AS macro_map_ppm
             FROM pq$np)"""
      }.mkString(",\n")
      val macUnion = nprobes.map(np => s"SELECT * FROM mac$np")
        .mkString(" UNION ALL ")
      s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS cent
           FROM embeddings ORDER BY vec_id LIMIT 16),
         assigned AS (
           SELECT cell, nid, ne FROM (
             SELECT ct.cent_id AS cell, e.vec_id AS nid,
               e.embedding AS ne,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.embedding, ct.cent)
                   DESC, ct.cent_id ASC) AS rk
             FROM embeddings e CROSS JOIN cent ct) WHERE rk = 1),
         probesall AS (
           SELECT cell, qid, qe, rk FROM (
             SELECT ct.cent_id AS cell, q.vec_id AS qid,
               q.embedding AS qe,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding, ct.cent)
                   DESC, ct.cent_id ASC) AS rk
             FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
             CROSS JOIN cent ct) WHERE rk <= 8),
         $bruteTopkSql,
         nrel AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_rel
           FROM brute_topk GROUP BY 1),
         $variantCtes
         SELECT * FROM ($macUnion) ORDER BY nprobe"""
    },

    // residual PQ-code store lifecycle: training legs on the base
    // table (the frozen door's codebooks), served legs re-encoded from
    // the mutated corpus
    "ann_ivfpqr_lifecycle" ->
      (s"WITH ${ivfPqResidualSql(16, 4, 8, 16, 8, 5, 1,
          corpusFrom = "(SELECT vec_id, CASE WHEN vec_id % 6 = 3 " +
            "THEN list_reverse(embedding) ELSE embedding END " +
            "AS embedding FROM embeddings " +
            "WHERE NOT (vec_id % 9 = 7 AND vec_id % 6 <> 3) " +
            "AND NOT (vec_id % 12 = 3) " +
            "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding " +
            "FROM embeddings WHERE vec_id % 11 = 5)")} " +
       "SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM ivfpqr_topk " +
       "ORDER BY qid, rank"),

    // the code store's serving rerank tail: the end-state corpus
    // re-encoded from scratch under the frozen tables, ADC-ranked to
    // 15 candidates, then ONLY those rows exact-cosine-reranked
    // against the end-state full vectors — mirrors ADC probe + the
    // queries×rerankC refetch from the maintained vector store
    "ann_ivfpq_store_rerank" -> {
      val corp2 = "SELECT vec_id, CASE WHEN vec_id % 6 = 3 " +
        "THEN list_reverse(embedding) ELSE embedding END " +
        "AS embedding FROM embeddings " +
        "WHERE NOT (vec_id % 9 = 7 AND vec_id % 6 <> 3) " +
        "AND NOT (vec_id % 12 = 3) " +
        "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding " +
        "FROM embeddings WHERE vec_id % 11 = 5"
      s"""WITH corp2 AS ($corp2),
         ${ivfPqSql(16, 4, 8, 16, 8, 15, corpusFrom = "corp2")},
         store_rerank AS (SELECT qid, nid, rank FROM (
           SELECT c.qid, c.nid, ROW_NUMBER() OVER (PARTITION BY c.qid
             ORDER BY list_cosine_similarity(qe.embedding, ne.embedding)
               DESC, c.nid ASC) AS rank
           FROM ivfpq_topk c
           JOIN embeddings qe ON qe.vec_id = c.qid
           JOIN corp2 ne ON ne.vec_id = c.nid) WHERE rank <= 5)
         SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM store_rerank
         ORDER BY qid, rank"""
    },

    // the residual store's tail, same construction over the IVFADC
    // ranking (training on the base table — the frozen-door contract)
    "ann_ivfpqr_store_rerank" -> {
      val corp2 = "SELECT vec_id, CASE WHEN vec_id % 6 = 3 " +
        "THEN list_reverse(embedding) ELSE embedding END " +
        "AS embedding FROM embeddings " +
        "WHERE NOT (vec_id % 9 = 7 AND vec_id % 6 <> 3) " +
        "AND NOT (vec_id % 12 = 3) " +
        "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding " +
        "FROM embeddings WHERE vec_id % 11 = 5"
      s"""WITH corp2 AS ($corp2),
         ${ivfPqResidualSql(16, 4, 8, 16, 8, 15, 1,
          corpusFrom = "corp2")},
         store_rerank AS (SELECT qid, nid, rank FROM (
           SELECT c.qid, c.nid, ROW_NUMBER() OVER (PARTITION BY c.qid
             ORDER BY list_cosine_similarity(qe.embedding, ne.embedding)
               DESC, c.nid ASC) AS rank
           FROM ivfpqr_topk c
           JOIN embeddings qe ON qe.vec_id = c.qid
           JOIN corp2 ne ON ne.vec_id = c.nid) WHERE rank <= 5)
         SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM store_rerank
         ORDER BY qid, rank"""
    },

    // the code-store tuning sweep: ONE shared ADC scoring pass
    // (candidates over the rk ≤ max-nprobe probe union — a vector's
    // ADC score doesn't depend on nprobe, only its cell's probe rank
    // gates membership); each (nprobe, rerankC) variant slices
    // rk ≤ nprobe, ADC-ranks to rerankC, exact-reranks those rows, and
    // scores against the brute-force top-5 through the integer-exact
    // metric chain
    "ann_pq_recall_sweep" -> {
      val grid = Seq((2, 10), (2, 25), (8, 10), (8, 25))
      val variantCtes = grid.map { case (np, rc) =>
        s"""adc_${np}_$rc AS (SELECT qid, nid FROM (
             SELECT s.qid, s.nid, ROW_NUMBER() OVER (PARTITION BY s.qid
               ORDER BY s.dotsum / (q.qnorm * sqrt(s.rsq)) DESC,
                        s.nid ASC) AS rank
             FROM scall s JOIN qn q USING (qid) WHERE s.rk <= $np)
             WHERE rank <= $rc),
           rrk_${np}_$rc AS (SELECT qid, nid, rank FROM (
             SELECT c.qid, c.nid, ROW_NUMBER() OVER (PARTITION BY c.qid
               ORDER BY list_cosine_similarity(qe.embedding, ne.embedding)
                 DESC, c.nid ASC) AS rank
             FROM adc_${np}_$rc c
             JOIN embeddings qe ON qe.vec_id = c.qid
             JOIN embeddings ne ON ne.vec_id = c.nid) WHERE rank <= 5),
           ph_${np}_$rc AS (SELECT qid, rank, CAST(ROW_NUMBER() OVER (
                 PARTITION BY qid ORDER BY rank) AS BIGINT) AS hit_idx
             FROM (SELECT t.qid, t.rank FROM rrk_${np}_$rc t
               JOIN brute_topk b ON t.qid = b.qid AND t.nid = b.nid)),
           ag_${np}_$rc AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS hits,
               MIN(rank) AS fhr,
               CAST(SUM(CAST(hit_idx * 1000000 // rank AS BIGINT))
                 AS BIGINT) AS spp
             FROM ph_${np}_$rc GROUP BY 1),
           pqv_${np}_$rc AS (SELECT n.qid,
               CAST(COALESCE(a.hits, 0) * 1000000 // n.n_rel AS BIGINT)
                 AS recall_ppm,
               CAST(COALESCE(1000000 // a.fhr, 0) AS BIGINT) AS mrr_ppm,
               CAST(COALESCE(a.spp, 0) // n.n_rel AS BIGINT) AS ap_ppm
             FROM nrel n LEFT JOIN ag_${np}_$rc a USING (qid)),
           mac_${np}_$rc AS (SELECT CAST($np AS BIGINT) AS nprobe,
               CAST($rc AS BIGINT) AS rerank_c,
               CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT)
                 AS macro_recall_ppm,
               CAST(SUM(mrr_ppm) // COUNT(*) AS BIGINT) AS macro_mrr_ppm,
               CAST(SUM(ap_ppm) // COUNT(*) AS BIGINT) AS macro_map_ppm
             FROM pqv_${np}_$rc)"""
      }.mkString(",\n")
      val macUnion = grid.map { case (np, rc) =>
        s"SELECT * FROM mac_${np}_$rc" }.mkString(" UNION ALL ")
      s"""WITH ${pqBaseSql(8, 16, 8)},
         cent AS (SELECT vec_id AS cent_id, embedding AS cent
           FROM embeddings ORDER BY vec_id LIMIT 16),
         assigned AS (
           SELECT cell, nid FROM (
             SELECT ct.cent_id AS cell, e.vec_id AS nid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.embedding, ct.cent)
                   DESC, ct.cent_id ASC) AS rk
             FROM embeddings e CROSS JOIN cent ct) WHERE rk = 1),
         probesall AS (
           SELECT cell, qid, rk FROM (
             SELECT ct.cent_id AS cell, q.vec_id AS qid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding, ct.cent)
                   DESC, ct.cent_id ASC) AS rk
             FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
             CROSS JOIN cent ct) WHERE rk <= 8),
         candall AS (SELECT p.qid, p.rk, a.nid
           FROM assigned a JOIN probesall p USING (cell)
           WHERE p.qid <> a.nid),
         scall AS (SELECT c.qid, c.nid, c.rk,
             list_reduce(list(l.dot ORDER BY l.sub), (x, y) -> x + y)
               AS dotsum,
             list_reduce(list(l.sq ORDER BY l.sub), (x, y) -> x + y)
               AS rsq
           FROM candall c JOIN encd e ON e.nid = c.nid
           JOIN lut l ON l.qid = c.qid AND l.sub = e.sub
             AND l.code = e.code
           GROUP BY c.qid, c.nid, c.rk),
         $bruteTopkSql,
         nrel AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_rel
           FROM brute_topk GROUP BY 1),
         $variantCtes
         SELECT * FROM ($macUnion) ORDER BY nprobe, rerank_c"""
    },

    "ann_lsh_top5" ->
      (s"WITH ${lshTopkSql(4, 4, 5)} " +
       "SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM lsh_topk " +
       "ORDER BY qid, rank"),

    // the migrated store ≡ a from-scratch encode of the one-batch
    // mutated corpus under the NEW tables (nlist-8 cents + base-seeded
    // codebooks — both read the base table; only assignment/encoding
    // read the mutated corpus)
    "ann_reseed_migrate" ->
      (s"WITH ${ivfPqSql(8, 4, 8, 16, 8, 5,
          corpusFrom = "(SELECT vec_id, CASE WHEN vec_id % 6 = 3 " +
            "THEN list_reverse(embedding) ELSE embedding END " +
            "AS embedding FROM embeddings " +
            "WHERE NOT (vec_id % 9 = 7 AND vec_id % 6 <> 3) " +
            "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding " +
            "FROM embeddings WHERE vec_id % 11 = 5)")} " +
       "SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM ivfpq_topk " +
       "ORDER BY qid, rank"),

    // the cut-over store ≡ a from-scratch encode of the corpus after
    // ALL THREE batches (batch 0 pre-reseed, batch 1 mid-window —
    // replayed by cutover, batch 2 post-repoint) under the NEW tables
    "ann_cutover_live" ->
      (s"WITH ${ivfPqSql(8, 4, 8, 16, 8, 5,
          corpusFrom = "(SELECT vec_id, CASE WHEN vec_id % 6 = 3 " +
            "THEN list_reverse(embedding) ELSE embedding END " +
            "AS embedding FROM embeddings " +
            "WHERE NOT (vec_id % 9 = 7 AND vec_id % 6 <> 3) " +
            "AND NOT (vec_id % 12 = 3) " +
            "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding " +
            "FROM embeddings WHERE vec_id % 11 = 5 " +
            "UNION ALL SELECT vec_id + 2000000 AS vec_id, embedding " +
            "FROM embeddings WHERE vec_id % 13 = 1)")} " +
       "SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM ivfpq_topk " +
       "ORDER BY qid, rank"),

    "ann_sq8_top5" ->
      (s"WITH ${sq8Sql(16, 4, 5)} " +
       "SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM sq8_topk " +
       "ORDER BY qid, rank"),

    "ann_sq8_recall" -> recallSql(sq8Sql(16, 4, 5), "sq8_topk"),

    // the quantized store lifecycle: the end-state corpus re-quantized
    // and re-assigned from scratch under the frozen coarse quantizer
    "ann_sq8_lifecycle" ->
      (s"WITH ${sq8Sql(16, 4, 5,
          corpusFrom = "(SELECT vec_id, CASE WHEN vec_id % 6 = 3 " +
            "THEN list_reverse(embedding) ELSE embedding END " +
            "AS embedding FROM embeddings " +
            "WHERE NOT (vec_id % 9 = 7 AND vec_id % 6 <> 3) " +
            "AND NOT (vec_id % 12 = 3) " +
            "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding " +
            "FROM embeddings WHERE vec_id % 11 = 5)")} " +
       "SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM sq8_topk " +
       "ORDER BY qid, rank"),

    // the SQ8 tail: the end-state corpus re-quantized from scratch
    // under the frozen coarse quantizer, int8-ranked to 15, then ONLY
    // those rows exact-cosine-reranked against the end-state vectors
    "ann_sq8_rerank" -> {
      val corp2 = "SELECT vec_id, CASE WHEN vec_id % 6 = 3 " +
        "THEN list_reverse(embedding) ELSE embedding END " +
        "AS embedding FROM embeddings " +
        "WHERE NOT (vec_id % 9 = 7 AND vec_id % 6 <> 3) " +
        "AND NOT (vec_id % 12 = 3) " +
        "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding " +
        "FROM embeddings WHERE vec_id % 11 = 5"
      s"""WITH corp2 AS ($corp2),
         ${sq8Sql(16, 4, 15, corpusFrom = "corp2")},
         store_rerank AS (SELECT qid, nid, rank FROM (
           SELECT c.qid, c.nid, ROW_NUMBER() OVER (PARTITION BY c.qid
             ORDER BY list_cosine_similarity(qe.embedding, ne.embedding)
               DESC, c.nid ASC) AS rank
           FROM sq8_topk c
           JOIN embeddings qe ON qe.vec_id = c.qid
           JOIN corp2 ne ON ne.vec_id = c.nid) WHERE rank <= 5)
         SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM store_rerank
         ORDER BY qid, rank"""
    },

    // the SQ8 tier's sweep: one shared quantized-scoring pass over the
    // rk ≤ max-nprobe probe union (an int8 sim doesn't depend on
    // nprobe); each variant slices rk ≤ its nprobe, ranks, and scores
    // against the brute-force top-5 through the integer-exact chain
    "ann_sq8_recall_sweep" -> {
      val nprobes = Seq(1, 2, 4, 8)
      val variantCtes = nprobes.map { np =>
        s"""tk$np AS (SELECT qid, nid, rank FROM (
             SELECT s.qid, s.nid, ROW_NUMBER() OVER (PARTITION BY s.qid
               ORDER BY s.sim DESC, s.nid ASC) AS rank FROM (
               SELECT p.qid, a.nid,
                 list_cosine_similarity(qq.qv, qv.qv) AS sim
               FROM assigned8 a JOIN probesall p USING (cell)
               JOIN qz8 qv ON qv.vec_id = a.nid
               JOIN qq8 qq ON qq.vec_id = p.qid
               WHERE p.qid <> a.nid AND p.rk <= $np) s)
             WHERE rank <= 5),
           ph$np AS (SELECT qid, rank, CAST(ROW_NUMBER() OVER (
                 PARTITION BY qid ORDER BY rank) AS BIGINT) AS hit_idx
             FROM (SELECT t.qid, t.rank FROM tk$np t
               JOIN brute_topk b ON t.qid = b.qid AND t.nid = b.nid)),
           ag$np AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS hits,
               MIN(rank) AS fhr,
               CAST(SUM(CAST(hit_idx * 1000000 // rank AS BIGINT))
                 AS BIGINT) AS spp
             FROM ph$np GROUP BY 1),
           pq$np AS (SELECT n.qid,
               CAST(COALESCE(a.hits, 0) * 1000000 // n.n_rel AS BIGINT)
                 AS recall_ppm,
               CAST(COALESCE(1000000 // a.fhr, 0) AS BIGINT) AS mrr_ppm,
               CAST(COALESCE(a.spp, 0) // n.n_rel AS BIGINT) AS ap_ppm
             FROM nrel n LEFT JOIN ag$np a USING (qid)),
           mac$np AS (SELECT CAST($np AS BIGINT) AS nprobe,
               CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT)
                 AS macro_recall_ppm,
               CAST(SUM(mrr_ppm) // COUNT(*) AS BIGINT) AS macro_mrr_ppm,
               CAST(SUM(ap_ppm) // COUNT(*) AS BIGINT) AS macro_map_ppm
             FROM pq$np)"""
      }.mkString(",\n")
      val macUnion = nprobes.map(np => s"SELECT * FROM mac$np")
        .mkString(" UNION ALL ")
      s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS cent
           FROM embeddings ORDER BY vec_id LIMIT 16),
         assigned8 AS (
           SELECT cell, nid FROM (
             SELECT ct.cent_id AS cell, e.vec_id AS nid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.embedding, ct.cent)
                   DESC, ct.cent_id ASC) AS rk
             FROM embeddings e CROSS JOIN cent ct) WHERE rk = 1),
         qz8 AS (SELECT vec_id, list_transform(embedding,
             x -> ROUND(CAST(x AS DOUBLE) * 127.0 / GREATEST(
               list_aggregate(list_transform(embedding,
                 y -> abs(CAST(y AS DOUBLE))), 'max'), 1e-300))) AS qv
           FROM embeddings),
         qq8 AS (SELECT vec_id, qv FROM qz8 WHERE vec_id < 5),
         probesall AS (
           SELECT cell, qid, rk FROM (
             SELECT ct.cent_id AS cell, q.vec_id AS qid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding, ct.cent)
                   DESC, ct.cent_id ASC) AS rk
             FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
             CROSS JOIN cent ct) WHERE rk <= 8),
         $bruteTopkSql,
         nrel AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_rel
           FROM brute_topk GROUP BY 1),
         $variantCtes
         SELECT * FROM ($macUnion) ORDER BY nprobe"""
    },

    // the margin router: int8-rank 15 candidates with sims kept, per
    // query the rank-5/rank-6 margin in floored ppm; under-threshold
    // queries' candidates exact-rerank against full vectors, the rest
    // serve the int8 top-5 — both routes recomputed from scratch
    "ann_sq8_adaptive" -> {
      val marginPpm = 3000L
      s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS cent
           FROM embeddings ORDER BY vec_id LIMIT 16),
         assigned8 AS (
           SELECT cell, nid FROM (
             SELECT ct.cent_id AS cell, e.vec_id AS nid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.embedding, ct.cent)
                   DESC, ct.cent_id ASC) AS rk
             FROM embeddings e CROSS JOIN cent ct) WHERE rk = 1),
         qz8 AS (SELECT vec_id, list_transform(embedding,
             x -> ROUND(CAST(x AS DOUBLE) * 127.0 / GREATEST(
               list_aggregate(list_transform(embedding,
                 y -> abs(CAST(y AS DOUBLE))), 'max'), 1e-300))) AS qv
           FROM embeddings),
         qq8 AS (SELECT vec_id, qv FROM qz8 WHERE vec_id < 5),
         probes8 AS (
           SELECT cell, qid FROM (
             SELECT ct.cent_id AS cell, q.vec_id AS qid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding, ct.cent)
                   DESC, ct.cent_id ASC) AS rk
             FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
             CROSS JOIN cent ct) WHERE rk <= 4),
         cand AS (SELECT qid, nid, sim, rank FROM (
             SELECT s.qid, s.nid, s.sim, ROW_NUMBER() OVER (
               PARTITION BY s.qid ORDER BY s.sim DESC, s.nid ASC)
               AS rank FROM (
               SELECT p.qid, a.nid,
                 list_cosine_similarity(qq.qv, qv.qv) AS sim
               FROM assigned8 a JOIN probes8 p USING (cell)
               JOIN qz8 qv ON qv.vec_id = a.nid
               JOIN qq8 qq ON qq.vec_id = p.qid
               WHERE p.qid <> a.nid) s) WHERE rank <= 15),
         margins AS (SELECT qid,
             CAST(FLOOR((MAX(CASE WHEN rank = 5 THEN sim END) -
               MAX(CASE WHEN rank = 6 THEN sim END)) * 1000000)
               AS BIGINT) AS margin_ppm
           FROM cand WHERE rank IN (5, 6) GROUP BY 1),
         unc AS (SELECT qid FROM margins WHERE margin_ppm < $marginPpm),
         conf AS (SELECT qid, nid, rank FROM cand
           WHERE rank <= 5 AND qid NOT IN (SELECT qid FROM unc)),
         rr AS (SELECT qid, nid, rank FROM (
           SELECT c.qid, c.nid, ROW_NUMBER() OVER (PARTITION BY c.qid
             ORDER BY list_cosine_similarity(qe.embedding, ne.embedding)
               DESC, c.nid ASC) AS rank
           FROM cand c
           JOIN unc u ON u.qid = c.qid
           JOIN embeddings qe ON qe.vec_id = c.qid
           JOIN embeddings ne ON ne.vec_id = c.nid) WHERE rank <= 5)
         SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM
           (SELECT * FROM conf UNION ALL SELECT * FROM rr)
         ORDER BY qid, rank"""
    },

    "ann_ivf_recall" -> recallSql(ivfSql(16, 4, 5), "ivf_topk"),

    "ann_pq_top5" ->
      (s"WITH ${pqSql(8, 16, 8, 5)} " +
       "SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM pq_topk " +
       "ORDER BY qid, rank"),

    "ann_pq_recall" -> recallSql(pqSql(8, 16, 8, 5), "pq_topk"),

    "ann_ivfpq_recall" -> recallSql(ivfPqSql(16, 8, 8, 16, 8, 5), "ivfpq_topk"),

    "ann_ivfpq_residual_recall" ->
      recallSql(ivfPqResidualSql(16, 8, 8, 16, 8, 5, 2), "ivfpqr_topk"),

    // IVFPQ k widened to the rerank candidate count, then an exact-cosine
    // window over just those candidates (mirrors ivfPqRerankTopK)
    "ann_ivfpq_rerank_recall" -> recallSql(
      s"""${ivfPqSql(16, 8, 8, 16, 8, 25)},
         rerank_topk AS (SELECT qid, nid, rank FROM (
           SELECT c.qid, c.nid, ROW_NUMBER() OVER (PARTITION BY c.qid
             ORDER BY list_cosine_similarity(qe.embedding, ne.embedding)
               DESC, c.nid ASC) AS rank
           FROM ivfpq_topk c
           JOIN embeddings qe ON qe.vec_id = c.qid
           JOIN embeddings ne ON ne.vec_id = c.nid) WHERE rank <= 5)""",
      "rerank_topk"),

    "ann_pq_trained_recall" -> recallSql(pqTrainedSql(8, 16, 8, 5), "pqt_topk"),

    "ann_ivf_kmeans_recall" -> recallSql(ivfKmeansSql(16, 4, 5), "km_topk"),

    "emb_quantize_int8" ->
      ("WITH ex AS (SELECT vec_id, CAST(u.v AS DOUBLE) AS v " +
       "FROM embeddings, UNNEST(embedding) AS u(v)), " +
       "am AS (SELECT vec_id, MAX(ABS(v)) AS absmax FROM ex " +
       "GROUP BY vec_id HAVING MAX(ABS(v)) > 0), " +
       "qq AS (SELECT e.vec_id, CAST(ROUND(e.v * 127.0 / a.absmax) AS INT) AS q, " +
       "a.absmax FROM ex e JOIN am a ON a.vec_id = e.vec_id) " +
       "SELECT vec_id, " +
       "CAST(FLOOR(absmax / 127.0 * 1000000000.0) AS BIGINT) AS scale_x1e9, " +
       "CAST(SUM(q) AS BIGINT) AS q_sum, MIN(q) AS q_min, MAX(q) AS q_max, " +
       "CAST(SUM(CASE WHEN ABS(q) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_sat " +
       "FROM qq GROUP BY vec_id, absmax ORDER BY vec_id"),

    "ann_lsh_recall" -> recallSql(lshTopkSql(4, 4, 5), "lsh_topk"),

    "emb_dedup_corpus" ->
      (s"WITH RECURSIVE ${lshBkSql(6, 8)}, " +
       "cand AS (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb " +
       "FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id), " +
       s"scored AS (SELECT c.ida, c.idb, ${cosDSql("ea.embedding", "eb.embedding")} AS sim " +
       "FROM cand c JOIN embeddings ea ON ea.vec_id = c.ida " +
       "JOIN embeddings eb ON eb.vec_id = c.idb), " +
       "nd0 AS (SELECT ida, idb FROM scored WHERE FLOOR(sim * 1000000) >= 400000), " +
       "cedges AS (SELECT ida AS src, idb AS dst FROM nd0 " +
       "UNION ALL SELECT idb, ida FROM nd0), " +
       "reach AS (SELECT DISTINCT src AS did, src AS label FROM cedges " +
       "UNION SELECT e.dst AS did, r.label FROM reach r " +
       "JOIN cedges e ON e.src = r.did), " +
       "comp AS (SELECT did, MIN(label) AS label FROM reach GROUP BY did), " +
       "nlosers AS (SELECT COUNT(*) AS n FROM comp WHERE label < did) " +
       "SELECT (SELECT COUNT(*) FROM embeddings) AS total_vecs, " +
       "(SELECT COUNT(*) FROM embeddings) - (SELECT n FROM nlosers) AS kept_vecs"),

    "corpus_weighted_sample" ->
      ("WITH t AS (SELECT doc_id, n_chars, " +
       "('0x' || substr(md5('wsmp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT " +
       "% 20000000 < n_chars * 1000 AS take FROM documents) " +
       "SELECT COUNT(*) AS n_total, " +
       "CAST(SUM(CASE WHEN take THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled, " +
       "CAST(SUM(CASE WHEN take THEN n_chars ELSE 0 END) AS BIGINT) AS sampled_chars, " +
       "COALESCE(bit_xor(CASE WHEN take THEN doc_id END), 0) AS id_xor FROM t"),

    "events_twa" ->
      ("WITH e AS (SELECT event_type, epoch_ns(ts) AS t, event_id, " +
       "CAST(ROUND(value * 100) AS BIGINT) AS v_cents FROM events), " +
       "g AS (SELECT event_type, v_cents, " +
       "LEAD(t) OVER (PARTITION BY event_type ORDER BY t, event_id) - t AS gap FROM e) " +
       "SELECT event_type, COUNT(*) AS n_weighted, " +
       "CAST((SUM(CAST(v_cents AS HUGEINT) * gap) * 1000000) // " +
       "SUM(CAST(gap AS HUGEINT)) AS BIGINT) AS twa_centppm " +
       "FROM g WHERE gap IS NOT NULL GROUP BY 1"),

    "corpus_stratified_sample" ->
      (s"WITH lang AS ($langIdSql), rk AS (" +
       "SELECT doc_id, pred_lang, ROW_NUMBER() OVER (PARTITION BY pred_lang " +
       "ORDER BY ('0x' || substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, " +
       "doc_id) AS rk FROM lang) " +
       "SELECT pred_lang, COUNT(*) AS n_total, " +
       "CAST(SUM(CASE WHEN rk <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled, " +
       "CAST(SUM(CASE WHEN rk <= 20 THEN doc_id ELSE 0 END) AS BIGINT) " +
       "AS sample_id_sum FROM rk GROUP BY pred_lang ORDER BY pred_lang"),

    "text_hash_embedding_neardup" ->
      (s"WITH tkh AS (SELECT doc_id, $toksSql AS tk FROM documents), " +
       "hsx AS (SELECT doc_id, " +
       "('0x' || substr(md5(u.t), 1, 15))::BIGINT % 2147483647 AS h " +
       "FROM tkh, UNNEST(tk) AS u(t)), " +
       "compx AS (SELECT doc_id, jj.j, " +
       "SUM((h * (((jj.j + 1) * 2654435761) % 2147483647) " +
       "+ ((jj.j + 1) * 40503) % 2147483647) % 2147483647 - 1073741823) AS c " +
       "FROM hsx CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) jj " +
       "GROUP BY doc_id, jj.j), " +
       "hv AS (SELECT doc_id AS vec_id, " +
       "list(CAST(c AS DOUBLE) / 2147483647.0 ORDER BY j) AS embedding " +
       "FROM compx GROUP BY doc_id), " +
       s"${lshBkSqlOver("hv", 8, 4)}, " +
       "cand AS (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb " +
       "FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id), " +
       s"scored AS (SELECT c.ida, c.idb, ${cosDSql("ea.embedding", "eb.embedding")} AS sim " +
       "FROM cand c JOIN hv ea ON ea.vec_id = c.ida " +
       "JOIN hv eb ON eb.vec_id = c.idb) " +
       "SELECT ida, idb, CAST(FLOOR(sim * 1000000) AS BIGINT) AS sim_ppm " +
       "FROM scored WHERE FLOOR(sim * 1000000) >= 990000 ORDER BY ida, idb"),

    // sim VALUES are emitted (not just ranks), so the oracle reproduces
    // the engine's double-precision left-to-right fold (cosDSql inside
    // semanticNdSql): list_cosine_similarity accumulates float lists in
    // FLOAT, 1 ulp off at FLOOR boundaries — list_reduce is sequential.
    "emb_near_dup" ->
      (s"WITH ${semanticNdSql(6, 8, 400000L)} " +
       "SELECT ida, idb, sim_ppm FROM nd ORDER BY ida, idb"),

    "emb_semdedup_census" ->
      (s"WITH ${semDeDupSql(16, 400000L)} " +
       "SELECT (SELECT COUNT(*) FROM embeddings) AS total_vecs, " +
       "(SELECT COUNT(*) FROM embeddings) - (SELECT COUNT(*) FROM sd_drops) AS kept_vecs, " +
       "(SELECT COUNT(*) FROM sd_drops) AS dropped_vecs, " +
       "(SELECT COUNT(DISTINCT cell) FROM sd_drops) AS cells_with_dups"),

    "emb_semdedup_drops" ->
      (s"WITH ${semDeDupSql(16, 400000L)} " +
       "SELECT nid, cell, cent_ppm FROM sd_drops ORDER BY nid"),

    "dedup_semantic_verified" ->
      (s"WITH ${semanticNdSql(6, 8, 400000L)}, " +
       s"tkx AS (SELECT doc_id, $toksSql AS tk FROM documents), " +
       s"shx AS (SELECT doc_id, ${shingleCaseSql(3, "tk")} AS sh FROM tkx) " +
       "SELECT n.ida, n.idb, n.sim_ppm, " +
       "CAST(FLOOR(1000000.0 * len(list_intersect(sa.sh, sb.sh)) / " +
       "len(list_distinct(sa.sh || sb.sh))) AS BIGINT) AS jaccard_ppm " +
       "FROM nd n JOIN shx sa ON sa.doc_id = n.ida " +
       "JOIN shx sb ON sb.doc_id = n.idb ORDER BY n.ida, n.idb"),

    "dedup_jaccard_pairs" ->
      (s"WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents), " +
       s"sh AS (SELECT doc_id, ${shingleCaseSql(3, "tk")} AS sh FROM tk), " +
       "ex AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS shingle FROM sh), " +
       "j AS (SELECT a.doc_id AS ida, b.doc_id AS idb, a.nsh AS na, b.nsh AS nb, " +
       "COUNT(*) AS common FROM ex a JOIN ex b ON a.shingle = b.shingle " +
       "AND a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4) " +
       "SELECT ida, idb, CAST(FLOOR(1000000.0 * common / (na + nb - common)) AS BIGINT) AS jaccard_ppm " +
       "FROM j WHERE FLOOR(1000000.0 * common / (na + nb - common)) >= 600000 " +
       "ORDER BY ida, idb"),

    "text_langid" -> langIdSql,

    "corpus_curate_export" ->
      ("WITH RECURSIVE q AS (SELECT doc_id, text FROM documents " +
       s"WHERE len($toksSql) >= 10 AND len($toksSql) <= 1000 " +
       s"AND FLOOR(1000000.0 * len(list_distinct($toksSql)) / len($toksSql)) >= 200000), " +
       s"${minhashCtesOver("q", 0)}, " +
       "cedges0 AS (SELECT ida, idb FROM mest WHERE est_jaccard_ppm >= 900000), " +
       "cedges AS (SELECT ida AS src, idb AS dst FROM cedges0 " +
       "UNION ALL SELECT idb, ida FROM cedges0), " +
       "reach AS (SELECT DISTINCT src AS did, src AS label FROM cedges " +
       "UNION SELECT e.dst AS did, r.label FROM reach r " +
       "JOIN cedges e ON e.src = r.did), " +
       "comp AS (SELECT did, MIN(label) AS label FROM reach GROUP BY did), " +
       "keepers AS (SELECT doc_id FROM q WHERE doc_id NOT IN " +
       "(SELECT did FROM comp WHERE label < did)), " +
       s"tk5 AS (SELECT doc_id, $toksSql AS tk FROM documents), " +
       s"shl5 AS (SELECT doc_id, ${shingleCaseSql(5, "tk")} AS sh FROM tk5), " +
       "ex5 AS (SELECT doc_id, unnest(sh) AS g FROM shl5), " +
       "bg AS (SELECT DISTINCT g FROM ex5 WHERE doc_id < 50), " +
       "cont AS (SELECT DISTINCT e.doc_id FROM ex5 e JOIN bg USING (g) " +
       "WHERE e.doc_id >= 50), " +
       "clean AS (SELECT doc_id FROM keepers WHERE doc_id >= 50 " +
       "AND doc_id NOT IN (SELECT doc_id FROM cont)), " +
       "final AS (SELECT d.doc_id, d.text FROM documents d " +
       "JOIN clean USING (doc_id)) " +
       "SELECT ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 4 AS shard, " +
       "COUNT(*) AS n_docs, " +
       s"CAST(SUM(len($toksSql)) AS BIGINT) AS n_tokens, " +
       "CAST(SUM(length(text)) AS BIGINT) AS n_chars, " +
       "bit_xor(doc_id) AS id_xor " +
       "FROM final GROUP BY shard ORDER BY shard"),

    "corpus_semantic_decontaminate" ->
      (s"WITH ${lshBkSql(6, 8)}, " +
       "cand AS (SELECT DISTINCT t.vec_id AS cid, p.vec_id AS pid " +
       "FROM bk t JOIN bk p ON t.bucket = p.bucket " +
       "WHERE t.vec_id >= 50 AND p.vec_id < 50), " +
       s"sc AS (SELECT c.cid, ${cosDSql("et.embedding", "ep.embedding")} AS sim " +
       "FROM cand c JOIN embeddings et ON et.vec_id = c.cid " +
       "JOIN embeddings ep ON ep.vec_id = c.pid), " +
       "hits AS (SELECT DISTINCT cid FROM sc WHERE FLOOR(sim * 1000000) >= 400000) " +
       "SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id >= 50) AS n_train, " +
       "(SELECT COUNT(*) FROM hits) AS n_contaminated, " +
       "(SELECT COALESCE(bit_xor(cid), 0) FROM hits) AS contaminated_xor, " +
       "(SELECT COUNT(*) FROM embeddings WHERE vec_id >= 50) - " +
       "(SELECT COUNT(*) FROM hits) AS n_clean"),

    "corpus_shard_manifest" ->
      ("SELECT ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard, " +
       "COUNT(*) AS n_docs, " +
       s"CAST(SUM(len($toksSql)) AS BIGINT) AS n_tokens, " +
       "CAST(SUM(length(text)) AS BIGINT) AS n_chars, " +
       "bit_xor(doc_id) AS id_xor " +
       "FROM documents GROUP BY shard ORDER BY shard"),

    "corpus_splits" ->
      ("WITH b AS (SELECT n_chars, " +
       "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 " +
       "AS bucket FROM documents) " +
       "SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' " +
       "ELSE 'test' END AS split, COUNT(*) AS n_docs, " +
       "CAST(SUM(n_chars) AS BIGINT) AS chars FROM b GROUP BY 1"),

    "corpus_filter_audit" ->
      ("SELECT 0 AS stage_idx, 'too_short' AS stage, " +
       "CAST(SUM(CASE WHEN NOT (n_chars >= 150) THEN 1 ELSE 0 END) AS BIGINT) AS n " +
       "FROM documents UNION ALL " +
       "SELECT 1, 'non_latin', CAST(SUM(CASE WHEN n_chars >= 150 " +
       "AND NOT (lang <> 'zh') THEN 1 ELSE 0 END) AS BIGINT) FROM documents " +
       "UNION ALL " +
       "SELECT 2, 'low_alpha', CAST(SUM(CASE WHEN n_chars >= 150 AND lang <> 'zh' " +
       "AND NOT (length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) * 10 >= n_chars * 5) " +
       "THEN 1 ELSE 0 END) AS BIGINT) FROM documents UNION ALL " +
       "SELECT 3, 'kept', CAST(SUM(CASE WHEN n_chars >= 150 AND lang <> 'zh' " +
       "AND length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) * 10 >= n_chars * 5 " +
       "THEN 1 ELSE 0 END) AS BIGINT) FROM documents"),

    "corpus_decontaminate" ->
      (s"WITH ${shingleCtes(5)}, " +
       "ex AS (SELECT doc_id, unnest(sh) AS g FROM shl), " +
       "bg AS (SELECT DISTINCT g FROM ex WHERE doc_id < 50), " +
       "cont AS (SELECT DISTINCT e.doc_id FROM ex e JOIN bg USING (g) " +
       "WHERE e.doc_id >= 50) " +
       "SELECT (SELECT COUNT(*) FROM documents WHERE doc_id >= 50) AS n_train, " +
       "(SELECT COUNT(*) FROM cont) AS n_contaminated, " +
       "(SELECT COUNT(*) FROM documents WHERE doc_id >= 50) - " +
       "(SELECT COUNT(*) FROM cont) AS n_clean"),

    // bloom positions mirror Curation.bloomWords/bloomMightContain: the
    // set bits are the union of {h mod 2^16, (h div 2^16) mod 2^16} over
    // bench gram hashes; a gram is a candidate iff BOTH its positions are
    // set. h is nonnegative, so DuckDB `//` (truncating) == the engine's
    // shiftright (flooring).
    "corpus_decontaminate_bloom" ->
      (s"WITH ${shingleCtes(5)}, " +
       "ex AS (SELECT doc_id, unnest(sh) AS g FROM shl), " +
       "hx AS (SELECT doc_id, g, " +
       "('0x' || substr(md5(g), 1, 15))::BIGINT AS h FROM ex), " +
       "bg AS (SELECT DISTINCT g, h FROM hx WHERE doc_id < 50), " +
       "pos AS (SELECT h % 65536 AS p FROM bg " +
       "UNION SELECT (h // 65536) % 65536 FROM bg), " +
       "cand AS (SELECT DISTINCT doc_id FROM hx WHERE doc_id >= 50 " +
       "AND h % 65536 IN (SELECT p FROM pos) " +
       "AND (h // 65536) % 65536 IN (SELECT p FROM pos)), " +
       "cont AS (SELECT DISTINCT e.doc_id FROM hx e " +
       "JOIN bg ON e.g = bg.g WHERE e.doc_id >= 50) " +
       "SELECT (SELECT COUNT(*) FROM documents WHERE doc_id >= 50) AS n_train, " +
       "(SELECT COUNT(*) FROM cand) AS n_bloom_candidates, " +
       "(SELECT COUNT(*) FROM cont) AS n_contaminated, " +
       "(SELECT COUNT(*) FROM documents WHERE doc_id >= 50) - " +
       "(SELECT COUNT(*) FROM cont) AS n_clean"),

    "dedup_repeated_ngrams" ->
      (s"WITH ${shingleCtes(5)}, " +
       "ex AS (SELECT doc_id, unnest(sh) AS g FROM shl), " +
       "cnt AS (SELECT g, COUNT(*) AS nd FROM ex GROUP BY g), " +
       "per AS (SELECT e.doc_id, COUNT(*) AS n_grams, " +
       "SUM(CASE WHEN c.nd > 1 THEN 1 ELSE 0 END) AS n_dup_grams " +
       "FROM ex e JOIN cnt c USING (g) GROUP BY e.doc_id) " +
       "SELECT doc_id, n_grams, CAST(n_dup_grams AS BIGINT) AS n_dup_grams, " +
       "CAST(FLOOR(1000000.0 * n_dup_grams / n_grams) AS BIGINT) AS dup_ppm " +
       "FROM per ORDER BY doc_id"),

    "dedup_dup_spans" ->
      (s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         base AS (SELECT doc_id, len(toks) - 4 AS n_grams, toks
                  FROM d WHERE len(toks) >= 5),
         pos AS (SELECT doc_id, n_grams,
                   unnest(range(1, CAST(len(toks) - 3 AS BIGINT))) AS p, toks
                 FROM base),
         g AS (SELECT doc_id, n_grams, p,
                 ('0x' || substr(md5(array_to_string(toks[p:p+4], ' ')),
                  1, 15))::BIGINT AS gh
               FROM pos),
         cnt AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) > 1),
         dup AS (SELECT doc_id, p FROM g WHERE gh IN (SELECT gh FROM cnt)),
         runs AS (SELECT doc_id, p,
                    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p)
                      AS rid
                  FROM dup),
         spans AS (SELECT doc_id, rid, COUNT(*) + 4 AS span_toks
                   FROM runs GROUP BY doc_id, rid),
         per AS (SELECT doc_id, MAX(span_toks) AS longest_dup_span,
                   COUNT(*) AS n_spans, SUM(span_toks - 4) AS n_dup_grams
                 FROM spans GROUP BY doc_id),
         tot AS (SELECT DISTINCT doc_id, n_grams FROM base)
         SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(COALESCE(p.longest_dup_span, 0) AS BIGINT)
             AS longest_dup_span,
           CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans
         FROM tot t LEFT JOIN per p ON t.doc_id = p.doc_id
         ORDER BY t.doc_id"""),

    "text_winnow" ->
      (s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         el AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 8),
         gh AS (SELECT doc_id,
           [('0x' || substr(md5(array_to_string(toks[p:p+4], ' ')),
             1, 15))::BIGINT
            for p in range(1, CAST(len(toks) - 3 AS BIGINT))] AS g
           FROM el),
         sel AS (SELECT doc_id,
           unnest(list_distinct([list_min(g[j:j+3])
            for j in range(1, CAST(len(g) - 2 AS BIGINT))])) AS f
           FROM gh)
         SELECT doc_id, COUNT(*) AS n_prints,
           CAST(bit_xor(f) AS BIGINT) AS prints_xor
         FROM sel GROUP BY doc_id ORDER BY doc_id"""),

    "dedup_winnow_pairs" ->
      (s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         el AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 8),
         gh AS (SELECT doc_id,
           [('0x' || substr(md5(array_to_string(toks[p:p+4], ' ')),
             1, 15))::BIGINT
            for p in range(1, CAST(len(toks) - 3 AS BIGINT))] AS g
           FROM el),
         sel AS (SELECT doc_id,
           unnest(list_distinct([list_min(g[j:j+3])
            for j in range(1, CAST(len(g) - 2 AS BIGINT))])) AS f
           FROM gh),
         keep AS (SELECT f FROM sel GROUP BY f
                  HAVING COUNT(*) > 1 AND COUNT(*) <= 100),
         sh AS (SELECT doc_id, f FROM sel
                WHERE f IN (SELECT f FROM keep))
         SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS n_shared
         FROM sh a JOIN sh b ON a.f = b.f AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2
         ORDER BY ida, idb"""),

    "corpus_diverse_sample" ->
      (s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS cent
           FROM embeddings ORDER BY vec_id LIMIT 16),
         assigned AS (
           SELECT cell, nid FROM (
             SELECT ct.cent_id AS cell, e.vec_id AS nid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.embedding, ct.cent) DESC,
                          ct.cent_id ASC) AS rk
             FROM embeddings e CROSS JOIN cent ct) WHERE rk = 1),
         keyed AS (SELECT cell, nid,
             ('0x' || substr(md5('div:' || CAST(nid AS VARCHAR)),
              1, 15))::BIGINT AS h
           FROM assigned),
         rk AS (SELECT cell, nid, ROW_NUMBER() OVER (PARTITION BY cell
             ORDER BY h ASC, nid ASC) AS rk FROM keyed)
         SELECT cell, COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN rk <= 8 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled,
           CAST(bit_xor(CASE WHEN rk <= 8 THEN nid ELSE 0 END) AS BIGINT)
             AS sample_xor
         FROM rk GROUP BY cell ORDER BY cell"""),

    "dedup_incremental" ->
      (s"""WITH RECURSIVE $minhashCtes,
         cross0 AS (SELECT DISTINCT idb AS did FROM mest
           WHERE ida < 250 AND idb >= 250 AND est_jaccard_ppm >= 500000),
         wpairs AS (SELECT ida, idb FROM mest
           WHERE ida >= 250 AND est_jaccard_ppm >= 500000
             AND ida NOT IN (SELECT did FROM cross0)
             AND idb NOT IN (SELECT did FROM cross0)),
         wedges AS (SELECT ida AS src, idb AS dst FROM wpairs
           UNION ALL SELECT idb, ida FROM wpairs),
         reach AS (SELECT DISTINCT src AS did, src AS label FROM wedges
           UNION SELECT e.dst AS did, r.label FROM reach r
           JOIN wedges e ON e.src = r.did),
         losers AS (SELECT did FROM reach GROUP BY did
           HAVING MIN(label) < did),
         newdocs AS (SELECT doc_id FROM documents WHERE doc_id >= 250),
         kept AS (SELECT doc_id FROM newdocs
           WHERE doc_id NOT IN (SELECT did FROM cross0)
             AND doc_id NOT IN (SELECT did FROM losers))
         SELECT (SELECT COUNT(*) FROM newdocs) AS n_new,
           (SELECT COUNT(*) FROM kept) AS n_kept,
           (SELECT CAST(bit_xor(doc_id) AS BIGINT) FROM kept) AS kept_xor,
           (SELECT COUNT(*) FROM documents WHERE doc_id < 250)
             + (SELECT COUNT(*) FROM kept) AS index_size"""),

    "dedup_incremental_stream" ->
      // MATERIALIZED: DuckDB 1.0 otherwise inlines the multiply-referenced
      // pair and edge CTEs into the recursive steps, and the query runs
      // out of memory
      (s"""WITH RECURSIVE $minhashCtes,
         mestm AS MATERIALIZED (SELECT * FROM mest),
         cross1 AS (SELECT DISTINCT idb AS did FROM mestm
           WHERE ida < 250 AND idb >= 250 AND idb < 400
             AND est_jaccard_ppm >= 500000),
         w1pairs AS (SELECT ida, idb FROM mestm
           WHERE ida >= 250 AND idb < 400 AND est_jaccard_ppm >= 500000
             AND ida NOT IN (SELECT did FROM cross1)
             AND idb NOT IN (SELECT did FROM cross1)),
         w1edges AS MATERIALIZED (SELECT ida AS src, idb AS dst FROM w1pairs
           UNION ALL SELECT idb, ida FROM w1pairs),
         reach1 AS (SELECT DISTINCT src AS did, src AS label FROM w1edges
           UNION SELECT e.dst AS did, r.label FROM reach1 r
           JOIN w1edges e ON e.src = r.did),
         losers1 AS (SELECT did FROM reach1 GROUP BY did
           HAVING MIN(label) < did),
         b1docs AS (SELECT doc_id FROM documents
           WHERE doc_id >= 250 AND doc_id < 400),
         kept1 AS (SELECT doc_id FROM b1docs
           WHERE doc_id NOT IN (SELECT did FROM cross1)
             AND doc_id NOT IN (SELECT did FROM losers1)),
         idx1 AS (SELECT doc_id FROM documents WHERE doc_id < 250
           UNION ALL SELECT doc_id FROM kept1),
         cross2 AS (SELECT DISTINCT idb AS did FROM mestm
           WHERE idb >= 400 AND est_jaccard_ppm >= 500000
             AND ida IN (SELECT doc_id FROM idx1)),
         w2pairs AS (SELECT ida, idb FROM mestm
           WHERE ida >= 400 AND est_jaccard_ppm >= 500000
             AND ida NOT IN (SELECT did FROM cross2)
             AND idb NOT IN (SELECT did FROM cross2)),
         w2edges AS MATERIALIZED (SELECT ida AS src, idb AS dst FROM w2pairs
           UNION ALL SELECT idb, ida FROM w2pairs),
         reach2 AS (SELECT DISTINCT src AS did, src AS label FROM w2edges
           UNION SELECT e.dst AS did, r.label FROM reach2 r
           JOIN w2edges e ON e.src = r.did),
         losers2 AS (SELECT did FROM reach2 GROUP BY did
           HAVING MIN(label) < did),
         b2docs AS (SELECT doc_id FROM documents WHERE doc_id >= 400),
         kept2 AS (SELECT doc_id FROM b2docs
           WHERE doc_id NOT IN (SELECT did FROM cross2)
             AND doc_id NOT IN (SELECT did FROM losers2))
         SELECT (SELECT COUNT(*) FROM b1docs) AS n_b1,
           (SELECT COUNT(*) FROM kept1) AS n_kept1,
           (SELECT CAST(bit_xor(doc_id) AS BIGINT) FROM kept1) AS kept1_xor,
           (SELECT COUNT(*) FROM b2docs) AS n_b2,
           (SELECT COUNT(*) FROM kept2) AS n_kept2,
           (SELECT CAST(bit_xor(doc_id) AS BIGINT) FROM kept2) AS kept2_xor,
           (SELECT COUNT(*) FROM idx1)
             + (SELECT COUNT(*) FROM kept2) AS index_size"""),

    "corpus_dup_ngram_census" ->
      (s"WITH ${shingleCtes(5)}, " +
       "ex AS (SELECT doc_id, unnest(sh) AS g FROM shl), " +
       "cnt AS (SELECT g, COUNT(*) AS nd FROM ex GROUP BY g), " +
       "per AS (SELECT e.doc_id, COUNT(*) AS n_grams, " +
       "SUM(CASE WHEN c.nd > 1 THEN 1 ELSE 0 END) AS n_dup_grams, " +
       "FLOOR(1000000.0 * SUM(CASE WHEN c.nd > 1 THEN 1 ELSE 0 END) " +
       "/ COUNT(*)) AS ppm " +
       "FROM ex e JOIN cnt c USING (g) GROUP BY e.doc_id) " +
       "SELECT COUNT(*) AS n_docs, CAST(SUM(n_grams) AS BIGINT) AS total_grams, " +
       "CAST(SUM(n_dup_grams) AS BIGINT) AS dup_grams, " +
       "CAST(SUM(CASE WHEN ppm >= 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_heavy, " +
       "CAST(SUM(CASE WHEN ppm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_docs " +
       "FROM per"),

    "corpus_quality_buckets" ->
      (s"WITH t AS (SELECT doc_id, lang, " +
       "CAST(length(text) AS BIGINT) AS n_chars_text, " +
       s"CAST(FLOOR(1000000.0 * len(list_distinct($toksSql)) / len($toksSql)) AS BIGINT) AS score_ppm " +
       "FROM documents), " +
       "b AS (SELECT *, NTILE(3) OVER (PARTITION BY lang " +
       "ORDER BY score_ppm DESC, doc_id ASC) AS nt FROM t) " +
       "SELECT lang, CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' " +
       "ELSE 'tail' END AS bucket, COUNT(*) AS n_docs, " +
       "CAST(SUM(n_chars_text) AS BIGINT) AS chars, " +
       "MIN(score_ppm) AS min_score, MAX(score_ppm) AS max_score " +
       "FROM b GROUP BY 1, 2 ORDER BY 1, 2"),

    "corpus_domain_cap" ->
      ("WITH k AS (SELECT doc_id, source, " +
       "('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h " +
       "FROM documents), " +
       "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source " +
       "ORDER BY h ASC, doc_id ASC) AS rk FROM k) " +
       "SELECT source, COUNT(*) AS n_total, " +
       "CAST(SUM(CASE WHEN rk <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
       "CAST(SUM(CASE WHEN rk <= 15 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum " +
       "FROM r GROUP BY source ORDER BY source"),

    "corpus_pack_bins" ->
      (s"WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens, " +
       "('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h " +
       "FROM documents), " +
       "c AS (SELECT *, SUM(n_tokens) OVER (ORDER BY h % 64 ASC, h ASC, " +
       "doc_id ASC ROWS UNBOUNDED PRECEDING) - n_tokens AS cum FROM t) " +
       "SELECT CAST(cum // 2048 AS BIGINT) AS bin, COUNT(*) AS n_docs, " +
       "CAST(SUM(n_tokens) AS BIGINT) AS fill_tokens " +
       "FROM c GROUP BY 1 ORDER BY 1"),

    "corpus_chunks" ->
      (s"WITH d AS (SELECT doc_id, $toksSql AS t FROM documents), " +
       "c AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n, t, " +
       "unnest(generate_series(0, (len(t) - 1) // 8)) AS i FROM d) " +
       "SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx, " +
       "CAST(i * 8 AS BIGINT) AS start_tok, " +
       "CAST(LEAST(16, n - i * 8) AS BIGINT) AS n_tok_chunk, " +
       "('0x' || substr(md5(array_to_string(" +
       "list_slice(t, i * 8 + 1, i * 8 + 16), ' ')), 1, 15))::BIGINT " +
       "AS chunk_hash " +
       "FROM c ORDER BY doc_id, chunk_idx"),

    "corpus_mixture_plan" ->
      (s"WITH t AS (SELECT lang, CAST(SUM(len($toksSql)) AS BIGINT) " +
       "AS tokens FROM documents GROUP BY lang), " +
       "g AS (SELECT * FROM (VALUES ('de', 200000), ('en', 200000), " +
       "('es', 200000), ('fr', 200000), ('zh', 200000)) " +
       "v(lang, target_ppm)), " +
       "j AS (SELECT t.lang, t.tokens, " +
       "CAST(g.target_ppm AS BIGINT) AS target_ppm FROM t JOIN g USING (lang)), " +
       "s AS (SELECT MIN((1000000 * tokens) // target_ppm) AS S FROM j) " +
       "SELECT lang, tokens, target_ppm, " +
       "CAST((target_ppm * S) // 1000000 AS BIGINT) AS keep_tokens, " +
       "CAST((1000000 * ((target_ppm * S) // 1000000)) // tokens AS BIGINT) " +
       "AS rate_ppm FROM j, s ORDER BY lang"),

    "text_unigram_score" ->
      (s"WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents), " +
       "v AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok), " +
       "n AS (SELECT CAST(SUM(c) AS BIGINT) AS N FROM v), " +
       "p AS (SELECT doc_id, COUNT(*) AS n_tokens, " +
       "CAST(SUM(c) AS BIGINT) AS sumc FROM tok JOIN v USING (tok) " +
       "GROUP BY doc_id) " +
       "SELECT doc_id, n_tokens, " +
       "CAST((1000000 * sumc) // (n_tokens * N) AS BIGINT) AS commonness_ppm " +
       "FROM p, n ORDER BY doc_id"),

    "text_lang_stats" ->
      (s"WITH lang AS ($langIdSql), " +
       s"st AS (SELECT d.doc_id, l.pred_lang, length(d.text) AS n_chars, " +
       s"len($toksSql) AS n_tokens " +
       "FROM documents d JOIN lang l ON l.doc_id = d.doc_id) " +
       "SELECT pred_lang, COUNT(*) AS n_docs, " +
       "CAST(SUM(n_chars) AS BIGINT) AS chars, " +
       "CAST(SUM(n_tokens) AS BIGINT) AS tokens, " +
       "CAST(FLOOR(AVG(n_tokens)) AS BIGINT) AS avg_tokens " +
       "FROM st GROUP BY pred_lang"),

    "text_quality_full" ->
      (s"SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_text, " +
       s"CAST(len($toksSql) AS BIGINT) AS n_tokens, " +
       s"CAST(len(list_distinct($toksSql)) AS BIGINT) AS n_distinct_tokens, " +
       s"CAST(FLOOR(100.0 * length(regexp_replace(text, '\\s+', '', 'g')) / len($toksSql)) AS BIGINT) AS mean_token_len_x100, " +
       s"CAST(FLOOR(1000000.0 * ${hitsSql("en")} / len($toksSql)) AS BIGINT) AS stopword_ppm " +
       "FROM documents"),

    "ann_bruteforce_top5" ->
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5), " +
       "p AS (SELECT q.qid, e.vec_id AS nid, " +
       "list_cosine_similarity(q.qe, e.embedding) AS sim " +
       "FROM q, embeddings e WHERE e.vec_id <> q.qid) " +
       "SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM " +
       "(SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rank FROM p) " +
       "WHERE rank <= 5 ORDER BY qid, rank"),

    "events_hourly" ->
      ("SELECT event_type, (epoch_ns(ts) // 3600000000000) * 3600 AS hour_epoch, " +
       "COUNT(*) AS n, CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents " +
       "FROM events GROUP BY 1, 2"),

    "events_user_stats" ->
      ("SELECT user_id, COUNT(*) AS n, " +
       "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents, " +
       "CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types " +
       "FROM events GROUP BY user_id"),

    "corpus_length_histogram" ->
      (s"SELECT CAST(LENGTH(CAST(len($toksSql) AS VARCHAR)) AS INT) AS len_digits, " +
       s"COUNT(*) AS n_docs, CAST(SUM(len($toksSql)) AS BIGINT) AS token_mass " +
       "FROM documents GROUP BY 1"),

    "emb_norm_census" ->
      ("WITH n AS (SELECT vec_id, CAST(FLOOR(1000 * sqrt(list_reduce(" +
       "list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), " +
       "(x, y) -> x + y))) AS BIGINT) AS norm_ppt FROM embeddings) " +
       "SELECT norm_ppt, COUNT(*) AS n_vecs, bit_xor(vec_id) AS vec_xor " +
       "FROM n GROUP BY 1"),

    "corpus_quality_report" ->
      (s"SELECT COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars, " +
       s"CAST(SUM(len($toksSql)) AS BIGINT) AS total_tokens, " +
       s"CAST(SUM(CASE WHEN len($toksSql) < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_short, " +
       "CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs, " +
       "CAST(MAX(n_chars) AS BIGINT) AS max_chars FROM documents"),

    "text_quality_filter" ->
      (s"SELECT COUNT(*) AS kept, CAST(SUM(n_chars) AS BIGINT) AS kept_chars " +
       s"FROM documents WHERE len($toksSql) >= 10 AND len($toksSql) <= 1000 " +
       s"AND FLOOR(1000000.0 * len(list_distinct($toksSql)) / len($toksSql)) >= 200000"),

    "events_funnel" -> {
      val w = 7L * 86400L * 1000000000L
      def stepCte(k: Int, tpe: String) = {
        val carry = (1 until k).map(j => s"MIN(c.t$j) AS t$j").mkString(", ")
        s"t$k AS (SELECT e.user_id, $carry, MIN(epoch_ns(e.ts)) AS t$k " +
          s"FROM events e JOIN t${k - 1} c USING (user_id) " +
          s"WHERE e.event_type = '$tpe' AND epoch_ns(e.ts) > c.t${k - 1} " +
          s"AND epoch_ns(e.ts) < c.t1 + $w GROUP BY e.user_id)"
      }
      def levelRow(k: Int, tpe: String) =
        s"SELECT CAST($k AS BIGINT) AS step, '$tpe' AS step_name, " +
          s"COUNT(*) AS n_reached, " +
          s"COALESCE(bit_xor(user_id), 0) AS user_xor FROM t$k"
      "WITH t1 AS (SELECT user_id, MIN(epoch_ns(ts)) AS t1 FROM events " +
        "WHERE event_type = 'signup' GROUP BY user_id), " +
        stepCte(2, "view") + ", " + stepCte(3, "click") + ", " +
        stepCte(4, "purchase") + " SELECT * FROM (" +
        levelRow(1, "signup") + " UNION ALL " + levelRow(2, "view") +
        " UNION ALL " + levelRow(3, "click") + " UNION ALL " +
        levelRow(4, "purchase") + ") ORDER BY step"
    },

    "events_funnel_ttc" -> {
      val w = 7L * 86400L * 1000000000L
      def stepCte(k: Int, tpe: String) = {
        val carry = (1 until k).map(j => s"MIN(c.t$j) AS t$j").mkString(", ")
        s"t$k AS (SELECT e.user_id, $carry, MIN(epoch_ns(e.ts)) AS t$k " +
          s"FROM events e JOIN t${k - 1} c USING (user_id) " +
          s"WHERE e.event_type = '$tpe' AND epoch_ns(e.ts) > c.t${k - 1} " +
          s"AND epoch_ns(e.ts) < c.t1 + $w GROUP BY e.user_id)"
      }
      "WITH t1 AS (SELECT user_id, MIN(epoch_ns(ts)) AS t1 FROM events " +
        "WHERE event_type = 'signup' GROUP BY user_id), " +
        stepCte(2, "view") + ", " + stepCte(3, "click") + ", " +
        stepCte(4, "purchase") + ", ttc AS (SELECT (t4 - t1) // 1000000000 " +
        "AS ttc_s FROM t4) " +
        "SELECT COUNT(*) AS n_converted, " +
        "CAST(FLOOR(quantile_cont(ttc_s, 0.5)) AS BIGINT) AS ttc_p50_s, " +
        "CAST(FLOOR(quantile_cont(ttc_s, 0.9)) AS BIGINT) AS ttc_p90_s, " +
        "CAST(MAX(ttc_s) AS BIGINT) AS ttc_max_s FROM ttc"
    },

    "events_funnel_anystart" -> {
      val w = 12L * 3600L * 1000000000L
      def stepCte(k: Int, tpe: String) = {
        val carry = (2 until k).map(j => s"MIN(c.t$j) AS t$j")
          .map(_ + ", ").mkString
        s"a$k AS (SELECT e.user_id, c.t1, $carry" +
          s"MIN(epoch_ns(e.ts)) AS t$k " +
          s"FROM events e JOIN a${k - 1} c USING (user_id) " +
          s"WHERE e.event_type = '$tpe' AND epoch_ns(e.ts) > c.t${k - 1} " +
          s"AND epoch_ns(e.ts) < c.t1 + $w GROUP BY e.user_id, c.t1)"
      }
      def levelRow(k: Int, tpe: String) =
        s"SELECT CAST($k AS BIGINT) AS step, '$tpe' AS step_name, " +
          s"COUNT(*) AS n_reached, COALESCE(bit_xor(user_id), 0) AS user_xor " +
          s"FROM (SELECT DISTINCT user_id FROM a$k)"
      "WITH a1 AS (SELECT DISTINCT user_id, epoch_ns(ts) AS t1 FROM events " +
        "WHERE event_type = 'signup'), " +
        stepCte(2, "view") + ", " + stepCte(3, "click") + ", " +
        stepCte(4, "purchase") + " SELECT * FROM (" +
        levelRow(1, "signup") + " UNION ALL " + levelRow(2, "view") +
        " UNION ALL " + levelRow(3, "click") + " UNION ALL " +
        levelRow(4, "purchase") + ") ORDER BY step"
    },

    "events_json_stats" ->
      ("SELECT event_type, COUNT(*) AS n, " +
       "CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum " +
       "FROM events GROUP BY event_type"),

    "events_sessions" ->
      ("WITH e AS (SELECT user_id, epoch_ns(ts) AS ts, event_id FROM events), " +
       "f AS (SELECT user_id, ts, event_id, " +
       "CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) " +
       "> 1800000000000 THEN 1 ELSE 0 END AS new_sess FROM e), " +
       "g AS (SELECT user_id, SUM(new_sess) OVER (PARTITION BY user_id " +
       "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess FROM f), " +
       "h AS (SELECT user_id, sess, COUNT(*) AS n_events FROM g " +
       "GROUP BY user_id, sess) " +
       "SELECT user_id, CAST(MAX(sess) + 1 AS BIGINT) AS n_sessions, " +
       "MAX(n_events) AS max_session_events FROM h GROUP BY user_id"),

    // strict > gap split on µs times (adjacent session spans merge) —
    // see EventsStream.sessionizeNative
    "events_sessions_native" ->
      ("WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus, event_id FROM events), " +
       "f AS (SELECT user_id, tus, event_id, " +
       "CASE WHEN tus - LAG(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) " +
       "> 1800000000 THEN 1 ELSE 0 END AS new_sess FROM e), " +
       "g AS (SELECT user_id, SUM(new_sess) OVER (PARTITION BY user_id " +
       "ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sess FROM f), " +
       "h AS (SELECT user_id, sess, COUNT(*) AS n_events FROM g " +
       "GROUP BY user_id, sess) " +
       "SELECT user_id, COUNT(*) AS n_sessions, " +
       "MAX(n_events) AS max_session_events FROM h GROUP BY user_id"),

    "events_sliding" ->
      ("WITH e AS (SELECT epoch_ns(ts) // 1000 AS tus, event_type, value FROM events), " +
       "x AS (SELECT (tus // 3600000000 - 1) * 3600000000 AS w_start_us, " +
       "event_type, value FROM e " +
       "UNION ALL SELECT (tus // 3600000000) * 3600000000, event_type, value FROM e) " +
       "SELECT w_start_us, event_type, COUNT(*) AS n, " +
       "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents " +
       "FROM x GROUP BY 1, 2"),

    "events_distinct_hourly" ->
      ("SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS hour_epoch, " +
       "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users, TRUE AS approx_ok " +
       "FROM events GROUP BY 1"),

    // sketch-merged distinct == exact in the sparse regime at gate scale
    "events_distinct_sketch" ->
      ("SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) " +
       "AS n_users FROM events GROUP BY 1 ORDER BY 1"),

    "events_first_touch" ->
      ("WITH r AS (SELECT user_id, event_type, " +
       "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS rn " +
       "FROM events) " +
       "SELECT event_type AS first_type, COUNT(*) AS n_users, " +
       "bit_xor(user_id) AS user_xor FROM r WHERE rn = 1 GROUP BY 1"),

    "events_anomaly_hours" ->
      ("WITH hourly AS (SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr, " +
       "COUNT(*) AS n FROM events GROUP BY 1, 2), " +
       "st AS (SELECT event_type, COUNT(*) AS h, CAST(SUM(n) AS BIGINT) AS s, " +
       "SUM(CAST(n AS HUGEINT)*n) AS q FROM hourly GROUP BY 1) " +
       "SELECT event_type, COUNT(*) AS n_anomalous, bit_xor(hr) AS hour_xor " +
       "FROM hourly JOIN st USING (event_type) " +
       "WHERE (CAST(n AS HUGEINT)*h - s) > 0 " +
       "AND (CAST(n AS HUGEINT)*h - s)*(CAST(n AS HUGEINT)*h - s) " +
       "> 9*(q*h - CAST(s AS HUGEINT)*s) GROUP BY 1"),

    "events_overlap_join" ->
      ("WITH tw AS (SELECT event_type, MIN(epoch_ns(ts)) AS t_start, " +
       "MIN(epoch_ns(ts)) + 259200000000000 AS t_end FROM events GROUP BY 1), " +
       "uw AS (SELECT user_id, MIN(epoch_ns(ts)) AS u_start, " +
       "MIN(epoch_ns(ts)) + 86400000000000 AS u_end FROM events GROUP BY 1) " +
       "SELECT event_type, COUNT(*) AS n_overlapping_users, " +
       "bit_xor(user_id) AS user_xor FROM tw JOIN uw " +
       "ON t_start <= u_end AND u_start <= t_end GROUP BY 1"),

    "events_range_join" ->
      ("WITH iv AS (SELECT event_type AS itype, MIN(epoch_ns(ts)) AS w_start, " +
       "MIN(epoch_ns(ts)) + 259200000000000 AS w_end FROM events GROUP BY event_type) " +
       "SELECT iv.itype AS event_type, COUNT(*) AS n_in_window, " +
       "bit_xor(e.event_id) AS event_xor FROM events e " +
       "JOIN iv ON epoch_ns(e.ts) BETWEEN iv.w_start AND iv.w_end GROUP BY 1"),

    "events_overlap_join_rule" ->
      ("WITH tw AS (SELECT event_type, MIN(epoch_ns(ts)) AS t_start, " +
       "MIN(epoch_ns(ts)) + 259200000000000 AS t_end FROM events GROUP BY 1), " +
       "uw AS (SELECT user_id, MIN(epoch_ns(ts)) AS u_start, " +
       "MIN(epoch_ns(ts)) + 86400000000000 AS u_end FROM events GROUP BY 1) " +
       "SELECT event_type, COUNT(*) AS n_overlapping_users, " +
       "bit_xor(user_id) AS user_xor FROM tw JOIN uw " +
       "ON t_start <= u_end AND u_start <= t_end GROUP BY 1"),

    // identical semantics; the Spark side goes through the optimizer-rule
    // rewrite instead of the explicit operator
    "events_range_join_rule" ->
      ("WITH iv AS (SELECT event_type AS itype, MIN(epoch_ns(ts)) AS w_start, " +
       "MIN(epoch_ns(ts)) + 259200000000000 AS w_end FROM events GROUP BY event_type) " +
       "SELECT iv.itype AS event_type, COUNT(*) AS n_in_window, " +
       "bit_xor(e.event_id) AS event_xor FROM events e " +
       "JOIN iv ON epoch_ns(e.ts) BETWEEN iv.w_start AND iv.w_end GROUP BY 1"),

    "events_retention" ->
      ("WITH e AS (SELECT DISTINCT user_id, epoch_ns(ts) // 604800000000000 AS wk FROM events), " +
       "c AS (SELECT user_id, MIN(wk) AS cwk FROM e GROUP BY user_id) " +
       "SELECT c.cwk AS cohort_week, e.wk - c.cwk AS week_offset, " +
       "COUNT(*) AS n_users, bit_xor(e.user_id) AS user_xor " +
       "FROM e JOIN c USING (user_id) GROUP BY 1, 2"),

    // the GK rank-bound booleans are recomputed in-engine vs raw rows;
    // the oracle pins them TRUE plus the digest's exact per-type count
    "events_quantiles_sketch" ->
      ("SELECT event_type, CAST(COUNT(value) AS BIGINT) AS n, " +
       "TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok " +
       "FROM events WHERE value IS NOT NULL GROUP BY 1 ORDER BY 1"),

    // sketch inclusion–exclusion == exact intersection in the sparse regime
    "events_retention_sketch" ->
      ("WITH e AS (SELECT DISTINCT epoch_ns(ts) // 604800000000000 AS week, " +
       "user_id FROM events), " +
       "n AS (SELECT week, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1), " +
       "ov AS (SELECT a.week AS wa, b.week AS wb, " +
       "CAST(COUNT(*) AS BIGINT) AS n_ret FROM e a " +
       "JOIN e b ON a.user_id = b.user_id AND b.week = a.week + 1 " +
       "GROUP BY 1, 2) " +
       "SELECT na.week AS week_a, nb.week AS week_b, na.n AS n_a, " +
       "nb.n AS n_b, CAST(COALESCE(ov.n_ret, 0) AS BIGINT) AS n_retained " +
       "FROM n na JOIN n nb ON nb.week = na.week + 1 " +
       "LEFT JOIN ov ON ov.wa = na.week AND ov.wb = nb.week ORDER BY 1"),

    "text_heavy_hitters" ->
      (s"WITH tok AS (SELECT unnest($toksSql) AS tok FROM documents) " +
       "SELECT COUNT(*) AS n_tokens, TRUE AS within_bounds, " +
       "TRUE AS heavy_covered, TRUE AS reported_le_k FROM tok"),

    "corpus_heavy_per_lang" ->
      (s"WITH tok AS (SELECT lang, unnest($toksSql) AS tok FROM documents) " +
       "SELECT lang, COUNT(*) AS n_tokens, TRUE AS within_bounds, " +
       "TRUE AS heavy_covered, TRUE AS reported_le_k FROM tok GROUP BY lang"),

    "text_vocab" ->
      (s"WITH tok AS (SELECT unnest($toksSql) AS tok FROM documents) " +
       "SELECT COUNT(*) AS n_tokens, " +
       "CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct FROM tok"),

    "text_vocab_approx" ->
      (s"WITH tok AS (SELECT unnest($toksSql) AS tok FROM documents) " +
       "SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct, " +
       "TRUE AS within_bounds FROM tok"),

    "text_repetition" -> (repetitionCte +
      " SELECT doc_id, n_words, top_word_ppm, top_bigram_ppm, " +
      "dup_trigram_ppm FROM rep ORDER BY doc_id"),

    "corpus_repetition_census" -> (repetitionCte +
      """ SELECT COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN top_word_ppm > 100000 THEN 1 ELSE 0 END) AS BIGINT)
          AS drop_top_word,
        CAST(SUM(CASE WHEN top_bigram_ppm > 40000 THEN 1 ELSE 0 END) AS BIGINT)
          AS drop_top_bigram,
        CAST(SUM(CASE WHEN dup_trigram_ppm > 10000 THEN 1 ELSE 0 END) AS BIGINT)
          AS drop_dup_trigram,
        CAST(SUM(CASE WHEN top_word_ppm <= 100000 AND top_bigram_ppm <= 40000
          AND dup_trigram_ppm <= 10000 THEN 1 ELSE 0 END) AS BIGINT) AS kept
      FROM rep"""),

    "text_top_terms" ->
      (s"WITH tok AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok " +
       "FROM documents) " +
       "SELECT tok, COUNT(*) AS df FROM tok GROUP BY tok " +
       "ORDER BY df DESC, tok ASC LIMIT 20"),

    "text_pii_scrub" -> {
      val e = pipeline.Pii.emailRe
      val p = pipeline.Pii.phoneRe
      val i = pipeline.Pii.ipv4Re
      s"""WITH planted AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 3 = 0 THEN ' mail u' || CAST(doc_id AS VARCHAR)
             || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.org' ELSE '' END ||
           CASE WHEN doc_id % 6 = 0 THEN ' cc backup-'
             || CAST(doc_id AS VARCHAR) || '@archive.net' ELSE '' END ||
           CASE WHEN doc_id % 5 = 0 THEN ' call 555-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
           CASE WHEN doc_id % 4 = 0 THEN ' from 10.'
             || CAST(doc_id % 256 AS VARCHAR) || '.'
             || CAST(doc_id % 100 AS VARCHAR) || '.7' ELSE '' END AS t
         FROM documents),
         s AS (SELECT doc_id,
           CAST(len(regexp_extract_all(t, '$e')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '$p')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(t, '$i')) AS BIGINT) AS n_ipv4,
           regexp_replace(regexp_replace(regexp_replace(t,
             '$e', '<EMAIL>', 'g'), '$p', '<PHONE>', 'g'),
             '$i', '<IP>', 'g') AS clean
         FROM planted)
         SELECT doc_id AS did, n_emails, n_phones, n_ipv4,
           CAST(length(clean) AS BIGINT) AS n_chars_clean,
           ('0x' || substr(md5(clean), 1, 15))::BIGINT AS clean_h
         FROM s"""
    },

    "text_tfidf_top" ->
      (s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok
                GROUP BY doc_id, tok),
         dfx AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
         sc AS (SELECT doc_id, tok, tf, df,
             CAST(FLOOR(tf * 1000000.0 / df) AS BIGINT) AS score_ppm
           FROM tf JOIN dfx USING (tok)),
         rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY score_ppm DESC, tok ASC) AS rn FROM sc)
         SELECT doc_id, tok AS top_term, tf, df, score_ppm
         FROM rk WHERE rn = 1"""),

    "events_asof_join" ->
      ("SELECT a.event_id, a.user_id, " +
       "COALESCE((epoch_ns(a.ts) - b.tns) // 1000000000, -1) AS gap_s " +
       "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') a " +
       "ASOF LEFT JOIN (SELECT user_id AS u2, epoch_ns(ts) AS tns FROM events " +
       "WHERE event_type = 'error') b " +
       "ON a.user_id = b.u2 AND b.tns <= epoch_ns(a.ts)"),

    // identical oracle to events_asof_join by design
    "events_asof_bucketed" ->
      ("SELECT a.event_id, a.user_id, " +
       "COALESCE((epoch_ns(a.ts) - b.tns) // 1000000000, -1) AS gap_s " +
       "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') a " +
       "ASOF LEFT JOIN (SELECT user_id AS u2, epoch_ns(ts) AS tns FROM events " +
       "WHERE event_type = 'error') b " +
       "ON a.user_id = b.u2 AND b.tns <= epoch_ns(a.ts)"),

    // window-free oracle (grouped min over an inequality join) so the
    // forward direction doesn't depend on DuckDB ASOF direction support
    "events_asof_forward" ->
      ("WITH err AS (SELECT event_id, user_id, epoch_ns(ts) AS t FROM events " +
       "WHERE event_type = 'error'), " +
       "pur AS (SELECT user_id, epoch_ns(ts) AS t FROM events " +
       "WHERE event_type = 'purchase'), " +
       "m AS (SELECT e.event_id, e.user_id, e.t, MIN(p.t) AS pt FROM err e " +
       "LEFT JOIN pur p ON e.user_id = p.user_id AND p.t >= e.t " +
       "GROUP BY e.event_id, e.user_id, e.t) " +
       "SELECT event_id, user_id, CASE WHEN pt IS NULL OR pt - t > 86400000000000 " +
       "THEN -1 ELSE (pt - t) // 1000000000 END AS ttp_s FROM m"),

    // backward/forward max/min per error within tolerance; choose smaller
    // abs distance, ties backward — mirrors AsOfJoin.asofJoinNearest
    "events_asof_nearest" ->
      ("WITH err AS (SELECT event_id, user_id, epoch_ns(ts) AS t FROM events " +
       "WHERE event_type = 'error'), " +
       "pur AS (SELECT user_id, epoch_ns(ts) AS t FROM events " +
       "WHERE event_type = 'purchase'), " +
       "bf AS (SELECT e.event_id, e.user_id, e.t, " +
       "MAX(CASE WHEN p.t <= e.t AND e.t - p.t <= 86400000000000 THEN p.t END) AS bt, " +
       "MIN(CASE WHEN p.t >= e.t AND p.t - e.t <= 86400000000000 THEN p.t END) AS ft " +
       "FROM err e LEFT JOIN pur p ON e.user_id = p.user_id " +
       "GROUP BY e.event_id, e.user_id, e.t) " +
       "SELECT event_id, user_id, " +
       "CASE WHEN bt IS NULL AND ft IS NULL THEN -1 " +
       "WHEN ft IS NULL OR (bt IS NOT NULL AND t - bt <= ft - t) " +
       "THEN (t - bt) // 1000000000 ELSE (ft - t) // 1000000000 END AS abs_gap_s, " +
       "CASE WHEN bt IS NULL AND ft IS NULL THEN 'n' " +
       "WHEN ft IS NULL OR (bt IS NOT NULL AND t - bt <= ft - t) " +
       "THEN 'b' ELSE 'f' END AS asof_dir FROM bf"),

    // strict > 5min-gap split on µs times, end = last + 5min — the
    // session_window interval-union twin
    "events_active_time" ->
      ("WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS t FROM events), " +
       "f AS (SELECT user_id, t, CASE WHEN t - LAG(t) OVER " +
       "(PARTITION BY user_id ORDER BY t) > 300000000 THEN 1 ELSE 0 END AS brk FROM e), " +
       "g AS (SELECT user_id, t, SUM(brk) OVER (PARTITION BY user_id " +
       "ORDER BY t ROWS UNBOUNDED PRECEDING) AS grp FROM f), " +
       "h AS (SELECT user_id, grp, MIN(t) AS s, MAX(t) + 300000000 AS en " +
       "FROM g GROUP BY 1, 2) " +
       "SELECT user_id, COUNT(*) AS n_intervals, " +
       "CAST(SUM(en - s) AS BIGINT) AS covered_us FROM h GROUP BY 1"),

    "events_error_purchase_pairs" ->
      ("WITH p AS (SELECT user_id, epoch_ns(ts) // 1000 AS t, event_id FROM events " +
       "WHERE event_type = 'purchase'), " +
       "e AS (SELECT user_id AS u2, epoch_ns(ts) // 1000 AS t2, event_id AS eid " +
       "FROM events WHERE event_type = 'error') " +
       "SELECT COUNT(*) AS n_pairs, COALESCE(bit_xor(p.event_id), 0) AS p_xor, " +
       "COALESCE(bit_xor(eid), 0) AS e_xor " +
       "FROM p JOIN e ON user_id = u2 AND t2 BETWEEN t - 3600000000 AND t"),

    "events_rolling_count" ->
      ("WITH e AS (SELECT user_id, epoch_ns(ts) AS t FROM events), " +
       "r AS (SELECT COUNT(*) OVER (PARTITION BY user_id ORDER BY t " +
       "RANGE BETWEEN 3599999999999 PRECEDING AND CURRENT ROW) AS rolling_n FROM e) " +
       "SELECT rolling_n, COUNT(*) AS n_events FROM r GROUP BY 1"),

    "events_rollup" ->
      ("SELECT COALESCE(event_type, 'ALL') AS event_type, " +
       "COALESCE(epoch_ns(ts) // 86400000000000, -1) AS day, COUNT(*) AS n, " +
       "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents " +
       "FROM events GROUP BY ROLLUP(event_type, epoch_ns(ts) // 86400000000000)"),

    "events_interarrival" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS t FROM events), " +
       "g AS (SELECT event_type, t - LAG(t) OVER (PARTITION BY user_id " +
       "ORDER BY t, event_id) AS gap FROM e) " +
       "SELECT event_type, CAST(LENGTH(CAST(gap AS VARCHAR)) AS INT) AS gap_digits, " +
       "COUNT(*) AS n, CAST(SUM(gap) AS BIGINT) AS gap_sum " +
       "FROM g WHERE gap IS NOT NULL GROUP BY 1, 2"),

    "events_dow_hour_heatmap" ->
      ("SELECT (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow, " +
       "(epoch_ns(ts) // 3600000000000) % 24 AS hour, COUNT(*) AS n " +
       "FROM events GROUP BY 1, 2"),

    "q10_returned_customers" ->
      ("SELECT c_custkey, c_name, " +
       "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * " +
       "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_centpct " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "JOIN customer ON o_custkey = c_custkey " +
       "WHERE l_returnflag = 'R' GROUP BY 1, 2 " +
       "ORDER BY revenue_centpct DESC, c_custkey ASC LIMIT 20"),

    "q4_slow_orders" ->
      ("SELECT o_orderpriority, COUNT(*) AS n_orders, " +
       "bit_xor(o_orderkey) AS order_xor FROM orders o " +
       "WHERE EXISTS (SELECT 1 FROM lineitem l " +
       "WHERE l.l_orderkey = o.o_orderkey " +
       "AND epoch_us(l.l_shipdate) // 1000000 > " +
       "epoch_us(o.o_orderdate) // 1000000 + 7776000) " +
       "GROUP BY 1"),

    "events_transitions" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS t FROM events), " +
       "g AS (SELECT event_id, event_type AS next_type, " +
       "LAG(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev_type " +
       "FROM e) " +
       "SELECT prev_type, next_type, COUNT(*) AS n, bit_xor(event_id) AS event_xor " +
       "FROM g WHERE prev_type IS NOT NULL GROUP BY 1, 2"),

    "orders_cumulative_revenue" ->
      ("WITH d AS (SELECT epoch_us(o_orderdate) // 86400000000 AS day, " +
       "COUNT(*) AS n_orders, " +
       "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS day_cents " +
       "FROM orders GROUP BY 1) " +
       "SELECT day, n_orders, " +
       "CAST(SUM(n_orders) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_orders, " +
       "CAST(SUM(day_cents) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents " +
       "FROM d"),

    "events_purchasers_no_error" ->
      ("SELECT COUNT(*) AS n_users, COALESCE(bit_xor(user_id), 0) AS user_xor FROM " +
       "(SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' " +
       "EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'error')"),

    "profile_lineitem" -> {
      def row(c: String) =
        s"SELECT '$c' AS col_name, COUNT(*) AS n, " +
        s"CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, " +
        s"CAST(MIN(CAST(ROUND($c * 100) AS BIGINT)) AS BIGINT) AS min_c, " +
        s"CAST(MAX(CAST(ROUND($c * 100) AS BIGINT)) AS BIGINT) AS max_c, " +
        s"CAST(SUM(CAST(ROUND($c * 100) AS BIGINT)) AS BIGINT) AS sum_c " +
        "FROM lineitem"
      Seq("l_quantity", "l_extendedprice", "l_discount")
        .map(row).mkString(" UNION ALL ")
    },

    "q1_pricing" ->
      ("SELECT l_returnflag, l_linestatus, " +
       "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, " +
       "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents, " +
       "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * " +
       "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_centpct, " +
       "COUNT(*) AS count_order " +
       "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' " +
       "GROUP BY l_returnflag, l_linestatus"),

    "q3_top_orders" ->
      ("SELECT l_orderkey AS orderkey, " +
       "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * " +
       "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_centpct " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "JOIN customer ON o_custkey = c_custkey " +
       "WHERE c_mktsegment = 'BUILDING' " +
       "GROUP BY l_orderkey ORDER BY revenue_centpct DESC, orderkey ASC LIMIT 10"),

    "q5_nation_revenue" ->
      ("SELECT n_name AS nation, " +
       "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * " +
       "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_centpct, " +
       "COUNT(*) AS n_lineitems " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "JOIN customer ON o_custkey = c_custkey " +
       "JOIN nation ON c_nationkey = n_nationkey " +
       "GROUP BY n_name"),

    "q7_nation_trade" ->
      ("SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation, " +
       "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * " +
       "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_centpct, " +
       "COUNT(*) AS n_lineitems " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "JOIN supplier ON l_suppkey = s_suppkey " +
       "JOIN customer ON o_custkey = c_custkey " +
       "JOIN nation ns ON s_nationkey = ns.n_nationkey " +
       "JOIN nation nc ON c_nationkey = nc.n_nationkey " +
       "WHERE ns.n_name <> nc.n_name " +
       "GROUP BY 1, 2"),

    "q18_large_orders" ->
      ("WITH big AS (SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) " +
       "AS total_qty FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 300) " +
       "SELECT c_name, o_orderkey AS orderkey, total_qty, " +
       "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents " +
       "FROM orders JOIN big ON o_orderkey = l_orderkey " +
       "JOIN customer ON o_custkey = c_custkey"),

    "q2_min_cost_supplier" ->
      ("WITH offers AS (SELECT l_partkey, s_name, n_name, " +
       "CAST(ROUND(s_acctbal * 100) AS BIGINT) AS acctbal_cents, " +
       "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cost_cents " +
       "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
       "JOIN nation ON s_nationkey = n_nationkey " +
       "JOIN region ON n_regionkey = r_regionkey " +
       "WHERE r_name = 'EUROPE') " +
       "SELECT DISTINCT p_partkey, p_name, s_name, n_name, acctbal_cents, " +
       "cost_cents AS min_cost_cents " +
       "FROM part JOIN offers o ON p_partkey = o.l_partkey " +
       "WHERE p_size = 15 " +
       "AND cost_cents = (SELECT MIN(o2.cost_cents) FROM offers o2 " +
       "WHERE o2.l_partkey = o.l_partkey)"),

    "q13_order_distribution" ->
      ("SELECT c_count, COUNT(*) AS custdist FROM " +
       "(SELECT c_custkey, COUNT(o_orderkey) AS c_count " +
       "FROM customer LEFT OUTER JOIN orders " +
       "ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT' " +
       "GROUP BY c_custkey) t GROUP BY c_count"),

    "q21_waiting_supplier" ->
      ("WITH late AS (SELECT l_orderkey, l_suppkey " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "WHERE o_orderstatus = 'F' " +
       "AND epoch_us(l_shipdate) // 1000000 > " +
       "epoch_us(o_orderdate) // 1000000 + 5184000) " +
       "SELECT s_name, COUNT(*) AS numwait, bit_xor(l_orderkey) AS order_xor " +
       "FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey " +
       "WHERE EXISTS (SELECT 1 FROM lineitem l2 " +
       "WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) " +
       "AND NOT EXISTS (SELECT 1 FROM late l3 " +
       "WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey) " +
       "GROUP BY s_name"),

    "q8_market_share" ->
      ("WITH lines AS (SELECT EXTRACT(year FROM o_orderdate) AS o_year, " +
       "ns.n_name AS supp_nation, " +
       "CAST(ROUND(l_extendedprice * 100) AS BIGINT) * " +
       "(100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS rev " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "JOIN supplier ON l_suppkey = s_suppkey " +
       "JOIN nation ns ON s_nationkey = ns.n_nationkey " +
       "WHERE o_custkey IN (SELECT c_custkey FROM customer " +
       "JOIN nation nc ON c_nationkey = nc.n_nationkey " +
       "JOIN region ON nc.n_regionkey = r_regionkey " +
       "WHERE r_name = 'ASIA')) " +
       "SELECT o_year, CAST((CAST(SUM(CASE WHEN supp_nation = 'NATION_7' " +
       "THEN rev ELSE 0 END) AS HUGEINT) * 1000000) // " +
       "CAST(SUM(rev) AS HUGEINT) AS BIGINT) AS mkt_share_ppm, " +
       "CAST(SUM(rev) AS BIGINT) AS total_centpct, " +
       "COUNT(*) AS n_lineitems FROM lines GROUP BY o_year"),

    "q9_profit_by_nation" ->
      ("SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year, " +
       "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * " +
       "(100 - CAST(ROUND(l_discount * 100) AS BIGINT)) * " +
       "(100 - CAST(ROUND(l_tax * 100) AS BIGINT))) AS BIGINT) " +
       "AS profit_centpctpct, COUNT(*) AS n " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "JOIN supplier ON l_suppkey = s_suppkey " +
       "JOIN nation ON s_nationkey = n_nationkey " +
       "WHERE l_partkey IN (SELECT p_partkey FROM part " +
       "WHERE p_name LIKE '%red%') " +
       "GROUP BY 1, 2"),

    "q11_value_concentration" ->
      ("WITH perpart AS (SELECT l_partkey, " +
       "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) " +
       "AS value_cents FROM lineitem " +
       "WHERE l_suppkey IN (SELECT s_suppkey FROM supplier " +
       "JOIN nation ON s_nationkey = n_nationkey " +
       "WHERE n_name = 'NATION_3') GROUP BY 1) " +
       "SELECT l_partkey, value_cents FROM perpart " +
       "WHERE value_cents * 2000 > (SELECT SUM(value_cents) FROM perpart)"),

    "q12_priority_class" ->
      ("SELECT l_linestatus, " +
       "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') " +
       "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
       "CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') " +
       "THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
       "AND l_shipdate < TIMESTAMP '1997-01-01' GROUP BY 1"),

    "q14_promo_revenue" ->
      ("SELECT CAST((CAST(SUM(CASE WHEN p_type = 'PROMO' THEN " +
       "CAST(ROUND(l_extendedprice * 100) AS BIGINT) * " +
       "(100 - CAST(ROUND(l_discount * 100) AS BIGINT)) ELSE 0 END) " +
       "AS HUGEINT) * 1000000) // CAST(SUM(" +
       "CAST(ROUND(l_extendedprice * 100) AS BIGINT) * " +
       "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS HUGEINT) " +
       "AS BIGINT) AS promo_ppm, " +
       "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * " +
       "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) " +
       "AS total_centpct, COUNT(*) AS n " +
       "FROM lineitem JOIN part ON l_partkey = p_partkey " +
       "WHERE l_shipdate >= TIMESTAMP '1996-09-01' " +
       "AND l_shipdate < TIMESTAMP '1996-10-01'"),

    "q15_top_supplier" ->
      ("WITH rev AS (SELECT l_suppkey, " +
       "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * " +
       "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) " +
       "AS total_rev FROM lineitem " +
       "WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
       "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1) " +
       "SELECT s_suppkey, s_name, total_rev FROM rev " +
       "JOIN supplier ON l_suppkey = s_suppkey " +
       "WHERE total_rev = (SELECT MAX(total_rev) FROM rev)"),

    "q16_supplier_count" ->
      ("SELECT p_brand, p_size, " +
       "CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt " +
       "FROM lineitem JOIN part ON l_partkey = p_partkey " +
       "WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' " +
       "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier " +
       "WHERE s_acctbal < 0) GROUP BY 1, 2"),

    "q17_small_quantity" ->
      ("WITH libr AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty, " +
       "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS ext_cents " +
       "FROM lineitem WHERE l_partkey IN " +
       "(SELECT p_partkey FROM part WHERE p_brand = 'Brand#5')), " +
       "pq AS (SELECT l_partkey AS pk, CAST(SUM(qty) AS BIGINT) AS sq, " +
       "COUNT(*) AS cq FROM libr GROUP BY 1) " +
       "SELECT CAST(COALESCE(SUM(ext_cents), 0) // 7 AS BIGINT) " +
       "AS avg_yearly_cents, COUNT(*) AS n_small " +
       "FROM libr JOIN pq ON l_partkey = pk WHERE qty * 5 * cq < sq"),

    "q19_disjunctive" ->
      ("SELECT COUNT(*) AS n, " +
       "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * " +
       "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) " +
       "AS revenue_centpct " +
       "FROM lineitem JOIN part ON l_partkey = p_partkey " +
       "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 " +
       "AND l_quantity BETWEEN 1 AND 11) " +
       "OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 " +
       "AND l_quantity BETWEEN 10 AND 20) " +
       "OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 " +
       "AND l_quantity BETWEEN 20 AND 30)"),

    "q20_part_supplier_chain" ->
      ("SELECT s_suppkey, s_name FROM supplier " +
       "JOIN nation ON s_nationkey = n_nationkey " +
       "WHERE n_name = 'NATION_2' AND EXISTS (" +
       "SELECT 1 FROM lineitem " +
       "WHERE l_suppkey = s_suppkey " +
       "AND l_partkey IN (SELECT p_partkey FROM part " +
       "WHERE p_name LIKE 'red %') " +
       "AND l_shipdate >= TIMESTAMP '1996-01-01' " +
       "AND l_shipdate < TIMESTAMP '1997-01-01' " +
       "GROUP BY l_partkey " +
       "HAVING SUM(CAST(l_quantity AS BIGINT)) > 45)"),

    "q22_lost_customers" ->
      ("WITH pool AS (SELECT c_custkey, c_nationkey, " +
       "CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents " +
       "FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9)), " +
       "pos AS (SELECT CAST(SUM(bal_cents) AS BIGINT) AS sum_pos, " +
       "COUNT(*) AS cnt_pos FROM pool WHERE bal_cents > 0) " +
       "SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust, " +
       "CAST(SUM(bal_cents) AS BIGINT) AS totacctbal_cents " +
       "FROM pool, pos WHERE bal_cents * cnt_pos > sum_pos " +
       "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
       "AND o_orderdate >= TIMESTAMP '2001-01-01') " +
       "GROUP BY 1"),

    "q6_selective_revenue" ->
      ("SELECT COUNT(*) AS n, " +
       "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * " +
       "CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_centpct " +
       "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01' " +
       "AND l_shipdate < TIMESTAMP '1997-01-01' " +
       "AND CAST(ROUND(l_discount * 100) AS BIGINT) BETWEEN 4 AND 8 " +
       "AND l_quantity < 24"),

    "text_tokens" ->
      "SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens FROM documents",

    "text_fertility" ->
      ("WITH t AS (SELECT lang, " +
       "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS toks, " +
       "CAST(length(text) AS BIGINT) AS chars FROM documents) " +
       "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
       "CAST(SUM(toks) AS BIGINT) AS n_tokens, " +
       "CAST(SUM(chars) AS BIGINT) AS n_chars, " +
       "CAST((SUM(toks) * 1000000) // SUM(chars) AS BIGINT) " +
       "AS tokens_per_char_ppm " +
       "FROM t GROUP BY lang ORDER BY lang"),

    "text_tokens_bpe" ->
      ("SELECT doc_id, " +
       "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws, " +
       "CAST(len(regexp_extract_all(text, " +
       "'''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s'']+')) " +
       "AS BIGINT) AS n_bpe FROM documents"),

    "text_quality" ->
      ("SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_text, " +
       "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words, " +
       "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_words " +
       "FROM documents"),

    "text_fingerprint" ->
      "SELECT doc_id, md5(lower(text)) AS fingerprint FROM documents",

    "dedup_exact" ->
      ("SELECT COUNT(*) AS total_docs, " +
       "CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS distinct_docs FROM documents"),

    "dedup_exact_groups" ->
      ("SELECT md5(text) AS fingerprint, COUNT(*) AS n_copies, " +
       "MIN(doc_id) AS keeper FROM documents " +
       "GROUP BY md5(text) HAVING COUNT(*) > 1 ORDER BY fingerprint"),

    "profile_key_skew" ->
      ("WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n " +
       "FROM events GROUP BY 1), " +
       "t AS (SELECT CAST(SUM(n) AS BIGINT) AS total, " +
       "CAST(COUNT(*) AS BIGINT) AS n_keys, " +
       "CAST(MAX(n) AS BIGINT) AS max_n FROM c) " +
       "SELECT user_id, n, " +
       "CAST((CAST(n AS HUGEINT) * 1000000) // total AS BIGINT) " +
       "AS share_ppm, " +
       "CAST((CAST(max_n AS HUGEINT) * n_keys * 1000) // total " +
       "AS BIGINT) AS skew_x1000 " +
       "FROM c, t ORDER BY n DESC, user_id LIMIT 10"),

    // mirrors JoinAdvisor.advise's ladder via the adjacent oracleSql
    // builder, so the two CASE orders cannot drift apart silently
    "profile_join_advice" -> {
      val adv = graft.operators.JoinAdvisor
      Seq(
        adv.oracleSql("events", "user_id", "events", "user_id",
          "events_self", 5000L),
        adv.oracleSql("orders", "o_custkey", "customer", "c_custkey",
          "orders_customer", 5000L),
        adv.oracleSql("orders", "o_orderkey", "lineitem", "l_orderkey",
          "orders_lineitem", 5000L))
        .map(q => s"SELECT * FROM ($q)").mkString(" UNION ALL ") +
        " ORDER BY pair"
    },

    "profile_join_cardinality" ->
      ("WITH a AS (SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS na " +
       "FROM orders GROUP BY 1), " +
       "b AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS nb " +
       "FROM lineitem GROUP BY 1) " +
       "SELECT CAST(COUNT(*) AS BIGINT) AS n_keys, " +
       "CAST(SUM(na * nb) AS BIGINT) AS est_rows, " +
       "CAST(MAX(na * nb) AS BIGINT) AS max_key_rows " +
       "FROM a JOIN b USING (k)"),

    "corpus_token_budget" ->
      ("""WITH s AS (SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(CAST(len(list_distinct(string_split(text, ' ')))
               AS HUGEINT) * 1000000 //
             len(string_split(text, ' ')) AS BIGINT) AS score_ppm
           FROM documents),
         c AS (SELECT *, COALESCE(SUM(n_tokens) OVER (
             ORDER BY score_ppm DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cum_before FROM s)
         SELECT lang, cum_before < 14000 AS kept,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens,
           MIN(score_ppm) AS min_score, MAX(score_ppm) AS max_score
         FROM c GROUP BY 1, 2 ORDER BY lang, kept"""),

    "profile_corpus_drift" ->
      ("""WITH fv AS (
           SELECT doc_id % 2 = 0 AS in_a, 'lang' AS feature,
                  lang AS bucket FROM documents
           UNION ALL
           SELECT doc_id % 2 = 0, 'source', source FROM documents),
         c AS (SELECT feature, bucket,
           CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
           FROM fv GROUP BY 1, 2),
         p AS (SELECT feature, bucket, n_a, n_b,
           CAST(CAST(n_a AS HUGEINT) * 1000000 //
             SUM(n_a) OVER (PARTITION BY feature) AS BIGINT) AS a_ppm,
           CAST(CAST(n_b AS HUGEINT) * 1000000 //
             SUM(n_b) OVER (PARTITION BY feature) AS BIGINT) AS b_ppm
           FROM c)
         SELECT feature, bucket, n_a, n_b, a_ppm, b_ppm,
           abs(a_ppm - b_ppm) AS shift_ppm,
           CAST(SUM(abs(a_ppm - b_ppm)) OVER (PARTITION BY feature) // 2
             AS BIGINT) AS feature_tvd_ppm
         FROM p ORDER BY feature, bucket"""),

    "text_bm25_topk" ->
      (s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term
             FROM documents),
         tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tc GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc
           WHERE term IN ('data', 'stream', 'shuffle') GROUP BY 1),
         sc AS (SELECT tc.doc_id,
           CAST(CAST(n - df AS HUGEINT) * 1000000 // n AS BIGINT)
             AS rarity_ppm,
           CAST(CAST(22 AS HUGEINT) * tf * total_len * 1000000 //
             (CAST(10 AS HUGEINT) * tf * total_len +
              CAST(3 AS HUGEINT) * total_len +
              CAST(9 AS HUGEINT) * dl * n) AS BIGINT) AS tfnorm_ppm
           FROM tc JOIN df USING (term) JOIN dl USING (doc_id)
           CROSS JOIN tot)
         SELECT doc_id, CAST(SUM(rarity_ppm * tfnorm_ppm) AS BIGINT)
           AS score
         FROM sc GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10"""),

    // identical semantics through the posting-list index — same oracle
    "retrieval_bm25_indexed" ->
      (s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term
             FROM documents),
         tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tc GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc
           WHERE term IN ('data', 'stream', 'shuffle') GROUP BY 1),
         sc AS (SELECT tc.doc_id,
           CAST(CAST(n - df AS HUGEINT) * 1000000 // n AS BIGINT)
             AS rarity_ppm,
           CAST(CAST(22 AS HUGEINT) * tf * total_len * 1000000 //
             (CAST(10 AS HUGEINT) * tf * total_len +
              CAST(3 AS HUGEINT) * total_len +
              CAST(9 AS HUGEINT) * dl * n) AS BIGINT) AS tfnorm_ppm
           FROM tc JOIN df USING (term) JOIN dl USING (doc_id)
           CROSS JOIN tot)
         SELECT doc_id, CAST(SUM(rarity_ppm * tfnorm_ppm) AS BIGINT)
           AS score
         FROM sc GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10"""),

    // rebuild-on-survivors: the full scoring over only the surviving
    // documents — matching the engine's tombstone-filtered indexed
    // search proves add + delete + search ≡ rebuild
    "retrieval_bm25_delete" ->
      (s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term
             FROM documents WHERE doc_id % 7 <> 0),
         tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tc GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc
           WHERE term IN ('data', 'stream', 'shuffle') GROUP BY 1),
         sc AS (SELECT tc.doc_id,
           CAST(CAST(n - df AS HUGEINT) * 1000000 // n AS BIGINT)
             AS rarity_ppm,
           CAST(CAST(22 AS HUGEINT) * tf * total_len * 1000000 //
             (CAST(10 AS HUGEINT) * tf * total_len +
              CAST(3 AS HUGEINT) * total_len +
              CAST(9 AS HUGEINT) * dl * n) AS BIGINT) AS tfnorm_ppm
           FROM tc JOIN df USING (term) JOIN dl USING (doc_id)
           CROSS JOIN tot)
         SELECT doc_id, CAST(SUM(rarity_ppm * tfnorm_ppm) AS BIGINT)
           AS score
         FROM sc GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10"""),

    // rebuild-on-the-updated-corpus: every 6th doc's text carries the
    // version-1 suffix — matching the engine's generation-filtered
    // search proves stamp + append + gen-tombstone ≡ rebuild
    "retrieval_bm25_update" ->
      (s"""WITH docs2 AS (SELECT doc_id,
             CASE WHEN doc_id % 6 = 3 THEN text || ' shuffle data'
                  ELSE text END AS text FROM documents),
         tok AS (SELECT doc_id, unnest(
             string_split_regex(lower(trim(text)), '\\s+')) AS term
           FROM docs2),
         tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tc GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc
           WHERE term IN ('data', 'stream', 'shuffle') GROUP BY 1),
         sc AS (SELECT tc.doc_id,
           CAST(CAST(n - df AS HUGEINT) * 1000000 // n AS BIGINT)
             AS rarity_ppm,
           CAST(CAST(22 AS HUGEINT) * tf * total_len * 1000000 //
             (CAST(10 AS HUGEINT) * tf * total_len +
              CAST(3 AS HUGEINT) * total_len +
              CAST(9 AS HUGEINT) * dl * n) AS BIGINT) AS tfnorm_ppm
           FROM tc JOIN df USING (term) JOIN dl USING (doc_id)
           CROSS JOIN tot)
         SELECT doc_id, CAST(SUM(rarity_ppm * tfnorm_ppm) AS BIGINT)
           AS score
         FROM sc GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10"""),

    // end-state corpus after the two Maintenance ticks: every 6th doc
    // updated (suffix), tick-1 deletes (7th, excluding the update
    // class), tick-2 deletes of PREVIOUSLY-updated docs (12th), and
    // the id-shifted adds of every 11th — scoring it from scratch
    // matches the orchestrated store's tombstone-filtered search
    "retrieval_bm25_lifecycle" -> bm25LifecycleOracleSql,

    // the streaming tailer applies the SAME mutation plan through its
    // versioned parquet store/state — identical end corpus, identical
    // oracle
    "retrieval_bm25_tailer" -> bm25LifecycleOracleSql,

    // hybrid RRF: the BM25 lexical leg ranked 1..20 + the brute-force
    // cosine vector leg for query vec 0 ranked 1..20, fused by the
    // integer-exact reciprocal-rank sum
    "retrieval_hybrid_rrf" ->
      (s"""WITH ${bm25LexLegSql(20)},
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         vec AS (SELECT doc_id, rank FROM (
           SELECT e.vec_id AS doc_id, ROW_NUMBER() OVER (
             ORDER BY list_cosine_similarity(q.qe, e.embedding) DESC,
                      e.vec_id ASC) AS rank
           FROM q, embeddings e WHERE e.vec_id <> 0) WHERE rank <= 20),
         legs AS (SELECT doc_id, rank FROM lex
           UNION ALL SELECT doc_id, rank FROM vec)
         SELECT doc_id,
           CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
           COUNT(*) AS n_legs
         FROM legs GROUP BY 1
         ORDER BY rrf_ppm DESC, doc_id LIMIT 10"""),

    // hybrid RRF through the serving indexes: identical lexical leg
    // (posting-index search ≡ index-free scan, pinned by
    // retrieval_bm25_indexed) + the IVF probe as the vector leg
    // (nlist 16, nprobe 4 — the approximation mirrored exactly)
    "retrieval_hybrid_indexed" ->
      (s"""WITH ${bm25LexLegSql(20)},
         ${ivfSql(16, 4, 20, queryWhere = "WHERE vec_id = 0")},
         legs AS (SELECT doc_id, rank FROM lex
           UNION ALL SELECT nid AS doc_id, rank FROM ivf_topk)
         SELECT doc_id,
           CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
           COUNT(*) AS n_legs
         FROM legs GROUP BY 1
         ORDER BY rrf_ppm DESC, doc_id LIMIT 10"""),

    // the scalar door serves the SAME answer as the DataFrame door —
    // the oracle is deliberately identical to retrieval_hybrid_indexed
    "retrieval_hybrid_scalar" ->
      (s"""WITH ${bm25LexLegSql(20)},
         ${ivfSql(16, 4, 20, queryWhere = "WHERE vec_id = 0")},
         legs AS (SELECT doc_id, rank FROM lex
           UNION ALL SELECT nid AS doc_id, rank FROM ivf_topk)
         SELECT doc_id,
           CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
           COUNT(*) AS n_legs
         FROM legs GROUP BY 1
         ORDER BY rrf_ppm DESC, doc_id LIMIT 10"""),

    // weighted hybrid: per-leg ppm weights in the fusion sum
    "retrieval_hybrid_weighted" ->
      (s"""WITH ${bm25LexLegSql(20)},
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         vec AS (SELECT doc_id, rank FROM (
           SELECT e.vec_id AS doc_id, ROW_NUMBER() OVER (
             ORDER BY list_cosine_similarity(q.qe, e.embedding) DESC,
                      e.vec_id ASC) AS rank
           FROM q, embeddings e WHERE e.vec_id <> 0) WHERE rank <= 20),
         legs AS (SELECT doc_id, rank, 1500000 AS w FROM lex
           UNION ALL SELECT doc_id, rank, 500000 AS w FROM vec)
         SELECT doc_id,
           CAST(SUM(w // (60 + rank)) AS BIGINT) AS rrf_ppm,
           COUNT(*) AS n_legs
         FROM legs GROUP BY 1
         ORDER BY rrf_ppm DESC, doc_id LIMIT 10"""),

    // batched hybrid: per-qid BM25 scoring through the query-term
    // table + the batched IVF probe, fused per qid
    "retrieval_hybrid_batch" -> {
      val qtVals = hybridBatchTerms.flatMap { case (q, ts) =>
        ts.map(t => s"($q, '$t')")
      }.mkString(", ")
      s"""WITH qt(qid, term) AS (SELECT * FROM (VALUES $qtVals)
           AS v(qid, term)),
         tok AS (SELECT doc_id, unnest($toksSql) AS term
           FROM documents),
         tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tc GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc
           WHERE term IN (SELECT term FROM qt) GROUP BY 1),
         sc AS (SELECT qt.qid, tc.doc_id,
           CAST(CAST(n - df AS HUGEINT) * 1000000 // n AS BIGINT)
             AS rarity_ppm,
           CAST(CAST(22 AS HUGEINT) * tf * total_len * 1000000 //
             (CAST(10 AS HUGEINT) * tf * total_len +
              CAST(3 AS HUGEINT) * total_len +
              CAST(9 AS HUGEINT) * dl * n) AS BIGINT) AS tfnorm_ppm
           FROM tc JOIN qt USING (term) JOIN df USING (term)
           JOIN dl USING (doc_id) CROSS JOIN tot),
         bm AS (SELECT qid, doc_id,
           CAST(SUM(rarity_ppm * tfnorm_ppm) AS BIGINT) AS score
           FROM sc GROUP BY 1, 2),
         lex AS (SELECT qid, doc_id, rank FROM (
           SELECT qid, doc_id, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY score DESC, doc_id ASC) AS rank FROM bm)
           WHERE rank <= 20),
         ${ivfSql(16, 4, 20)},
         legs AS (SELECT qid, doc_id, rank FROM lex
           UNION ALL SELECT qid, nid AS doc_id, rank FROM ivf_topk),
         fused AS (SELECT qid, doc_id,
           CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
           COUNT(*) AS n_legs
           FROM legs GROUP BY 1, 2)
         SELECT CAST(qid AS BIGINT) AS qid, doc_id, rrf_ppm, n_legs,
           CAST(rank AS BIGINT) AS rank FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY rrf_ppm DESC, doc_id ASC) AS rank FROM fused)
         WHERE rank <= 10 ORDER BY qid, rank"""
    },

    // hybrid fusion AFTER the two lifecycle mutation plans: both legs
    // rebuilt from scratch on their mutated corpora (documents per the
    // BM25 lifecycle, embeddings per the IVF lifecycle, frozen
    // base-seeded quantizer), then fused — must hash-match the engine
    // serving from its two maintained gen stores
    "retrieval_hybrid_lifecycle" -> {
      val docs2 = "(SELECT doc_id, CASE WHEN doc_id % 6 = 3 " +
        "THEN text || ' shuffle data' ELSE text END AS text " +
        "FROM documents WHERE NOT (doc_id % 7 = 0 AND doc_id % 6 <> 3) " +
        "AND NOT (doc_id % 12 = 3) " +
        "UNION ALL SELECT doc_id + 1000000 AS doc_id, text " +
        "FROM documents WHERE doc_id % 11 = 5)"
      val emb2 = "(SELECT vec_id, CASE WHEN vec_id % 6 = 3 " +
        "THEN list_reverse(embedding) ELSE embedding END AS embedding " +
        "FROM embeddings WHERE NOT (vec_id % 9 = 7 AND vec_id % 6 <> 3) " +
        "AND NOT (vec_id % 12 = 3) " +
        "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding " +
        "FROM embeddings WHERE vec_id % 11 = 5)"
      s"""WITH ${bm25LexLegSql(20, docsFrom = docs2)},
         ${ivfSql(16, 4, 20, corpusFrom = emb2,
        queryWhere = "WHERE vec_id = 0")},
         legs AS (SELECT doc_id, rank FROM lex
           UNION ALL SELECT nid AS doc_id, rank FROM ivf_topk)
         SELECT doc_id,
           CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
           COUNT(*) AS n_legs
         FROM legs GROUP BY 1
         ORDER BY rrf_ppm DESC, doc_id LIMIT 10"""
    },

    // weighted fusion through the BATCH tier: per-leg ppm weights in
    // the per-qid reciprocal-rank sum (lex 1.5M, vec 0.5M)
    "retrieval_hybrid_batch_weighted" -> {
      val qtVals = hybridBatchTerms.flatMap { case (q, ts) =>
        ts.map(t => s"($q, '$t')")
      }.mkString(", ")
      s"""WITH qt(qid, term) AS (SELECT * FROM (VALUES $qtVals)
           AS v(qid, term)),
         tok AS (SELECT doc_id, unnest($toksSql) AS term
           FROM documents),
         tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tc GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc
           WHERE term IN (SELECT term FROM qt) GROUP BY 1),
         sc AS (SELECT qt.qid, tc.doc_id,
           CAST(CAST(n - df AS HUGEINT) * 1000000 // n AS BIGINT)
             AS rarity_ppm,
           CAST(CAST(22 AS HUGEINT) * tf * total_len * 1000000 //
             (CAST(10 AS HUGEINT) * tf * total_len +
              CAST(3 AS HUGEINT) * total_len +
              CAST(9 AS HUGEINT) * dl * n) AS BIGINT) AS tfnorm_ppm
           FROM tc JOIN qt USING (term) JOIN df USING (term)
           JOIN dl USING (doc_id) CROSS JOIN tot),
         bm AS (SELECT qid, doc_id,
           CAST(SUM(rarity_ppm * tfnorm_ppm) AS BIGINT) AS score
           FROM sc GROUP BY 1, 2),
         lex AS (SELECT qid, doc_id, rank FROM (
           SELECT qid, doc_id, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY score DESC, doc_id ASC) AS rank FROM bm)
           WHERE rank <= 20),
         ${ivfSql(16, 4, 20)},
         legs AS (SELECT qid, doc_id, rank, 1500000 AS w FROM lex
           UNION ALL SELECT qid, nid AS doc_id, rank, 500000 AS w
           FROM ivf_topk),
         fused AS (SELECT qid, doc_id,
           CAST(SUM(w // (60 + rank)) AS BIGINT) AS rrf_ppm,
           COUNT(*) AS n_legs
           FROM legs GROUP BY 1, 2)
         SELECT CAST(qid AS BIGINT) AS qid, doc_id, rrf_ppm, n_legs,
           CAST(rank AS BIGINT) AS rank FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY rrf_ppm DESC, doc_id ASC) AS rank FROM fused)
         WHERE rank <= 10 ORDER BY qid, rank"""
    },

    // filtered BM25: the FULL-corpus scoring chain, ranked over only
    // the allowed slice — global df/n/total_len (the mask must not
    // change a doc's score), mask before the top-k limit
    "retrieval_bm25_filtered" ->
      (s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term
             FROM documents),
         tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tc GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc
           WHERE term IN ('data', 'stream', 'shuffle') GROUP BY 1),
         sc AS (SELECT tc.doc_id,
           CAST(CAST(n - df AS HUGEINT) * 1000000 // n AS BIGINT)
             AS rarity_ppm,
           CAST(CAST(22 AS HUGEINT) * tf * total_len * 1000000 //
             (CAST(10 AS HUGEINT) * tf * total_len +
              CAST(3 AS HUGEINT) * total_len +
              CAST(9 AS HUGEINT) * dl * n) AS BIGINT) AS tfnorm_ppm
           FROM tc JOIN df USING (term) JOIN dl USING (doc_id)
           CROSS JOIN tot)
         SELECT doc_id, CAST(SUM(rarity_ppm * tfnorm_ppm) AS BIGINT)
           AS score
         FROM sc WHERE doc_id % 3 = 0
         GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10"""),

    // filtered IVF probe: assignment under the full-corpus quantizer,
    // candidates restricted to the allowed slice before ranking —
    // filtered probe ≡ probe of an index holding only the slice
    "ann_ivf_filtered" ->
      (s"""WITH ${ivfSql(16, 4, 5,
        corpusWhere = "WHERE vec_id % 3 = 0")}
         SELECT qid, nid, CAST(rank AS BIGINT) AS rank FROM ivf_topk
         ORDER BY qid, rank"""),

    // filtered hybrid: both legs masked to the slice before their
    // top-k (lexical: global scoring + filtered ranking pool; vector:
    // slice-filtered probe), fused by the integer-exact RRF sum
    "retrieval_hybrid_filtered" ->
      (s"""WITH ${bm25LexLegSql(20, lexWhere = "WHERE doc_id % 3 = 0")},
         ${ivfSql(16, 4, 20, corpusWhere = "WHERE vec_id % 3 = 0",
        queryWhere = "WHERE vec_id = 0")},
         legs AS (SELECT doc_id, rank FROM lex
           UNION ALL SELECT nid AS doc_id, rank FROM ivf_topk)
         SELECT doc_id,
           CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
           COUNT(*) AS n_legs
         FROM legs GROUP BY 1
         ORDER BY rrf_ppm DESC, doc_id LIMIT 10"""),

    // batched hybrid from BOTH maintained stores after their lifecycle
    // mutation plans: per-qid BM25 over the mutated documents + the
    // batched IVF probe over the mutated embeddings, fused per qid —
    // the from-scratch rebuild of what the engine serves from its two
    // versioned parquet stores at one consistent committed batch
    "retrieval_hybrid_store_batch" -> {
      val qtVals = hybridBatchTerms.flatMap { case (q, ts) =>
        ts.map(t => s"($q, '$t')")
      }.mkString(", ")
      val docs2 = "(SELECT doc_id, CASE WHEN doc_id % 6 = 3 " +
        "THEN text || ' shuffle data' ELSE text END AS text " +
        "FROM documents WHERE NOT (doc_id % 7 = 0 AND doc_id % 6 <> 3) " +
        "AND NOT (doc_id % 12 = 3) " +
        "UNION ALL SELECT doc_id + 1000000 AS doc_id, text " +
        "FROM documents WHERE doc_id % 11 = 5)"
      val emb2 = "(SELECT vec_id, CASE WHEN vec_id % 6 = 3 " +
        "THEN list_reverse(embedding) ELSE embedding END AS embedding " +
        "FROM embeddings WHERE NOT (vec_id % 9 = 7 AND vec_id % 6 <> 3) " +
        "AND NOT (vec_id % 12 = 3) " +
        "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding " +
        "FROM embeddings WHERE vec_id % 11 = 5)"
      s"""WITH qt(qid, term) AS (SELECT * FROM (VALUES $qtVals)
           AS v(qid, term)),
         tok AS (SELECT doc_id, unnest($toksSql) AS term
           FROM $docs2),
         tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tc GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc
           WHERE term IN (SELECT term FROM qt) GROUP BY 1),
         sc AS (SELECT qt.qid, tc.doc_id,
           CAST(CAST(n - df AS HUGEINT) * 1000000 // n AS BIGINT)
             AS rarity_ppm,
           CAST(CAST(22 AS HUGEINT) * tf * total_len * 1000000 //
             (CAST(10 AS HUGEINT) * tf * total_len +
              CAST(3 AS HUGEINT) * total_len +
              CAST(9 AS HUGEINT) * dl * n) AS BIGINT) AS tfnorm_ppm
           FROM tc JOIN qt USING (term) JOIN df USING (term)
           JOIN dl USING (doc_id) CROSS JOIN tot),
         bm AS (SELECT qid, doc_id,
           CAST(SUM(rarity_ppm * tfnorm_ppm) AS BIGINT) AS score
           FROM sc GROUP BY 1, 2),
         lex AS (SELECT qid, doc_id, rank FROM (
           SELECT qid, doc_id, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY score DESC, doc_id ASC) AS rank FROM bm)
           WHERE rank <= 20),
         ${ivfSql(16, 4, 20, corpusFrom = emb2)},
         legs AS (SELECT qid, doc_id, rank FROM lex
           UNION ALL SELECT qid, nid AS doc_id, rank FROM ivf_topk),
         fused AS (SELECT qid, doc_id,
           CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
           COUNT(*) AS n_legs
           FROM legs GROUP BY 1, 2)
         SELECT CAST(qid AS BIGINT) AS qid, doc_id, rrf_ppm, n_legs,
           CAST(rank AS BIGINT) AS rank FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY rrf_ppm DESC, doc_id ASC) AS rank FROM fused)
         WHERE rank <= 10 ORDER BY qid, rank"""
    },

    // the code-tier hybrid: lexical leg over the one-batch-mutated
    // documents, vector leg = ADC top-40 over the one-batch-mutated
    // embeddings re-encoded from scratch under the frozen tables, then
    // the exact-cosine rerank of ONLY those 40 rows against the
    // end-state vectors, top-20 into the RRF sum — the from-scratch
    // rebuild of what the engine serves from its three versioned
    // stores (postings + codes + full vectors) at one committed batch
    "retrieval_hybrid_pq_store" -> {
      val docs2 = "(SELECT doc_id, CASE WHEN doc_id % 6 = 3 " +
        "THEN text || ' shuffle data' ELSE text END AS text " +
        "FROM documents WHERE NOT (doc_id % 7 = 0 AND doc_id % 6 <> 3) " +
        "UNION ALL SELECT doc_id + 1000000 AS doc_id, text " +
        "FROM documents WHERE doc_id % 11 = 5)"
      val emb2 = "SELECT vec_id, CASE WHEN vec_id % 6 = 3 " +
        "THEN list_reverse(embedding) ELSE embedding END AS embedding " +
        "FROM embeddings WHERE NOT (vec_id % 9 = 7 AND vec_id % 6 <> 3) " +
        "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding " +
        "FROM embeddings WHERE vec_id % 11 = 5"
      s"""WITH corpm AS ($emb2),
         ${bm25LexLegSql(20, docsFrom = docs2)},
         ${ivfPqSql(16, 4, 8, 16, 8, 40, corpusFrom = "corpm")},
         vecleg AS (SELECT nid AS doc_id, rank FROM (
           SELECT c.qid, c.nid, ROW_NUMBER() OVER (PARTITION BY c.qid
             ORDER BY list_cosine_similarity(qe.embedding, ne.embedding)
               DESC, c.nid ASC) AS rank
           FROM ivfpq_topk c
           JOIN embeddings qe ON qe.vec_id = c.qid
           JOIN corpm ne ON ne.vec_id = c.nid
           WHERE c.qid = 0) WHERE rank <= 20),
         legs AS (SELECT doc_id, rank FROM lex
           UNION ALL SELECT doc_id, rank FROM vecleg)
         SELECT doc_id,
           CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
           COUNT(*) AS n_legs
         FROM legs GROUP BY 1
         ORDER BY rrf_ppm DESC, doc_id LIMIT 10"""
    },

    // the SQ8-tier hybrid: lexical leg over the one-batch-mutated
    // documents + the int8-cosine probe over the one-batch-mutated
    // embeddings re-quantized from scratch under the frozen coarse
    // tables, fused by the integer-exact RRF sum
    "retrieval_hybrid_sq8_store" -> {
      val docs2 = "(SELECT doc_id, CASE WHEN doc_id % 6 = 3 " +
        "THEN text || ' shuffle data' ELSE text END AS text " +
        "FROM documents WHERE NOT (doc_id % 7 = 0 AND doc_id % 6 <> 3) " +
        "UNION ALL SELECT doc_id + 1000000 AS doc_id, text " +
        "FROM documents WHERE doc_id % 11 = 5)"
      val emb2 = "(SELECT vec_id, CASE WHEN vec_id % 6 = 3 " +
        "THEN list_reverse(embedding) ELSE embedding END AS embedding " +
        "FROM embeddings WHERE NOT (vec_id % 9 = 7 AND vec_id % 6 <> 3) " +
        "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding " +
        "FROM embeddings WHERE vec_id % 11 = 5)"
      s"""WITH ${bm25LexLegSql(20, docsFrom = docs2)},
         ${sq8Sql(16, 4, 20, corpusFrom = emb2)},
         legs AS (SELECT doc_id, rank FROM lex
           UNION ALL SELECT nid AS doc_id, rank FROM sq8_topk
           WHERE qid = 0)
         SELECT doc_id,
           CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
           COUNT(*) AS n_legs
         FROM legs GROUP BY 1
         ORDER BY rrf_ppm DESC, doc_id LIMIT 10"""
    },

    // the adaptive-tier hybrid: lexical leg over the mutated docs;
    // vector leg = the margin rule over the mutated corpus
    // re-quantized from scratch (int8-rank 40 with sims, rank-20/21
    // margin in floored ppm, under-threshold → exact rerank against
    // the end-state vectors, else int8 top-20), fused by the
    // integer-exact RRF sum
    "retrieval_hybrid_sq8_adaptive" -> {
      val docs2 = "(SELECT doc_id, CASE WHEN doc_id % 6 = 3 " +
        "THEN text || ' shuffle data' ELSE text END AS text " +
        "FROM documents WHERE NOT (doc_id % 7 = 0 AND doc_id % 6 <> 3) " +
        "UNION ALL SELECT doc_id + 1000000 AS doc_id, text " +
        "FROM documents WHERE doc_id % 11 = 5)"
      val emb2 = "SELECT vec_id, CASE WHEN vec_id % 6 = 3 " +
        "THEN list_reverse(embedding) ELSE embedding END AS embedding " +
        "FROM embeddings WHERE NOT (vec_id % 9 = 7 AND vec_id % 6 <> 3) " +
        "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding " +
        "FROM embeddings WHERE vec_id % 11 = 5"
      s"""WITH corpm AS ($emb2),
         ${bm25LexLegSql(20, docsFrom = docs2)},
         cent AS (SELECT vec_id AS cent_id, embedding AS cent
           FROM embeddings ORDER BY vec_id LIMIT 16),
         assigned8 AS (
           SELECT cell, nid FROM (
             SELECT ct.cent_id AS cell, e.vec_id AS nid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.embedding, ct.cent)
                   DESC, ct.cent_id ASC) AS rk
             FROM corpm e CROSS JOIN cent ct) WHERE rk = 1),
         qz8 AS (SELECT vec_id, list_transform(embedding,
             x -> ROUND(CAST(x AS DOUBLE) * 127.0 / GREATEST(
               list_aggregate(list_transform(embedding,
                 y -> abs(CAST(y AS DOUBLE))), 'max'), 1e-300))) AS qv
           FROM corpm),
         qq8 AS (SELECT vec_id, list_transform(embedding,
             x -> ROUND(CAST(x AS DOUBLE) * 127.0 / GREATEST(
               list_aggregate(list_transform(embedding,
                 y -> abs(CAST(y AS DOUBLE))), 'max'), 1e-300))) AS qv
           FROM embeddings WHERE vec_id = 0),
         probes8 AS (
           SELECT cell, qid FROM (
             SELECT ct.cent_id AS cell, q.vec_id AS qid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding, ct.cent)
                   DESC, ct.cent_id ASC) AS rk
             FROM (SELECT * FROM embeddings WHERE vec_id = 0) q
             CROSS JOIN cent ct) WHERE rk <= 4),
         cand AS (SELECT qid, nid, sim, rank FROM (
             SELECT s.qid, s.nid, s.sim, ROW_NUMBER() OVER (
               PARTITION BY s.qid ORDER BY s.sim DESC, s.nid ASC)
               AS rank FROM (
               SELECT p.qid, a.nid,
                 list_cosine_similarity(qq.qv, qv.qv) AS sim
               FROM assigned8 a JOIN probes8 p USING (cell)
               JOIN qz8 qv ON qv.vec_id = a.nid
               JOIN qq8 qq ON qq.vec_id = p.qid
               WHERE p.qid <> a.nid) s) WHERE rank <= 40),
         margins AS (SELECT qid,
             CAST(FLOOR((MAX(CASE WHEN rank = 20 THEN sim END) -
               MAX(CASE WHEN rank = 21 THEN sim END)) * 1000000)
               AS BIGINT) AS margin_ppm
           FROM cand WHERE rank IN (20, 21) GROUP BY 1),
         unc AS (SELECT qid FROM margins WHERE margin_ppm < 3000),
         conf AS (SELECT qid, nid, rank FROM cand
           WHERE rank <= 20 AND qid NOT IN (SELECT qid FROM unc)),
         rr AS (SELECT qid, nid, rank FROM (
           SELECT c.qid, c.nid, ROW_NUMBER() OVER (PARTITION BY c.qid
             ORDER BY list_cosine_similarity(qe.embedding, ne.embedding)
               DESC, c.nid ASC) AS rank
           FROM cand c
           JOIN unc u ON u.qid = c.qid
           JOIN embeddings qe ON qe.vec_id = c.qid
           JOIN corpm ne ON ne.vec_id = c.nid) WHERE rank <= 20),
         vecleg AS (SELECT nid AS doc_id, rank FROM conf
           UNION ALL SELECT nid AS doc_id, rank FROM rr),
         legs AS (SELECT doc_id, rank FROM lex
           UNION ALL SELECT doc_id, rank FROM vecleg)
         SELECT doc_id,
           CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
           COUNT(*) AS n_legs
         FROM legs GROUP BY 1
         ORDER BY rrf_ppm DESC, doc_id LIMIT 10"""
    },

    // the code-tier BATCHED-FILTERED hybrid: per-qid full-corpus
    // lexical scoring ranked over only the base-id slice, the ADC
    // candidates masked to the slice BEFORE the rank window (so the
    // rerank tail reranks only sliced rows), per-qid RRF fusion — the
    // mask is the explicit base-slice semi-join, so shifted add-ids
    // stay out even where their id is ≡ 0 mod 3
    "retrieval_hybrid_pq_batch_filtered" -> {
      val qtVals = hybridBatchTerms.flatMap { case (q, ts) =>
        ts.map(t => s"($q, '$t')")
      }.mkString(", ")
      val docs2 = "(SELECT doc_id, CASE WHEN doc_id % 6 = 3 " +
        "THEN text || ' shuffle data' ELSE text END AS text " +
        "FROM documents WHERE NOT (doc_id % 7 = 0 AND doc_id % 6 <> 3) " +
        "UNION ALL SELECT doc_id + 1000000 AS doc_id, text " +
        "FROM documents WHERE doc_id % 11 = 5)"
      val emb2 = "SELECT vec_id, CASE WHEN vec_id % 6 = 3 " +
        "THEN list_reverse(embedding) ELSE embedding END AS embedding " +
        "FROM embeddings WHERE NOT (vec_id % 9 = 7 AND vec_id % 6 <> 3) " +
        "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding " +
        "FROM embeddings WHERE vec_id % 11 = 5"
      s"""WITH corpm AS ($emb2),
         qt(qid, term) AS (SELECT * FROM (VALUES $qtVals)
           AS v(qid, term)),
         tok AS (SELECT doc_id, unnest($toksSql) AS term
           FROM $docs2),
         tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tc GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc
           WHERE term IN (SELECT term FROM qt) GROUP BY 1),
         sc AS (SELECT qt.qid, tc.doc_id,
           CAST(CAST(n - df AS HUGEINT) * 1000000 // n AS BIGINT)
             AS rarity_ppm,
           CAST(CAST(22 AS HUGEINT) * tf * total_len * 1000000 //
             (CAST(10 AS HUGEINT) * tf * total_len +
              CAST(3 AS HUGEINT) * total_len +
              CAST(9 AS HUGEINT) * dl * n) AS BIGINT) AS tfnorm_ppm
           FROM tc JOIN qt USING (term) JOIN df USING (term)
           JOIN dl USING (doc_id) CROSS JOIN tot),
         bm AS (SELECT qid, doc_id,
           CAST(SUM(rarity_ppm * tfnorm_ppm) AS BIGINT) AS score
           FROM sc GROUP BY 1, 2),
         lex AS (SELECT qid, doc_id, rank FROM (
           SELECT qid, doc_id, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY score DESC, doc_id ASC) AS rank FROM bm
           WHERE doc_id IN (SELECT doc_id FROM documents
             WHERE doc_id % 3 = 0))
           WHERE rank <= 20),
         ${ivfPqSql(16, 4, 8, 16, 8, 40, corpusFrom = "corpm",
          candWhere = "AND a.nid IN (SELECT vec_id FROM embeddings " +
            "WHERE vec_id % 3 = 0)")},
         vecleg AS (SELECT qid, nid AS doc_id, rank FROM (
           SELECT c.qid, c.nid, ROW_NUMBER() OVER (PARTITION BY c.qid
             ORDER BY list_cosine_similarity(qe.embedding, ne.embedding)
               DESC, c.nid ASC) AS rank
           FROM ivfpq_topk c
           JOIN embeddings qe ON qe.vec_id = c.qid
           JOIN corpm ne ON ne.vec_id = c.nid) WHERE rank <= 20),
         legs AS (SELECT qid, doc_id, rank FROM lex
           UNION ALL SELECT qid, doc_id, rank FROM vecleg),
         fused AS (SELECT qid, doc_id,
           CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
           COUNT(*) AS n_legs
           FROM legs GROUP BY 1, 2)
         SELECT CAST(qid AS BIGINT) AS qid, doc_id, rrf_ppm, n_legs,
           CAST(rank AS BIGINT) AS rank FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY rrf_ppm DESC, doc_id ASC) AS rank FROM fused)
         WHERE rank <= 10 ORDER BY qid, rank"""
    },

    // filtered hybrid on the BATCH tier: per-qid full-corpus scoring
    // ranked over only the slice on the lexical leg, slice-restricted
    // IVF probe on the vector leg, per-qid RRF fusion
    "retrieval_hybrid_batch_filtered" -> {
      val qtVals = hybridBatchTerms.flatMap { case (q, ts) =>
        ts.map(t => s"($q, '$t')")
      }.mkString(", ")
      s"""WITH qt(qid, term) AS (SELECT * FROM (VALUES $qtVals)
           AS v(qid, term)),
         tok AS (SELECT doc_id, unnest($toksSql) AS term
           FROM documents),
         tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tc GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc
           WHERE term IN (SELECT term FROM qt) GROUP BY 1),
         sc AS (SELECT qt.qid, tc.doc_id,
           CAST(CAST(n - df AS HUGEINT) * 1000000 // n AS BIGINT)
             AS rarity_ppm,
           CAST(CAST(22 AS HUGEINT) * tf * total_len * 1000000 //
             (CAST(10 AS HUGEINT) * tf * total_len +
              CAST(3 AS HUGEINT) * total_len +
              CAST(9 AS HUGEINT) * dl * n) AS BIGINT) AS tfnorm_ppm
           FROM tc JOIN qt USING (term) JOIN df USING (term)
           JOIN dl USING (doc_id) CROSS JOIN tot),
         bm AS (SELECT qid, doc_id,
           CAST(SUM(rarity_ppm * tfnorm_ppm) AS BIGINT) AS score
           FROM sc GROUP BY 1, 2),
         lex AS (SELECT qid, doc_id, rank FROM (
           SELECT qid, doc_id, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY score DESC, doc_id ASC) AS rank FROM bm
           WHERE doc_id % 3 = 0)
           WHERE rank <= 20),
         ${ivfSql(16, 4, 20, corpusWhere = "WHERE vec_id % 3 = 0")},
         legs AS (SELECT qid, doc_id, rank FROM lex
           UNION ALL SELECT qid, nid AS doc_id, rank FROM ivf_topk),
         fused AS (SELECT qid, doc_id,
           CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
           COUNT(*) AS n_legs
           FROM legs GROUP BY 1, 2)
         SELECT CAST(qid AS BIGINT) AS qid, doc_id, rrf_ppm, n_legs,
           CAST(rank AS BIGINT) AS rank FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY rrf_ppm DESC, doc_id ASC) AS rank FROM fused)
         WHERE rank <= 10 ORDER BY qid, rank"""
    },

    // integer-exact IR metrics of the batched BM25 top-20 against the
    // deterministic qrels rule — recall/MRR/AP in ppm, zero-hit
    // queries retained through the left join
    "retrieval_eval_metrics" ->
      (s"""WITH $evalCtesSql
         SELECT CAST(n.qid AS BIGINT) AS qid, n.n_rel,
           CAST(COALESCE(a.hits, 0) AS BIGINT) AS hits,
           CAST(COALESCE(a.hits, 0) * 1000000 // n.n_rel AS BIGINT)
             AS recall_ppm,
           CAST(COALESCE(1000000 // a.fhr, 0) AS BIGINT) AS mrr_ppm,
           CAST(COALESCE(a.spp, 0) // n.n_rel AS BIGINT) AS ap_ppm
         FROM nrel n LEFT JOIN ag a USING (qid) ORDER BY qid"""),

    // the sweep: every variant's fusion + metrics recomputed from
    // scratch over the same ranked legs, ranked by macro MAP
    "retrieval_eval_sweep" -> {
      val qtVals = hybridBatchTerms.flatMap { case (q, ts) =>
        ts.map(t => s"($q, '$t')")
      }.mkString(", ")
      val qidVals = hybridBatchTerms.map(q => s"(${q._1})").mkString(", ")
      val variantCtes = sweepVariants.map { case (vid, (wl, wv), k0) =>
        s"""legs$vid AS (SELECT qid, doc_id, rank, $wl AS w FROM lex
             UNION ALL SELECT qid, nid AS doc_id, rank, $wv AS w
             FROM ivf_topk),
           fused$vid AS (SELECT qid, doc_id,
             CAST(SUM(w // ($k0 + rank)) AS BIGINT) AS rrf_ppm
             FROM legs$vid GROUP BY 1, 2),
           rk$vid AS (SELECT qid, doc_id, rank FROM (
               SELECT qid, doc_id, ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY rrf_ppm DESC, doc_id ASC) AS rank
               FROM fused$vid) WHERE rank <= 10),
           ph$vid AS (SELECT qid, rank, CAST(ROW_NUMBER() OVER (
                 PARTITION BY qid ORDER BY rank) AS BIGINT) AS hit_idx
             FROM (SELECT r.qid, r.rank FROM rk$vid r
               JOIN (SELECT DISTINCT qid, doc_id FROM qrels) q
               ON r.qid = q.qid AND r.doc_id = q.doc_id)),
           ag$vid AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS hits,
               MIN(rank) AS fhr,
               CAST(SUM(CAST(hit_idx * 1000000 // rank AS BIGINT))
                 AS BIGINT) AS spp
             FROM ph$vid GROUP BY 1),
           pq$vid AS (SELECT n.qid,
               CAST(COALESCE(a.hits, 0) * 1000000 // n.n_rel AS BIGINT)
                 AS recall_ppm,
               CAST(COALESCE(1000000 // a.fhr, 0) AS BIGINT) AS mrr_ppm,
               CAST(COALESCE(a.spp, 0) // n.n_rel AS BIGINT) AS ap_ppm
             FROM nrel n LEFT JOIN ag$vid a USING (qid)),
           mac$vid AS (SELECT CAST($vid AS BIGINT) AS variant_id,
               CAST($wl AS BIGINT) AS lex_w, CAST($wv AS BIGINT) AS vec_w,
               CAST($k0 AS BIGINT) AS k0,
               CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT)
                 AS macro_recall_ppm,
               CAST(SUM(mrr_ppm) // COUNT(*) AS BIGINT) AS macro_mrr_ppm,
               CAST(SUM(ap_ppm) // COUNT(*) AS BIGINT) AS macro_map_ppm
             FROM pq$vid)"""
      }.mkString(",\n")
      val macUnion = sweepVariants.map(v => s"SELECT * FROM mac${v._1}")
        .mkString(" UNION ALL ")
      s"""WITH qt(qid, term) AS (SELECT * FROM (VALUES $qtVals)
           AS v(qid, term)),
         tok AS (SELECT doc_id, unnest($toksSql) AS term
           FROM documents),
         tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tc GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc
           WHERE term IN (SELECT term FROM qt) GROUP BY 1),
         sc AS (SELECT qt.qid, tc.doc_id,
           CAST(CAST(n - df AS HUGEINT) * 1000000 // n AS BIGINT)
             AS rarity_ppm,
           CAST(CAST(22 AS HUGEINT) * tf * total_len * 1000000 //
             (CAST(10 AS HUGEINT) * tf * total_len +
              CAST(3 AS HUGEINT) * total_len +
              CAST(9 AS HUGEINT) * dl * n) AS BIGINT) AS tfnorm_ppm
           FROM tc JOIN qt USING (term) JOIN df USING (term)
           JOIN dl USING (doc_id) CROSS JOIN tot),
         bm AS (SELECT qid, doc_id,
           CAST(SUM(rarity_ppm * tfnorm_ppm) AS BIGINT) AS score
           FROM sc GROUP BY 1, 2),
         lex AS (SELECT qid, doc_id, rank FROM (
           SELECT qid, doc_id, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY score DESC, doc_id ASC) AS rank FROM bm)
           WHERE rank <= 20),
         ${ivfSql(16, 4, 20)},
         qrels AS (SELECT v.qid, d.doc_id
           FROM (VALUES $qidVals) AS v(qid), documents d
           WHERE (d.doc_id + v.qid * 3) % 23 = 0),
         nrel AS (SELECT qid, CAST(COUNT(DISTINCT doc_id) AS BIGINT)
             AS n_rel FROM qrels GROUP BY 1),
         $variantCtes
         SELECT * FROM ($macUnion)
         ORDER BY macro_map_ppm DESC, variant_id ASC"""
    },

    // the macro (mean-over-queries) row of the same eval
    "retrieval_eval_macro" ->
      (s"""WITH $evalCtesSql,
         pq AS (
           SELECT n.qid, n.n_rel,
             CAST(COALESCE(a.hits, 0) * 1000000 // n.n_rel AS BIGINT)
               AS recall_ppm,
             CAST(COALESCE(1000000 // a.fhr, 0) AS BIGINT) AS mrr_ppm,
             CAST(COALESCE(a.spp, 0) // n.n_rel AS BIGINT) AS ap_ppm
           FROM nrel n LEFT JOIN ag a USING (qid))
         SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT)
             AS macro_recall_ppm,
           CAST(SUM(mrr_ppm) // COUNT(*) AS BIGINT) AS macro_mrr_ppm,
           CAST(SUM(ap_ppm) // COUNT(*) AS BIGINT) AS macro_map_ppm
         FROM pq"""),

    // the Hilbert rotate/reflect loop UNROLLED: one CTE per bit plane
    // (s = 2^15 … 1), distinct column names per round so DuckDB's
    // lateral column aliasing can never self-reference. Per round:
    // quadrant digit q = (3·rx) XOR ry spelled as a CASE; ry=1 keeps
    // (x, y), ry=0 swaps (reflecting first when rx=1) — exactly
    // HilbertCode.index.
    "layout_hilbert_code" -> {
      val rounds = (0 until 16).map { i =>
        val sv = 1L << (15 - i)
        val (px, py, pd) = (s"x$i", s"y$i", s"d$i")
        val (nx, ny, nd) = (s"x${i + 1}", s"y${i + 1}", s"d${i + 1}")
        s", r${i + 1} AS (SELECT " +
          s"CASE WHEN ($py & $sv) != 0 THEN $px " +
          s"WHEN ($px & $sv) != 0 THEN ${sv - 1} - $py ELSE $py END AS $nx, " +
          s"CASE WHEN ($py & $sv) != 0 THEN $py " +
          s"WHEN ($px & $sv) != 0 THEN ${sv - 1} - $px ELSE $px END AS $ny, " +
          s"$pd + CAST(${sv * sv} AS BIGINT) * " +
          s"(CASE WHEN ($px & $sv) = 0 AND ($py & $sv) = 0 THEN 0 " +
          s"WHEN ($px & $sv) = 0 THEN 1 " +
          s"WHEN ($py & $sv) != 0 THEN 2 ELSE 3 END) AS $nd " +
          s"FROM r$i)"
      }.mkString(" ")
      "WITH r0 AS (SELECT l_partkey & 65535 AS x0, l_suppkey & 65535 AS y0, " +
        "CAST(0 AS BIGINT) AS d0 FROM lineitem)" + rounds +
        " SELECT d16 >> 24 AS zcell, CAST(count(*) AS BIGINT) AS n, " +
        "min(d16) AS zmin, max(d16) AS zmax FROM r16 GROUP BY 1 ORDER BY 1"
    },

    // the Morton interleave spelled out as the standard magic-number
    // spread (5 shift/mask rounds per dimension) — any bit drift in the
    // native expression's eval OR codegen path breaks the hash match
    "layout_zorder_code" ->
      ("WITH s0 AS (SELECT l_partkey & 65535 AS a, l_suppkey & 65535 AS b " +
       "FROM lineitem), " +
       "s1 AS (SELECT (a | (a << 8)) & 16711935 AS a, " +
       "(b | (b << 8)) & 16711935 AS b FROM s0), " +
       "s2 AS (SELECT (a | (a << 4)) & 252645135 AS a, " +
       "(b | (b << 4)) & 252645135 AS b FROM s1), " +
       "s3 AS (SELECT (a | (a << 2)) & 858993459 AS a, " +
       "(b | (b << 2)) & 858993459 AS b FROM s2), " +
       "s4 AS (SELECT (a | (a << 1)) & 1431655765 AS a, " +
       "(b | (b << 1)) & 1431655765 AS b FROM s3), " +
       "c AS (SELECT a | (b << 1) AS zcode FROM s4) " +
       "SELECT zcode >> 24 AS zcell, CAST(count(*) AS BIGINT) AS n, " +
       "min(zcode) AS zmin, max(zcode) AS zmax FROM c " +
       "GROUP BY 1 ORDER BY 1")
  )
}
