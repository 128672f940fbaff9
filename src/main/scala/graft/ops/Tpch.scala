package graft.ops

import graft.{Det, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType}

/** TPC-H-shaped whole queries (Q3 / Q5 / Q10, adapted to the
  * driver-generated schema and 1995–2001 date domain) — end-to-end
  * anchors that exercise multi-join + aggregate + top-k composition
  * exactly as the standard benchmark phrases them. Revenue sums route
  * through exact decimals (`graft.Det`) so results hash-match the
  * oracle bit-for-bit.
  *
  * Reference provenance: the reference has no relational surface
  * (`/root/reference/readme.md:1-5`); these anchor SURVEY.md §2.3's
  * join/agg/top-k rows against a workload shape every reviewer knows.
  *
  * Scale notes shared by all three: dimension tables (customer,
  * supplier, nation, region) are small relative to the facts —
  * nation/region are broadcast outright; customer⋈orders and
  * orders⋈lineitem are key-partitioned shuffles Catalyst plans as
  * hash joins with AQE free to pick broadcast when a filtered side
  * shrinks below the threshold. Every filter sits on the scan
  * (PushedFilters), every top-k is TakeOrderedAndProject.
  */
object Tpch {

  /** Shared partsupp surrogate (optimization round 13). The schema
    * has no `partsupp`, so FOUR queries (Q2, Q11, Q16, Q20) each
    * rebuilt a per-(l_partkey, l_suppkey) aggregate of lineitem — the
    * one heavy exchange in each of their plans (job-profiled at
    * sf0.1: a ~0.5 s stage per query, 4× per pass). It is one
    * logical maintained table — exactly the partsupp a TPC-H
    * warehouse keeps — so it now builds ONCE per (session, corpus)
    * into the shared-intermediate tier (same contract as
    * [[Graph.topEdges]] / the dedup signature memos: session memo +
    * on-disk index tier, rebuilt per session when the tier is off,
    * scanned by later sessions when on). The superset carries every
    * consumer's aggregate: Q2/Q11's min supply cost, Q16's distinct
    * pair set (any grouped row IS one distinct pair), Q20's line
    * count and 1996 quantity sum — one 4-column-wider scan and one
    * exchange replace four scans and four exchanges at every scale.
    */
  private def psBuild(s: SparkSession, d: String): DataFrame = {
    val qty96 = when(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"),
      col("l_quantity")).otherwise(lit(0))
    Tables.lineitem(s, d)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(Det.money2(col("l_extendedprice"))).as("cost_dec"),
        count(lit(1)).as("cnt"),
        (sum(qty96.cast(DecimalType(18, 4))) * 10000).cast("long")
          .as("sq"))
  }

  private def psAgg(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate(s, "tpch_ps", d)(
      graft.IndexTier.cached(s, d, "tpch_ps")(psBuild(s, d)))

  /** The raw (un-memoized) surrogate build, for plan-shape specs: the
    * one-lineitem-pass property lives here once consumers read the
    * maintained table.
    */
  private[graft] def psBuildForSpec(s: SparkSession, d: String): DataFrame =
    psBuild(s, d)

  private def revenue = Det.dsumExact(
    Det.money2(col("l_extendedprice")) * Det.factor2(lit(1) - col("l_discount")))

  private val revenueSql =
    graft.Det.stableDoubleSql(
      """SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |         * CAST(1 - l_discount AS DECIMAL(4,2)))""".stripMargin)

  // --------------------------------------------------------------- q_tpch3
  /** Q3 (shipping priority): top-10 unshipped BUILDING-segment orders
    * by revenue as of the cutoff. (`o_orderpriority` stands in for
    * the schema's absent `o_shippriority`.)
    */
  private val Q3_CUT = "1996-06-30"

  private def qTpch3(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, d).filter(col("o_orderdate") < lit(Q3_CUT)),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d).filter(col("l_shipdate") > lit(Q3_CUT)),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(revenue.as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  private val qTpch3Sql: String =
    s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
       |  $revenueSql AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '$Q3_CUT'
       |  AND l_shipdate > TIMESTAMP '$Q3_CUT'
       |GROUP BY 1, 2, 3
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q_tpch5
  /** Q5 (local supplier volume): revenue per ASIA nation from orders
    * placed in 1996 where the supplier and customer share the nation.
    */
  private def qTpch5(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01")),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, d),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(revenue.as("revenue"))

  private val qTpch5Sql: String =
    s"""SELECT n_name, $revenueSql AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate < TIMESTAMP '1997-01-01'
       |GROUP BY 1""".stripMargin

  // -------------------------------------------------------------- q_tpch10
  /** Q10 (returned items): top-20 customers by revenue lost to
    * returns in 1996-Q1 orders.
    */
  private def qTpch10(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1996-04-01")),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      .agg(revenue.as("revenue"),
        count(lit(1)).cast(IntegerType).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  private val qTpch10Sql: String =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name,
       |  $revenueSql AS revenue,
       |  CAST(count(*) AS INTEGER) AS n_items
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate < TIMESTAMP '1996-04-01'
       |GROUP BY 1, 2, 3, 4
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin

  // -------------------------------------------------------------- q_tpch18
  /** Q18 (large-volume customers): orders whose total line quantity
    * exceeds the threshold, with their customer — the join-OVER-
    * aggregate shape (semi-join against an aggregated subquery) the
    * other anchors don't exercise.
    *
    * Scale: the heavy agg groups lineitem by orderkey (one exchange);
    * the HAVING filter shrinks it to a handful of hot orders, which
    * AQE then broadcasts into the orders⋈customer side. The decimal
    * quantity sum keeps the threshold comparison exact.
    */
  private val Q18_QTY = 200

  private def qTpch18(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(Det.dsum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > Q18_QTY)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  private val qTpch18Sql: String =
    s"""WITH big AS (
       |  SELECT l_orderkey, ${Det.dsumSql("l_quantity")} AS total_qty
       |  FROM lineitem GROUP BY 1
       |  HAVING ${Det.dsumSql("l_quantity")} > $Q18_QTY)
       |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       |  total_qty
       |FROM orders
       |JOIN big ON o_orderkey = l_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY o_totalprice DESC, o_orderkey
       |LIMIT 100""".stripMargin

  // --------------------------------------------------------------- q_tpch6
  /** Q6 (forecast revenue change): one-pass filter + global aggregate
    * — the pure predicate-pushdown anchor. All three filters sit on
    * the lineitem scan (PushedFilters), the aggregate is a map-side
    * partial + 1-row final; nothing shuffles but 32 partial rows.
    */
  private def qTpch6(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(Det.dsumExact(Det.money2(col("l_extendedprice")) *
          Det.factor2(col("l_discount"))).as("revenue"),
        count(lit(1)).cast(IntegerType).as("n_lines"))

  private val qTpch6Sql: String =
    s"""SELECT ${graft.Det.stableDoubleSql(
           """SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             |           * CAST(l_discount AS DECIMAL(4,2)))""".stripMargin)} AS revenue,
      |  CAST(count(*) AS INTEGER) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  // --------------------------------------------------------------- q_tpch4
  /** Q4 (order priority checking), adapted: the schema has no
    * `l_commitdate`/`l_receiptdate`, so "late" = a line shipped more
    * than 60 days after the order date — the correlated-EXISTS shape
    * is unchanged (count orders per priority having at least one late
    * line).
    *
    * Scale: Catalyst plans the EXISTS as a LEFT SEMI hash join on
    * orderkey with the cross-table date predicate as the join filter;
    * the quarter filter prunes orders at the scan before the shuffle.
    */
  private def qTpch4(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-07-01") &&
        col("o_orderdate") < lit("1996-10-01"))
      .join(Tables.lineitem(s, d),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).cast(IntegerType).as("order_count"))

  private val qTpch4Sql: String =
    """SELECT o_orderpriority, CAST(count(*) AS INTEGER) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      |  AND o_orderdate < TIMESTAMP '1996-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY 1""".stripMargin

  // -------------------------------------------------------------- q_tpch12
  /** Q12 (shipping modes / critical priority), adapted: no
    * `l_shipmode`, so lines group by `l_returnflag`; "late" as in
    * [[qTpch4]]. The shape — join + conditional counts splitting one
    * pass by a priority predicate — is Q12's.
    */
  private def qTpch12(s: SparkSession, d: String): DataFrame = {
    val high = col("o_orderpriority") === "1-URGENT" ||
      col("o_orderpriority") === "2-HIGH"
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(high, 1).otherwise(0)).cast(IntegerType)
          .as("high_line_count"),
        sum(when(high, 0).otherwise(1)).cast(IntegerType)
          .as("low_line_count"))
  }

  private val qTpch12Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |           THEN 1 ELSE 0 END) AS INTEGER) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |           THEN 0 ELSE 1 END) AS INTEGER) AS low_line_count
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      |GROUP BY 1""".stripMargin

  // -------------------------------------------------------------- q_tpch14
  /** Q14 (promotion effect): share of one month's revenue from
    * promo-typed parts (`p_type = 'PROMO'` — the schema's types are
    * single words). The percentage is reported as integer ppm over
    * exactly-scaled decimal sums, so the ratio is bit-identical (no
    * double division); both revenue columns keep the inline ×10⁴
    * BIGINT scaling (NOT [[Det.stableDouble]], which is now the
    * envelope-free string route) because the ppm ratio needs the
    * scaled integers themselves; envelope audited: one month of
    * revenue ×10⁴ is ~10¹⁷ at TPC-H sf10⁵, inside int64.
    */
  private def qTpch14(s: SparkSession, d: String): DataFrame = {
    val prod = Det.money2(col("l_extendedprice")) *
      Det.factor2(lit(1) - col("l_discount"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-09-01") &&
        col("l_shipdate") < lit("1996-10-01"))
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .agg(sum(when(col("p_type") === "PROMO", prod)).as("pd"),
        sum(prod).as("td"))
      .select(
        coalesce((col("pd") * 10000).cast("long"), lit(0L)).as("ps"),
        (col("td") * 10000).cast("long").as("ts"))
      .select((col("ps") / lit(10000.0)).as("promo_revenue"),
        (col("ts") / lit(10000.0)).as("total_revenue"),
        // ×10⁴-scaled monthly revenue is ~10¹⁷ at TPC-H sf10⁵ —
        // the ·10⁶ ppm numerator must go through DECIMAL(38,0)
        expr("CAST(ps AS DECIMAL(38,0)) * 1000000 div ts")
          .as("promo_ppm"))
  }

  private val qTpch14Sql: String =
    """WITH j AS (
      |  SELECT CAST(l_extendedprice AS DECIMAL(12,2))
      |         * CAST(1 - l_discount AS DECIMAL(4,2)) AS prod, p_type
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      |    AND l_shipdate < TIMESTAMP '1996-10-01'),
      |s AS (
      |  SELECT CAST(COALESCE(SUM(CASE WHEN p_type = 'PROMO' THEN prod END)
      |              * 10000, 0) AS BIGINT) AS ps,
      |    CAST(SUM(prod) * 10000 AS BIGINT) AS ts
      |  FROM j)
      |SELECT ps / 10000.0 AS promo_revenue, ts / 10000.0 AS total_revenue,
      |  CAST(CAST(ps AS HUGEINT) * 1000000 // ts AS BIGINT) AS promo_ppm
      |FROM s""".stripMargin

  // -------------------------------------------------------------- q_tpch15
  /** Q15 (top supplier): suppliers whose quarter revenue equals the
    * maximum — the aggregate-then-scalar-subquery shape. The revenue
    * stays DECIMAL through the max comparison (exact equality; a
    * double round-trip could merge near-ties), converting to double
    * only on output.
    *
    * Scale: the revenue agg shuffles lineitem once on suppkey to
    * supplier cardinality; the 1-row max broadcasts back over it, and
    * the supplier join is a broadcast of the surviving handful.
    */
  private def qTpch15(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(Det.money2(col("l_extendedprice")) *
        Det.factor2(lit(1) - col("l_discount"))).as("rdec"))
    rev.join(broadcast(rev.agg(max(col("rdec")).as("maxr"))),
        col("rdec") === col("maxr"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        Det.stableDouble(col("rdec")).as("total_revenue"))
  }

  private val qTpch15Sql: String =
    s"""WITH rev AS (
       |  SELECT l_suppkey,
       |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))
       |        * CAST(1 - l_discount AS DECIMAL(4,2))) AS rdec
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate < TIMESTAMP '1996-04-01'
       |  GROUP BY 1)
       |SELECT s_suppkey, s_name, ${Det.stableDoubleSql("rdec")} AS total_revenue
       |FROM rev JOIN supplier ON l_suppkey = s_suppkey
       |WHERE rdec = (SELECT max(rdec) FROM rev)""".stripMargin

  // -------------------------------------------------------------- q_tpch16
  /** Q16 (parts/supplier relationship), adapted: the schema has no
    * `partsupp`, so observed supply pairs come from DISTINCT
    * (l_partkey, l_suppkey) over lineitem; "complaint" suppliers =
    * negative account balance, excluded with the NOT IN → LEFT ANTI
    * shape; the payload is Q16's COUNT(DISTINCT suppkey) per part
    * attribute group.
    *
    * Scale: the pair-distinct is the one heavy exchange (hash on the
    * pair); part joins broadcast after its selective filter, the
    * anti side is 6 rows.
    */
  private def qTpch16(s: SparkSession, d: String): DataFrame =
    psAgg(s, d) // one grouped row per distinct (partkey, suppkey) pair
      .select(col("l_partkey"), col("l_suppkey"))
      .join(Tables.part(s, d).filter(col("p_brand") =!= "Brand#45" &&
          col("p_type") =!= "MEDIUM" &&
          col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, d).filter(col("s_acctbal") < 0),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).cast(IntegerType)
        .as("supplier_cnt"))

  private val qTpch16Sql: String =
    """SELECT p_brand, p_type, p_size,
      |  CAST(count(DISTINCT l_suppkey) AS INTEGER) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
      |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                        WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3""".stripMargin

  // -------------------------------------------------------------- q_tpch17
  /** Q17 (small-quantity-order revenue): lines of one brand whose
    * quantity is below 20 % of that part's average — the
    * aggregate-subquery-in-predicate shape. The comparison runs in
    * scaled integers (5·qty·cnt·10⁴ < Σqty·10⁴), never dividing, so
    * both engines agree exactly.
    *
    * Scale: the per-part average is a partkey-grouped agg joined back
    * on partkey (no window over the fact table); the brand filter
    * shrinks part to a broadcastable dimension first.
    */
  private def qTpch17(s: SparkSession, d: String): DataFrame = {
    val perPart = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("a_partkey"))
      .agg((sum(col("l_quantity").cast(DecimalType(18, 4))) * 10000)
          .cast("long").as("sq"),
        count(lit(1)).as("cnt"))
    Tables.lineitem(s, d)
      .join(Tables.part(s, d).filter(col("p_brand") === "Brand#23"),
        col("l_partkey") === col("p_partkey"))
      .join(perPart, col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity").cast("long") * 5 * col("cnt") * 10000 <
        col("sq"))
      .agg((Det.dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"),
        count(lit(1)).cast(IntegerType).as("n_lines"))
  }

  private val qTpch17Sql: String =
    s"""WITH per_part AS (
       |  SELECT l_partkey AS a_partkey,
       |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) * 10000 AS BIGINT)
       |      AS sq,
       |    count(*) AS cnt
       |  FROM lineitem GROUP BY 1)
       |SELECT ${Det.dsumSql("l_extendedprice")} / 7.0 AS avg_yearly,
       |  CAST(count(*) AS INTEGER) AS n_lines
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN per_part ON l_partkey = a_partkey
       |WHERE p_brand = 'Brand#23'
       |  AND CAST(l_quantity AS BIGINT) * 5 * cnt * 10000 < sq""".stripMargin

  // -------------------------------------------------------------- q_tpch19
  /** Q19 (discounted revenue, disjunctive predicates): three OR'd
    * (brand, size-range, quantity-range) conjuncts — the anchor for
    * disjunction handling. Catalyst extracts the common
    * `l_quantity <= 30`-style bounds where it can and evaluates the
    * residual OR post-join; the part side prunes to the three brands.
    */
  private def qTpch19(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(revenue.as("revenue"),
        count(lit(1)).cast(IntegerType).as("n_lines"))

  private val qTpch19Sql: String =
    s"""SELECT $revenueSql AS revenue,
       |  CAST(count(*) AS INTEGER) AS n_lines
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       |       AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       |       AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // -------------------------------------------------------------- q_tpch21
  /** Q21 (suppliers who kept orders waiting), adapted: with no
    * commit/receipt dates, the "waiting" line is one shipped > 60
    * days after the order date on a finalized multi-supplier order
    * where NO other supplier shipped later — the EXISTS + NOT EXISTS
    * double-correlation shape, planned as LEFT SEMI then LEFT ANTI
    * self-joins of lineitem on orderkey.
    *
    * Scale: all three lineitem legs hash on orderkey (one exchange
    * each, AQE-coalesced); the supplier join broadcasts; top-25 is
    * TakeOrderedAndProject with the (numwait, name) total order.
    */
  private def qTpch21(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val l1 = li.toDF("o1", "s1", "d1")
    val l2 = li.toDF("o2", "s2", "d2")
    val l3 = li.toDF("o3", "s3", "d3")
    l1.join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
        col("o1") === col("o_orderkey") &&
          col("d1") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .join(l2, col("o2") === col("o1") && col("s2") =!= col("s1"),
        "left_semi")
      .join(l3, col("o3") === col("o1") && col("s3") =!= col("s1") &&
          col("d3") > col("d1"), "left_anti")
      .join(broadcast(Tables.supplier(s, d)),
        col("s1") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).cast(IntegerType).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(25)
  }

  private val qTpch21Sql: String =
    """SELECT s_name, CAST(count(*) AS INTEGER) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |WHERE o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > l1.l_shipdate)
      |GROUP BY 1
      |ORDER BY numwait DESC, s_name
      |LIMIT 25""".stripMargin

  // -------------------------------------------------------------- q_tpch22
  /** Q22 (global sales opportunity), adapted: no `c_phone`, so the
    * "country code" cohort is a nationkey subset, and "dormant" = no
    * order since 2000 (every synthetic customer has SOME order). The
    * shape is Q22's: scalar subquery (average positive balance of the
    * cohort) in the predicate + NOT EXISTS anti-join + group-count.
    *
    * Scale: the scalar average broadcasts; the anti join hashes
    * customer against date-pruned orders; customer-cardinality work
    * only.
    */
  private def qTpch22(s: SparkSession, d: String): DataFrame = {
    val cohort = Tables.customer(s, d)
      .filter(col("c_nationkey").isin(1, 3, 5, 7, 9))
    cohort
      .crossJoin(broadcast(cohort.filter(col("c_acctbal") > 0)
        .agg(Det.davg(col("c_acctbal")).as("ab"))))
      .filter(col("c_acctbal") > col("ab"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("2000-01-01")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).cast(IntegerType).as("numcust"),
        Det.dsum(col("c_acctbal")).as("totacctbal"))
  }

  private val qTpch22Sql: String =
    s"""SELECT c_nationkey, CAST(count(*) AS INTEGER) AS numcust,
       |  ${Det.dsumSql("c_acctbal")} AS totacctbal
       |FROM customer
       |WHERE c_nationkey IN (1, 3, 5, 7, 9)
       |  AND c_acctbal > (SELECT ${Det.davgSql("c_acctbal")}
       |                   FROM customer
       |                   WHERE c_acctbal > 0
       |                     AND c_nationkey IN (1, 3, 5, 7, 9))
       |  AND NOT EXISTS (SELECT 1 FROM orders
       |                  WHERE o_custkey = c_custkey
       |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
       |GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- q_tpch1
  /** Q1 (pricing summary report): the canonical scan-heavy
    * full-table aggregate — 8 aggregates over 2 grouping columns,
    * everything map-side combinable. All money sums route through
    * exact decimals; `sum_charge` carries scale 6 (two 2-dp factors),
    * so its stable-double path scales by 10⁶ before the BIGINT cast
    * (the ×10⁴ path would truncate in Spark but round in DuckDB on
    * the residual fraction). Averages are [[Det.davg]]: one exact
    * decimal sum, one correctly-rounded IEEE division, identical in
    * both engines.
    *
    * Scale: single lineitem pass, partial aggregation before the
    * 6-row exchange; the shipdate filter is on the scan.
    */
  private val Q1_CUT = "2001-09-01"

  private def qTpch1(s: SparkSession, d: String): DataFrame = {
    val disc   = Det.money2(col("l_extendedprice")) *
      Det.factor2(lit(1) - col("l_discount"))
    val charge = disc * Det.factor2(lit(1) + col("l_tax"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit(Q1_CUT))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Det.dsum(col("l_quantity")).as("sum_qty"),
        Det.dsum(col("l_extendedprice")).as("sum_base_price"),
        Det.dsumExact(disc).as("sum_disc_price"),
        ((sum(charge) * 1000000).cast("long") / lit(1000000.0))
          .as("sum_charge"),
        Det.davg(col("l_quantity")).as("avg_qty"),
        Det.davg(col("l_extendedprice")).as("avg_price"),
        Det.davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).cast(IntegerType).as("count_order"))
  }

  private val qTpch1Sql: String = {
    val disc   = """CAST(l_extendedprice AS DECIMAL(12,2))
                   |      * CAST(1 - l_discount AS DECIMAL(4,2))""".stripMargin
    s"""SELECT l_returnflag, l_linestatus,
       |  ${Det.dsumSql("l_quantity")} AS sum_qty,
       |  ${Det.dsumSql("l_extendedprice")} AS sum_base_price,
       |  ${Det.stableDoubleSql(s"SUM($disc)")} AS sum_disc_price,
       |  CAST(SUM($disc * CAST(1 + l_tax AS DECIMAL(4,2))) * 1000000
       |       AS BIGINT) / 1000000.0 AS sum_charge,
       |  ${Det.davgSql("l_quantity")} AS avg_qty,
       |  ${Det.davgSql("l_extendedprice")} AS avg_price,
       |  ${Det.davgSql("l_discount")} AS avg_disc,
       |  CAST(count(*) AS INTEGER) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '$Q1_CUT'
       |GROUP BY 1, 2""".stripMargin
  }

  // --------------------------------------------------------------- q_tpch2
  /** Q2 (minimum-cost supplier), adapted: the schema has no
    * `partsupp`, so observed supply pairs come from lineitem with
    * `ps_supplycost` surrogated by the minimum 2-dp line price each
    * supplier ever charged for the part. The shape is Q2's:
    * dimension-filtered candidates joined against a per-part
    * correlated MIN, top-100 by account balance. Decimal equality
    * against the min is exact, so near-tie costs can't merge or split
    * across engines.
    *
    * Scale: the pair-agg is the one heavy exchange (hash on the
    * pair); region/nation broadcast, the filtered part side
    * broadcasts, and the per-part min is a partkey-grouped agg of the
    * already-filtered candidates — never a window over lineitem.
    */
  private def qTpch2(s: SparkSession, d: String): DataFrame = {
    val ps = psAgg(s, d)
      .select(col("l_partkey"), col("l_suppkey"), col("cost_dec"))
    val cand = ps
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(Tables.part(s, d)
          .filter(col("p_type") === "LARGE" && col("p_size") <= 10)),
        col("l_partkey") === col("p_partkey"))
    val minc = cand.groupBy(col("p_partkey").as("m_partkey"))
      .agg(min(col("cost_dec")).as("min_cost"))
    cand.join(minc, col("p_partkey") === col("m_partkey") &&
        col("cost_dec") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"),
        ((col("cost_dec") * 100).cast("long") / lit(100.0)).as("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  private val qTpch2Sql: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey,
      |    MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost_dec
      |  FROM lineitem GROUP BY 1, 2),
      |cand AS (
      |  SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, cost_dec
      |  FROM ps
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  JOIN part ON l_partkey = p_partkey
      |  WHERE r_name = 'EUROPE' AND p_type = 'LARGE' AND p_size <= 10)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
      |  CAST(cost_dec * 100 AS BIGINT) / 100.0 AS supply_cost
      |FROM cand
      |WHERE cost_dec = (SELECT MIN(c2.cost_dec) FROM cand c2
      |                  WHERE c2.p_partkey = cand.p_partkey)
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  // --------------------------------------------------------------- q_tpch7
  /** Q7 (volume shipping): bilateral trade between two nations by
    * ship year — the double-dimension-role anchor (nation joined once
    * as supplier country, once as customer country).
    *
    * Scale: both nation legs broadcast pre-filtered to the two
    * nations of interest; the residual pair predicate (exclude
    * domestic flows) evaluates post-join on broadcast columns. Fact
    * joins hash on orderkey/custkey/suppkey as usual.
    */
  private def qTpch7(s: SparkSession, d: String): DataFrame = {
    val two = Seq("NATION_1", "NATION_2")
    val n1 = broadcast(Tables.nation(s, d)
      .filter(col("n_name").isin(two: _*))
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
    val n2 = broadcast(Tables.nation(s, d)
      .filter(col("n_name").isin(two: _*))
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation")))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(n1, col("s_nationkey") === col("sn_key"))
      .join(n2, col("c_nationkey") === col("cn_key"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast(IntegerType).as("l_year"))
      .agg(revenue.as("revenue"))
  }

  private val qTpch7Sql: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
       |  $revenueSql AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |  AND l_shipdate < TIMESTAMP '1998-01-01'
       |  AND n1.n_name IN ('NATION_1', 'NATION_2')
       |  AND n2.n_name IN ('NATION_1', 'NATION_2')
       |  AND n1.n_name <> n2.n_name
       |GROUP BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------------- q_tpch8
  /** Q8 (national market share): one nation's share of a region's
    * STANDARD-part order volume by order year. The share is integer
    * ppm over ×10⁴-scaled decimal sums (integer division, no double
    * ratio), so both engines agree bit-for-bit; the two revenue
    * columns come back through the shared scaled-bigint path.
    *
    * Scale: part (filtered) and the two nation legs broadcast; the
    * numerator is a conditional sum in the same single aggregation
    * pass as the denominator — no second scan, no self-join.
    */
  private def qTpch8(s: SparkSession, d: String): DataFrame = {
    val vol = Det.money2(col("l_extendedprice")) *
      Det.factor2(lit(1) - col("l_discount"))
    val suppN = broadcast(Tables.nation(s, d)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).filter(col("p_type") === "STANDARD")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1995-01-01") &&
            col("o_orderdate") < lit("1997-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(suppN, col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).cast(IntegerType).as("o_year"))
      .agg(
        coalesce((sum(when(col("supp_nation") === "NATION_3", vol)) * 10000)
          .cast("long"), lit(0L)).as("ns"),
        (sum(vol) * 10000).cast("long").as("ts"))
      .select(col("o_year"),
        (col("ns") / lit(10000.0)).as("nation_revenue"),
        (col("ts") / lit(10000.0)).as("total_revenue"),
        // same DECIMAL(38,0) routing as q_tpch14's promo_ppm
        expr("CAST(ns AS DECIMAL(38,0)) * 1000000 div ts")
          .as("mkt_ppm"))
  }

  private val qTpch8Sql: String =
    """WITH j AS (
      |  SELECT EXTRACT(year FROM o_orderdate) AS yr,
      |    CAST(l_extendedprice AS DECIMAL(12,2))
      |      * CAST(1 - l_discount AS DECIMAL(4,2)) AS vol,
      |    ns.n_name AS supp_nation
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation nc ON c_nationkey = nc.n_nationkey
      |  JOIN region ON nc.n_regionkey = r_regionkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ns ON s_nationkey = ns.n_nationkey
      |  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
      |    AND o_orderdate >= TIMESTAMP '1995-01-01'
      |    AND o_orderdate < TIMESTAMP '1997-01-01'),
      |g AS (
      |  SELECT CAST(yr AS INTEGER) AS o_year,
      |    CAST(COALESCE(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol END)
      |                  * 10000, 0) AS BIGINT) AS ns,
      |    CAST(SUM(vol) * 10000 AS BIGINT) AS ts
      |  FROM j GROUP BY 1)
      |SELECT o_year, ns / 10000.0 AS nation_revenue,
      |  ts / 10000.0 AS total_revenue,
      |  CAST(CAST(ns AS HUGEINT) * 1000000 // ts AS BIGINT) AS mkt_ppm
      |FROM g""".stripMargin

  // --------------------------------------------------------------- q_tpch9
  /** Q9 (product-type profit), adapted: with no `ps_supplycost`,
    * line cost is surrogated by `p_retailprice · l_quantity` (both
    * 2-dp decimals), so profit = discounted revenue − retail cost per
    * '%bolt%' part, grouped by supplier nation × order year. Scale-4
    * decimal sums return through the [[Det.stableDouble]] string route.
    *
    * Scale: part (LIKE-filtered) and nation broadcast; the profit
    * expression folds into the single fact aggregation — the
    * orderkey/suppkey joins are the only exchanges.
    */
  private def qTpch9(s: SparkSession, d: String): DataFrame = {
    val amount = Det.money2(col("l_extendedprice")) *
      Det.factor2(lit(1) - col("l_discount")) -
      Det.money2(col("p_retailprice")) * Det.money2(col("l_quantity"))
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).filter(col("p_name").like("%bolt%"))),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast(IntegerType).as("o_year"))
      .agg(Det.stableDouble(sum(amount)).as("sum_profit"))
  }

  private val qTpch9Sql: String =
    """SELECT n_name AS nation,
      |  CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |             * CAST(1 - l_discount AS DECIMAL(4,2))
      |           - CAST(p_retailprice AS DECIMAL(12,2))
      |             * CAST(l_quantity AS DECIMAL(12,2)))
      |    AS VARCHAR) AS DOUBLE) AS sum_profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE p_name LIKE '%bolt%'
      |GROUP BY 1, 2""".stripMargin

  // -------------------------------------------------------------- q_tpch11
  /** Q11 (important stock), adapted: supply "value" per part is the
    * sum of the per-pair cost surrogate ([[qTpch2]]'s min line
    * price) over ASIA suppliers; parts whose value exceeds 1/1000 of
    * the cohort total (≈2× the average part's share) survive. The
    * threshold comparison runs in ×100-scaled integers
    * (`value·10³ > total`), never dividing — the
    * aggregate-vs-scalar-subquery shape with exact semantics.
    *
    * Scale: the pair-agg exchange dominates; the cohort total is a
    * 1-row broadcast over the per-part aggregate (customer-free plan,
    * no window).
    */
  private def qTpch11(s: SparkSession, d: String): DataFrame = {
    val ps = psAgg(s, d)
      .select(col("l_partkey"), col("l_suppkey"), col("cost_dec"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
    val perPart = ps.groupBy(col("l_partkey").as("ps_partkey"))
      .agg((sum(col("cost_dec")) * 100).cast("long").as("val_cents"))
    perPart
      .crossJoin(broadcast(
        perPart.agg(sum(col("val_cents")).as("total_cents"))))
      .filter(col("val_cents") * 1000 > col("total_cents"))
      .select(col("ps_partkey"),
        (col("val_cents") / lit(100.0)).as("part_value"))
  }

  private val qTpch11Sql: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey,
      |    MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost_dec
      |  FROM lineitem GROUP BY 1, 2),
      |asia AS (
      |  SELECT l_partkey, cost_dec
      |  FROM ps
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA'),
      |per_part AS (
      |  SELECT l_partkey AS ps_partkey,
      |    CAST(SUM(cost_dec) * 100 AS BIGINT) AS val_cents
      |  FROM asia GROUP BY 1)
      |SELECT ps_partkey, val_cents / 100.0 AS part_value
      |FROM per_part
      |WHERE val_cents * 1000 > (SELECT SUM(val_cents) FROM per_part)""".stripMargin

  // -------------------------------------------------------------- q_tpch13
  /** Q13 (customer order-count distribution): LEFT OUTER join with an
    * ON-clause filter (not WHERE — zero-order customers must survive)
    * + double aggregation into a histogram. `o_orderpriority <>
    * '1-URGENT'` stands in for the absent comment LIKE filter.
    *
    * Scale: one custkey exchange for the join+count, then a
    * tiny histogram re-agg; COUNT(o_orderkey) (null-skipping) keeps
    * the unmatched customers at 0.
    */
  private def qTpch13(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).cast(IntegerType).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).cast(IntegerType).as("custdist"))

  private val qTpch13Sql: String =
    """SELECT c_count, CAST(count(*) AS INTEGER) AS custdist
      |FROM (SELECT c_custkey,
      |        CAST(count(o_orderkey) AS INTEGER) AS c_count
      |      FROM customer
      |      LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |      GROUP BY 1)
      |GROUP BY 1""".stripMargin

  // -------------------------------------------------------------- q_tpch20
  /** Q20 (potential part promotion), adapted: suppliers in AMERICA
    * holding a 'small%' part whose surrogate availability (total line
    * count for the pair) exceeds a quarter of the 1996 quantity
    * shipped — the nested-subquery → semi-join shape. The comparison
    * runs in scaled integers (cnt·4·10⁴ > Σqty·10⁴).
    *
    * Scale: ONE lineitem pass computes both the availability count
    * and the conditional 1996 quantity sum per pair (no second scan);
    * part broadcasts after its LIKE filter; the surviving pair list
    * semi-joins into supplier.
    */
  private def qTpch20(s: SparkSession, d: String): DataFrame = {
    val pairs = psAgg(s, d)
      .select(col("l_partkey"), col("l_suppkey"), col("cnt"), col("sq"))
      .join(broadcast(Tables.part(s, d).filter(col("p_name").like("small%"))),
        col("l_partkey") === col("p_partkey"))
      .filter(col("cnt") * 4 * 10000 > col("sq"))
    Tables.supplier(s, d)
      .join(pairs, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_name"), col("s_acctbal"))
      .orderBy(col("s_name"))
  }

  private val qTpch20Sql: String =
    """SELECT s_name, s_acctbal
      |FROM supplier
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'AMERICA'
      |  AND s_suppkey IN (
      |    SELECT l_suppkey
      |    FROM (SELECT l_partkey, l_suppkey, count(*) AS cnt,
      |            CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
      |                       AND l_shipdate < TIMESTAMP '1997-01-01'
      |                     THEN CAST(l_quantity AS DECIMAL(18,4))
      |                     ELSE CAST(0 AS DECIMAL(18,4)) END) * 10000
      |                 AS BIGINT) AS sq
      |          FROM lineitem GROUP BY 1, 2)
      |    JOIN part ON l_partkey = p_partkey
      |    WHERE p_name LIKE 'small%' AND cnt * 4 * 10000 > sq)
      |ORDER BY s_name""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tpch1"  -> qTpch1 _,
    "q_tpch2"  -> qTpch2 _,
    "q_tpch7"  -> qTpch7 _,
    "q_tpch8"  -> qTpch8 _,
    "q_tpch9"  -> qTpch9 _,
    "q_tpch11" -> qTpch11 _,
    "q_tpch13" -> qTpch13 _,
    "q_tpch20" -> qTpch20 _,
    "q_tpch3"  -> qTpch3 _,
    "q_tpch4"  -> qTpch4 _,
    "q_tpch5"  -> qTpch5 _,
    "q_tpch6"  -> qTpch6 _,
    "q_tpch10" -> qTpch10 _,
    "q_tpch12" -> qTpch12 _,
    "q_tpch14" -> qTpch14 _,
    "q_tpch15" -> qTpch15 _,
    "q_tpch16" -> qTpch16 _,
    "q_tpch17" -> qTpch17 _,
    "q_tpch18" -> qTpch18 _,
    "q_tpch19" -> qTpch19 _,
    "q_tpch21" -> qTpch21 _,
    "q_tpch22" -> qTpch22 _
  )

  val oracles: Map[String, String] = Map(
    "q_tpch1"  -> qTpch1Sql,
    "q_tpch2"  -> qTpch2Sql,
    "q_tpch7"  -> qTpch7Sql,
    "q_tpch8"  -> qTpch8Sql,
    "q_tpch9"  -> qTpch9Sql,
    "q_tpch11" -> qTpch11Sql,
    "q_tpch13" -> qTpch13Sql,
    "q_tpch20" -> qTpch20Sql,
    "q_tpch3"  -> qTpch3Sql,
    "q_tpch4"  -> qTpch4Sql,
    "q_tpch5"  -> qTpch5Sql,
    "q_tpch6"  -> qTpch6Sql,
    "q_tpch10" -> qTpch10Sql,
    "q_tpch12" -> qTpch12Sql,
    "q_tpch14" -> qTpch14Sql,
    "q_tpch15" -> qTpch15Sql,
    "q_tpch16" -> qTpch16Sql,
    "q_tpch17" -> qTpch17Sql,
    "q_tpch18" -> qTpch18Sql,
    "q_tpch19" -> qTpch19Sql,
    "q_tpch21" -> qTpch21Sql,
    "q_tpch22" -> qTpch22Sql
  )
}
