package graft.queries

import graft.{Q, Tables}
import graft.functions.Portable._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 relational batch: the two classic TPC-H report shapes the
  * suite didn't yet cover —
  *
  *   - `q94_market_share` (TPC-H Q8's shape): one supplier-nation's
  *     revenue share of a customer-region's market per year — the
  *     6-table snowflake join with a conditional-share aggregate;
  *   - `q95_top_supplier` (TPC-H Q15's shape): top-k suppliers per
  *     quarter by revenue WITH TIES (rank, not row_number — Q15's
  *     defining subtlety is that ties must all surface).
  *
  * Both keep money exact: revenue = Σ cents(price)·cents(1−disc) is
  * integer arithmetic end-to-end (functions/Portable.scala), so the
  * share division and the rank comparisons are engine-portable.
  */
object RelationalQueries20 {

  private val rev = "CAST(round(l_extendedprice*100) AS BIGINT) * CAST(round((1-l_discount)*100) AS BIGINT)"

  val defs: Map[String, Q] = Map(

    // Market share per year: NATION_0 suppliers' slice of the AFRICA
    // customer market. Scale shape: lineitem⋈orders is the only
    // corpus-scale join (both shuffle on orderkey); customer/supplier
    // joins shuffle on their keys; nation/region are broadcast; the
    // share is a ratio of two exact-cents longs per year (÷ of
    // identical integers — deterministic double in both engines).
    "q94_market_share" -> Q(
      s"""WITH rev AS (
         |  SELECT EXTRACT(year FROM o.o_orderdate) AS yr,
         |         sn.n_name AS supp_nation,
         |         $rev AS rev_c
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         |  JOIN region r ON cn.n_regionkey = r.r_regionkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         |  WHERE r.r_name = 'AFRICA')
         |SELECT CAST(yr AS BIGINT) AS yr,
         |       CAST(SUM(rev_c) AS BIGINT) AS total_rev_c,
         |       CAST(SUM(CASE WHEN supp_nation = 'NATION_0' THEN rev_c ELSE 0 END) AS BIGINT) AS nation_rev_c,
         |       CAST(SUM(CASE WHEN supp_nation = 'NATION_0' THEN rev_c ELSE 0 END) AS DOUBLE)
         |         / CAST(SUM(rev_c) AS DOUBLE) AS mkt_share
         |FROM rev GROUP BY yr ORDER BY yr""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
                (cents(col("l_extendedprice")) * cents(lit(1) - col("l_discount")))
                  .as("rev_c"))
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
                year(col("o_orderdate")).cast("long").as("yr"))
      val custAfrica = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
              col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "AFRICA")),
              col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val suppNation = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
              col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      // round 11 (guide §3.2): the Africa semi-join runs BEFORE the
      // corpus-scale lineitem⋈orders join, not after it — orders shrink
      // ~5× (one region of five) before they are shuffled on orderkey,
      // and the optimizer's runtime Bloom filter can prune lineitem
      // against the filtered orders side. Semi-filters on orders
      // attributes commute with the orderkey equi-join, so the result
      // is row-identical.
      val ordAfrica = ord
        .join(custAfrica, col("o_custkey") === col("c_custkey"), "left_semi")
      li.join(ordAfrica, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .groupBy("yr")
        .agg(sum("rev_c").as("total_rev_c"),
             sum(when(col("supp_nation") === "NATION_0", col("rev_c"))
                   .otherwise(0L)).as("nation_rev_c"))
        .select(col("yr"), col("total_rev_c"), col("nation_rev_c"),
                (col("nation_rev_c").cast("double") /
                 col("total_rev_c").cast("double")).as("mkt_share"))
        .orderBy("yr")
    },

    // Top-3 suppliers per shipping quarter, ties included: rank over the
    // exact-cents revenue (integer compares — no float ordering
    // ambiguity), deterministic tie-break only INSIDE equal rank via the
    // final sort.
    //
    // Scale shape (round 10, closing the round-9 sf100 finding): the
    // (suppkey, qtr) group domain grows WITH the corpus (28M groups at
    // sf100), so the partial aggregate stops collapsing — every map task
    // pays a full hash-map build + sort-spill it gets nothing from,
    // while ~the whole input crosses the exchange anyway. The explicit
    // repartition on the group keys makes the child's partitioning
    // satisfy the aggregate's required distribution, so Spark plans ONE
    // complete-mode aggregate after the exchange: same rows on the
    // wire, no useless map-side hash. Measured (parity-checked; SCALING.md
    // "q95's partial-aggregate degradation"): sf10 8.0 → 5.4 s, sf100
    // 76.9 → 37.2 s. The rewrite is
    // the right call exactly because lines-per-group (~107) is scale-
    // invariant while the domain is not — a corpus where the group
    // domain were BOUNDED would want the partial aggregate back.
    // Then a window partitioned by quarter over the |suppliers|-bounded
    // per-quarter rows.
    "q95_top_supplier" -> Q(
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |         (EXTRACT(year FROM l_shipdate)*10 + (EXTRACT(month FROM l_shipdate)+2)//3) AS qtr,
         |         SUM($rev) AS rev_c
         |  FROM lineitem GROUP BY 1,2),
         |rk AS (SELECT qtr, l_suppkey, rev_c,
         |              rank() OVER (PARTITION BY qtr ORDER BY rev_c DESC) AS rnk
         |       FROM rev)
         |SELECT CAST(qtr AS BIGINT) AS qtr, CAST(rnk AS BIGINT) AS rnk,
         |       l_suppkey, CAST(rev_c AS BIGINT) AS rev_c
         |FROM rk WHERE rnk <= 3 ORDER BY qtr, rnk, l_suppkey""".stripMargin) { (s, d) =>
      val rev = Tables.lineitem(s, d)
        .select(col("l_suppkey"),
                // div, not /: Spark's / yields DOUBLE even on ints
                expr("year(l_shipdate) * 10 + (month(l_shipdate) + 2) div 3")
                  .cast("long").as("qtr"),
                (cents(col("l_extendedprice")) * cents(lit(1) - col("l_discount")))
                  .as("rev_c"))
        .repartition(col("l_suppkey"), col("qtr"))
        .groupBy("l_suppkey", "qtr").agg(sum("rev_c").as("rev_c"))
      rev
        .withColumn("rnk", rank().over(
          Window.partitionBy("qtr").orderBy(col("rev_c").desc)))
        .filter(col("rnk") <= 3)
        .select(col("qtr"), col("rnk").cast("long").as("rnk"),
                col("l_suppkey"), col("rev_c"))
        .orderBy("qtr", "rnk", "l_suppkey")
    }
  )
}
