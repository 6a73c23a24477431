package graft.queries

import graft.{Q, Tables}
import graft.functions.Portable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Eleventh relational batch — three operators a distributed OLAP engine
  * grows after the basics are green, each picked because the NAIVE form
  * is a scale-killer and the declared plan is the distributed form:
  *
  *  - `q67_skyline`: the skyline / Pareto-frontier operator (Börzsönyi
  *    et al., ICDE 2001) — "cheapest part at every size level". The
  *    textbook formulation is a quadratic NOT EXISTS self-join (the
  *    oracle runs exactly that; DuckDB can afford it at sf0.01); the
  *    declared plan is the two-phase banded skyline: band-local
  *    candidates via bounded windows + a band-dimension threshold join,
  *    never an all-pairs compare.
  *  - `q68_weighted_median`: weighted median over a value histogram —
  *    the el_winsorize exact-order-statistic discipline extended to
  *    weighted rank (weight = revenue cents), a per-group cumulative
  *    window on the (group, value) grid, not a sort of the fact table.
  *  - `q69_bloom_semijoin`: semi-join reduction via a runtime Bloom
  *    filter (the Trino/Snowflake "runtime filter"): Catalyst's
  *    InjectRuntimeFilter plants a `bloom_filter_agg` on the filtered
  *    build side and a `might_contain` predicate on the probe side's
  *    scan, so lineitem rows that cannot join are dropped BEFORE the
  *    shuffle. False positives only leak extra rows into the exact
  *    join — the result is identical, which is exactly what the oracle
  *    (a plain join) proves. At production scale the default thresholds
  *    (10 MB build / 10 GB probe) arm this automatically; here they are
  *    scoped down so the rewrite is observable at test SF
  *    (BloomJoinSpec pins the `might_contain` plan shape).
  */
object RelationalQueries11 {

  /** The probe-side join q69 declares, lazy (no confs applied):
    * urgent-order revenue by return flag. Kept separate so the spec can
    * inspect the optimized plan under the runtime-filter confs. */
  private[graft] def bloomJoin(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
              col("l_extendedprice"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
           sum(col("l_quantity").cast("long")).as("sum_qty"),
           sum(Portable.cents(col("l_extendedprice"))).as("revenue_cents"),
           countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy("l_returnflag")
  }

  private[graft] val bloomConfs: Seq[(String, String)] = Seq(
    // force the shuffle-join path (at 100 TB the filtered build side is
    // nowhere near broadcastable; at sf0.01 it would be)
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    // probe side must look "big enough" for injection to arm at test SF
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB")

  /** Conf-scoped runner for specs (withConfs itself is queries-private). */
  private[graft] def withBloomConfs[T](s: org.apache.spark.sql.SparkSession)(body: => T): T =
    RecursiveQueries.withConfs(s, bloomConfs: _*)(body)

  /** The algebraic partial-aggregate shape the incremental MV maintains:
    * count / sums / min-max are all mergeable by re-aggregation, which
    * is the entire trick — a refresh aggregates ONLY the delta and
    * merges. (COUNT DISTINCT is deliberately absent: it is not
    * algebraic; its mergeable form is the HLL sketch.) Dates travel as
    * ISO strings so min/max merge lexicographically ≡ chronologically in
    * both engines. */
  private def revPartial(df: DataFrame): DataFrame =
    df.groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
           sum(col("l_quantity").cast("long")).as("sum_qty"),
           sum(Portable.cents(col("l_extendedprice"))).as("revenue_cents"),
           min(date_format(col("l_shipdate"), "yyyy-MM-dd")).as("min_shipdate"),
           max(date_format(col("l_shipdate"), "yyyy-MM-dd")).as("max_shipdate"))

  private val mvCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  graft.ArtifactStore.onInvalidate(mvCache.remove(_))

  /** The stored MV over the base partition (75% of lineitem by order-key
    * residue), persisted once per corpus like every trained artifact —
    * group-cardinality-sized parquet, never the fact table. */
  private[graft] def baseMv(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    mvCache.computeIfAbsent(d, _ => {
      val path = graft.ArtifactStore.pathFor(d, "mv-lineitem-rev")
      val (hfs, p) = graft.Topic.fs(s, path)
      if (!hfs.exists(p))
        revPartial(Tables.lineitem(s, d).filter(expr("l_orderkey % 4 != 3")))
          .write.mode("overwrite").parquet(path)
      s.read.parquet(path)
    })

  def defs: Map[String, Q] = Map(

    // Skyline: minimize price, maximize size; a part is dominated if a
    // part exists that is no more expensive and no smaller, strictly
    // better in one. Distributed shape: (1) collapse to the (cents,
    // size) grid with multiplicities — the only fact-scale aggregate;
    // (2) $100 price bands: per-band max size → the strictly-cheaper-
    // band threshold via a band-dimension non-equi broadcast self-join
    // (bands², both dimension-sized); (3) inside each band a RANGE
    // window finds the strictly-cheaper running max, and a per-price
    // window keeps only each price's tallest candidate. No window ever
    // sees more than one band; nothing compares all pairs.
    "q67_skyline" -> Q(
      """WITH p AS (
        |  SELECT CAST(round(p_retailprice*100) AS BIGINT) AS cents,
        |         CAST(p_size AS BIGINT) AS size FROM part),
        |g AS (SELECT cents, size, CAST(COUNT(*) AS BIGINT) AS n_parts
        |      FROM p GROUP BY 1, 2)
        |SELECT cents, size, n_parts FROM g a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM g b
        |  WHERE (b.cents < a.cents AND b.size >= a.size)
        |     OR (b.cents <= a.cents AND b.size > a.size))
        |ORDER BY cents""".stripMargin) { (s, d) =>
      val g = Tables.part(s, d)
        .select(Portable.cents(col("p_retailprice")).as("cents"),
                col("p_size").cast("long").as("size"))
        .groupBy("cents", "size").agg(count(lit(1)).as("n_parts"))
        .withColumn("band", expr("cents div 10000"))
      val bandMax = g.groupBy("band").agg(max(col("size")).as("bmax"))
      val thr = bandMax.as("a")
        .join(broadcast(bandMax.as("b")), col("b.band") < col("a.band"), "left")
        .groupBy(col("a.band").as("band")).agg(max(col("b.bmax")).as("thr"))
      val wPrev = Window.partitionBy("band").orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, -1)
      val wTie = Window.partitionBy("cents")
      g.join(broadcast(thr), "band")
        .withColumn("prevmax", max(col("size")).over(wPrev))
        .withColumn("tiemax", max(col("size")).over(wTie))
        .filter(col("size") === col("tiemax") &&
                col("size") > coalesce(col("prevmax"), lit(-1L)) &&
                col("size") > coalesce(col("thr"), lit(-1L)))
        .select("cents", "size", "n_parts")
        .orderBy("cents")
    },

    // Weighted median (weight = extended-price cents) next to the plain
    // median, per return flag: collapse the fact table to the (flag,
    // quantity) histogram — ≤50 rows per flag — then one cumulative
    // window per flag finds the smallest value covering half the weight
    // (and half the count). Exact integer order statistics, never a
    // percentile interpolation, never a fact-table sort.
    "q68_weighted_median" -> Q(
      """WITH h AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |         CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS w,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (SELECT l_returnflag, CAST(SUM(w) AS BIGINT) AS tw,
        |             CAST(SUM(n) AS BIGINT) AS tn FROM h GROUP BY 1),
        |c AS (SELECT l_returnflag, qty, w, n,
        |             CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY qty
        |                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
        |             CAST(SUM(n) OVER (PARTITION BY l_returnflag ORDER BY qty
        |                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn
        |      FROM h)
        |SELECT c.l_returnflag, t.tw AS total_weight_cents, t.tn AS n_rows,
        |       CAST(MIN(CASE WHEN 2*c.cw >= t.tw THEN c.qty END) AS BIGINT) AS wmedian_qty,
        |       CAST(MIN(CASE WHEN 2*c.cn >= t.tn THEN c.qty END) AS BIGINT) AS median_qty
        |FROM c JOIN t ON c.l_returnflag = t.l_returnflag
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (s, d) =>
      val h = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
        .agg(sum(Portable.cents(col("l_extendedprice"))).as("w"),
             count(lit(1)).as("n"))
      val t = h.groupBy("l_returnflag")
        .agg(sum(col("w")).as("tw"), sum(col("n")).as("tn"))
      val wc = Window.partitionBy("l_returnflag").orderBy("qty")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c = h.withColumn("cw", sum(col("w")).over(wc))
               .withColumn("cn", sum(col("n")).over(wc))
      c.join(t, "l_returnflag")
        .groupBy(col("l_returnflag"), col("tw").as("total_weight_cents"),
                 col("tn").as("n_rows"))
        .agg(min(when(lit(2) * col("cw") >= col("tw"), col("qty"))).as("wmedian_qty"),
             min(when(lit(2) * col("cn") >= col("tn"), col("qty"))).as("median_qty"))
        .orderBy("l_returnflag")
    },

    // Runtime-filter semi-join reduction: the aggregate itself is a
    // plain urgent-orders join (the oracle), the declared plan is the
    // Bloom-pruned one. Materialized eagerly under the scoped confs
    // (the ewmaFrame discipline) so the rewrite applies at execution,
    // not just at build.
    "q69_bloom_semijoin" -> Q(
      """SELECT l.l_returnflag,
        |       CAST(COUNT(*) AS BIGINT) AS n_items,
        |       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(SUM(CAST(round(l.l_extendedprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      RecursiveQueries.withConfs(s, bloomConfs: _*) {
        bloomJoin(s, d).localCheckpoint(true)
      }
    },

    // Incremental materialized-view maintenance: the declared plan reads
    // the STORED base MV (a group-cardinality parquet artifact) and
    // aggregates only the delta partition (order-key residue 3), merging
    // by re-aggregation — refresh cost ∝ delta, never a base rescan
    // (IncrementalMvSpec pins the single-lineitem-scan plan). The oracle
    // is the full recompute the merge must equal. This is the batch twin
    // of the streaming foreachBatch-merge sink: same algebra, same
    // mergeable-aggregate constraint.
    "q70_incremental_mv" -> Q(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       CAST(CAST(MIN(l_shipdate) AS DATE) AS VARCHAR) AS min_shipdate,
        |       CAST(CAST(MAX(l_shipdate) AS DATE) AS VARCHAR) AS max_shipdate
        |FROM lineitem
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val delta = revPartial(
        Tables.lineitem(s, d).filter(expr("l_orderkey % 4 = 3")))
      baseMv(s, d).unionByName(delta)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("n_rows")).as("n_rows"),
             sum(col("sum_qty")).as("sum_qty"),
             sum(col("revenue_cents")).as("revenue_cents"),
             min(col("min_shipdate")).as("min_shipdate"),
             max(col("max_shipdate")).as("max_shipdate"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // FORWARD as-of join — q19's mirror (kdb/QuestDB ship both
    // directions; only backward existed here): for each order, the
    // customer's FIRST event at-or-after the order date, with the exact
    // integer day gap (events postdate the order history in the fixture,
    // so this is the direction with matches). Same user-key equi-join +
    // range predicate shape; at scale both directions bucket by the equi
    // key and the range side stays a per-key min/count, never a sort.
    "q74_asof_forward" -> Q(
      """SELECT o.o_orderkey, MIN(e.ts) AS next_event_ts,
        |       CAST(COUNT(*) AS BIGINT) AS n_future_events,
        |       CAST((epoch_ns(MIN(e.ts)) - epoch_ns(o.o_orderdate)) // 1000
        |            // 86400000000 AS BIGINT) AS days_until
        |FROM orders o
        |JOIN events e ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |GROUP BY o.o_orderkey, o.o_orderdate ORDER BY o.o_orderkey""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).select("user_id", "ts")
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate")
      o.join(e, col("user_id") === col("o_custkey") && col("ts") >= col("o_orderdate"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(min(col("ts")).as("next_event_ts"),
             count(lit(1)).as("n_future_events"))
        .select(col("o_orderkey"), col("next_event_ts"), col("n_future_events"),
                // o_orderdate ships TIMESTAMP_NTZ; UTC session pins the cast
                expr("(unix_micros(next_event_ts) - unix_micros(cast(o_orderdate as timestamp))) div 86400000000")
                  .as("days_until"))
        .orderBy("o_orderkey")
    },

    // Grid-blocked spatial radius join (the Sedona/PostGIS pattern as
    // pure Spark): suppliers get deterministic planar µdegree coordinates
    // (LCG scatter of the key — the fixture has no geo columns; same
    // fixture-augmentation contract as the PII/multimodal queries), and
    // the 20 nearest pairs within radius R are found by joining each
    // point's grid cell against its 3×3 neighborhood — candidate work is
    // per-cell-occupancy-bounded, never the all-pairs compare the oracle
    // runs (DuckDB can afford quadratic at sf0.01). Each candidate pair
    // is generated exactly once (the offset relation between two fixed
    // cells is unique), so no distinct is needed. Distances are exact
    // BIGINT µdeg² (R² = 4·10¹⁴, far inside long).
    //
    // Scale read (corrected by the round-7 sf10 audit, which measured
    // 25× at 10× data, and SF-GATED in round 9 per the round-8 verdict):
    // cells CANNOT shrink below R — the 3×3 neighborhood must cover the
    // radius — so the join's cost is Θ(n²·(R/space)²), inherent to
    // RADIUS-join semantics, and the dial is R itself, set by the use
    // case. This demo's R is deliberately huge (40° of a 360° space,
    // ~11% — so the sparse sf0.001 fixture still yields pairs), which
    // made sf10's 100k+ points approach all-pairs BY SEMANTICS (≈5B
    // candidate pairs, 13 s at sf10 — the plan was fine, the parameter
    // degenerate at that density). The declared query is therefore the
    // GATED form: both engines restrict the point set to s_suppkey ≤
    // 20000 — a no-op at every SF ≤ 2 (TPC-H supplier = 10k·SF rows,
    // keys dense from 1), so the small-SF semantics and the sf0.01
    // oracle rows are bit-identical to the ungated round-8 query — and
    // a hard constant-cost ceiling above it (the wide-R exhibit never
    // sees more than the ~sf2 point set; at 100 TB the gate excludes
    // the degenerate parameter regime entirely). The UNGATED
    // production form of this operator is q92_spatial_radius_scaled,
    // whose density-derived radius is linear-in-n at every SF.
    "q72_spatial_pairs" -> Q(
      """WITH pts AS (
        |  SELECT s_suppkey AS k,
        |         (s_suppkey * 2654435761) % 360000000 AS x,
        |         (s_suppkey * 2246822519) % 360000000 AS y
        |  FROM supplier WHERE s_suppkey <= 20000),
        |pr AS (
        |  SELECT a.k AS k_a, b.k AS k_b,
        |         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
        |  FROM pts a JOIN pts b ON a.k < b.k)
        |SELECT k_a, k_b, CAST(d2 AS BIGINT) AS d2
        |FROM pr WHERE d2 <= CAST(40000000 AS BIGINT) * 40000000
        |ORDER BY d2, k_a, k_b LIMIT 20""".stripMargin) { (s, d) =>
      val R = 40000000L // 40° in µdeg; grid cell = R so 3×3 covers the radius (≥1 pair at sf0.001)
      val pts = Tables.supplier(s, d)
        .filter(col("s_suppkey") <= 20000L) // SF-gate: no-op at SF ≤ 2, constant ceiling above
        .select(
        col("s_suppkey").as("k"),
        ((col("s_suppkey") * 2654435761L) % 360000000L).as("x"),
        ((col("s_suppkey") * 2246822519L) % 360000000L).as("y"))
        .withColumn("cx", expr(s"x div $R")).withColumn("cy", expr(s"y div $R"))
      val offs = s.range(0, 1).select(explode(array(
        (for (dx <- -1 to 1; dy <- -1 to 1)
          yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)).as("o"))
        .select(col("o.dx").as("dx"), col("o.dy").as("dy"))
      val aExp = pts.toDF("ka", "xa", "ya", "cxa", "cya")
        .crossJoin(broadcast(offs))
        .withColumn("ncx", col("cxa") + col("dx"))
        .withColumn("ncy", col("cya") + col("dy"))
      aExp.join(pts.toDF("kb", "xb", "yb", "cxb", "cyb"),
          col("ncx") === col("cxb") && col("ncy") === col("cyb") &&
          col("ka") < col("kb"))
        .select(col("ka").as("k_a"), col("kb").as("k_b"),
                ((col("xa") - col("xb")) * (col("xa") - col("xb")) +
                 (col("ya") - col("yb")) * (col("ya") - col("yb"))).as("d2"))
        .filter(col("d2") <= R * R)
        .orderBy("d2", "k_a", "k_b")
        .limit(20)
    }
  )
}
