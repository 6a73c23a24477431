package graft.queries

import graft.{Q, Tables}
import graft.functions.Portable.{cents, duckCents}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-audit batch — the profiling reads a warehouse runs before
  * trusting a table, plus the embedding-column twin:
  *
  *  - `q64_benford`: Benford first-digit audit on order totals — the
  *    classic fabricated-data screen (Benford 1938; Nigrini 1996).
  *  - `q65_column_profile`: per-column profile of `orders` (rows, nulls,
  *    exact distincts, canonical min/max) — the "describe table" a data
  *    catalog materializes.
  *  - `ss_dim_profile`: per-dimension profile of the embedding column
  *    (count / sum / min / max / sum-of-squares in exact micro-units) —
  *    the feature-distribution audit run before training a quantizer.
  *
  * Reference note: the cascade broker ships bytes with no notion of a
  * schema (/root/reference/src/broker/main.rs:53); profiling is the
  * first thing its consumers bolt on, re-expressed here as one-pass
  * Spark aggregates.
  *
  * Integer discipline: prices go through exact cents
  * (`Portable.cents`), embedding elements through exact micro-units
  * (round(x·10⁶) on the double-widened float — same promotion in both
  * engines), so every aggregate is order-independent integer math.
  * Overflow bound for sumsq_micro: |x| ≤ ~4 ⇒ micro² ≤ 1.6·10¹³; safe
  * through ~5·10⁵ vectors per dimension at BIGINT (sf1); beyond that a
  * per-shard partial profile would be rolled up in DECIMAL(38,0).
  */
object AuditQueries {

  /** floor(10⁴·log₁₀(1+1/d)) for d = 1..9, summing to exactly 10 000 —
    * the Benford expectation as integer basis points, embedded as the
    * same literal dim on both engines. */
  private val benfordBp =
    Seq(1 -> 3010L, 2 -> 1761L, 3 -> 1249L, 4 -> 969L, 5 -> 792L,
        6 -> 669L, 7 -> 580L, 8 -> 512L, 9 -> 458L)

  def defs: Map[String, Q] = Map(

    // Benford first-digit audit. One map-side-combined pass to a 9-row
    // digit grid; the expectation joins in as a 9-row literal dim and
    // the total as a broadcast scalar. First digit is read off the
    // decimal STRING of exact integer cents (identical rendering in
    // both engines) — never floor(log10) float math. dev_bp is the
    // per-digit deviation a fraud screen thresholds on.
    "q64_benford" -> Q(
      s"""WITH c AS (
        |  SELECT ${duckCents("o_totalprice")} AS cts FROM orders),
        |d AS (
        |  SELECT CAST(substr(CAST(cts AS VARCHAR), 1, 1) AS INTEGER) AS digit,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM c GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM d),
        |e AS (SELECT * FROM (VALUES ${benfordBp.map { case (d0, b) => s"($d0, $b)" }.mkString(",")})
        |      AS x(digit, expected_bp))
        |SELECT e.digit, CAST(COALESCE(d.n, 0) AS BIGINT) AS n,
        |       CAST((COALESCE(d.n, 0) * 10000) // t.total AS BIGINT) AS share_bp,
        |       CAST(e.expected_bp AS BIGINT) AS expected_bp,
        |       CAST((COALESCE(d.n, 0) * 10000) // t.total - e.expected_bp AS BIGINT)
        |         AS dev_bp
        |FROM e LEFT JOIN d ON d.digit = e.digit CROSS JOIN t
        |ORDER BY e.digit""".stripMargin) { (s, d) =>
      import s.implicits._
      val dg = Tables.orders(s, d)
        .select(substring(cents(col("o_totalprice")).cast("string"), 1, 1)
                  .cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val t = dg.agg(sum(col("n")).as("total"))
      val e = benfordBp.toDF("digit", "expected_bp")
      e.join(dg, Seq("digit"), "left")
        .crossJoin(broadcast(t))
        .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
                expr("(coalesce(n, 0) * 10000) div total").as("share_bp"),
                col("expected_bp"),
                expr("(coalesce(n, 0) * 10000) div total - expected_bp")
                  .as("dev_bp"))
        .orderBy("digit")
    },

    // Per-column table profile. ONE scan of orders computes every
    // statistic (the exact multi-column COUNT(DISTINCT)s expand the
    // scan ×6 in-plan — the price of exactness; the sketch path for
    // wide tables is q29/q42's HLL/KMV); the single 1×25 aggregate row
    // is then exploded into the 6-row profile — no second scan, no
    // union of per-column passes. Canonical min/max renderings: BIGINT
    // via decimal string, price via cents, date via ISO yyyy-MM-dd —
    // every one engine-portable.
    "q65_column_profile" -> Q(
      s"""WITH a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z1,
        |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS d1,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS mn1, CAST(MAX(o_orderkey) AS VARCHAR) AS mx1,
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z2,
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS d2,
        |    CAST(MIN(o_custkey) AS VARCHAR) AS mn2, CAST(MAX(o_custkey) AS VARCHAR) AS mx2,
        |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z3,
        |    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS d3,
        |    MIN(o_orderstatus) AS mn3, MAX(o_orderstatus) AS mx3,
        |    CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z4,
        |    CAST(COUNT(DISTINCT ${duckCents("o_totalprice")}) AS BIGINT) AS d4,
        |    CAST(MIN(${duckCents("o_totalprice")}) AS VARCHAR) AS mn4,
        |    CAST(MAX(${duckCents("o_totalprice")}) AS VARCHAR) AS mx4,
        |    CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z5,
        |    CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS d5,
        |    strftime(MIN(o_orderdate), '%Y-%m-%d') AS mn5,
        |    strftime(MAX(o_orderdate), '%Y-%m-%d') AS mx5,
        |    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z6,
        |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS d6,
        |    MIN(o_orderpriority) AS mn6, MAX(o_orderpriority) AS mx6
        |  FROM orders)
        |SELECT col_name, n_rows, n_null, n_distinct, min_repr, max_repr FROM (
        |  SELECT 'o_orderkey' AS col_name, n_rows, z1 AS n_null, d1 AS n_distinct, mn1 AS min_repr, mx1 AS max_repr FROM a
        |  UNION ALL SELECT 'o_custkey', n_rows, z2, d2, mn2, mx2 FROM a
        |  UNION ALL SELECT 'o_orderstatus', n_rows, z3, d3, mn3, mx3 FROM a
        |  UNION ALL SELECT 'o_totalprice_cents', n_rows, z4, d4, mn4, mx4 FROM a
        |  UNION ALL SELECT 'o_orderdate', n_rows, z5, d5, mn5, mx5 FROM a
        |  UNION ALL SELECT 'o_orderpriority', n_rows, z6, d6, mn6, mx6 FROM a)
        |ORDER BY col_name""".stripMargin) { (s, d) =>
      // SIX PER-COLUMN DIMENSION BRANCHES instead of one 6-way
      // multi-distinct aggregate (round 10): the single-aggregate form
      // planned an Expand that multiplied the scan ×7 in-plan and fed
      // ~23M mixed-type distinct keys through one hash map — 37 s at
      // sf10 under the honest action. Per column, groupBy(value) is a
      // map-side-combined partial whose exchange carries only the
      // column's DISTINCT values; every profile statistic then reads
      // off that dimension: n_distinct = non-null group count, n_null =
      // the null group's count, min/max over group keys (each rendering
      // is monotone in its key: bigint/string casts, cents = round·100,
      // ISO date — so min/max commute with the grouping), n_rows =
      // Σ counts. Columnar scans prune to one column per branch. Same
      // 6-row result, no Expand anywhere.
      def profile(name: String, key: Column,
                  mn: Column => Column, mx: Column => Column): DataFrame =
        Tables.orders(s, d)
          .groupBy(key.as("v")).agg(count(lit(1)).as("c"))
          .agg(
            // coalesce: the old single-aggregate count(*) returned 0 on
            // an empty table where SUM returns NULL (ADVICE r10)
            coalesce(sum(col("c")), lit(0L)).as("n_rows"),
            coalesce(sum(when(col("v").isNull, col("c"))), lit(0L)).as("n_null"),
            count(col("v")).as("n_distinct"),
            mn(min(col("v"))).as("min_repr"),
            mx(max(col("v"))).as("max_repr"))
          .select(lit(name).as("col_name"), col("n_rows"), col("n_null"),
                  col("n_distinct"), col("min_repr"), col("max_repr"))
      val asStr  = (c: Column) => c.cast("string")
      val asIs   = (c: Column) => c
      val asDate = (c: Column) => date_format(c, "yyyy-MM-dd")
      profile("o_orderkey", col("o_orderkey"), asStr, asStr)
        .unionAll(profile("o_custkey", col("o_custkey"), asStr, asStr))
        .unionAll(profile("o_orderstatus", col("o_orderstatus"), asIs, asIs))
        .unionAll(profile("o_totalprice_cents", cents(col("o_totalprice")), asStr, asStr))
        .unionAll(profile("o_orderdate", col("o_orderdate"), asDate, asDate))
        .unionAll(profile("o_orderpriority", col("o_orderpriority"), asIs, asIs))
        .orderBy("col_name")
    },

    // Per-dimension embedding profile. posexplode keeps the unnest
    // in-plan (no shuffle until the 64-group aggregate, which map-side
    // combines 64 partials per task); micro-unit quantization makes the
    // sums order-independent exact integers. The float widens to DOUBLE
    // before scaling in BOTH engines (DuckDB FLOAT·INT would stay
    // float — explicitly cast).
    "ss_dim_profile" -> Q(
      """WITH x AS (
        |  SELECT t.i - 1 AS dim,
        |         CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000) AS BIGINT)
        |           AS micro
        |  FROM embeddings CROSS JOIN range(1, 65) t(i))
        |SELECT CAST(dim AS INTEGER) AS dim, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(micro) AS BIGINT) AS sum_micro,
        |       CAST(MIN(micro) AS BIGINT) AS min_micro,
        |       CAST(MAX(micro) AS BIGINT) AS max_micro,
        |       CAST(SUM(micro * micro) AS BIGINT) AS sumsq_micro
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "el")))
        .select(col("dim").cast("int").as("dim"),
                round(col("el").cast("double") * 1000000L).cast("long")
                  .as("micro"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
             sum(col("micro")).as("sum_micro"),
             min(col("micro")).as("min_micro"),
             max(col("micro")).as("max_micro"),
             sum(col("micro") * col("micro")).as("sumsq_micro"))
        .orderBy("dim")
    }
  )
}
