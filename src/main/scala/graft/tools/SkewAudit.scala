package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-9 audit (round-8 verdict item 2): apply the AQE-vs-salting
  * finding (SCALING.md "Round 8: closing the round-7 verdict items") to
  * the SUITE'S OWN declared queries — the ones with corpus-scale
  * shuffles on keys a production log CAN skew (a bot user, a dominant
  * supplier, a whale customer) — under synthesized hot-key fixtures at
  * the sf10 anchor scale.
  *
  * `runMain graft.tools.SkewAudit [baseSfDir] [reps]` (default
  * /tmp/sf10, 2). Builds, once, under /tmp/skewaudit:
  *
  *   - `evhot`    — events with user 0 holding 50% of rows (bot): the
  *                  aggregate-shaped queries (el_funnel, el_ab_lift) and
  *                  the per-user window (el_gap_histogram);
  *   - `evhot256` — events with user 0 holding 1/256 of rows: the
  *                  attribution join is QUADRATIC in one user's activity
  *                  (convs × touches), so even a fractional-percent bot
  *                  is the interesting regime — 50% would be ~10¹¹
  *                  pairs by semantics, no partitioning can save it;
  *   - `ordhot`   — orders with one customer holding 50% of orders
  *                  (whale): q94's custkey semi join;
  *   - `lihot`    — lineitem with one supplier holding 50% of lines:
  *                  q95's (suppkey, qtr) aggregate.
  *
  * Every other table is symlinked from the base dir, so the declared
  * queries run UNCHANGED against each fixture. Timings print per arm;
  * for the join-shaped queries the hot arm also reports whether stock
  * AQE actually split (`skewSplit`'s isSkewJoin probe) and re-times with
  * skewJoin disabled, so the table shows which regime of the round-8
  * advisory each query lands in. Findings land in SCALING.md round 9.
  */
object SkewAudit {

  private def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime(); val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  private def skewSplit(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val fin = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case n => n }.flatMap {
        case q: QueryStageExec => q +: nodes(q.plan)
        case n                 => Seq(n)
      }
    nodes(fin).exists {
      case j: SortMergeJoinExec     => j.isSkewJoin
      case j: ShuffledHashJoinExec  => j.isSkewJoin
      case _                        => false
    }
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/tmp/sf10"
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = graft.Session.local(32)
    spark.sparkContext.setLogLevel("ERROR")

    val root = "/tmp/skewaudit"
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")

    /** Fixture dir: `replaced` is written by `make`, the rest symlink
      * to the base so declared queries run unchanged. */
    def fixture(name: String, replaced: String)(make: String => Unit): String = {
      val dir = s"$root/$name"
      if (!Files.exists(Paths.get(s"$dir/_DONE"))) {
        Files.createDirectories(Paths.get(dir))
        make(s"$dir/$replaced.parquet")
        tables.filterNot(_ == replaced).foreach { t =>
          val link = Paths.get(s"$dir/$t.parquet")
          if (!Files.exists(link))
            Files.createSymbolicLink(link, Paths.get(s"$base/$t.parquet"))
        }
        Files.createFile(Paths.get(s"$dir/_DONE"))
      }
      dir
    }

    val evhot = fixture("evhot", "events") { out =>
      graft.Tables.events(spark, base)
        .withColumn("user_id",
          when(pmod(col("event_id"), lit(2L)) === 0L, lit(0L)).otherwise(col("user_id")))
        .write.mode("overwrite").parquet(out)
    }
    val evhot256 = fixture("evhot256", "events") { out =>
      graft.Tables.events(spark, base)
        .withColumn("user_id",
          when(pmod(col("event_id"), lit(256L)) === 0L, lit(0L)).otherwise(col("user_id")))
        .write.mode("overwrite").parquet(out)
    }
    val ordhot = fixture("ordhot", "orders") { out =>
      spark.read.parquet(s"$base/orders.parquet")
        .withColumn("o_custkey",
          when(pmod(col("o_orderkey"), lit(2L)) === 0L, lit(1L)).otherwise(col("o_custkey")))
        .write.mode("overwrite").parquet(out)
    }
    val lihot = fixture("lihot", "lineitem") { out =>
      spark.read.parquet(s"$base/lineitem.parquet")
        .withColumn("l_suppkey",
          when(pmod(col("l_orderkey"), lit(2L)) === 0L, lit(1L)).otherwise(col("l_suppkey")))
        .write.mode("overwrite").parquet(out)
    }

    def q(name: String, dir: String): DataFrame =
      graft.SparkEntry.queries(name)(spark, dir)

    // noop-sink write, not count(): count() lets Catalyst delete the
    // very operators under audit (q54/q88 lose their Window node — see
    // tools/ActionAudit); the noop sink executes the full write plan
    def act(df: DataFrame): Long = {
      df.write.format("noop").mode("overwrite").save(); -1L
    }

    def withConf(pairs: (String, String)*)(body: => (Double, Long)): (Double, Long) = {
      val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

    // agg/window-shaped: base vs hot, defaults (the claim under test is
    // map-side-combine immunity — or, for the window, the lack of it)
    val aggShaped = Seq(
      ("el_funnel", evhot), ("el_ab_lift", evhot),
      ("el_gap_histogram", evhot), ("el_gap_histogram_skewsafe", evhot),
      ("q95_top_supplier", lihot),
      // round 10: the other bounded-lookback per-key windows (verdict
      // item 4) — q54's RANGE 1h frame and q88's ROWS 4 frame are the
      // same lag/rolling-k family as el_gap_histogram on hot-able keys;
      // el_resample_ffill's window runs over the 21-day GRID (bounded
      // per user at any event count), included to prove that claim
      ("q54_range_frame", evhot), ("q54_range_frame_skewsafe", evhot),
      ("q88_rolling_median", ordhot), ("q88_rolling_median_skewsafe", ordhot),
      ("el_resample_ffill", evhot))
    // join-shaped: base vs hot under default AQE (does it split?) vs
    // hot with skewJoin off (what the split was worth)
    val joinShaped = Seq(
      ("el_attribution", evhot256), ("q94_market_share", ordhot))

    for (rep <- 1 to reps) {
      for ((name, hot) <- aggShaped) {
        val (tb, _) = timed(act(q(name, base)))
        val (th, _) = timed(act(q(name, hot)))
        println(f"$name rep$rep: base=$tb%.2f s  hot=$th%.2f s")
      }
      for ((name, hot) <- joinShaped) {
        val (tb, _) = timed(act(q(name, base)))
        var split = false
        val (th, _) = withConf(
          "spark.sql.adaptive.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.enabled" -> "true") {
          val df = q(name, hot)
          val r = timed(act(df))
          split = skewSplit(df)
          (r._1, r._2)
        }
        val (toff, _) = withConf(
          "spark.sql.adaptive.skewJoin.enabled" -> "false") {
          timed(act(q(name, hot)))
        }
        println(f"$name rep$rep: base=$tb%.2f s  hot_aqe=$th%.2f s (split=$split)  " +
          f"hot_skewoff=$toff%.2f s")
      }
    }
    spark.stop()
  }
}
