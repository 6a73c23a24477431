package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** Skew SURVIVAL, not just observability: q52_skew_profile measures the
  * hot-key share so an operator can decide to salt; these tests prove the
  * two mitigations that decision drives actually work when one user holds
  * ~50% of the events — (a) the el_salted_agg two-level aggregate routes
  * the hot key to many reducers instead of one, and (b) AQE's skew-join
  * rule splits the hot partition on the join path.
  */
class SkewSpec extends SparkSpec {

  /** One hot user (id 0) holding half the events; 149 cold users share
    * the rest — the exaggerated q52_skew_profile shape. Written in the
    * corpus layout (events.parquet, ts as long nanos) so the DECLARED
    * queries run on it unchanged. */
  private lazy val fixtureDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("skew").toString + "/sf"
    spark.range(60000).select(
      col("id").as("event_id"),
      (lit(1700000000000000000L) + col("id") * lit(1000000000L)).as("ts"),
      // hot user on a CONTIGUOUS id range so its event_ids cover all 8
      // salt residues (id%2==0 would leave only the 4 even salts live)
      when(col("id") < 30000, lit(0L))
        .otherwise(pmod(col("id"), lit(149)) + 1L).as("user_id"),
      lit("click").as("event_type"),
      (col("id") % 100).cast("double").as("value"),
      md5(col("id").cast("string")).as("props"))
      .write.parquet(s"$dir/events.parquet")
    // per-user dimension as a TABLE (not an inline aggregate): AQE's
    // OptimizeSkewedJoin only matches SMJ(Sort(shuffle), Sort(shuffle)) —
    // an aggregate feeding the join directly would mask the rule
    spark.read.parquet(s"$dir/events.parquet")
      .groupBy("user_id").agg(max(col("props")).as("tag"))
      .write.parquet(s"$dir/dim.parquet")
    dir
  }

  test("el_salted_agg: hot key spreads across reducers; naive pins it to one") {
    val d = fixtureDir
    val salted = SparkEntry.queries("el_salted_agg")(spark, d)

    // same answer as the naive single-level groupBy (identical arithmetic)
    import graft.functions.Portable.cents
    val naive = Tables.events(spark, d).groupBy("user_id")
      .agg((sum(cents(col("value"))).cast("double") / lit(100.0)).as("total_value"),
           count(lit(1)).as("n_events"))
      .orderBy("user_id")
    assert(salted.exceptAll(naive).isEmpty && naive.exceptAll(salted).isEmpty)

    // plan shape: the first exchange partitions on (user_id, salt), so
    // the hot key's rows hash to many reducers (the salt alias lowers to
    // _groupingexpression in the physical plan)
    val p = salted.queryExecution.executedPlan.toString
    assert("hashpartitioning\\(user_id#\\d+L?, (salt|_groupingexpression)#".r
             .findFirstIn(p).isDefined,
      "first exchange does not carry the salt:\n" + p)

    // routing, computed with the SAME function HashPartitioning uses
    // (murmur3 seed 42 + pmod — functions.hash is that expression): under
    // user_id alone the hot key occupies exactly ONE reduce partition;
    // under (user_id, salt) it occupies several, and the max per-reducer
    // row load drops by more than half
    val P = 32
    val ev   = Tables.events(spark, d)
    val salt = pmod(col("event_id"), lit(8))
    val hot  = ev.filter(col("user_id") === 0)
    assert(hot.select(pmod(hash(col("user_id")), lit(P))).distinct().count() === 1L)
    assert(hot.select(pmod(hash(col("user_id"), salt), lit(P))).distinct().count() >= 2L)
    val naiveMax = ev.groupBy(pmod(hash(col("user_id")), lit(P)).as("p"))
      .count().agg(max("count")).head().getLong(0)
    val saltedMax = ev.groupBy(pmod(hash(col("user_id"), salt), lit(P)).as("p"))
      .count().agg(max("count")).head().getLong(0)
    assert(saltedMax * 2 < naiveMax,
      s"salting did not spread the hot reducer: naive=$naiveMax salted=$saltedMax")
  }

  test("AQE skew-join splits the hot partition on the join path") {
    val d = fixtureDir
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // test-scale thresholds: the hot partition (~2 MB) must exceed
      // max(threshold, median×factor) and split into >1 advisory chunks
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
      // keep the sort-merge join (broadcast would hide the skew entirely —
      // at corpus scale the dim side is NOT broadcastable)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

      val ev  = Tables.events(spark, d).select("event_id", "user_id", "props")
      val dim = spark.read.parquet(s"$d/dim.parquet")
      val joined = ev.join(dim, "user_id")
      // every event matches exactly one dim row — skew splitting must not
      // change the result (the split side's partner partition duplicates)
      assert(joined.collect().length === 60000)

      val fin = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p                        => p
      }
      // query stages are LEAF wrappers (collect can't descend), so
      // unwrap them recursively before looking for the skew-split join
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] =
        p.collect { case n => n }.flatMap {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            q +: nodes(q.plan)
          case n => Seq(n)
        }
      val skewJoins = nodes(fin).collect {
        case j: SortMergeJoinExec if j.isSkewJoin => j }
      assert(skewJoins.nonEmpty, "no skew-split SortMergeJoin in final plan:\n" + fin)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Round-9 (round-8 verdict item 2): the skew advisory applied to a
    * REAL declared suite query. el_attribution's user-key join is the
    * suite's one join-shaped query a bot user can skew; its downstream
    * windows re-partition by conv_id, so the join's output partitioning
    * is NOT required downstream — the exact regime the round-8 A/B says
    * to DEFER TO AQE in (stock OptimizeSkewedJoin is free to split).
    * This pins that the deferral actually engages on the declared query:
    * same results with skewJoin off/on, and the on-plan contains a
    * skew-split join. Thresholds are test-scaled (the hot partition is
    * ~1 MB here vs 256 MB+ at corpus scale); SkewAudit measures the
    * corpus-scale wall-clock side in SCALING.md round 9. */
  test("el_attribution: a hot user's join self-heals via stock AQE skew split") {
    // mixed-type hot fixture: user 0 holds half the log, alternating
    // purchase/click HOURLY so the 7-day attribution window bounds the
    // per-conversion fan-out (~84 touches) instead of going quadratic
    val dir = java.nio.file.Files.createTempDirectory("skewattr").toString + "/sf"
    spark.range(60000).select(
      col("id").as("event_id"),
      (lit(1700000000000000000L) + col("id") * lit(3600000000000L)).as("ts"),
      when(col("id") < 30000, lit(0L))
        .otherwise(pmod(col("id"), lit(149)) + 1L).as("user_id"),
      when(col("id") % 2 === 0, lit("purchase")).otherwise(lit("click"))
        .as("event_type"),
      (col("id") % 100).cast("double").as("value"),
      md5(col("id").cast("string")).as("props"))
      .write.parquet(s"$dir/events.parquet")

    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val plain = SparkEntry.queries("el_attribution")(spark, dir)
        .collect().map(_.toString).sorted

      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
      val df = SparkEntry.queries("el_attribution")(spark, dir)
      val split = df.collect().map(_.toString).sorted
      assert(split === plain, "skew split changed el_attribution's results")

      val fin = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p                        => p
      }
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] =
        p.collect { case n => n }.flatMap {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            q +: nodes(q.plan)
          case n => Seq(n)
        }
      val skewJoins = nodes(fin).collect {
        case j: SortMergeJoinExec if j.isSkewJoin => j }
      assert(skewJoins.nonEmpty,
        "stock AQE did not split el_attribution's hot-user join:\n" + fin)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
