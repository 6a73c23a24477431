package graft.tools

/** Audit of Bench's timing action (round 10): for every declared query,
  * compare the OPTIMIZED plan under a count() action against the plan
  * the write path executes, and flag queries whose expensive operators
  * vanish under count().
  *
  * Why: Catalyst's join elimination removes a row-preserving join when
  * the action observes only row counts — a left-outer join against a
  * distinct/unique right side contributes no rows and (under count) no
  * columns, so the optimizer deletes it. That is CORRECT optimization
  * and exactly what a production `SELECT COUNT(*)` should do — but it
  * makes a count()-actioned bench understate any query whose expensive
  * subtree feeds only such joins. Round 9's case: ss_semdedup benched
  * ~1 s while its write path paid 272 s of pair cosines at sf10.
  *
  * Method: node multisets of `df.groupBy().count()`'s optimizedPlan vs
  * `df`'s own optimizedPlan (what any sink executes — noop, parquet, or
  * Verify's write). A query is flagged when the count plan LOST join /
  * generate / window / aggregate nodes relative to the write plan.
  * Plan-only — nothing executes — so it runs in seconds at any SF.
  *
  * Usage: runMain graft.tools.ActionAudit [sfDir]
  */
object ActionAudit {
  private val heavy = Set("Join", "Window", "Generate", "Aggregate")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.Session.local(graft.Session.cpus(32),
      "spark.sql.shuffle.partitions" -> "32")
    spark.sparkContext.setLogLevel("ERROR")
    graft.queries.Warm.all(spark, sfDir)

    def nodeCounts(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Map[String, Int] =
      plan.collect { case n => n.nodeName }
        .groupBy(identity).map { case (k, v) => k -> v.size }

    var flagged = 0
    println("| query | nodes lost under count() |")
    println("|---|---|")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val writePlan = nodeCounts(df.queryExecution.optimizedPlan)
        val countPlan = nodeCounts(df.groupBy().count().queryExecution.optimizedPlan)
        // lost = in the write plan, absent (or fewer) in the count plan,
        // restricted to operator families that carry real work
        val lost = writePlan.toSeq
          .filter { case (n, _) => heavy.exists(n.contains) }
          .flatMap { case (n, c) =>
            val d = c - countPlan.getOrElse(n, 0)
            if (d > 0) Some(s"$n x$d") else None
          }
        // note: the count() wrapper only ever ADDS an Aggregate, so any
        // positive delta — including Aggregate — is a genuine loss
        if (lost.nonEmpty) {
          flagged += 1
          println(s"| $name | ${lost.mkString(", ")} |")
        }
      } catch {
        case e: Throwable =>
          println(s"| $name | AUDIT ERROR: ${e.getMessage} |")
      }
    }
    println(s"\nflagged: $flagged of ${graft.SparkEntry.queries.size}")
    spark.stop()
  }
}
