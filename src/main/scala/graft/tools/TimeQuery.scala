package graft.tools

/** Dev aid: time declared queries end-to-end, warm JVM, without paying
  * for the whole Bench sweep. The action matches Bench's noop-sink
  * write (full plan, every column materialized — count() lets Catalyst
  * eliminate row-preserving joins; see SCALING.md round 9); pass
  * `count` as the 4th arg to measure the count-action plan instead.
  * `runMain graft.tools.TimeQuery <name>[,<name>…] [sfDir] [reps] [action]`. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val d     = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps  = if (args.length > 2) args(2).toInt else 3
    // 32 fits sf ≤ 10; the sf100 audit sets SPARK_GRAFT_SHUFFLE=128 so
    // a 600M-row shuffle partition stays spill-free (same rule the
    // 100 TB sizing note in Portable.scala states: partitions scale
    // with the data, the code doesn't change)
    val spark = graft.Session.local(32,
      "spark.sql.shuffle.partitions" -> sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val action = if (args.length > 3) args(3) else "noop"
    for (name <- names; i <- 1 to reps) {
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, d)
      val tag =
        if (action == "count") s"rows=${df.count()}"
        else { df.write.format("noop").mode("overwrite").save(); "noop" }
      println(f"$name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($tag)")
    }
    spark.stop()
  }
}
