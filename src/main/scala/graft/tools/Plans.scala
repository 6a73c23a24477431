package graft.tools

import graft.SparkEntry

/** Dump formatted physical plans for declared queries (dev aid for the
  * scale audit). `runMain graft.tools.Plans <sfDir> [query...]`. */
object Plans {
  def main(args: Array[String]): Unit = {
    val d     = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
