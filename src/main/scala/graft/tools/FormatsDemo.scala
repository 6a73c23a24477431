package graft.tools

import graft.Tables
import graft.sources.FileFormats
import graft.streaming.EventStream

/** Drive the file-format round-trips and the SparkSessionExtensions
  * injection end-to-end. `runMain graft.tools.FormatsDemo [sfDir]`. */
object FormatsDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local(4,
      "spark.sql.extensions" -> classOf[graft.plans.GraftExtensions].getName)
    spark.sparkContext.setLogLevel("ERROR")
    // extensions-injected custom expression, resolved from SQL
    println("GRAFT_DOT via SQL: " + spark.sql(
      """SELECT graft_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                 array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT))) AS d""".stripMargin)
      .head().getDouble(0))
    val base = java.nio.file.Files.createTempDirectory("formats").toString
    val ev   = Tables.events(spark, sfDir)
    FileFormats.writeJsonl(ev, s"$base/jsonl")
    FileFormats.writeCsv(ev, s"$base/csv")
    val j = FileFormats.readJsonl(spark, s"$base/jsonl", EventStream.topicSchema)
    val c = FileFormats.readCsv(spark, s"$base/csv", EventStream.topicSchema)
    println(s"JSONL round-trip rows: ${j.count()} lossless: ${j.exceptAll(ev).isEmpty}")
    println(s"CSV   round-trip rows: ${c.count()} lossless: ${c.exceptAll(ev).isEmpty}")
    spark.stop()
  }
}
