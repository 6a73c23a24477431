package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The SQL front door to topics: `spark.sql.catalog.graft = TopicCatalog`
  * makes every topic under the root a queryable table with parquet
  * pushdown, merged (widened) schemas, discovery, and the write-path
  * contract (reads yes, INSERT no, DROP = topic retirement).
  */
class TopicCatalogSpec extends SparkSpec {

  private lazy val root = {
    val r = Files.createTempDirectory("graft-catalog").toString
    import spark.implicits._
    val ev = (0 until 50).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2026-01-01 00:00:${i % 60}%02d"),
       i.toLong % 7, "view", i * 1.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    Topic.publish(ev, s"$r/clicks")
    Topic.publish(ev.limit(10).withColumn("schema_v", lit(2)), s"$r/clicks") // widen
    Topic.publish(ev.limit(20), s"$r/purchases")
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.TopicCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", r)
    r
  }

  test("SELECT over a topic, with the offset predicate pushed to parquet") {
    root
    val df = spark.sql("SELECT event_id, offset FROM graft.clicks WHERE offset = 5")
    assert(df.count() == 1)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("offset"),
      s"offset predicate must reach the scan:\n${scan.take(800)}")
    // full count spans both publishes
    assert(spark.sql("SELECT count(*) AS n FROM graft.clicks").head.getLong(0) == 60L)
  }

  test("a widened topic's SQL readers see the merged schema") {
    root
    val cols = spark.sql("SELECT * FROM graft.clicks").columns
    assert(cols.contains("schema_v"), cols.mkString(","))
    // old rows are null, the widened publish's rows carry the value
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.clicks WHERE schema_v = 2").head.getLong(0) == 10L)
  }

  test("discovery: SHOW TABLES lists every topic under the root") {
    // a group commit creates `_groups/` under the root: control plane, not a topic
    new Cascade(spark, root).commitOffset("g", "clicks", 1L)
    val names = spark.sql("SHOW TABLES IN graft").select("tableName")
      .collect().map(_.getString(0)).toSet
    assert(names == Set("clicks", "purchases"), names.mkString(","))
  }

  test("INSERT is rejected: the read-only facade hides SupportsWrite") {
    // ParquetTable itself is writable — returning it raw would let SQL
    // INSERT append lock-less, offset-less files into the log. The
    // analyzer must reject the write at resolution time, and the log
    // must be byte-identical afterwards.
    root
    val before = spark.sql("SELECT count(*) AS n FROM graft.clicks").head.getLong(0)
    val e = intercept[Exception](
      spark.sql("INSERT INTO graft.clicks VALUES (99, TIMESTAMP'2026-01-01 00:00:00', 1, 'view', 1.0, NULL, 99)"))
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " " + msgs(t.getCause)
    assert(msgs(e).toLowerCase.contains("does not support") ||
           msgs(e).toLowerCase.contains("unsupported"), msgs(e))
    assert(spark.sql("SELECT count(*) AS n FROM graft.clicks").head.getLong(0) == before)
  }

  test("DROP TABLE retires the topic; a missing table errors on load") {
    root
    assert(spark.sql("SELECT count(*) FROM graft.purchases").head.getLong(0) == 20L)
    spark.sql("DROP TABLE graft.purchases")
    val names = spark.sql("SHOW TABLES IN graft").select("tableName")
      .collect().map(_.getString(0)).toSet
    assert(!names.contains("purchases"))
    intercept[Exception](spark.sql("SELECT * FROM graft.purchases").collect())
  }
}
