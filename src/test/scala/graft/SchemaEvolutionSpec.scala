package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The topic log's schema-evolution contract: additive widening is
  * allowed (old rows read as null through the merge-aware consume
  * paths), while column drops and type changes fail LOUDLY before any
  * append — a mixed-schema parquet log silently loses columns on plain
  * reads, the failure class CorruptFileSpec bans for corrupt parts.
  */
class SchemaEvolutionSpec extends SparkSpec {

  private def freshTopic(): String =
    Files.createTempDirectory("schema-topic").toString

  private def batch(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, java.sql.Timestamp.valueOf(f"2026-01-01 00:00:${i % 60}%02d"),
                  i.toLong % 7, "view", i * 1.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("additive widening publishes, and old rows read as null") {
    val dir = freshTopic()
    Topic.publish(batch(0 until 20), dir)
    val widened = batch(20 until 30).withColumn("schema_v", lit(2))
    Topic.publish(widened, dir) // must NOT throw
    val all = Topic.openReader(spark, dir)
    assert(all.columns.contains("schema_v"))
    assert(all.count() == 30)
    // offsets continue densely across the widening
    assert(all.agg(max("offset")).head.getLong(0) == 29L)
    val nNulls = all.filter(col("schema_v").isNull).count()
    assert(nNulls == 20, s"old rows must read schema_v as null, got $nNulls")
    assert(all.filter(col("schema_v") === 2).count() == 10)
    // point reads through consume see the widened column too
    assert(Topic.consume(spark, dir, 5).columns.contains("schema_v"))
  }

  test("dropping an event column fails loudly before any append") {
    val dir = freshTopic()
    Topic.publish(batch(0 until 10), dir)
    val narrowed = batch(10 until 15).drop("value")
    val e = intercept[IllegalArgumentException](Topic.publish(narrowed, dir))
    assert(e.getMessage.contains("drops"), e.getMessage)
    // nothing was appended
    assert(Topic.openReader(spark, dir).count() == 10)
  }

  test("changing a column's type fails loudly before any append") {
    val dir = freshTopic()
    Topic.publish(batch(0 until 10), dir)
    val retyped = batch(10 until 15).withColumn("value", col("value").cast("string"))
    val e = intercept[IllegalArgumentException](Topic.publish(retyped, dir))
    assert(e.getMessage.contains("type"), e.getMessage)
    assert(Topic.openReader(spark, dir).count() == 10)
  }

  test("compacting a widened topic carries the new column") {
    val dir = freshTopic()
    Topic.publish(batch(0 until 10), dir)
    Topic.publish(batch(0 until 10).withColumn("schema_v", lit(2)), dir)
    Topic.compact(spark, dir, "event_id")
    val compacted = Topic.openReader(spark, dir)
    assert(compacted.columns.contains("schema_v"))
    // latest-per-key wins: every survivor is from the widened batch
    assert(compacted.count() == 10)
    assert(compacted.filter(col("schema_v") === 2).count() == 10)
  }

  test("idempotent publish enforces the same contract") {
    val dir = freshTopic()
    assert(Topic.publishIdempotent(batch(0 until 10), dir, "p1", 0L))
    val narrowed = batch(10 until 15).drop("event_type")
    intercept[IllegalArgumentException](
      Topic.publishIdempotent(narrowed, dir, "p1", 1L))
    assert(Topic.openReader(spark, dir).count() == 10)
  }

  test("a duplicate retry of a pre-widening batch is dropped, not schema-rejected") {
    // at-least-once delivery: p1 commits seq 0, the topic is widened by
    // another producer, then p1's retry of seq 0 arrives WITHOUT the new
    // column. The retry is of a batch the log already holds — it must
    // return false (duplicate dropped), not crash the producer on a
    // schema contract it never violated (the check gates only batches
    // that actually append).
    val dir = freshTopic()
    val b0 = batch(0 until 10)
    assert(Topic.publishIdempotent(b0, dir, "p1", 0L))
    Topic.publish(batch(10 until 15).withColumn("schema_v", lit(2)), dir)
    assert(!Topic.publishIdempotent(b0, dir, "p1", 0L)) // dup dropped, no throw
    assert(Topic.openReader(spark, dir).count() == 15)
    // and a FRESH batch from p1 still has the contract enforced
    intercept[IllegalArgumentException](
      Topic.publishIdempotent(b0.drop("value"), dir, "p1", 1L))
  }

  test("nullability flips are not type changes") {
    // a column built from literals round-trips through parquet with
    // containsNull/nullable flipped — physical writer artifacts, not a
    // logical type change; the same producer's next publish must pass
    val dir = freshTopic()
    import org.apache.spark.sql.types._
    val withTags = batch(0 until 10).withColumn("tags", array(lit("a"), lit("b")))
    assert(withTags.schema("tags").dataType == ArrayType(StringType, containsNull = false))
    Topic.publish(withTags, dir)
    // parquet reads the column back containsNull=true; re-publishing the
    // read-back shape (what a consume→transform→publish pipeline sends)
    // must not be rejected
    val readBack = Topic.openReader(spark, dir).drop("offset").limit(5)
    assert(readBack.schema("tags").dataType == ArrayType(StringType, containsNull = true))
    Topic.publish(readBack, dir) // must NOT throw
    assert(Topic.openReader(spark, dir).count() == 15)
    // a REAL element-type change is still rejected
    val retyped = withTags.withColumn("tags", array(lit(1), lit(2)))
    intercept[IllegalArgumentException](Topic.publish(retyped, dir))
  }

  test("the merged-schema cache sees appends made by other writers") {
    // the cache is keyed on a listing fingerprint, NOT invalidated by
    // this process's publishes — so a file appended by ANOTHER process
    // (simulated here with a direct parquet append) must still be
    // picked up by the next consume: the fingerprint changes, the
    // cached schema is discarded, and the widened column appears
    val dir = freshTopic()
    Topic.publish(batch(0 until 10), dir)
    assert(!Topic.consume(spark, dir, 0).columns.contains("other_v")) // cache warm
    batch(10 until 12).withColumn("other_v", lit(9))
      .withColumn("offset", lit(90L) + col("event_id")) // event_id 10,11 → 100,101
      .write.mode("append").parquet(dir) // a foreign writer, no Topic API
    val after = Topic.consume(spark, dir, 100, 2)
    assert(after.columns.contains("other_v"),
      "consume must see a column added by an out-of-process writer")
    assert(after.count() == 2)
  }

  test("consumeSince, readCommitted and describe read a widened topic whole") {
    val root = freshTopic()
    val c = new Cascade(spark, root)
    c.publish("t", batch(0 until 20))
    c.publish("t", batch(20 until 30).withColumn("schema_v", lit(2)))
    Seq("consumeSince" -> c.consumeSince("t", new java.sql.Timestamp(0L)),
        "readCommitted" -> c.readCommitted("t")).foreach { case (what, df) =>
      assert(df.columns.contains("schema_v"), s"$what: ${df.columns.mkString(",")}")
      assert(df.count() == 30, what)
      assert(df.filter(col("schema_v").isNull).count() == 20, s"$what: old rows must read null")
    }
    val d = c.describe("t").head()
    assert(d.getAs[Long]("n_events") == Topic.mergedRead(spark, s"$root/t").count())
    assert(d.getAs[Long]("high_water_mark") == 29L)
  }

  test("streaming publish enforces the contract at start") {
    // publishStream is the third append path into a topic dir; without
    // the start-time check it would be the hole through which a
    // dropped column silently corrupts the log
    val dir = freshTopic()
    Topic.publish(batch(0 until 10), dir)
    val ckpt = Files.createTempDirectory("schema-ckpt").toString
    val src = Files.createTempDirectory("schema-src").toString
    batch(10 until 15).drop("value").write.mode("overwrite").parquet(src)
    val narrowed = spark.readStream
      .schema(batch(0 until 1).drop("value").schema)
      .parquet(src)
    val e = intercept[IllegalArgumentException](
      graft.streaming.EventStream.publishStream(narrowed, dir, ckpt))
    assert(e.getMessage.contains("drops"), e.getMessage)
    assert(Topic.openReader(spark, dir).count() == 10) // nothing appended
  }
}
