package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.EventStream

/** End-to-end usage example of the cascade pipeline, Spark-first:
  * publish → rate-limited stream ingest → exactly-once re-publish →
  * windowed aggregation. `runMain graft.StreamDemo [sfDir]`.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(Session.cpus(4), "spark.sql.shuffle.partitions" -> "4")
    spark.sparkContext.setLogLevel("ERROR")
    val base = java.nio.file.Files.createTempDirectory("graft-demo").toString

    // 1. publish the corpus into a topic — the broker append path (R10),
    //    through the reference-shaped client facade
    val cascade = new Cascade(spark, base)
    cascade.publish("topic", Tables.events(spark, sfDir))
    println(s"TOPIC rows: ${Topic.openReader(spark, s"$base/topic").count()}")
    println("CONSUME offset 4: " +
      cascade.consume("topic", 4)
        .select("event_id", "event_type").collect().mkString)
    println("TOPICS: " + cascade.topics().mkString(","))
    println("DESCRIBE: " + cascade.describe("topic").collect().mkString)
    // R2 admission control: ring-buffer ack semantics (capacity 2 → third
    // datum rejected with ack 0)
    println("INGRESS acks: " + Seq(7, 8, 9).map(v =>
      if (cascade.ingestValue("ingress", v, capacity = 2)) 1 else 0).mkString(","))

    // 1b. LIVE push ingress (R1, the reference's defining entry point):
    //     data pushed from application code lands in a RUNNING stream
    //     via the graft-push DSv2 source, then drains into a durable
    //     topic — the Express → ring → drain loop end-to-end
    val live = cascade.liveStream("live", capacity = 4)
      .select(col("offset").as("event_id"), col("ts"),
              lit(0L).as("user_id"), lit("ingress").as("event_type"),
              col("data").cast("double").as("value"), lit("{}").as("props"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Topic.publish(batch, s"$base/live")
      }
      .option("checkpointLocation", s"$base/ckpt-live")
      .start()
    val acks = (1 to 5).map(v => if (cascade.ingestLive("live", v, capacity = 4)) 1 else 0)
    live.processAllAvailable(); live.stop()
    println(s"LIVE acks: ${acks.mkString(",")} (5th rejected: ring full)")
    println(s"LIVE drained rows: ${Topic.openReader(spark, s"$base/live").count()}")

    // 2. stream it back out, rate-limited, exactly-once (R1-R3 + R10)
    EventStream.publishStream(
      EventStream.ingest(spark, s"$base/topic", maxFilesPerTrigger = 2),
      s"$base/sink", s"$base/ckpt").awaitTermination()
    println(s"SINK rows: ${spark.read.parquet(s"$base/sink").count()}")

    // 3. watermarked tumbling-window aggregation over the stream
    val q = EventStream.tumblingCounts(
        EventStream.ingest(spark, s"$base/topic", maxFilesPerTrigger = 2))
      .writeStream.format("memory").queryName("agg").outputMode("complete")
      .option("checkpointLocation", s"$base/ckpt2")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    println(s"AGG buckets: ${spark.table("agg").count()}")
    spark.table("agg").orderBy(desc("n_events"), col("bucket_start")).show(3)

    // 4. stream-static enrichment against the customer dimension
    val q3 = graft.streaming.EventStream.enrich(
        EventStream.ingest(spark, s"$base/topic", maxFilesPerTrigger = 2),
        Tables.customer(spark, sfDir))
      .writeStream.format("memory").queryName("enriched").outputMode("append")
      .option("checkpointLocation", s"$base/ckpt3")
      .trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination()
    println(s"ENRICHED rows: ${spark.table("enriched").count()}" +
      s" (matched: ${spark.table("enriched").filter(col("c_name").isNotNull).count()})")

    // 5. R9 synthetic generator: rate source shaped as cascade events
    val qs = EventStream.synthetic(spark, rowsPerSecond = 200)
      .writeStream.format("memory").queryName("synth").outputMode("append")
      .option("checkpointLocation", s"$base/ckpt4").start()
    qs.processAllAvailable(); Thread.sleep(1500); qs.processAllAvailable(); qs.stop()
    println("SYNTH sample: " + spark.table("synth").orderBy("event_id")
      .select("event_id", "event_type", "value").limit(3).collect().mkString(" "))

    // 6. transformWithState: per-user rolling stats over the topic stream
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val qt = graft.streaming.UserStatsProcessor(
        EventStream.typed(EventStream.ingest(spark, s"$base/topic", 2)))
      .toDF().writeStream.format("memory").queryName("tws").outputMode("update")
      .option("checkpointLocation", s"$base/ckpt5")
      .trigger(Trigger.AvailableNow()).start()
    qt.awaitTermination()
    println("TWS top user: " + spark.table("tws")
      .orderBy(desc("n_events"), desc("user_id")).limit(1).collect().mkString)

    // 7. log compaction: keep the latest event per user (Kafka-style);
    //    the offset-carrying topic is the compactable log (raw stream
    //    sinks have no ordinals)
    Topic.compact(spark, s"$base/topic", "user_id")
    println(s"COMPACTED topic rows: ${Topic.openReader(spark, s"$base/topic").count()}")

    // 8. multimodal: binary assets → per-partition decode → kind stats
    val feats = graft.operators.Multimodal.decode(
      graft.operators.Multimodal.assetsFromDocuments(Tables.documents(spark, sfDir)))
    graft.operators.Multimodal.kindStats(feats).show()
    spark.stop()
  }
}
