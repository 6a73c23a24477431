package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.EventStream

/** The reference-shaped client facade + sliding windows. */
class CascadeSpec extends SparkSpec {

  test("cascade client: publish, consume, metadata round-trip") {
    val root = Files.createTempDirectory("cascade").toString
    val c    = new Cascade(spark, root)
    val ev   = Tables.events(spark, sf).limit(120)
    c.publish("telemetry", ev)
    assert(c.topics() === Seq("telemetry"))
    // the reference consumer's exact call: offset 4, one event back
    val one = c.consume("telemetry", 4).collect()
    assert(one.length === 1 && one.head.getAs[Long]("offset") === 4L)
    // batched consume (proto's repeated Event)
    assert(c.consumeBatch("telemetry", 10, 5).count() === 5)
    // describe = registration record
    val desc = c.describe("telemetry").head()
    assert(desc.getAs[Long]("n_events") === 120L)
    assert(desc.getAs[Long]("high_water_mark") === 119L)
    // consumeSince honors event time: EXACT count of events at/after the
    // cut (a consumeSince that ignored the timestamp would return all
    // 120 and fail)
    val mid = ev.orderBy("ts").limit(60).agg(max(col("ts"))).head().getTimestamp(0)
    val expectedSince = ev.filter(col("ts") >= mid).count()
    assert(expectedSince < 120L)
    assert(c.consumeSince("telemetry", mid).count() === expectedSince)
    // HTTP-ingress datum (ExpressDataToProducer{int32}) appends one event
    c.ingestValue("ingress", 42)
    assert(c.consume("ingress", 0).head().getAs[Double]("value") === 42.0)
  }

  test("consumer group: commit, restart, resume from committed, lag reported") {
    val root = Files.createTempDirectory("cascade-group").toString
    val c    = new Cascade(spark, root)
    c.publish("t", Tables.events(spark, sf).limit(20))

    // new group starts at 0; poll does NOT advance the position
    assert(c.poll("g1", "t", 5).collect().map(_.getAs[Long]("offset")).toSeq ===
      (0L until 5L))
    assert(c.poll("g1", "t", 5).collect().map(_.getAs[Long]("offset")).toSeq ===
      (0L until 5L), "poll must not auto-commit")

    // commit after processing (Kafka semantics: next offset to read)
    c.commitOffset("g1", "t", 5)
    val lag1 = c.lag("g1", "t").head()
    assert(lag1.getAs[Long]("committed_next") === 5L)
    assert(lag1.getAs[Long]("high_water_mark") === 19L)
    assert(lag1.getAs[Long]("lag") === 15L)

    // RESTART: a fresh client on the same root resumes from the commit
    val c2 = new Cascade(spark, root)
    assert(c2.poll("g1", "t", 5).collect().map(_.getAs[Long]("offset")).toSeq ===
      (5L until 10L), "restarted consumer must resume from the committed position")
    // groups are independent; seek rewinds durably
    assert(c2.poll("g2", "t", 3).collect().map(_.getAs[Long]("offset")).toSeq ===
      (0L until 3L))
    c2.seek("g1", "t", 2)
    assert(c2.poll("g1", "t", 2).collect().map(_.getAs[Long]("offset")).toSeq ===
      (2L until 4L))
    // a commit beyond the head fails loudly
    intercept[IllegalArgumentException] { c2.commitOffset("g1", "t", 99) }
    // group state is control plane, not a topic
    assert(c2.topics() === Seq("t"))
  }

  test("consumer group on a sharded topic: per-shard positions and lag") {
    val root = Files.createTempDirectory("cascade-group-sh").toString
    val c    = new Cascade(spark, root)
    val ev   = Tables.events(spark, sf).limit(40)
    // a null event_id hashes to a null shard, which is in no ordinal sequence
    val nullShard = ev.limit(1).withColumn("event_id", lit(null).cast(ev.schema("event_id").dataType))
    Topic.publishPartitioned(ev.unionByName(nullShard), s"$root/t", shards = 2)

    val hwms = spark.read.parquet(s"$root/t").filter(col("shard").isNotNull).groupBy("shard")
      .agg(max(col("offset")).as("hwm")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    c.commitOffset("g", "t", 4, shard = Some(0))
    c.commitOffset("g", "t", 7, shard = Some(1))
    // poll addresses (shard, offset) like a Kafka partition read
    assert(c.poll("g", "t", 2, shard = Some(0)).collect()
      .map(_.getAs[Long]("offset")).toSeq === Seq(4L, 5L))
    val lags = c.lag("g", "t").collect()
      .map(r => r.getAs[Int]("shard") ->
        ((r.getAs[Long]("committed_next"), r.getAs[Long]("lag")))).toMap
    assert(lags(0) === ((4L, hwms(0) + 1L - 4L)))
    assert(lags(1) === ((7L, hwms(1) + 1L - 7L)))
    // committing the whole log as one batch moves every shard to its head
    // and commits nothing for the null shard
    c.commitBatch("g2", "t", spark.read.parquet(s"$root/t"))
    assert(c.committedOffsets("g2", "t") === hwms.map { case (sh, h) => sh -> (h + 1L) })
  }

  test("offsetsForTimes: the earliest offset at-or-after a probe time") {
    val root = Files.createTempDirectory("cascade-oft").toString
    val c    = new Cascade(spark, root)
    val ev   = Tables.events(spark, sf).limit(50)
    c.publish("t", ev)

    // probe at the 30th event's timestamp (log order = (ts, event_id));
    // ties in ts around the cut make the assertion exact either way
    // because we recompute the expectation from the log itself
    val log = spark.read.parquet(s"$root/t")
    val probe = log.orderBy("offset").collect()(30).getAs[java.sql.Timestamp]("ts")
    val want = log.filter(col("ts") >= lit(probe)).agg(min(col("offset")))
      .head().getLong(0)
    assert(c.offsetsForTimes("t", probe) === Map(-1 -> want))

    // the round-trip Kafka promises: seek to it, poll, and every event
    // polled is at-or-after the probe
    c.seek("g", "t", want)
    val polled = c.poll("g", "t", 5).collect()
    assert(polled.head.getAs[Long]("offset") === want)
    assert(polled.forall(!_.getAs[java.sql.Timestamp]("ts").before(probe)))

    // a probe past the log head: no offset (Kafka's null)
    val afterAll = new java.sql.Timestamp(
      log.agg(max(col("ts"))).head().getTimestamp(0).getTime + 1000L)
    assert(c.offsetsForTimes("t", afterAll) === Map.empty)

    // sharded topic: one answer per shard that has eligible events; the
    // latest event again with a null event_id lands in a null shard, which
    // is in no ordinal sequence and has no answer
    val nullShard = ev.orderBy(col("ts").desc).limit(1)
      .withColumn("event_id", lit(null).cast(ev.schema("event_id").dataType))
    Topic.publishPartitioned(ev.unionByName(nullShard), s"$root/ts2", shards = 2)
    val slog = spark.read.parquet(s"$root/ts2").filter(col("shard").isNotNull)
    val wantSh = slog.filter(col("ts") >= lit(probe)).groupBy("shard")
      .agg(min(col("offset"))).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(new Cascade(spark, root).offsetsForTimes("ts2", probe) === wantSh)
  }

  test("rebalance + generation fencing: stale or unowned commits are rejected") {
    val root = Files.createTempDirectory("cascade-fence").toString
    val c    = new Cascade(spark, root)
    Topic.publishPartitioned(Tables.events(spark, sf).limit(40), s"$root/t", shards = 4)

    // range assignment: 4 shards over 2 members, contiguous, sorted
    val (gen1, a1) = c.rebalance("g", "t", Seq("m2", "m1"))
    assert(gen1 === 1L)
    assert(a1 === Map("m1" -> Seq(0, 1), "m2" -> Seq(2, 3)))
    assert(c.assignment("g", "t") === ((1L, a1)), "membership must persist")

    // owned commit at the current generation succeeds
    c.commitOffsetFenced("g", "t", 3, memberId = "m1", generation = 1L, shard = Some(0))
    assert(c.committedOffsets("g", "t") === Map(0 -> 3L))

    // a commit for a shard the member does not own is fenced
    val e1 = intercept[IllegalStateException] {
      c.commitOffsetFenced("g", "t", 3, memberId = "m1", generation = 1L, shard = Some(2))
    }
    assert(e1.getMessage.contains("does not own shard 2"))

    // rebalance to 3 members: generation bumps, remainder to the first
    val (gen2, a2) = c.rebalance("g", "t", Seq("m1", "m2", "m3"))
    assert(gen2 === 2L)
    assert(a2 === Map("m1" -> Seq(0, 1), "m2" -> Seq(2), "m3" -> Seq(3)))

    // the zombie: m2 kept processing with generation 1 — its commit is
    // rejected even for a shard it still owns under the new assignment
    val e2 = intercept[IllegalStateException] {
      c.commitOffsetFenced("g", "t", 9, memberId = "m2", generation = 1L, shard = Some(2))
    }
    assert(e2.getMessage.contains("generation"))
    // and the earlier commit survives untouched by the fenced attempts
    assert(c.committedOffsets("g", "t") === Map(0 -> 3L))

    // re-joined at the current generation, the same commit lands
    c.commitOffsetFenced("g", "t", 9, memberId = "m2", generation = 2L, shard = Some(2))
    assert(c.committedOffsets("g", "t") === Map(0 -> 3L, 2 -> 9L))

    // an unsharded topic assigns the single -1 sequence to one member
    c.publish("u", Tables.events(spark, sf).limit(10))
    val (_, au) = c.rebalance("g", "u", Seq("b", "a"))
    assert(au === Map("a" -> Seq(-1), "b" -> Seq.empty))
    c.commitOffsetFenced("g", "u", 4, memberId = "a", generation = 1L)
    val e3 = intercept[IllegalStateException] {
      c.commitOffsetFenced("g", "u", 4, memberId = "b", generation = 1L)
    }
    assert(e3.getMessage.contains("does not own"))
  }

  test("membership JSON escapes member ids: a quote in one keeps fencing working") {
    val c = new Cascade(spark, Files.createTempDirectory("cascade-quote").toString)
    c.publish("t", Tables.events(spark, sf).limit(10))
    val (gen, asg) = c.rebalance("g", "t", Seq("m\"1", "m\\2"))
    assert(asg === Map("m\"1" -> Seq(-1), "m\\2" -> Seq.empty))
    assert(c.assignment("g", "t") === ((gen, asg)))
    c.commitOffsetFenced("g", "t", 4, memberId = "m\"1", generation = gen)
    assert(c.committedOffsets("g", "t") === Map(-1 -> 4L))
  }

  test("rebalance reads the shard set from the directory layout, never the data") {
    val root = Files.createTempDirectory("cascade-layout").toString
    val c    = new Cascade(spark, root)
    // a topic whose shard LAYOUT exists but whose segment bytes are not
    // readable parquet: any implementation that scans data to discover
    // shards fails here; the layout-based one must not touch a byte of
    // it (at 100 TB the shard set is topic metadata, not a log scan)
    for (sh <- Seq(0, 2, 5)) {
      val sd = new java.io.File(s"$root/lt/shard=$sh"); sd.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(sd, "seg.parquet").toPath, "not parquet at all")
    }
    val (gen, asg) = c.rebalance("g", "lt", Seq("m1", "m2"))
    assert(gen === 1L)
    assert(asg === Map("m1" -> Seq(0, 2), "m2" -> Seq(5)))
    // sparse shard ids (0, 2, 5) come through verbatim — the listing is
    // the truth, not an assumed 0..n-1 range
  }

  test("retention past a group's commit: poll resets to earliest, Kafka-style") {
    val root = Files.createTempDirectory("cascade-reset").toString
    val c    = new Cascade(spark, root)
    c.publish("t", Tables.events(spark, sf).limit(30))
    c.commitOffset("g", "t", 5)
    // retention expires offsets 0..19 while the group is away
    Topic.retain(spark, s"$root/t", maxEvents = Some(10L))
    // round 9: the maintenance-epoch guard fences the group first — the
    // reset is behind the deliberate accept (which reports the 1 moved
    // position), not silent
    intercept[IllegalStateException] { c.poll("g", "t", 4) }
    assert(c.acceptMaintenance("g", "t") === 1L)
    // committed 5 now points below the earliest retained offset (20):
    // poll must resume from the earliest survivor, not return empty
    val got = c.poll("g", "t", 4).collect().map(_.getAs[Long]("offset")).toSeq
    assert(got === (20L until 24L),
      s"poll after retention should reset to the earliest retained offset, got $got")
    // lag still reports against the live head
    assert(c.lag("g", "t").head().getAs[Long]("high_water_mark") === 29L)
    // an in-range commit is unaffected by the reset rule
    c.commitOffset("g", "t", 25)
    assert(c.poll("g", "t", 2).collect().map(_.getAs[Long]("offset")).toSeq ===
      Seq(25L, 26L))
  }

  test("lag on a zero-row topic reports high_water_mark -1") {
    val root = Files.createTempDirectory("cascade-empty").toString
    val c    = new Cascade(spark, root)
    // a topic whose only data file holds no rows: it exists (requireTopic
    // passes) but has no head, which lag must report, not dereference
    Tables.events(spark, sf).limit(0).withColumn("offset", lit(0L))
      .write.parquet(s"$root/empty")
    val r = c.lag("g", "empty").collect()
    assert(r.length === 1)
    assert(r.head.getAs[Int]("shard") === -1)
    assert(r.head.getAs[Long]("committed_next") === 0L)
    assert(r.head.getAs[Long]("high_water_mark") === -1L)
    assert(r.head.getAs[Long]("lag") === 0L)
  }

  test("sliding windows double-count each event across two panes") {
    val dir = Files.createTempDirectory("slide").toString + "/t"
    Tables.events(spark, sf).limit(400).repartition(2).write.parquet(dir)
    val q = EventStream.slidingCounts(EventStream.ingest(spark, dir, 1))
      .writeStream.format("memory").queryName("sliding").outputMode("complete")
      .option("checkpointLocation", Files.createTempDirectory("ckpt-slide").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // every event appears in exactly 2 panes (10-min window, 5-min slide)
    val total = spark.table("sliding").agg(sum(col("n_events"))).head().getLong(0)
    assert(total === 800L)
  }
}
