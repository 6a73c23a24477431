package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Topic layer properties — the reference's log semantics
  * (/root/reference/src/broker/main.rs): publish appends in order, offsets
  * are dense, consume(n) returns the n-th event in (ts, event_id) order.
  */
class TopicSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-topic").toString + "/t"

  test("publish assigns dense offsets in (ts, event_id) order") {
    val dir = tmpDir()
    val ev  = Tables.events(spark, sf).limit(200)
    Topic.publish(ev, dir)
    val log = spark.read.parquet(dir)
    assert(log.count() === 200)
    val offsets = log.select("offset").orderBy("offset")
      .collect().map(_.getLong(0)).toSeq
    assert(offsets === (0L until 200L))
    // offset order == (ts, event_id) order
    val byOffset = log.orderBy("offset").select("event_id").collect().map(_.getLong(0)).toSeq
    val byTime   = ev.orderBy("ts", "event_id").select("event_id").collect().map(_.getLong(0)).toSeq
    assert(byOffset === byTime)
  }

  test("publish ordinal assignment has no single-partition stage") {
    // BEHAVIORAL lock on Topic.assignOffsets itself (a plan assertion on
    // a hand-built orderBy would stay green if assignOffsets regressed
    // to a global window): the output must span multiple non-empty
    // partitions — a row_number() over an unpartitioned window funnels
    // every row into exactly one
    val ev = Tables.events(spark, sf).filter(col("event_id") < 100)
    // AQE coalesces the tiny test sort to one partition regardless of
    // implementation — disable coalescing so partition spread reflects
    // the ALGORITHM, not the data size
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.get(coalesceKey, "true")
    val partSizes =
      try {
        spark.conf.set(coalesceKey, "false")
        Topic.assignOffsets(ev.repartition(4), 0L)
          .rdd.mapPartitions(it => Iterator(it.size)).collect()
      } finally spark.conf.set(coalesceKey, saved)
    assert(partSizes.count(_ > 0) > 1,
      s"ordinal assignment collapsed to one partition: ${partSizes.toSeq}")
    // and the parallel assignment equals the single-log spec: the i-th
    // event in (ts, event_id) order carries ordinal base+i
    val got = Topic.assignOffsets(ev, 7L)
      .orderBy("offset").select("event_id").collect().map(_.getLong(0)).toSeq
    val want = ev.orderBy("ts", "event_id").select("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(got === want)
    assert(Topic.assignOffsets(ev, 7L).agg(min(col("offset")), max(col("offset")))
      .head() match { case r => r.getLong(0) == 7L && r.getLong(1) == 106L })
  }

  test("second publish continues after the high-water mark") {
    val dir = tmpDir()
    val ev  = Tables.events(spark, sf)
    Topic.publish(ev.filter(col("event_id") < 50), dir)
    Topic.publish(ev.filter(col("event_id") >= 50 && col("event_id") < 80), dir)
    val log = spark.read.parquet(dir)
    assert(log.count() === 80)
    assert(log.agg(max(col("offset"))).head().getLong(0) === 79L)
    assert(log.select("offset").distinct().count() === 80)
  }

  test("consume(n) is the n-th published event; batched consume is ordered") {
    val dir = tmpDir()
    val ev  = Tables.events(spark, sf).limit(100)
    Topic.publish(ev, dir)
    val expected = ev.orderBy("ts", "event_id").limit(5).collect().map(_.getAs[Long]("event_id"))
    // the reference consumer's hardcoded read: offset 4
    val got = Topic.consume(spark, dir, 4).collect()
    assert(got.length === 1)
    assert(got.head.getAs[Long]("event_id") === expected(4))
    // batched consume (proto's repeated Event, consume.proto:23)
    val batch = Topic.consume(spark, dir, 0, 5).collect()
    assert(batch.map(_.getAs[Long]("event_id")).toSeq === expected.toSeq)
  }

  test("highWaterMark handles missing and zero-row topics") {
    assert(Topic.highWaterMark(spark, tmpDir()) === -1L)
    val dir = tmpDir()
    Tables.events(spark, sf).limit(0)
      .withColumn("offset", org.apache.spark.sql.functions.lit(0L))
      .write.parquet(dir)
    assert(Topic.highWaterMark(spark, dir) === -1L) // zero rows → null max
    Topic.publish(Tables.events(spark, sf).limit(5), dir)
    assert(Topic.highWaterMark(spark, dir) === 4L)
  }

  test("publishPartitioned continues per-shard offsets on repeated publishes") {
    val dir = tmpDir()
    val ev  = Tables.events(spark, sf)
    Topic.publishPartitioned(ev.filter(col("event_id") < 40), dir, shards = 4)
    Topic.publishPartitioned(ev.filter(col("event_id") >= 40 && col("event_id") < 80), dir, shards = 4)
    val log = spark.read.parquet(dir)
    assert(log.count() === 80)
    // offsets stay dense and unique per shard across both publishes
    val perShard = log.groupBy("shard")
      .agg(count(lit(1)).as("n"), max(col("offset")).as("mx"),
           countDistinct(col("offset")).as("nd"))
      .collect()
    perShard.foreach { r =>
      assert(r.getAs[Long]("mx") === r.getAs[Long]("n") - 1, s"shard ${r.get(0)}")
      assert(r.getAs[Long]("nd") === r.getAs[Long]("n"), s"shard ${r.get(0)}")
    }
  }

  test("consumeShard addresses (shard, offset) like a Kafka partition read") {
    val dir = tmpDir()
    Topic.publishPartitioned(Tables.events(spark, sf).limit(100), dir, shards = 4)
    (0 until 4).foreach { sh =>
      val got = Topic.consumeShard(spark, dir, sh, 0, 3).collect()
      assert(got.length === 3, s"shard $sh")
      assert(got.map(_.getAs[Long]("offset")).toSeq === Seq(0L, 1L, 2L))
      assert(got.forall(_.getAs[Int]("shard") === sh))
      // shard-local (ts, event_id) order
      val expected = spark.read.parquet(dir).filter(col("shard") === sh)
        .orderBy("ts", "event_id").limit(3)
        .collect().map(_.getAs[Long]("event_id")).toSeq
      assert(got.map(_.getAs[Long]("event_id")).toSeq === expected)
    }
    // the shard predicate prunes partitions at planning time
    val plan = Topic.consumeShard(spark, dir, 2, 0, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("shard"), plan)
  }

  test("compact keeps only the latest event per key") {
    val dir = tmpDir()
    val ev  = Tables.events(spark, sf).limit(300)
    Topic.publish(ev, dir)
    // capture the pre-compact log: the expected survivor per user is the
    // MAX-offset (latest) event — asserted exactly, so an inverted
    // (earliest-survivor) compact cannot pass
    val before = spark.read.parquet(dir)
      .select("user_id", "offset").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = before.groupBy(_._1).map { case (u, rs) => (u, rs.map(_._2).max) }.toSet
    Topic.compact(spark, dir, "user_id")
    val log = spark.read.parquet(dir)
    val got = log.select("user_id", "offset").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    assert(log.groupBy("user_id").count().filter(col("count") > 1).count() === 0)
  }

  test("compact on a sharded topic is per (key, shard) and keeps the layout") {
    val dir = tmpDir()
    Topic.publishPartitioned(Tables.events(spark, sf).limit(200), dir, shards = 4)
    // expected survivors: the max offset per (user, shard), captured
    // BEFORE compaction — Kafka semantics (offsets only comparable
    // within a shard)
    val expected = spark.read.parquet(dir)
      .select("user_id", "shard", "offset").collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2)))
      .groupBy(_._1).map { case (k, rs) => (k._1, k._2, rs.map(_._2).max) }.toSet
    Topic.compact(spark, dir, "user_id")
    val log = spark.read.parquet(dir)
    val got = log.select("user_id", "shard", "offset").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === expected)
    // the shard directory layout survived the rewrite (consumeShard prunes)
    val (hfs, p) = Topic.fs(spark, dir)
    assert(hfs.listStatus(p).exists(_.getPath.getName.startsWith("shard=")))
  }

  test("publish drops a pre-existing offset column and assigns fresh ordinals") {
    val dirA = tmpDir(); val dirB = tmpDir()
    Topic.publish(Tables.events(spark, sf).limit(50), dirA)
    // re-publish consumed rows (they carry an offset column) — must not
    // produce a duplicate column or stale ordinals
    Topic.publish(Topic.consume(spark, dirA, 10, 20), dirB)
    val log = spark.read.parquet(dirB)
    assert(log.columns.count(_ == "offset") === 1)
    assert(log.select("offset").orderBy("offset").collect().map(_.getLong(0)).toSeq
      === (0L until 20L))
  }

  test("registered topic view sees later publishes after refresh") {
    val dir = tmpDir()
    Topic.publish(Tables.events(spark, sf).limit(10), dir)
    Topic.register(spark, "t_reg", dir)
    assert(spark.table("t_reg").count() === 10)
    Topic.publish(Tables.events(spark, sf).filter(col("event_id") >= 10).limit(5), dir)
    Topic.refresh(spark, "t_reg")
    assert(spark.table("t_reg").count() === 15)
  }

  test("publishPartitioned shards are balanced like round-robin (R7)") {
    val dir = tmpDir()
    Topic.publishPartitioned(Tables.events(spark, sf).limit(100), dir, shards = 4)
    val counts = spark.read.parquet(dir)
      .groupBy("shard").count().collect().map(_.getAs[Long]("count"))
    assert(counts.length === 4)
    assert(counts.max - counts.min <= 1)
    // offsets dense within each shard
    val log = spark.read.parquet(dir)
    val perShard = log.groupBy("shard")
      .agg(count(lit(1)).as("n"), max(col("offset")).as("mx"))
      .collect()
    perShard.foreach(r => assert(r.getAs[Long]("mx") === r.getAs[Long]("n") - 1))
  }

  test("contended publish fails loudly instead of corrupting ordinals") {
    val dir = tmpDir()
    val ev  = Tables.events(spark, sf).limit(20)
    Topic.publish(ev, dir)
    // simulate a writer holding the topic: the lock file exists for the
    // duration of its critical section
    val lockPath = java.nio.file.Paths.get(dir, "_publish.lock")
    java.nio.file.Files.createFile(lockPath)
    val e = intercept[IllegalStateException] { Topic.publish(ev, dir) }
    assert(e.getMessage.contains("active publisher"))
    val e2 = intercept[IllegalStateException] {
      Topic.publishPartitioned(ev, dir, shards = 2)
    }
    assert(e2.getMessage.contains("active publisher"))
    // no partial data landed: still exactly the first publish's 20 rows
    assert(spark.read.parquet(dir).count() === 20)
    // crashed-writer recovery path stated in the error: drop the lock
    java.nio.file.Files.delete(lockPath)
    Topic.publish(ev, dir)
    val offsets = spark.read.parquet(dir).select("offset")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(offsets === (0L until 40L), "post-recovery offsets not dense")
  }

  test("tombstones: kept by default, dropped on the retention pass, revivable") {
    import spark.implicits._
    def ev(id: Long, user: Long, tomb: Boolean) =
      (id, java.sql.Timestamp.valueOf(f"2026-01-01 00:00:${id % 60}%02d"),
       user, if (tomb) "del" else "set", id * 1.0, tomb)
    val dir = tmpDir()
    // u1: value then tombstone (deleted); u2: value only (lives);
    // u3: tombstone then LATER value (revived — Kafka's late-write rule)
    Topic.publish(Seq(ev(0, 1, false), ev(1, 2, false), ev(2, 3, true))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "deleted"), dir)
    Topic.publish(Seq(ev(3, 1, true), ev(4, 3, false))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "deleted"), dir)

    // phase 1: compaction KEEPS the winning tombstone (replaying
    // consumers must see the delete)
    Topic.compact(spark, dir, "user_id", tombstoneCol = Some("deleted"))
    val p1 = Topic.openReader(spark, dir).collect()
      .map(r => r.getLong(r.fieldIndex("user_id")) ->
                r.getBoolean(r.fieldIndex("deleted"))).toMap
    assert(p1 == Map(1L -> true, 2L -> false, 3L -> false),
      s"u1 must survive as a tombstone, u3's late value must revive it: $p1")

    // phase 2: the post-retention pass removes tombstoned keys entirely
    Topic.compact(spark, dir, "user_id", tombstoneCol = Some("deleted"),
                  dropTombstones = true)
    val p2 = Topic.openReader(spark, dir).select("user_id")
      .collect().map(_.getLong(0)).toSet
    assert(p2 == Set(2L, 3L), s"u1 must vanish after the retention pass: $p2")

    // surviving rows are still point-readable by their original offsets
    val off3 = Topic.openReader(spark, dir)
      .filter(col("user_id") === 3).select("offset").head.getLong(0)
    assert(Topic.consume(spark, dir, off3).select("user_id").head.getLong(0) == 3L)
  }

  test("lock is released after publish and compact") {
    val dir = tmpDir()
    val ev = Tables.events(spark, sf).limit(10)
    Topic.publish(ev, dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_publish.lock")))
    Topic.compact(spark, dir, "user_id")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_publish.lock")))
    // the topic is still publishable after the compact swap
    Topic.publish(ev, dir)
    assert(spark.read.parquet(dir).count() > 0)
  }

  /** Every file under `dir`, by its path under `dir`, with its mtime. */
  private def filesOf(dir: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val top = java.nio.file.Paths.get(dir)
    scala.util.Using.resource(Files.walk(top))(_.iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(f => top.relativize(f).toString -> Files.getLastModifiedTime(f).toMillis).toMap)
  }

  test("a compact that supersedes nothing keeps the epoch and every file") {
    val dir = tmpDir()
    Topic.publish(Tables.events(spark, sf).limit(100), dir)
    Topic.publish(Tables.events(spark, sf).limit(50), dir)
    val before = filesOf(dir)
    Topic.compact(spark, dir, keyCol = "offset")
    assert(Topic.maintenanceEpoch(spark, dir) === 0L)
    assert(filesOf(dir) === before)
  }

  test("compact keeps the name of a file with no superseded row") {
    val dir = tmpDir()
    val ev = Tables.events(spark, sf).dropDuplicates("event_id").limit(200).localCheckpoint(true)
    Topic.publish(ev, dir)
    val first = filesOf(dir).keySet
    Topic.publish(ev.limit(20), dir)
    val second = filesOf(dir).keySet -- first
    assert(second.exists(_.endsWith(".parquet")))
    Topic.compact(spark, dir, keyCol = "event_id")
    assert(second.subsetOf(filesOf(dir).keySet), "a file of winners was rewritten")
    assert(spark.read.parquet(dir).count() === 200)
    assert(Topic.maintenanceEpoch(spark, dir) === 1L)
  }

  test("compact of an offset-less parquet dir by event_id keeps the max event_id per key") {
    val dir = tmpDir()
    val ev = Tables.events(spark, sf).limit(300).localCheckpoint(true)
    ev.write.parquet(dir)
    val first = filesOf(dir).keySet
    // a later write of one winner for each of ten users
    ev.dropDuplicates("user_id").limit(10).withColumn("event_id", col("event_id") + 1000000L)
      .write.mode("append").parquet(dir)
    val later = filesOf(dir).keySet -- first
    val all = spark.read.parquet(dir)
    assert(!all.columns.contains("offset"))
    val expected = all.groupBy("user_id").agg(max("event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Topic.compact(spark, dir, "user_id", orderCol = "event_id")
    val got = spark.read.parquet(dir).select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    assert(spark.read.parquet(dir).count() === expected.size)
    assert(later.subsetOf(filesOf(dir).keySet), "the later file of winners was rewritten")
  }

  test("compact refuses a streaming file sink, whose readers list its _spark_metadata log") {
    val dir = tmpDir()
    Tables.events(spark, sf).limit(20).write.parquet(dir)
    Files.createDirectory(java.nio.file.Paths.get(dir, "_spark_metadata"))
    val before = filesOf(dir)
    val err = intercept[IllegalArgumentException](Topic.compact(spark, dir, "user_id", orderCol = "event_id"))
    assert(err.getMessage.contains("streaming file sink"))
    assert(filesOf(dir) === before)
  }

  test("retain (size): expired segments dropped whole, surviving point reads unchanged") {
    val dir = tmpDir()
    val ev  = Tables.events(spark, sf).orderBy("ts", "event_id").limit(100)
      .localCheckpoint(true)
    // three publishes → three segment generations: offsets 0..39, 40..79, 80..99
    Topic.publish(ev.limit(40), dir)
    Topic.publish(ev.orderBy("ts", "event_id").limit(80)
      .orderBy(col("ts").desc, col("event_id").desc).limit(40), dir)
    Topic.publish(ev.orderBy(col("ts").desc, col("event_id").desc).limit(20), dir)
    val before85 = Topic.consume(spark, dir, 85).collect()
    // files currently holding the fully-live tail (offsets >= 80)
    val liveFiles = spark.read.parquet(dir).filter(col("offset") >= 80)
      .select(input_file_name()).distinct().collect().map(_.getString(0)).toSet

    val rep = Topic.retain(spark, dir, maxEvents = Some(30L))
    val log = spark.read.parquet(dir)
    assert(log.count() === 30)
    assert(log.select("offset").collect().map(_.getLong(0)).sorted.toSeq ===
      (70L until 100L), "size retention must keep the newest 30 offsets")
    // accounting: 70 rows expired, 30 survive; the first generation's
    // segments (maxOffset 39 < 70) were deleted whole, never rewritten
    assert(rep.rowsDropped === 70 && rep.rowsSurviving === 30)
    assert(rep.filesDeleted > 0, "fully-expired segments should be deleted whole")
    // fully-live segments are untouched: same files serve offsets >= 80
    val liveAfter = spark.read.parquet(dir).filter(col("offset") >= 80)
      .select(input_file_name()).distinct().collect().map(_.getString(0)).toSet
    assert(liveAfter === liveFiles, "retention must not rewrite fully-live segments")
    // the point-read contract survives: same rows at the same offset
    assert(Topic.consume(spark, dir, 85).collect() === before85)
    // rerun with the same policy is a no-op (idempotent maintenance job)
    val rep2 = Topic.retain(spark, dir, maxEvents = Some(30L))
    assert(rep2 === Topic.RetentionReport(0, 0, 0L, 30L))
    assert(spark.read.parquet(dir).count() === 30)
  }

  test("retain (sharded): size floors are per shard, layout and shard reads survive") {
    val dir = tmpDir()
    val ev  = Tables.events(spark, sf).limit(60)
    Topic.publishPartitioned(ev, dir, shards = 3)
    val hwms = spark.read.parquet(dir).groupBy("shard")
      .agg(max(col("offset")).as("hwm")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

    val rep = Topic.retain(spark, dir, maxEvents = Some(10L))
    val log = spark.read.parquet(dir)
    // each shard independently keeps its newest 10 ordinals — the Kafka
    // per-partition retention model
    val perShard = log.groupBy("shard")
      .agg(count(lit(1)).as("n"), min(col("offset")).as("mn"), max(col("offset")).as("mx"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    perShard.foreach { case (sh, (n, mn, mx)) =>
      assert(mx === hwms(sh), s"shard $sh head moved")
      assert(n === math.min(10L, hwms(sh) + 1) && mn === math.max(0L, hwms(sh) - 9L),
        s"shard $sh did not keep its newest 10: n=$n range=[$mn,$mx]")
    }
    assert(rep.rowsSurviving === perShard.values.map(_._1).sum)
    // shard-addressed point reads still work on survivors (partition
    // pruning intact — the rewrite kept the shard directory layout)
    val sh0 = perShard(0)
    val got = Topic.consumeShard(spark, dir, 0, sh0._2, 1).collect()
    assert(got.length === 1 && got.head.getAs[Long]("offset") === sh0._2)
  }

  test("retain (time): events before the cutoff expire; topic stays publishable") {
    val dir = tmpDir()
    val ev  = Tables.events(spark, sf).orderBy("ts", "event_id").limit(60)
      .localCheckpoint(true)
    Topic.publish(ev.limit(30), dir)
    Topic.publish(ev.orderBy(col("ts").desc, col("event_id").desc).limit(30), dir)
    // cutoff = event time at offset 20: offsets 0..19 expire
    val cut = Topic.consume(spark, dir, 20).collect()(0).getAs[java.sql.Timestamp]("ts")
    val rep = Topic.retain(spark, dir, minEventTime = Some(cut))
    val log = spark.read.parquet(dir)
    assert(log.count() === 40 && rep.rowsDropped === 20)
    assert(log.agg(min(col("offset"))).head().getLong(0) === 20L)
    assert(log.filter(col("ts") < lit(cut)).count() === 0)
    // the lock was released and publish continues the ordinal sequence
    Topic.publish(ev.limit(5), dir)
    assert(spark.read.parquet(dir).agg(max(col("offset"))).head().getLong(0) === 64L)
  }

  test("retain (time): a null event time survives in straddling and untouched files") {
    val dir  = tmpDir()
    val ev   = Tables.events(spark, sf).orderBy("ts", "event_id").limit(60).localCheckpoint(true)
    val rows = ev.collect()
    val cut  = rows(20).getAs[java.sql.Timestamp]("ts")
    val nulled = Set(rows(10), rows(45)).map(_.getAs[Any]("event_id"))
    def batch(lo: Int) = ev.filter(col("event_id").isin(rows.slice(lo, lo + 30)
      .map(_.getAs[Any]("event_id")): _*))
      .withColumn("ts", when(!col("event_id").isin(nulled.toSeq: _*), col("ts")))
    Topic.publish(batch(0), dir)  // straddles the cut, null at rank 10
    Topic.publish(batch(30), dir) // all at or after the cut, null at rank 45
    val files = spark.read.parquet(dir).groupBy(input_file_name().as("f"))
      .agg(min(col("ts")).as("lo")).collect()
    val untouched = files.filter(r => !r.getTimestamp(1).before(cut)).map(_.getString(0)).toSet
    assert(untouched.nonEmpty)

    val rep = Topic.retain(spark, dir, minEventTime = Some(cut))
    assert(rep.filesRewritten >= 1)
    val log = spark.read.parquet(dir)
    assert(log.filter(col("ts").isNull).count() === 2, "a null event time is not before the cut")
    val want = rows.filter(r => nulled(r.getAs[Any]("event_id")) ||
      !r.getAs[java.sql.Timestamp]("ts").before(cut)).map(_.getAs[Any]("event_id")).toSet
    assert(log.select("event_id").collect().map(_.get(0)).toSet === want)
    assert(untouched.subsetOf(log.select(input_file_name()).distinct().collect().map(_.getString(0)).toSet))
    assert(Topic.retain(spark, dir, minEventTime = Some(cut)) ===
      Topic.RetentionReport(0, 0, 0L, want.size.toLong))
  }

  test("resident reader serves the same point and batch reads as consume") {
    val dir = java.nio.file.Files.createTempDirectory("topic-reader").toString + "/t"
    Topic.publish(Tables.events(spark, sf).limit(200), dir)
    val reader = Topic.openReader(spark, dir)
    Seq((0L, 1), (57L, 1), (120L, 25), (199L, 1)).foreach { case (from, n) =>
      val a = Topic.consume(spark, dir, from, n).collect().toSeq
      val b = Topic.consumeVia(reader, from, n).collect().toSeq
      assert(a === b, s"reader divergence at ($from, $n)")
    }
  }
}
