package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Topic.mirror — MirrorMaker-style incremental, offset-preserving
  * replication: the mirror converges to the source, each pass copies only
  * the delta above the mirror's high-water mark, reruns are no-ops, and a
  * diverged mirror errors loudly instead of interleaving ordinals.
  */
class TopicMirrorSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-mirror").toString

  test("mirror converges, preserves offsets, and is incremental") {
    val base = tmpDir()
    val src  = s"$base/src"; val mir = s"$base/mir"
    val ev   = Tables.events(spark, sf).limit(300).localCheckpoint(true)
    Topic.publish(ev.filter(col("event_id") % 3 === 0), src)

    val r1 = Topic.mirror(spark, src, mir)
    assert(r1.rowsCopied === ev.filter(col("event_id") % 3 === 0).count())
    assert(r1.sourceHwm === r1.mirrorHwm)
    assert(Topic.mirrorLag(spark, src, mir) === 0L)

    // identity mirror: every (offset, event_id) pair matches the source
    val srcRows = spark.read.parquet(src).select("offset", "event_id")
      .orderBy("offset").collect().toSeq
    val mirRows = spark.read.parquet(mir).select("offset", "event_id")
      .orderBy("offset").collect().toSeq
    assert(mirRows === srcRows)

    // a consumer failing over resumes from its committed offset unchanged
    val off = srcRows(5).getLong(0)
    assert(Topic.consume(spark, mir, off, 3).select("event_id").collect().toSeq ===
           Topic.consume(spark, src, off, 3).select("event_id").collect().toSeq)

    // re-run with no new data: a no-op (idempotence)
    assert(Topic.mirror(spark, src, mir).rowsCopied === 0L)

    // incremental: publish more to the source, only the delta copies
    Topic.publish(ev.filter(col("event_id") % 3 === 1), src)
    val lag = Topic.mirrorLag(spark, src, mir)
    assert(lag === ev.filter(col("event_id") % 3 === 1).count())
    val r2 = Topic.mirror(spark, src, mir)
    assert(r2.rowsCopied === lag)
    assert(spark.read.parquet(mir).count() === spark.read.parquet(src).count())
    // the pass filtered on offset > hwm: re-check full identity after catch-up
    assert(spark.read.parquet(mir).select("offset", "event_id").orderBy("offset")
      .collect().toSeq ===
      spark.read.parquet(src).select("offset", "event_id").orderBy("offset")
        .collect().toSeq)
  }

  test("MirrorStream: continuous replication converges after each publish") {
    val base = tmpDir()
    val src  = s"$base/src"; val mir = s"$base/mir"
    val ev   = Tables.events(spark, sf).limit(120).localCheckpoint(true)
    Topic.publish(ev.filter(col("event_id") % 2 === 0), src)
    val q = graft.streaming.MirrorStream.start(spark, src, mir,
      java.nio.file.Files.createTempDirectory("mirror-ckpt").toString)
    def identity(): Unit = {
      val a = spark.read.parquet(src).select("offset", "event_id")
        .orderBy("offset").collect().toSeq
      val b = spark.read.parquet(mir).select("offset", "event_id")
        .orderBy("offset").collect().toSeq
      assert(b === a)
    }
    try {
      q.processAllAvailable()
      identity()
      Topic.publish(ev.filter(col("event_id") % 2 === 1), src)
      q.processAllAvailable()
      identity()
      assert(Topic.mirrorLag(spark, src, mir) === 0L)
    } finally q.stop()
  }

  test("topic as a streaming source: publishes flow through readStream exactly once") {
    val dir = tmpDir() + "/t"
    val ev  = Tables.events(spark, sf).limit(90).localCheckpoint(true)
    Topic.publish(ev.filter(col("event_id") % 3 === 0), dir)
    val q = Topic.readStream(spark, dir)
      .writeStream.format("memory").queryName("topic_tail")
      .option("checkpointLocation",
              java.nio.file.Files.createTempDirectory("tail-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val batch1 = spark.table("topic_tail").count()
      assert(batch1 === spark.read.parquet(dir).count())
      // a later publish is new files: the stream tails them, no replay
      Topic.publish(ev.filter(col("event_id") % 3 === 1), dir)
      q.processAllAvailable()
      val got = spark.table("topic_tail")
        .select("offset", "event_id").orderBy("offset")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = spark.read.parquet(dir)
        .select("offset", "event_id").orderBy("offset")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === want, "streamed rows diverge from the log (dup or loss)")
    } finally q.stop()
  }

  test("fsck: clean log ok; compaction gaps reported ok; duplicate offsets flagged") {
    val dir = tmpDir() + "/t"
    val ev  = Tables.events(spark, sf).limit(120).localCheckpoint(true)
    Topic.publish(ev, dir)
    // a crashed retention's temp output: Spark does not read it, so fsck
    // does not count it
    spark.range(3).select(col("id").as("offset")).write.parquet(s"$dir/_retain-tmp-x")
    val clean = Topic.fsck(spark, dir)
    assert(clean.ok && clean.duplicates === 0L && clean.gaps === 0L)
    assert(clean.files === spark.read.parquet(dir).inputFiles.length.toLong)
    assert(clean.rows === 120L && clean.minOffset === 0L && clean.maxOffset === 119L)

    // compaction removes arbitrary offsets: interior gaps expected
    // (gaps counts holes INSIDE [min, max] — the minimum itself rises
    // when the earliest survivors are compacted away), still ok
    Topic.compact(spark, dir, keyCol = "user_id")
    val afterCompact = Topic.fsck(spark, dir)
    assert(afterCompact.ok && afterCompact.duplicates === 0L)
    assert(afterCompact.gaps ===
      afterCompact.maxOffset - afterCompact.minOffset + 1 - afterCompact.rows)
    assert(afterCompact.gaps > 0L)

    // a copied segment (double-writer corruption twin): duplicates flagged
    val (hfs, p) = Topic.fs(spark, dir)
    val part = hfs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith("part-")).head
    val dup = new org.apache.hadoop.fs.Path(p, "part-copy.parquet")
    org.apache.hadoop.fs.FileUtil.copy(hfs, part, hfs, dup, false,
      spark.sparkContext.hadoopConfiguration)
    val corrupt = Topic.fsck(spark, dir)
    assert(!corrupt.ok && corrupt.duplicates > 0L)

    // sharded topics validate per shard: dense 0..n-1 per shard has
    // cross-shard duplicate ordinals by DESIGN — fsck must not flag them
    val sh = tmpDir() + "/s"
    Topic.publishPartitioned(ev, sh, shards = 4)
    val shardedReport = Topic.fsck(spark, sh)
    assert(shardedReport.ok && shardedReport.duplicates === 0L &&
           shardedReport.gaps === 0L && shardedReport.rows === 120L)
  }

  test("a diverged mirror errors loudly instead of interleaving ordinals") {
    val base = tmpDir()
    val src  = s"$base/src"; val mir = s"$base/mir"
    val ev   = Tables.events(spark, sf).limit(100).localCheckpoint(true)
    Topic.publish(ev.limit(40), src)
    // someone wrote PAST the source hwm directly into the mirror
    Topic.publish(ev, mir)
    val e = intercept[IllegalStateException](Topic.mirror(spark, src, mir))
    assert(e.getMessage.contains("diverged"))

    // sharded: one mirror shard written past the source's hwm for that shard
    val ssrc = s"$base/ssrc"; val smir = s"$base/smir"
    Topic.publishPartitioned(ev.limit(40), ssrc, shards = 2)
    Topic.mirror(spark, ssrc, smir)
    Topic.publishPartitioned(ev.filter(col("event_id") % 2 === 0), smir, shards = 2)
    val es = intercept[IllegalStateException](Topic.mirror(spark, ssrc, smir))
    assert(es.getMessage.contains("diverged"))
  }

  test("mirror after source compaction/retention: loud refusal, then an ACCEPTED history-keeping replica") {
    // MirrorMaker semantics, hardened in round 8: compaction/retention on
    // the source never raise the high-water mark, so the hwm pass would
    // silently no-op while the mirror quietly held rows the source
    // dropped. The epoch contract makes that state explicit — mirror()
    // refuses until the operator ACCEPTS the superset (the deliberate
    // history-preserving-replica choice this test used to get silently).
    val base = tmpDir()
    val src  = s"$base/src"; val mir = s"$base/mir"
    val ev   = Tables.events(spark, sf).limit(150).localCheckpoint(true)
    Topic.publish(ev, src)
    Topic.mirror(spark, src, mir)
    val fullCount = spark.read.parquet(mir).count()

    Topic.compact(spark, src, keyCol = "user_id")
    val e1 = intercept[IllegalStateException] { Topic.mirror(spark, src, mir) }
    assert(e1.getMessage.contains("underwent maintenance"))
    val div1 = Topic.acceptSourceMaintenance(spark, src, mir)
    assert(div1 === fullCount - spark.read.parquet(src).count())
    // accepted: the pass is a no-op and the replica keeps the full history
    assert(Topic.mirror(spark, src, mir).rowsCopied === 0L)
    assert(spark.read.parquet(mir).count() === fullCount)

    Topic.retain(spark, src, maxEvents = Some(20L))
    intercept[IllegalStateException] { Topic.mirror(spark, src, mir) }
    Topic.acceptSourceMaintenance(spark, src, mir): Unit
    assert(Topic.mirror(spark, src, mir).rowsCopied === 0L)
    assert(spark.read.parquet(mir).count() === fullCount)

    // new appends after accepted maintenance still flow
    Topic.publish(ev.limit(10), src)
    assert(Topic.mirror(spark, src, mir).rowsCopied === 10L)
  }

  test("seeding a mirror from a compacted source: rowsCopied counts rows, not offset range") {
    val base = tmpDir()
    val src  = s"$base/src"; val mir = s"$base/mir"
    val ev   = Tables.events(spark, sf).limit(100).localCheckpoint(true)
    Topic.publish(ev, src)
    // compaction leaves offset GAPS (latest row per key survives); a fresh
    // mirror seeded now copies fewer rows than the offset-range width
    Topic.compact(spark, src, keyCol = "user_id")
    val survivors = spark.read.parquet(src).count()
    val hwm = Topic.highWaterMark(spark, src)
    assert(survivors < hwm + 1, "test needs a gappy source") // compaction dropped rows
    val r = Topic.mirror(spark, src, mir)
    assert(r.rowsCopied === survivors)        // true rows, not hwm - (-1)
    assert(r.sourceHwm === hwm && r.mirrorHwm === hwm)
    assert(spark.read.parquet(mir).count() === survivors)
    // and the pass is still a fixpoint afterwards
    assert(Topic.mirror(spark, src, mir).rowsCopied === 0L)
  }

  test("sharded topics mirror per shard and preserve the shard layout") {
    val base = tmpDir()
    val src  = s"$base/src"; val mir = s"$base/mir"
    val ev   = Tables.events(spark, sf).limit(200).localCheckpoint(true)
    Topic.publishPartitioned(ev.limit(120), src, shards = 4)
    val r1 = Topic.mirror(spark, src, mir)
    assert(r1.rowsCopied === 120L)
    // per-shard identity: same (shard, offset, event_id) triples
    def triples(dir: String) =
      spark.read.parquet(dir).select("shard", "offset", "event_id")
        .orderBy("shard", "offset").collect().toSeq
    assert(triples(mir) === triples(src))
    // shard directories exist on the mirror → consumeShard prunes there too
    assert(Topic.consumeShard(spark, mir, 2, 0, 5).select("event_id")
      .collect().toSeq ===
      Topic.consumeShard(spark, src, 2, 0, 5).select("event_id").collect().toSeq)
    // incremental per shard
    Topic.publishPartitioned(ev, src, shards = 4)
    val r2 = Topic.mirror(spark, src, mir)
    assert(r2.rowsCopied === 200L)
    assert(triples(mir) === triples(src))
    assert(Topic.mirror(spark, src, mir).rowsCopied === 0L)
  }
}
