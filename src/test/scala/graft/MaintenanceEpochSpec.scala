package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** The round-8 maintenance contract, enforced end-to-end:
  *
  *   - compact, retain and purgeAborted bump the topic's maintenance
  *     epoch (no-op passes don't), and a purge keeps the topic's control
  *     files;
  *   - a LIVE [[Topic.readStream]] fails loudly — not silent duplicates —
  *     when maintenance rewrites segments under it;
  *   - with a checkpoint-pinned epoch, a stream RESTARTED across a
  *     maintenance pass fails loudly too;
  *   - [[Topic.mirror]] refuses a source whose epoch moved after seeding,
  *     [[Topic.mirrorDivergence]] counts the rows only the mirror still
  *     holds, and [[Topic.acceptSourceMaintenance]] is the deliberate
  *     operator path back to a working (superset-archive) mirror.
  */
class MaintenanceEpochSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-epoch").toString

  private def events(n: Int) =
    Tables.events(spark, sf).limit(n).localCheckpoint(true)

  test("compact and destructive retain bump the epoch; no-op retain doesn't") {
    val topic = s"${tmpDir()}/t"
    Topic.publish(events(100), topic)
    assert(Topic.maintenanceEpoch(spark, topic) === 0L)

    // retention with nothing to drop: classification finds no work → 0
    Topic.retain(spark, topic, maxEvents = Some(1000000L))
    assert(Topic.maintenanceEpoch(spark, topic) === 0L)

    Topic.compact(spark, topic, keyCol = "user_id")
    assert(Topic.maintenanceEpoch(spark, topic) === 1L)

    val rep = Topic.retain(spark, topic, maxEvents = Some(10L))
    assert(rep.rowsDropped > 0)
    assert(Topic.maintenanceEpoch(spark, topic) === 2L)

    // purgeAborted drops rows through the same pass
    val c = abortedMix()
    val (hfs, _) = Topic.fs(spark, c.rootDir)
    assert(c.purgeAborted("src") === 20L) // compact, then purge
    assert(Topic.maintenanceEpoch(spark, s"${c.rootDir}/src") === 2L)
    assert(c.purgeAborted("src") === 0L) // nothing left to drop: no bump
    assert(Topic.maintenanceEpoch(spark, s"${c.rootDir}/src") === 2L)
    assert(c.purgeAborted("t") === 20L)
    assert(Topic.maintenanceEpoch(spark, s"${c.rootDir}/t") === 1L)
    assert(Topic.readEpoch(hfs, new org.apache.hadoop.fs.Path(s"${c.rootDir}/t/_source_epoch")) ===
      Some(1L), "the mirror's source pin survives a purge")
  }

  /** A root whose topic `src` holds 100 live rows and an aborted
    * transaction's 20, published as one frame so that its files mix live
    * and aborted rows, then compacted (epoch 1) over one re-published live
    * event; and whose topic `t` (epoch 0) mirrors those files. */
  private def abortedMix(): Cascade = {
    val c = new Cascade(spark, tmpDir())
    val ev = events(120)
    val ids = ev.select("event_id").collect().map(_.get(0))
    val aborted = ids.indices.filter(_ % 6 == 0).map(ids)
    c.beginTxn("x")
    c.publish("src", ev.withColumn("txn_id", when(col("event_id").isin(aborted: _*), lit("x"))))
    c.abortTxn("x")
    c.publish("src", ev.filter(col("event_id") === ids(1)))
    Topic.compact(spark, s"${c.rootDir}/src", keyCol = "event_id")
    Topic.mirror(spark, s"${c.rootDir}/src", s"${c.rootDir}/t")
    val mixed = spark.read.option("mergeSchema", "true").parquet(s"${c.rootDir}/t")
      .groupBy(input_file_name())
      .agg(count(col("txn_id")).as("aborted"), count(lit(1)).as("n"))
      .filter(col("aborted") > 0 && col("aborted") < col("n"))
    assert(mixed.count() > 0, "no mirror file mixes live and aborted rows")
    c
  }

  // (name, the topic `t` under a root and its row count, the maintenance pass)
  for ((name, seed, maintain) <- Seq[(String, () => (Cascade, Long), Cascade => Unit)](
      ("compact", () => {
        val c = new Cascade(spark, tmpDir()); c.publish("t", events(100)); (c, 100L)
      }, c => Topic.compact(spark, s"${c.rootDir}/t", keyCol = "user_id")),
      ("purgeAborted", () => (abortedMix(), 120L), c => c.purgeAborted("t"))))
  test(s"$name under a LIVE stream fails the query loudly, not silent dup") {
    val (c, rows) = seed()
    val topic = s"${c.rootDir}/t"

    val q = Topic.readStream(spark, topicDir = topic)
      .writeStream.format("memory").queryName("epoch_live")
      .option("checkpointLocation", s"${c.rootDir}/ck").start()
    try {
      q.processAllAvailable()
      val before = spark.sql("SELECT count(*) FROM epoch_live").head().getLong(0)
      assert(before === rows)

      maintain(c)
      // the rewritten segments are brand-new files to the source; without
      // the guard they'd land in the sink as duplicates — with it the very
      // batch that would deliver them dies with the epoch message
      val err = intercept[StreamingQueryException] { q.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
      assert(chain(err).exists(m => m != null && m.contains("underwent maintenance")),
        s"wrong failure: ${chain(err).mkString(" | ")}")
      // nothing redelivered: the sink still holds exactly the pre-maintenance rows
      assert(spark.sql("SELECT count(*) FROM epoch_live").head().getLong(0) === before)
    } finally {
      if (q.isActive) q.stop()
      spark.catalog.dropTempView("epoch_live")
    }
  }

  test("checkpoint-pinned epoch: restart ACROSS maintenance fails loudly") {
    val base = tmpDir()
    val topic = s"$base/t"; val ck = s"$base/ck"
    Topic.publish(events(80), topic)

    // the memory sink can't recover a checkpoint; the parquet sink can
    def open() = Topic.readStream(spark, topic, checkpointDir = Some(ck))
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", ck).start()

    val q1 = open()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(s"$base/out").count() === 80L)

    // maintenance BETWEEN incarnations — the un-pinned guard could not see
    // this (a fresh open would pin the post-maintenance epoch); the
    // checkpoint pin keeps the stream's original generation
    Topic.retain(spark, topic, maxEvents = Some(10L))

    val q2 = open()
    try {
      val err = intercept[StreamingQueryException] { q2.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
      assert(chain(err).exists(m => m != null && m.contains("underwent maintenance")))
    } finally if (q2.isActive) q2.stop()
    // nothing redelivered into the sink by the failed incarnation
    assert(spark.read.parquet(s"$base/out").count() === 80L)

    // recovery path: a FRESH checkpoint re-pins and streams clean
    val q3 = Topic.readStream(spark, topic, checkpointDir = Some(s"$base/ck2"))
      .writeStream.format("memory").queryName("epoch_fresh")
      .option("checkpointLocation", s"$base/ck2").start()
    try {
      q3.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM epoch_fresh").head().getLong(0) > 0)
    } finally { q3.stop(); spark.catalog.dropTempView("epoch_fresh") }
  }

  test("mirror refuses a maintained source; accept re-pins with the divergence") {
    val base = tmpDir()
    val src = s"$base/src"; val mir = s"$base/mir"
    Topic.publish(events(100), src)
    Topic.mirror(spark, src, mir)
    assert(Topic.mirrorDivergence(spark, src, mir) === 0L)

    // source keeps only the newest 20 rows — the mirror now holds 80 rows
    // the source dropped, invisible to the hwm check
    Topic.retain(spark, src, maxEvents = Some(20L))
    val err = intercept[IllegalStateException] { Topic.mirror(spark, src, mir) }
    assert(err.getMessage.contains("underwent maintenance"))

    val accepted = Topic.acceptSourceMaintenance(spark, src, mir)
    assert(accepted === 80L)
    assert(Topic.mirrorDivergence(spark, src, mir) === 80L)

    // re-pinned: incremental mirroring works again and stays sound —
    // new source rows land in the mirror, the archive keeps its history
    Topic.publish(events(30), src)
    val rep = Topic.mirror(spark, src, mir)
    assert(rep.rowsCopied === 30L)
    assert(spark.read.parquet(mir).count() === 130L)
    // exact-replica path: a re-seeded mirror of the post-maintenance source
    val mir2 = s"$base/mir2"
    Topic.mirror(spark, src, mir2)
    assert(Topic.mirrorDivergence(spark, src, mir2) === 0L)
  }

  // ---- consumer groups (round-9 extension of the contract) ---------------

  test("consumer group: commit → compact → poll fails loudly; accept re-pins") {
    val root = tmpDir()
    val c = new Cascade(spark, root)
    c.publish("t", events(100))
    c.commitOffset("g", "t", 10L) // pins epoch 0 beside the offsets file

    Topic.compact(spark, s"$root/t", keyCol = "user_id")

    // the dangle the guard exists for: rows under the committed position
    // were rewritten; poll and commit must refuse, not return wrong rows
    val e1 = intercept[IllegalStateException] { c.poll("g", "t", 5) }
    assert(e1.getMessage.contains("underwent maintenance"))
    val e2 = intercept[IllegalStateException] { c.commitOffset("g", "t", 20L) }
    assert(e2.getMessage.contains("underwent maintenance"))
    val e3 = intercept[IllegalStateException] { c.readStreamGroup("g", "t") }
    assert(e3.getMessage.contains("underwent maintenance"))

    // deliberate path 1: accept — re-pins keeping the ordinals, reporting
    // how many positions now sit below the earliest survivor (compaction
    // preserves offsets but may drop every row under the position when
    // they were all superseded by later duplicates — computed, not assumed)
    val earliest = spark.read.parquet(s"$root/t")
      .agg(min(col("offset"))).head().getLong(0)
    val expectMoved = if (earliest > 10L) 1L else 0L
    assert(c.acceptMaintenance("g", "t") === expectMoved)
    assert(c.poll("g", "t", 5).count() > 0L)
    c.commitOffset("g", "t", 20L) // guard passes after re-pin
  }

  test("consumer group: retain under a commit — accept reports moved positions") {
    val root = tmpDir()
    val c = new Cascade(spark, root)
    c.publish("t", events(100))
    c.commitOffset("g", "t", 5L)

    val rep = Topic.retain(spark, s"$root/t", maxEvents = Some(10L))
    assert(rep.rowsDropped > 0)

    intercept[IllegalStateException] { c.poll("g", "t", 5) }
    // the committed next-offset 5 is below the earliest survivor (>= 90):
    // accept reports exactly that one moved position, then poll resumes
    // from the earliest survivor (the auto.offset.reset=earliest path)
    assert(c.acceptMaintenance("g", "t") === 1L)
    val got = c.poll("g", "t", 5)
    assert(got.count() === 5L)
    assert(got.agg(min(col("offset"))).head().getLong(0) >= 90L)
  }

  test("consumer group: seek re-pins (the absolute-reposition escape hatch)") {
    val root = tmpDir()
    val c = new Cascade(spark, root)
    c.publish("t", events(100))
    c.commitOffset("g", "t", 10L)
    Topic.compact(spark, s"$root/t", keyCol = "user_id")
    intercept[IllegalStateException] { c.poll("g", "t", 5) }
    c.seek("g", "t", 0L) // asserts an absolute position → re-pins
    assert(c.poll("g", "t", 5).count() > 0L)
  }

  test("consumer group: poll(onMaintenance = AcceptEarliest) recovers in one call") {
    val root = tmpDir()
    val c = new Cascade(spark, root)
    c.publish("t", events(100))
    c.commitOffset("g", "t", 5L)

    val rep = Topic.retain(spark, s"$root/t", maxEvents = Some(10L))
    assert(rep.rowsDropped > 0)

    // the default policy keeps the loud contract
    intercept[IllegalStateException] { c.poll("g", "t", 5) }
    // the declared policy folds accept + earliest-survivor resume into
    // the poll itself (auto.offset.reset=earliest as an explicit option)
    val got = c.poll("g", "t", 5,
      onMaintenance = Cascade.MaintenancePolicy.AcceptEarliest)
    assert(got.count() === 5L)
    assert(got.agg(min(col("offset"))).head().getLong(0) >= 90L)
    // the recovery re-pinned: subsequent default-policy calls pass
    assert(c.poll("g", "t", 5).count() === 5L)
    c.commitOffset("g", "t", 95L)
    // and with no pending maintenance the policy arm is a no-op pin check
    assert(c.poll("g", "t", 5,
      onMaintenance = Cascade.MaintenancePolicy.AcceptEarliest).count() === 5L)
  }

  test("consumer group: pre-contract group (no pin) adopts current epoch") {
    val root = tmpDir()
    val c = new Cascade(spark, root)
    c.publish("t", events(100))
    // simulate a group from before the contract: offsets file without a pin
    c.commitOffset("g", "t", 10L)
    val (hfs, pin) = Topic.fs(spark, s"$root/_groups/g/t.epoch")
    hfs.delete(pin, false)
    Topic.compact(spark, s"$root/t", keyCol = "user_id")
    // first contact after the feature: adopts epoch 1 (grandfathered) and
    // guards every interaction from here on
    assert(c.poll("g", "t", 5).count() > 0L)
    Topic.compact(spark, s"$root/t", keyCol = "event_type")
    intercept[IllegalStateException] { c.poll("g", "t", 5) }
  }
}
