package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** `Topic.offsetBounds` reads the log head from parquet footers; it must
  * equal, topic by topic, the `groupBy(shard).agg(min, max)` scan it
  * replaced, for every way a topic's files come to be: plain, idempotent,
  * sharded and transactional publishes, retention's rewritten straddler,
  * compaction, a zero-row file, a leftover retention temp dir, corrupt
  * parts and footers without statistics. Topics are built from seeded
  * ScalaCheck `Gen`s, as in `PropertySpec`. The last test pins the gain:
  * the hwm, a commit, a collected poll, collected point and batch reads
  * and the whole-log frames of a warm topic launch no Spark job, while a
  * whole-log-sized consume still does.
  */
class OffsetBoundsSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** Batches of the fixture's events: (first event_id, size) pairs. */
  private val batches: Gen[List[(Int, Int)]] = for {
    k     <- Gen.choose(2, 4)
    sizes <- Gen.listOfN(k, Gen.choose(1, 60))
    start <- Gen.choose(0, 700)
  } yield sizes.scanLeft(start)(_ + _).zip(sizes)

  private def ev(from: Int, n: Int): DataFrame =
    Tables.events(spark, sf).filter(col("event_id") >= from && col("event_id") < from + n)

  /** The scan `offsetBounds` replaced. */
  private def scanned(dir: String): Map[Int, (Long, Long)] = {
    val log =
      try spark.read.option("mergeSchema", "true").parquet(dir)
      catch { case _: org.apache.spark.sql.AnalysisException => return Map.empty }
    if (!log.columns.contains("offset")) return Map.empty
    val key = if (log.columns.contains("shard")) col("shard") else lit(-1)
    log.groupBy(key.as("k")).agg(min(col("offset")), max(col("offset"))).collect()
      .filterNot(_.isNullAt(1)).map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  private def assertMatchesScan(dir: String, what: String): Map[Int, (Long, Long)] = {
    val expected = scanned(dir)
    val got = Topic.offsetBounds(spark, dir)
    assert(got === expected, s"$what: footer bounds differ from the scan")
    assert(Topic.highWaterMark(spark, dir) === expected.values.map(_._2).maxOption.getOrElse(-1L),
      s"$what: hwm differs from the scan")
    got
  }

  private def newRoot(): String = Files.createTempDirectory("bounds").toString

  test("publish, publishIdempotent and publishPartitioned: footer bounds equal the scan") {
    samples(batches, 2).zip(samples(Gen.choose(2, 4), 2)).foreach { case (bs, shards) =>
      val root = newRoot()
      assert(Topic.offsetBounds(spark, s"$root/plain").isEmpty) // missing topic
      bs.zipWithIndex.foreach { case ((from, n), seq) =>
        Topic.publish(ev(from, n), s"$root/plain")
        assertMatchesScan(s"$root/plain", s"publish #$seq")
        Topic.publishIdempotent(ev(from, n), s"$root/idem", "p", seq.toLong)
        assertMatchesScan(s"$root/idem", s"publishIdempotent #$seq")
        Topic.publishPartitioned(ev(from, n), s"$root/sharded", shards)
        val b = assertMatchesScan(s"$root/sharded", s"publishPartitioned #$seq")
        assert(b.keySet.forall(sh => sh >= 0 && sh < shards))
      }
      val total = bs.map(_._2).sum.toLong
      assert(Topic.offsetBounds(spark, s"$root/plain") === Map(-1 -> (0L, total - 1)))
      // a retried idempotent batch appends nothing, so the bounds stay put
      assert(!Topic.publishIdempotent(ev(bs.head._1, bs.head._2), s"$root/idem", "p", 0L))
      assert(assertMatchesScan(s"$root/idem", "idempotent retry") === Map(-1 -> (0L, total - 1)))
    }
  }

  test("open and aborted transactions, retention's straddler and compaction") {
    var rewritten = 0
    samples(batches, 2).zip(samples(Gen.choose(10L, 20L), 2)).foreach { case (bs, keep) =>
      val root = newRoot()
      val c = new Cascade(spark, root)
      val dir = s"$root/t"
      bs.foreach { case (from, n) => c.publish("t", ev(from, n)) }
      c.beginTxn("open1"); c.publishTxn("open1", "t", ev(800, 15))
      c.beginTxn("gone"); c.publishTxn("gone", "t", ev(820, 9)); c.abortTxn("gone")
      val hwm = bs.map(_._2).sum + 15L + 9L - 1L
      assert(assertMatchesScan(dir, "open + aborted txns") === Map(-1 -> (0L, hwm)))
      // retention by size: the floor lands inside the open txn's rows, so
      // earlier files drop whole and the one holding the floor is rewritten
      val report = Topic.retain(spark, dir, maxEvents = Some(keep))
      rewritten += report.filesRewritten
      assert(assertMatchesScan(dir, s"retain maxEvents=$keep") === Map(-1 -> (hwm - keep + 1, hwm)))
      Topic.compact(spark, dir, keyCol = "user_id")
      assertMatchesScan(dir, "compact")
    }
    assert(rewritten > 0, "no retention pass rewrote a straddling file")
  }

  test("retention on a sharded topic keeps per-shard floors") {
    val root = newRoot()
    val dir = s"$root/s"
    Topic.publishPartitioned(ev(0, 90), dir, 3)
    Topic.publishPartitioned(ev(90, 60), dir, 3)
    assertMatchesScan(dir, "sharded before retain")
    Topic.retain(spark, dir, maxEvents = Some(7L))
    val b = assertMatchesScan(dir, "sharded retain")
    assert(b.values.forall { case (lo, hi) => hi - lo + 1 === 7L })
  }

  test("zero-row files, a leftover retention temp dir and a raw sink without offsets") {
    val root = newRoot()
    val dir = s"$root/z"
    Tables.events(spark, sf).limit(0).withColumn("offset", lit(0L)).write.parquet(dir)
    assert(assertMatchesScan(dir, "zero-row topic").isEmpty)
    Topic.publish(ev(0, 12), dir)
    // a crashed retention's temp output: Spark's file index skips `_`
    // dirs, so its far-off offsets must not move the bounds
    spark.range(3).select((col("id") + 1000000L).as("offset"))
      .write.parquet(s"$dir/_retain-tmp-x")
    assert(Files.list(Paths.get(s"$dir/_retain-tmp-x")).anyMatch(_.getFileName.toString.startsWith("part-")))
    assert(assertMatchesScan(dir, "leftover temp dir") === Map(-1 -> (0L, 11L)))
    // a raw stream sink carries no offset column: no bounds, hwm -1
    val raw = s"$root/raw"
    ev(0, 5).write.parquet(raw)
    assert(assertMatchesScan(raw, "no offset column").isEmpty)
    assert(Topic.highWaterMark(spark, raw) === -1L)
  }

  test("a corrupt part fails loudly by default and is skipped under ignoreCorruptFiles") {
    val root = newRoot()
    val dir = s"$root/c"
    Topic.publish(ev(0, 20), dir)
    Files.write(Paths.get(dir, "part-00099-corrupt.snappy.parquet"),
      Array[Byte]('P', 'A', 'R', '1', 0, 1, 2, 3))
    val e = intercept[java.io.IOException](Topic.offsetBounds(spark, dir))
    assert(e.getMessage.contains("part-00099-corrupt"), e.getMessage)
    intercept[Exception](scanned(dir)) // the scan is loud as well
    val old = spark.conf.getOption("spark.sql.files.ignoreCorruptFiles")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try assert(assertMatchesScan(dir, "corrupt part skipped") === Map(-1 -> (0L, 19L)))
    finally old.fold(spark.conf.unset("spark.sql.files.ignoreCorruptFiles"))(
      spark.conf.set("spark.sql.files.ignoreCorruptFiles", _))
  }

  test("footers without offset statistics fall back to the scan") {
    val root = newRoot()
    val dir = s"$root/nostats"
    Topic.publish(ev(0, 25), dir)
    Topic.assignOffsets(ev(100, 10), 25L)
      .write.mode("append").option("parquet.column.statistics.enabled", "false").parquet(dir)
    val expected = scanned(dir)
    val (b, jobs) = jobsDuring(Topic.offsetBounds(spark, dir))
    assert(b === expected && b === Map(-1 -> (0L, 34L)))
    assert(jobs > 0, "a footer without statistics must send the call to the scan")
  }

  /** Spark jobs `body` launches on this thread, counted by a listener on
    * the body's job group. Delivery is async, so settle-poll: a sentinel
    * job submitted after the body is seen only once every earlier event
    * has been delivered. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"bounds-${System.nanoTime()}"
    val sentinel = group + "-sentinel"
    val jobs = new AtomicInteger
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)    => jobs.incrementAndGet()
          case Some(`sentinel`) => drained = true
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "offset bounds job count")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      var tries = 0
      while (!drained && tries < 50) { Thread.sleep(200); tries += 1 }
      assert(drained, "listener bus did not deliver the sentinel job")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("CI guard: hwm, commitOffset and poll's set-up launch no Spark job") {
    val root = newRoot()
    val c = new Cascade(spark, root)
    Seq((0, 30), (30, 30), (60, 30)).foreach { case (from, n) => c.publish("t", ev(from, n)) }
    val dir = s"$root/t"
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("part-")) === 3)
    c.seek("g", "t", 10L)
    val (hwm, hwmJobs) = jobsDuring(Topic.highWaterMark(spark, dir))
    val (_, commitJobs) = jobsDuring(c.commitOffset("g", "t", 20L))
    // the consume frame poll returns resolves its schema through the
    // listing-keyed cache; warm it, so the count sees only poll's own work
    Topic.consume(spark, dir, 0L)
    // small reads are served on the driver: collect included, no job
    val (polled, pollJobs) = jobsDuring(c.poll("g", "t", 5).collect())
    val (point, pointJobs) = jobsDuring(Topic.consume(spark, dir, 42L).collect())
    val (_, batchJobs) = jobsDuring(Topic.consume(spark, dir, 0L, 1000).collect())
    // a whole-log read of Bench's size stays on the scan
    val (_, bigJobs) = jobsDuring(Topic.consume(spark, dir, 0L, 100000).collect())
    // the other whole-log frames resolve their schema through the same
    // warm cache: building them launches nothing
    val (_, committedJobs) = jobsDuring(c.readCommitted("t"))
    val (_, sinceJobs) = jobsDuring(c.consumeSince("t", new java.sql.Timestamp(0L)))
    val (_, describeJobs) = jobsDuring(c.describe("t"))
    // a writer's in-flight `_temporary/` output is not a file Spark reads,
    // so it must not invalidate the schema cache
    val part = new java.io.File(dir).listFiles().find(_.getName.startsWith("part-")).get
    Files.createDirectories(Paths.get(dir, "_temporary", "0"))
    Files.copy(part.toPath, Paths.get(dir, "_temporary", "0", part.getName))
    val (_, tempJobs) = jobsDuring(Topic.consume(spark, dir, 0L))
    val jobs = Seq("Topic.highWaterMark" -> hwmJobs, "Cascade.commitOffset" -> commitJobs,
                   "Cascade.poll, collected" -> pollJobs,
                   "Topic.consume of one event, collected" -> pointJobs,
                   "Topic.consume of 1000 events, collected" -> batchJobs,
                   "Cascade.readCommitted frame" -> committedJobs,
                   "Cascade.consumeSince frame" -> sinceJobs,
                   "Cascade.describe frame" -> describeJobs,
                   "Topic.consume frame after a _temporary/ file" -> tempJobs)
    assert(jobs.forall(_._2 == 0), s"Spark jobs launched: ${jobs.mkString(", ")}")
    assert(bigJobs > 0, "a 100k-event consume must keep the scan")
    assert(hwm === 89L)
    assert(polled.map(_.getAs[Long]("offset")).toSeq === (20L until 25L))
    assert(point.map(_.getAs[Long]("offset")).toSeq === Seq(42L))
  }
}
