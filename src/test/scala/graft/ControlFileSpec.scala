package graft

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** A local filesystem under the `crashfs` scheme whose `crashAt`-th
  * create, rename or delete dies the way a process does between two
  * steps: that step does not happen, except that a dying create leaves a
  * torn file, as a write cut short does. */
class CrashingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("crashfs:///")
  override def getScheme: String = "crashfs"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    if (CrashingFs.step()) {
      try out.write("torn".getBytes("UTF-8")) finally out.close()
      throw CrashingFs.Crash
    }
    out
  }
  override def rename(src: Path, dst: Path): Boolean =
    if (CrashingFs.step()) throw CrashingFs.Crash else super.rename(src, dst)
  override def delete(p: Path, recursive: Boolean): Boolean =
    if (CrashingFs.step()) throw CrashingFs.Crash else super.delete(p, recursive)
}

object CrashingFs {
  /** 1-based step to die at; 0 never dies. */
  @volatile var crashAt = 0
  @volatile var steps = 0
  def step(): Boolean = { steps += 1; steps == crashAt }
  object Crash extends java.io.IOException("injected crash")

  def fileSystem(): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.crashfs.impl", classOf[CrashingFs].getName)
    conf.setBoolean("fs.crashfs.impl.disable.cache", true)
    FileSystem.get(URI.create("crashfs:///"), conf)
  }
}

/** Control files (group offsets, epoch pins, membership, transaction
  * markers) survive a crash at any step of their replace: a reader sees
  * the old text or the new, never neither and never a torn tmp; and a
  * row-dropping pass (`Topic.dropRows`) crashed at any step completes on
  * its rerun. */
class ControlFileSpec extends SparkSpec {

  test("writeAtomic: a crash at every step leaves the old or the new text; the next write succeeds") {
    val hfs = CrashingFs.fileSystem()
    val base = Files.createTempDirectory("control-file").toString
    for (prior <- Seq(None, Some("v0"))) {
      /** A fresh control file holding `prior`; counts no steps. */
      def fresh(name: String): Path = {
        val p = new Path(s"crashfs://$base/${prior.isDefined}-$name/state.json")
        prior.foreach(Topic.writeAtomic(hfs, p, _))
        CrashingFs.steps = 0
        p
      }
      val clean = fresh("clean")
      Topic.writeAtomic(hfs, clean, "v1")
      val n = CrashingFs.steps
      assert(n >= 3, s"the wrapper saw $n filesystem steps")
      assert(Topic.readText(hfs, clean) === Some("v1"))
      for (k <- 1 to n) {
        val p = fresh(s"k$k")
        CrashingFs.crashAt = k
        try intercept[java.io.IOException](Topic.writeAtomic(hfs, p, "v1"))
        finally CrashingFs.crashAt = 0
        val seen = Topic.readText(hfs, p)
        assert(seen === prior || seen === Some("v1"), s"crash at step $k of $n, prior $prior")
        Topic.writeAtomic(hfs, p, "v2")
        assert(Topic.readText(hfs, p) === Some("v2"), s"write after a crash at step $k")
      }
    }
  }

  test("an open transaction marker caught mid-replace still reads as open") {
    val root = Files.createTempDirectory("control-txn").toString
    val c = new Cascade(spark, root)
    val ev = Tables.events(spark, sf)
    c.publish("t", ev.filter(col("event_id") < 5))
    val (hfs, _) = Topic.fs(spark, root)
    val open = new Path(s"$root/_txns/x.open")
    val aside = new Path(s"$root/_txns/x.open.old")

    // stopped after moving the marker aside, before the new one landed
    c.beginTxn("x")
    c.publishTxn("x", "t", ev.filter(col("event_id") >= 5 && col("event_id") < 15))
    assert(hfs.rename(open, aside))
    assert(c.lastStableOffset("t") === 4L)
    assert(c.readCommitted("t").count() === 5)
    intercept[IllegalArgumentException](c.beginTxn("x"))
    c.commitTxn("x")
    assert(c.readCommitted("t").count() === 15)
    assert(c.lastStableOffset("t") === 14L)

    // stopped after the new marker landed, before the stale copy was
    // dropped: deciding the transaction drops the stale copy too
    c.beginTxn("y")
    c.publishTxn("y", "t", ev.filter(col("event_id") >= 15 && col("event_id") < 20))
    org.apache.hadoop.fs.FileUtil.copy(hfs, new Path(s"$root/_txns/y.open"),
      hfs, new Path(s"$root/_txns/y.open.old"), false, hfs.getConf)
    c.abortTxn("y")
    assert(c.lastStableOffset("t") === Topic.highWaterMark(spark, s"$root/t"))
    assert(c.readCommitted("t").count() === 15)
  }

  /** Crash `pass` over a fresh copy of `template` at every create, rename
    * and delete it makes, its Spark writes and the publish lock included;
    * after each crash, run `afterCrash` on the local topic dir, wait out
    * the lock TTL if the lock is left, rerun the pass and check the log of
    * `topic` holds exactly `want`, with no temp dir left. */
  private def crashEveryStep(template: java.io.File, topic: String, want: Seq[Long],
                             afterCrash: String => Unit = _ => ())
                            (pass: String => Unit): Unit = {
    val work = Files.createTempDirectory("control-pass").toFile
    def fresh(name: String): String = {
      val d = new java.io.File(work, name)
      org.apache.commons.io.FileUtils.copyDirectory(template, d)
      CrashingFs.steps = 0
      s"crashfs://${d.getAbsolutePath}"
    }
    def check(root: String, what: String): Unit = {
      val local = root.stripPrefix("crashfs://")
      val offs = spark.read.parquet(s"$local/$topic").select("offset").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(offs === want, what)
      val temps = scala.util.Using.resource(Files.walk(java.nio.file.Paths.get(local)))(
        _.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("_retain-tmp-")).toList)
      assert(temps.isEmpty, s"$what: temp dirs left: $temps")
    }
    val clean = fresh("clean")
    pass(clean)
    val n = CrashingFs.steps
    check(clean, "clean pass")
    assert(n >= 8, s"the pass made $n filesystem steps")
    info(s"$topic: crashed at each of $n filesystem steps")
    for (k <- 1 to n) {
      val root = fresh(s"k$k")
      CrashingFs.crashAt = k
      try intercept[Exception](pass(root))
      finally CrashingFs.crashAt = 0
      assert(CrashingFs.steps >= k, s"no crash at step $k")
      afterCrash(s"${root.stripPrefix("crashfs://")}/$topic")
      if (Files.exists(java.nio.file.Paths.get(root.stripPrefix("crashfs://"), topic, "_publish.lock")))
        Thread.sleep(LockTtlMs * 2)
      pass(root)
      check(root, s"crash at step $k of $n, then a rerun")
    }
  }

  private val LockTtlMs = 300L

  test("dropRows: a crash at every step of a purge or a retain pass, then a rerun, keeps exactly the survivors") {
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashingFs].getName)
    spark.sparkContext.hadoopConfiguration.setBoolean("fs.crashfs.impl.disable.cache", true)
    val ev = Tables.events(spark, sf).orderBy("ts", "event_id").limit(60).localCheckpoint(true)
    val ids = ev.collect().map(_.getAs[Any]("event_id"))
    def slice(lo: Int, n: Int = 10) = ev.filter(col("event_id").isin(ids.slice(lo, lo + n).toSeq: _*))
    /** Whether some file of `dir` holds rows on both sides of `split`. */
    def straddled(dir: String, split: org.apache.spark.sql.Column): Boolean =
      spark.read.option("mergeSchema", "true").parquet(dir).groupBy(input_file_name())
        .agg(max(split.cast("int")).as("hi"), min(split.cast("int")).as("lo"))
        .filter(col("hi") =!= col("lo")).count() > 0
    spark.conf.set("spark.graft.publishLockTtlMs", LockTtlMs)
    try {
      // purge: offsets 10..19 (aborted x) share one published frame's
      // file with the live 0..9; 20..29 (aborted y) have their own file;
      // 30..39 are live
      val purgeRoot = Files.createTempDirectory("control-purge").toFile
      val c = new Cascade(spark, purgeRoot.getAbsolutePath)
      c.beginTxn("x")
      c.publish("t", slice(0, 20).withColumn("txn_id",
        when(col("event_id").isin(ids.slice(10, 20).toSeq: _*), lit("x"))))
      c.abortTxn("x")
      c.beginTxn("y"); c.publishTxn("y", "t", slice(20)); c.abortTxn("y")
      c.publish("t", slice(30))
      assert(straddled(s"${c.rootDir}/t", col("txn_id") <=> "x"))
      crashEveryStep(purgeRoot, "t", (0L until 10L) ++ (30L until 40L)) { root =>
        new Cascade(spark, root).purgeAborted("t")
      }

      // retain: three 20-row files; keeping the newest 30 deletes the
      // first, rewrites the second and leaves the third
      val retainRoot = Files.createTempDirectory("control-retain").toFile
      Seq(0, 20, 40).foreach(lo => Topic.publish(slice(lo, 20), s"${retainRoot.getAbsolutePath}/t"))
      assert(straddled(s"${retainRoot.getAbsolutePath}/t", col("offset") < 30))
      crashEveryStep(retainRoot, "t", 30L until 60L) { root =>
        Topic.retain(spark, s"$root/t", maxEvents = Some(30L))
      }
    } finally spark.conf.unset("spark.graft.publishLockTtlMs")
  }

  test("compact: a crash at every step, then a rerun, equals the one-shot compact") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashingFs].getName)
    spark.sparkContext.hadoopConfiguration.setBoolean("fs.crashfs.impl.disable.cache", true)
    /** One batch of (event_id, user_id, tombstone) rows, in id order. */
    def batch(rows: (Long, Long, Boolean)*) = rows.map { case (id, user, tomb) =>
      (id, new java.sql.Timestamp(1767225600000L + id * 1000L), user,
       if (tomb) "del" else "set", id * 1.0, tomb)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "deleted")
    // users 0..8 over six files; the first compact leaves epoch 1. The
    // second drops the first file's every row but u8's (a rewrite), the
    // fourth file whole, and u0 from the second file (a rewrite); the
    // fifth holds u4's and u5's winning tombstones
    val root = Files.createTempDirectory("control-compact").toFile
    val topic = s"${root.getAbsolutePath}/t"
    Topic.publish(batch((0L to 8L).map(i => (i, i, false)): _*), topic)
    Topic.publish(batch((9L, 0L, false), (10L, 1L, false)), topic)
    Topic.compact(spark, topic, keyCol = "user_id")
    assert(Topic.maintenanceEpoch(spark, topic) === 1L)
    Topic.publish(batch((11L, 2L, false), (12L, 3L, false)), topic)
    Topic.publish(batch((13L, 6L, false)), topic)
    Topic.publish(batch((14L, 4L, true), (15L, 5L, true), (16L, 0L, false), (17L, 6L, false)), topic)
    Topic.publish(batch((18L, 7L, false)), topic)
    val log = spark.read.parquet(topic).select("user_id", "offset", "deleted").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val winners = log.groupBy(_._1).values.map(_.maxBy(_._2)).toSeq
    val hfs = CrashingFs.fileSystem() // unchecksummed, like the writes under test
    spark.conf.set("spark.graft.publishLockTtlMs", LockTtlMs)
    try for (dropTombstones <- Seq(false, true)) {
      val want = winners.filterNot(w => dropTombstones && w._3).map(_._2).sorted
      assert(want.size === (if (dropTombstones) 7 else 9))
      crashEveryStep(root, "t", want, afterCrash = dir => {
        assert(Topic.readEpoch(hfs, new Path(s"crashfs://$dir/_maintenance_epoch")).exists(_ >= 1L),
          s"$dir lost its maintenance epoch")
        val offs = spark.read.parquet(dir).select("offset").collect().map(_.getLong(0)).toSet
        assert(want.toSet.subsetOf(offs), s"$dir lost a winner: ${want.filterNot(offs)}")
      }) { r =>
        Topic.compact(spark, s"$r/t", keyCol = "user_id", tombstoneCol = Some("deleted"),
                      dropTombstones = dropTombstones)
      }
    } finally spark.conf.unset("spark.graft.publishLockTtlMs")
  }
}
