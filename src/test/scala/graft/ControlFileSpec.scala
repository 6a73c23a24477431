package graft

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._

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
  * the old text or the new, never neither and never a torn tmp. */
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
}
