package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Transactional publish semantics (the Kafka capstone the idempotent
  * producer builds toward): multi-topic atomicity through one rename,
  * read-committed invisibility of open/aborted rows, offsets committed
  * in the transaction, crash recovery, and aborted-row reclamation.
  */
class TxnSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("graft-txn").toString

  private def ev(lo: Int, hi: Int) =
    Tables.events(spark, sf).filter(col("event_id") >= lo && col("event_id") < hi)

  test("multi-topic atomicity: both topics flip visible on the one commit") {
    val c = new Cascade(spark, freshRoot())
    c.publish("t1", ev(0, 10)) // pre-existing non-txn rows
    c.publish("t2", ev(0, 5))
    c.beginTxn("x1")
    c.publishTxn("x1", "t1", ev(10, 25))
    c.publishTxn("x1", "t2", ev(10, 30))
    // uncommitted: read-committed sees only the pre-txn rows; the raw
    // (read-uncommitted) log already has the data, offsets assigned
    assert(c.readCommitted("t1").count() === 10)
    assert(c.readCommitted("t2").count() === 5)
    assert(spark.read.option("mergeSchema", "true").parquet(s"${c.rootDir}/t1").count() === 25)
    c.commitTxn("x1")
    assert(c.readCommitted("t1").count() === 25)
    assert(c.readCommitted("t2").count() === 25)
    // committed rows keep dense offsets continuing the log
    val offs = c.readCommitted("t1").select("offset").orderBy("offset")
      .collect().map(_.getLong(0)).toSeq
    assert(offs === (0L until 25L))
  }

  test("abort hides rows forever; purgeAborted reclaims them") {
    val c = new Cascade(spark, freshRoot())
    c.publish("t", ev(0, 10))
    c.beginTxn("bad")
    c.publishTxn("bad", "t", ev(10, 30))
    c.abortTxn("bad")
    assert(c.readCommitted("t").count() === 10)
    intercept[IllegalStateException] { c.commitTxn("bad") }
    val purged = c.purgeAborted("t")
    assert(purged === 20L)
    assert(spark.read.option("mergeSchema", "true")
      .parquet(s"${c.rootDir}/t").count() === 10)
    assert(c.readCommitted("t").count() === 10)
  }

  test("offsets commit atomically with the data (consume-transform-produce)") {
    val c = new Cascade(spark, freshRoot())
    c.publish("in", ev(0, 20))
    c.beginTxn("ctp")
    // the loop: consumed in[0,10) -> transformed -> produced to out,
    // with the group's progress staged IN the txn
    c.publishTxn("ctp", "out", ev(0, 10))
    c.commitOffsetTxn("ctp", "g", "in", 10L)
    assert(c.committedOffsets("g", "in").isEmpty) // nothing durable yet
    c.commitTxn("ctp")
    assert(c.committedOffsets("g", "in") === Map(-1 -> 10L))
    assert(c.readCommitted("out").count() === 10)
  }

  test("staged txn offsets escape group and topic names: a backslash commits and recovers") {
    val c = new Cascade(spark, freshRoot())
    c.publish("t", ev(0, 10))
    c.beginTxn("esc")
    c.commitOffsetTxn("esc", "g\\x", "t", 7L)
    c.commitTxn("esc")
    assert(c.committedOffsets("g\\x", "t") === Map(-1 -> 7L))
    assert(c.recoverTxns(ttlMs = 1L) === ((Seq.empty, Seq.empty)))
  }

  test("recovery: stale open txns abort; committed-but-unapplied offsets re-drive") {
    val c = new Cascade(spark, freshRoot())
    c.publish("t", ev(0, 5))
    // crash case A: writer died mid-transaction
    c.beginTxn("dead")
    c.publishTxn("dead", "t", ev(5, 15))
    Thread.sleep(30)
    // crash case B: process died between the commit rename and the
    // offsets apply — simulate by renaming the state file directly
    c.beginTxn("half")
    c.commitOffsetTxn("half", "g2", "t", 5L)
    val (hfs, _) = Topic.fs(spark, c.rootDir)
    assert(hfs.rename(
      new org.apache.hadoop.fs.Path(s"${c.rootDir}/_txns/half.open"),
      new org.apache.hadoop.fs.Path(s"${c.rootDir}/_txns/half.committed")))
    assert(c.committedOffsets("g2", "t").isEmpty)
    val (aborted, reapplied) = c.recoverTxns(ttlMs = 1L)
    assert(aborted === Seq("dead"))
    assert(reapplied === Seq("half"))
    assert(c.readCommitted("t").count() === 5)  // dead's rows invisible
    assert(c.committedOffsets("g2", "t") === Map(-1 -> 5L))
    // recovery is idempotent: a second sweep finds nothing to do
    assert(c.recoverTxns(ttlMs = 1L) === ((Seq.empty, Seq.empty)))
  }

  test("txn lifecycle contract: single-use ids, no publish after close") {
    val c = new Cascade(spark, freshRoot())
    c.beginTxn("a")
    intercept[IllegalArgumentException] { c.beginTxn("a") }
    c.abortTxn("a")
    intercept[IllegalArgumentException] { c.beginTxn("a") } // ids are single-use
    intercept[IllegalArgumentException] { c.publishTxn("a", "t", ev(0, 5)) }
    c.abortTxn("a") // idempotent
    // a topic with no transactional writes reads through unchanged
    c.publish("plain", ev(0, 7))
    assert(c.readCommitted("plain").count() === 7)
  }

  test("plain publish after a txn publish: txn_id is publish metadata, not schema") {
    // regression: the schema-evolution contract must not demand that a
    // non-transactional producer carry the txn_id column a transactional
    // write introduced — it is publish metadata like offset/producer_id
    val c = new Cascade(spark, freshRoot())
    c.beginTxn("w")
    c.publishTxn("w", "t", ev(0, 5))
    c.commitTxn("w")
    c.publish("t", ev(5, 8)) // must not throw "drops column txn_id"
    assert(c.readCommitted("t").count() === 8)
    val offs = c.readCommitted("t").select("offset").collect().map(_.getLong(0)).sorted
    assert(offs === (0L until 8L).toArray)
  }

  test("last stable offset: metadata-only, tracks open ranges per topic") {
    val c = new Cascade(spark, freshRoot())
    c.publish("t", ev(0, 10)) // offsets 0..9
    assert(c.lastStableOffset("t") === 9L)

    c.beginTxn("x")
    c.publishTxn("x", "t", ev(10, 16)) // offsets 10..15, open
    c.publish("t", ev(16, 20))         // offsets 16..19, non-txn after it
    // hwm is 19 but fate is undecided from offset 10 up
    assert(Topic.highWaterMark(spark, s"${c.rootDir}/t") === 19L)
    assert(c.lastStableOffset("t") === 9L)
    // an open txn on ANOTHER topic does not hold this topic's LSO back
    c.beginTxn("y")
    c.publishTxn("y", "other", ev(0, 3))
    assert(c.lastStableOffset("t") === 9L)
    assert(c.lastStableOffset("other") === -1L)

    c.commitTxn("x")
    assert(c.lastStableOffset("t") === 19L)
    // TTL-abort resolves the other topic too
    Thread.sleep(20)
    assert(c.recoverTxns(ttlMs = 5L)._1 === Seq("y"))
    assert(c.lastStableOffset("other") === 2L)
  }

  test("retention x transactions: blocked at LSO while open; TTL-aborts stale writers loudly") {
    val c = new Cascade(spark, freshRoot())
    c.publish("t", ev(0, 30))          // offsets 0..29, decided
    c.beginTxn("rt1")
    c.publishTxn("rt1", "t", ev(30, 40)) // offsets 30..39, UNDECIDED

    // a live open txn blocks the pass loudly — retention must not delete
    // offsets whose fate is pending (a later commit would "reveal" rows
    // that no longer exist, and the range marker would dangle)
    val e = intercept[IllegalStateException](c.retain("t", maxEvents = Some(5L)))
    assert(e.getMessage.contains("rt1") && e.getMessage.contains("blocked at LSO"))
    assert(spark.read.option("mergeSchema", "true")
      .parquet(s"${c.rootDir}/t").count() === 40) // nothing was deleted

    // an open txn on ANOTHER topic does not block this one's retention
    c.beginTxn("rt2"); c.publishTxn("rt2", "other", ev(0, 3))
    intercept[IllegalStateException](c.retain("t", maxEvents = Some(5L)))
    c.abortTxn("rt2")

    // past the TTL the writer is presumed dead: the pass aborts it FIRST
    // (marker flips to .aborted — a DECIDED state, never dangling), then
    // retention proceeds over the now-stable log
    Thread.sleep(20)
    val r = c.retain("t", maxEvents = Some(5L), openTxnTtlMs = 5L)
    assert(r.abortedTxns === Seq("rt1"))
    assert(intercept[IllegalStateException](c.commitTxn("rt1"))
      .getMessage.contains("aborted"))
    // retention actually ran: only the top 5 raw offsets survive
    val offs = spark.read.option("mergeSchema", "true").parquet(s"${c.rootDir}/t")
      .select("offset").orderBy("offset").collect().map(_.getLong(0)).toSeq
    assert(offs === (35L to 39L))
    // and those survivors are aborted rows — read-committed sees none
    assert(c.readCommitted("t").count() === 0L)

    // with no open ranges the pass runs unguarded and reports no aborts
    assert(c.retain("t", maxEvents = Some(3L)).abortedTxns.isEmpty)
  }
}
