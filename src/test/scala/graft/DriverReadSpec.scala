package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** `Topic.consume` serves small reads of an unsharded topic on the
  * driver, from the footer index, as a local frame. Each read must equal
  * the scan it replaces, `consumeVia(mergedRead)`: the same rows, in the
  * same order, under the same schema. Ranges are drawn from seeded
  * ScalaCheck `Gen`s over topics built by several publishes, idempotent
  * publishes (producer columns), a widening publish (old rows read null),
  * compaction (sparse offsets) and retention (a dropped prefix). Every
  * case the driver cannot serve falls back to the scan with today's
  * result or exception type.
  */
class DriverReadSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed * 1000 + i)))

  private def ev(from: Int, n: Int): DataFrame =
    Tables.events(spark, sf).filter(col("event_id") >= from && col("event_id") < from + n)

  private def newRoot(): String = Files.createTempDirectory("driver-read").toString

  private def scan(dir: String, from: Long, count: Int): DataFrame =
    Topic.consumeVia(Topic.mergedRead(spark, dir), from, count)

  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  /** consume(from, count) equals the scan; returns whether the driver
    * served it. */
  private def assertSame(dir: String, from: Long, count: Int, what: String): Boolean = {
    val got = Topic.consume(spark, dir, from, count)
    val want = scan(dir, from, count)
    assert(got.schema === want.schema, s"$what ($from, $count): schema")
    assert(got.collect().toSeq === want.collect().toSeq, s"$what ($from, $count): rows")
    onDriver(got)
  }

  /** Seeded ranges over [earliest - 5, hwm + 10], plus the edges: ranges
    * across each boundary, count 0, and `from` past the hwm. */
  private def ranges(bounds: Seq[Long], hwm: Long, seed: Long): Seq[(Long, Int)] = {
    val g = for {
      from  <- Gen.choose(-5L, hwm + 10L)
      count <- Gen.oneOf(Gen.const(1), Gen.choose(0, 40), Gen.choose(40, 300))
    } yield (from, count)
    samples(g, 12, seed) ++ bounds.flatMap(b => Seq((b - 3, 6), (b - 1, 2))) ++
      Seq((0L, 0), (hwm / 2, 0), (hwm + 1, 5), (hwm + 100, 1), (0L, (hwm + 1).toInt))
  }

  /** Checks every range; every one must be served on the driver. */
  private def checkTopic(dir: String, bounds: Seq[Long], seed: Long, what: String): Unit = {
    val hwm = Topic.highWaterMark(spark, dir)
    val served = ranges(bounds, hwm, seed).map { case (from, count) =>
      assertSame(dir, from, count, what)
    }
    assert(served.forall(identity), s"$what: a read fell back to the scan")
  }

  private val batches: Gen[List[Int]] = Gen.choose(2, 4).flatMap(Gen.listOfN(_, Gen.choose(5, 80)))

  test("several publishes: point and batch reads equal the scan, across file boundaries") {
    samples(batches, 2, 1).zipWithIndex.foreach { case (sizes, i) =>
      val dir = s"${newRoot()}/t"
      sizes.scanLeft(0)(_ + _).zip(sizes).foreach { case (from, n) => Topic.publish(ev(from, n), dir) }
      checkTopic(dir, sizes.scanLeft(0L)(_ + _).tail.init, 10 + i, s"publish $sizes")
      // the RPC's call: one event, two columns
      val k = sizes.sum / 2L
      assert(Topic.consume(spark, dir, k).select("event_type", "ts").collect().toSeq ===
             scan(dir, k, 1).select("event_type", "ts").collect().toSeq)
    }
  }

  test("publishIdempotent topic: producer columns read like the scan") {
    val dir = s"${newRoot()}/idem"
    val sizes = samples(batches, 1, 2).head
    sizes.scanLeft(0)(_ + _).zip(sizes).zipWithIndex.foreach { case ((from, n), seq) =>
      Topic.publishIdempotent(ev(from, n), dir, "p", seq.toLong)
    }
    assert(Topic.consume(spark, dir, 0L).columns.contains("producer_seq"))
    checkTopic(dir, sizes.scanLeft(0L)(_ + _).tail.init, 20, "publishIdempotent")
  }

  test("a widened topic: old rows read the new column as null") {
    val dir = s"${newRoot()}/wide"
    Topic.publish(ev(0, 40), dir)
    Topic.publish(ev(40, 30).withColumn("schema_v", lit(2)), dir)
    val rows = Topic.consume(spark, dir, 35L, 40).collect()
    assert(rows.length === 35 && rows.count(_.isNullAt(rows.head.fieldIndex("schema_v"))) === 5)
    checkTopic(dir, Seq(40L), 30, "widened")
  }

  test("compacted (sparse offsets) and retained (dropped prefix) topics") {
    val root = newRoot()
    val compacted = s"$root/compacted"
    Topic.publish(ev(0, 120), compacted)
    Topic.publish(ev(120, 80), compacted)
    Topic.compact(spark, compacted, keyCol = "user_id")
    val offsets = spark.read.parquet(compacted).select("offset").collect().map(_.getLong(0)).sorted
    assert(offsets.length < 200 && offsets.last > offsets.length, "compaction left dense offsets")
    checkTopic(compacted, offsets.take(3).toSeq :+ offsets.last, 40, "compacted")

    val retained = s"$root/retained"
    Seq((0, 50), (50, 50), (100, 50)).foreach { case (from, n) => Topic.publish(ev(from, n), retained) }
    Topic.retain(spark, retained, maxEvents = Some(70L))
    assert(Topic.offsetBounds(spark, retained) === Map(-1 -> (80L, 149L)))
    checkTopic(retained, Seq(80L, 100L), 50, "retained")
  }

  test("fallback: a footer without offset statistics reads through the scan") {
    val dir = s"${newRoot()}/nostats"
    Topic.publish(ev(0, 25), dir)
    Topic.assignOffsets(ev(100, 10), 25L)
      .write.mode("append").option("parquet.column.statistics.enabled", "false").parquet(dir)
    Seq((0L, 1), (20L, 10), (30L, 3)).foreach { case (from, count) =>
      assert(!assertSame(dir, from, count, "no statistics"))
    }
  }

  test("fallback: a corrupt part fails as the scan does, and is skipped under ignoreCorruptFiles") {
    val dir = s"${newRoot()}/corrupt"
    Topic.publish(ev(0, 20), dir)
    Files.write(Paths.get(dir, "part-00099-corrupt.snappy.parquet"),
      Array[Byte]('P', 'A', 'R', '1', 0, 1, 2, 3))
    def failure(read: => DataFrame): Class[_] =
      intercept[Exception](read.collect()).getClass
    assert(failure(Topic.consume(spark, dir, 3L)) === failure(scan(dir, 3L, 1)))
    val old = spark.conf.getOption("spark.sql.files.ignoreCorruptFiles")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try assert(assertSame(dir, 3L, 5, "corrupt part skipped"))
    finally old.fold(spark.conf.unset("spark.sql.files.ignoreCorruptFiles"))(
      spark.conf.set("spark.sql.files.ignoreCorruptFiles", _))
  }

  test("fallback: a missing topic and a raw sink without offsets raise as the scan does") {
    val root = newRoot()
    def failure(read: => DataFrame): Class[_] =
      intercept[Exception](read.collect()).getClass
    val missing = s"$root/missing"
    assert(failure(Topic.consume(spark, missing, 0L)) === failure(scan(missing, 0L, 1)))
    val raw = s"$root/raw"
    ev(0, 5).write.parquet(raw)
    assert(failure(Topic.consume(spark, raw, 0L)) === failure(scan(raw, 0L, 1)))
  }

  test("fallback: a sharded topic reads through the scan") {
    val dir = s"${newRoot()}/sharded"
    Topic.publishPartitioned(ev(0, 60), dir, 3)
    Seq((0L, 1), (2L, 5), (0L, 30)).foreach { case (from, count) =>
      val got = Topic.consume(spark, dir, from, count)
      assert(!onDriver(got))
      // shards share offsets, so compare as multisets
      val key = (r: Row) => r.toString
      assert(got.collect().map(key).sorted.toSeq ===
             scan(dir, from, count).collect().map(key).sorted.toSeq)
    }
  }
}
