package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.{Cascade, SparkEntry}
import graft.rpc.{CascadeRpc, RpcClient, RpcServer}
import graft.rpc.Wire.{BrokerToConsumerAck, ConsumeDataFromBroker}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import Main._

/** One traced point read, split at the layer boundaries. */
final case class ReadSpan(buildMs: Double, planMs: Double, execMs: Double,
                          rpcSelfMs: Double, counts: Counts)

/** One traced produce/consume cycle, split at the layer boundaries. */
final case class CycleSpan(hwmMs: Double, publishMs: Double, publish: Counts,
                           pollMs: Double, poll: Counts, planMs: Double, execMs: Double,
                           commitMs: Double, commit: Counts) {
  def counts: Counts = publish + poll + commit
}

/** The broker endpoint a point read goes through: `RpcClient` → socket →
  * `RpcServer` → `CascadeRpc` → `Cascade.consume`. */
final class Broker(run: Run) extends AutoCloseable {
  val rpc = new CascadeRpc(run.spark, run.cascade, Topic0)
  private val server = RpcServer.start(rpc, 0)
  val client = new RpcClient("127.0.0.1", server.port)
  def close(): Unit = server.stop()

  /** The reply must be the source row at that offset in (ts, event_id) order. */
  def correct(offset: Int, ack: BrokerToConsumerAck): Boolean = {
    val r = run.source(offset)
    ack.eventVec.size == 1 && ack.eventVec.head.eventName == r.getAs[String]("event_type") &&
      ack.eventVec.head.timestamp == r.getAs[java.sql.Timestamp]("ts")
  }

  def read(offset: Int): Boolean =
    correct(offset, client.send(ConsumeDataFromBroker(Topic0, offset)))

  /** The same read with every layer timed from outside: the engine path
    * as `CascadeRpc` runs it (frame build, plan, execute) under the tracer,
    * then the facade and the socket client twice each, in mirrored order,
    * on the same, now cached, offset: their difference is the rpc layer's
    * own time. */
  def traced(t: Tracer, offset: Int): (ReadSpan, Boolean) = {
    var build, plan, exec = 0.0
    val (ok, _, c) = t.measure {
      val (df, b) = timed(run.cascade.consume(Topic0, offset.toLong))
      val q = df.select(col("event_type"), col("ts"))
      val (_, p) = timed(q.queryExecution.executedPlan)
      val (rows, e) = timed(q.collect())
      build = b; plan = p; exec = e
      rows.length == 1
    }
    val req = ConsumeDataFromBroker(Topic0, offset)
    val (_, f1) = timed(rpc.send(req))
    val (ack, c1) = timed(client.send(req))
    val (_, c2) = timed(client.send(req))
    val (_, f2) = timed(rpc.send(req))
    (ReadSpan(build, plan, exec, (c1 + c2 - f1 - f2) / 2, c), ok && correct(offset, ack))
  }
}

/** Batches for produce_consume: seeded slices of the source log, re-keyed
  * with fresh event ids so every published event is unique. */
final class Producer(run: Run, stream: Int) {
  private val rng = run.rng(stream)
  private val n = run.source.length
  private var next = 0L
  /** (the batch frame, its event ids in the order publish assigns offsets) */
  def batch(): (DataFrame, Array[Long]) = {
    val start = rng.nextInt(n - BatchSize + 1)
    val base = 10L * n + stream * 1000000L + next
    next += BatchSize
    val rows = (0 until BatchSize).map { i =>
      val r = run.source(start + i)
      Row(base + i, r.get(1), r.get(2), r.get(3), r.get(4), r.get(5))
    }
    val df = run.spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), run.events.schema)
    val order = rows.sortBy(r => (r.getAs[java.sql.Timestamp](1).getTime,
      r.getAs[java.sql.Timestamp](1).getNanos, r.getLong(0))).map(_.getLong(0))
    (df, order.toArray)
  }
}

/** A consumer group over one topic whose head offset the loop tracks. */
final class Group(cascade: Cascade, var hwm: Long) {
  val name = "bench"
  cascade.seek(name, Topic0, hwm + 1)

  /** poll must return exactly the batch just published, offsets dense
    * from the previous hwm + 1. */
  def check(polled: Array[Row], ids: Array[Long]): Boolean =
    polled.length == ids.length && polled.indices.forall { i =>
      polled(i).getAs[Long]("offset") == hwm + 1 + i &&
        polled(i).getAs[Long]("event_id") == ids(i)
    }

  def cycle(df: DataFrame, ids: Array[Long]): (Boolean, Double) = {
    val (_, pubMs) = timed(cascade.publish(Topic0, df))
    val polled = cascade.poll(name, Topic0, BatchSize).collect()
    val ok = check(polled, ids)
    cascade.commitOffset(name, Topic0, hwm + 1 + BatchSize)
    hwm += BatchSize
    (ok, pubMs)
  }

  def traced(t: Tracer, topicDir: String, df: DataFrame, ids: Array[Long]): (CycleSpan, Boolean) = {
    val spark = df.sparkSession
    val (_, hwmMs) = timed(graft.Topic.highWaterMark(spark, topicDir))
    val (_, pubMs, pub) = t.measure(cascade.publish(Topic0, df))
    var plan, exec = 0.0
    val (polled, pollMs, poll) = t.measure {
      val q = cascade.poll(name, Topic0, BatchSize)
      plan = timed(q.queryExecution.executedPlan)._2
      val (rows, e) = timed(q.collect())
      exec = e
      rows
    }
    val ok = check(polled, ids)
    val (_, commitMs, commit) =
      t.measure(cascade.commitOffset(name, Topic0, hwm + 1 + BatchSize))
    hwm += BatchSize
    (CycleSpan(hwmMs, pubMs, pub, pollMs, poll, plan, exec, commitMs, commit), ok)
  }
}

object Layers {
  val TraceReads = 25
  val TraceCycles = 4
  val CensusReads = 5
  val CensusCycles = 2

  def reportReads(out: Out, spans: Seq[ReadSpan]): Unit = {
    out.metric("rpc.self_ms", median(spans.map(_.rpcSelfMs)))
    out.metric("topic.consume_build_ms", median(spans.map(_.buildMs)))
  }

  def reportCycles(out: Out, spans: Seq[CycleSpan]): Unit = {
    val n = spans.size.toDouble
    out.metric("topic.hwm_ms", median(spans.map(_.hwmMs)))
    out.metric("topic.publish_ms", median(spans.map(_.publishMs)))
    out.metric("topic.publish_jobs", spans.map(_.publish.jobs).sum / n)
    out.metric("topic.publish_rows_read", spans.map(_.publish.rowsRead).sum / n)
    out.metric("cascade.poll_ms", median(spans.map(_.pollMs)))
    out.metric("cascade.poll_jobs", spans.map(_.poll.jobs).sum / n)
    out.metric("cascade.poll_rows_read", spans.map(_.poll.rowsRead).sum / n)
    out.metric("cascade.commit_ms", median(spans.map(_.commitMs)))
    out.metric("cascade.commit_jobs", spans.map(_.commit.jobs).sum / n)
    out.metric("cascade.commit_rows_read", spans.map(_.commit.rowsRead).sum / n)
  }

  /** Layers off a workload's own path are still reported by the traced
    * run: a few decomposed calls after its loop, so that every per-layer
    * metric is measured in every workload. */
  def censusReads(run: Run, out: Out, t: Tracer): Unit = {
    val broker = new Broker(run)
    try {
      val rng = run.rng(7)
      reportReads(out, (1 to CensusReads).map(_ =>
        broker.traced(t, rng.nextInt(run.source.length))._1))
    } finally broker.close()
  }

  def censusCycles(run: Run, out: Out, t: Tracer): Unit = {
    val group = new Group(run.cascade, graft.Topic.highWaterMark(run.spark, run.topicDir))
    val producer = new Producer(run, 8)
    reportCycles(out, (1 to CensusCycles).map { _ =>
      val (df, ids) = producer.batch()
      group.traced(t, run.topicDir, df, ids)._1
    })
  }
}

object PointRead {
  def apply(run: Run, out: Out, seconds: Double, tracer: Option[Tracer], probeOps: Int): Unit = {
    val n = run.source.length
    val broker = new Broker(run)
    try {
      if (probeOps > 0) return probe(run, out, broker, probeOps)
      val (_, warmMs) = timed {
        val rng = run.rng(1)
        (1 to PointReadWarmup).foreach(_ => broker.read(rng.nextInt(n)))
      }
      out.setup("warmup_s", warmMs / 1e3)
      val rng = run.rng(2)
      tracer match {
        case None =>
          val reads = math.max(3, math.round(seconds * ReadsPerSecond).toInt)
          val lat = ArrayBuffer.empty[Double]
          val t0 = System.nanoTime()
          (1 to reads).foreach { _ =>
            val off = rng.nextInt(n)
            val (ok, ms) = timed(try broker.read(off) catch { case _: Exception => false })
            lat += ms
            out.attempted += 1
            if (!ok) out.failed += 1
          }
          val loopS = (System.nanoTime() - t0) / 1e9
          out.endToEnd(lat.toSeq, loopS, (out.attempted - out.failed).toDouble,
            run.setupPublishMs)
        case Some(t) =>
          val spans = (1 to Layers.TraceReads).map { _ =>
            val (span, ok) = broker.traced(t, rng.nextInt(n))
            out.attempted += 1
            if (!ok) out.failed += 1
            span
          }
          val total = spans.map(_.counts).reduce(_ + _)
          out.sparkPerOp(total, spans.size, spans.size.toDouble)
          out.metric("spark.plan_ms", median(spans.map(_.planMs)))
          out.metric("spark.exec_ms", median(spans.map(_.execMs)))
          out.metric("trace.latency_p50_ms",
            median(spans.map(s => s.buildMs + s.planMs + s.execMs + s.rpcSelfMs)))
          Layers.reportReads(out, spans)
          out.metric("topic.files", topicFiles(run.topicDir))
          Layers.censusCycles(run, out, t)
      }
    } finally broker.close()
  }

  /** Latency by operation count from a cold start, in blocks of 100 reads:
    * the measurement behind `PointReadWarmup`. */
  private def probe(run: Run, out: Out, broker: Broker, ops: Int): Unit = {
    val rng = run.rng(1)
    val lat = (1 to ops).map(_ => timed(broker.read(rng.nextInt(run.source.length)))._2)
    val blocks = lat.grouped(100).map(b => f"${median(b)}%.1f").mkString("[", ",", "]")
    out.extra("probe_block_p50_ms") = blocks
    out.attempted = ops
  }
}

object ProduceConsume {
  val WarmupCycles = 2

  def apply(run: Run, out: Out, seconds: Double, tracer: Option[Tracer]): Unit = {
    val n = run.source.length
    // warm-up by count on a throwaway topic, so the measured log is the
    // same size at the start of every run
    val (_, warmMs) = timed {
      val warmGroup = new Group(new Cascade(run.spark, s"${run.work}/topics-1"), n - 1)
      val p = new Producer(run, 4)
      (1 to WarmupCycles).foreach { _ => val (df, ids) = p.batch(); warmGroup.cycle(df, ids) }
    }
    out.setup("warmup_s", warmMs / 1e3)
    val group = new Group(run.cascade, n - 1)
    val producer = new Producer(run, 3)
    tracer match {
      case None =>
        val cycles = math.max(3, math.round(seconds * CyclesPerSecond).toInt)
        val lat, pub = ArrayBuffer.empty[Double]
        var loopNs = 0L
        (1 to cycles).foreach { _ =>
          val (df, ids) = producer.batch()
          val t0 = System.nanoTime()
          val ok = try { val (ok, p) = group.cycle(df, ids); pub += p; ok }
                   catch { case _: Exception => false }
          val dt = System.nanoTime() - t0
          loopNs += dt
          lat += dt / 1e6
          out.attempted += 1
          if (!ok) out.failed += 1
        }
        out.endToEnd(lat.toSeq, loopNs / 1e9,
          (out.attempted - out.failed) * BatchSize.toDouble, pub.toSeq)
      case Some(t) =>
        val spans = (1 to Layers.TraceCycles).map { _ =>
          val (df, ids) = producer.batch()
          val (span, ok) = group.traced(t, run.topicDir, df, ids)
          out.attempted += 1
          if (!ok) out.failed += 1
          span
        }
        val total = spans.map(_.counts).reduce(_ + _)
        out.sparkPerOp(total, spans.size, spans.size * BatchSize.toDouble)
        out.metric("spark.plan_ms", median(spans.map(_.planMs)))
        out.metric("spark.exec_ms", median(spans.map(_.execMs)))
        out.metric("trace.latency_p50_ms",
          median(spans.map(s => s.publishMs + s.pollMs + s.commitMs)))
        Layers.reportCycles(out, spans)
        out.metric("topic.files", topicFiles(run.topicDir))
        Layers.censusReads(run, out, t)
    }
  }
}

object Analytics {
  def apply(run: Run, out: Out, seconds: Double, tracer: Option[Tracer]): Unit = {
    val spark = run.spark
    val queries = SparkEntry.queries
    // warm-up: every query once, its result kept for the oracle check; the
    // first call of an artifact-backed query trains its artifact into the
    // run's fresh GRAFT_ARTIFACT_DIR, with the trainer `Warm.all` calls
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val first = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val (_, warmMs) = timed(AnalyticsQueries.foreach { q =>
      val dir = s"${run.work}/results/$q"
      first(q) = timed(
        queries(q)(spark, run.corpus).coalesce(1).write.mode("overwrite").parquet(dir))._2
      rows(q) = spark.read.parquet(dir).count()
    })
    out.setup("warmup_s", warmMs / 1e3)
    out.extra("first_call_ms") = first.map { case (q, ms) => f""""$q":$ms%.1f""" }
      .mkString("{", ",", "}")
    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${run.work}/oracle_sql.json"),
      AnalyticsQueries.map(q => jsonString(q) + ":" + jsonString(oracle(q))).mkString("{", ",", "}"))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val ops, fails = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val rng = run.rng(5)
    tracer match {
      case None =>
        // a fixed number of whole passes, so every run times each query
        // the same number of times and every quantile falls on repeated
        // executions of one query
        val passes = math.max(2, math.round(seconds * PassesPerSecond).toInt)
        val lat = ArrayBuffer.empty[Double]
        val perQuery = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
        var events = 0.0
        val t0 = System.nanoTime()
        (1 to passes).foreach { _ =>
          rng.shuffle(AnalyticsQueries).foreach { q =>
            val (ok, ms) = timed(
              try { noop(queries(q)(spark, run.corpus)); true } catch { case _: Exception => false })
            lat += ms
            perQuery.getOrElseUpdate(q, ArrayBuffer.empty[Double]) += ms
            ops(q) = ops.getOrElse(q, 0) + 1
            out.attempted += 1
            if (ok) events += rows(q)
            else { out.failed += 1; fails(q) = fails.getOrElse(q, 0) + 1 }
          }
        }
        val loopS = (System.nanoTime() - t0) / 1e9
        out.endToEnd(lat.toSeq, loopS, events, run.setupPublishMs)
        out.extra("query_ms") = perQuery.map { case (q, xs) => f""""$q":${median(xs.toSeq)}%.1f""" }
          .mkString("{", ",", "}")
      case Some(t) =>
        val fam = scala.collection.mutable.LinkedHashMap.empty[String, Counts]
        val spans = rng.shuffle(AnalyticsQueries).map { q =>
          // the query's frame is analysed when built: that phase is read
          // from its own tracker, the rest from the write's
          var analysisMs = 0L
          val (_, ms, c0) = t.measure {
            val df = queries(q)(spark, run.corpus)
            analysisMs = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
            noop(df)
          }
          val c = c0.copy(analysisMs = c0.analysisMs + analysisMs)
          System.err.println(f"[perfbench] $q%-24s $ms%8.1f ms")
          val f = if (q.head == 'q') "q" else q.takeWhile(_ != '_')
          fam(f) = fam.getOrElse(f, Counts.zero) + c
          ops(q) = ops.getOrElse(q, 0) + 1
          out.attempted += 1
          (ms, c)
        }
        val total = spans.map(_._2).reduce(_ + _)
        out.sparkPerOp(total, spans.size, AnalyticsQueries.map(rows).sum.toDouble)
        out.metric("spark.plan_ms", median(spans.map { case (_, c) =>
          (c.analysisMs + c.optimizationMs + c.planningMs).toDouble }))
        out.metric("spark.exec_ms", median(spans.map(_._2.execNs / 1e6)))
        out.metric("trace.latency_p50_ms", median(spans.map(_._1)))
        out.extra("families") = fam.map { case (f, c) =>
          s""""$f":{"analysis_ms":${c.analysisMs},"optimization_ms":${c.optimizationMs},""" +
            s""""planning_ms":${c.planningMs},"executor_run_ms":${c.runMs}}"""
        }.mkString("{", ",", "}")
        out.metric("topic.files", topicFiles(run.topicDir))
        Layers.censusReads(run, out, t)
        Layers.censusCycles(run, out, t)
    }
    out.extra("query_ops") = ops.map { case (q, k) => s""""$q":$k""" }.mkString("{", ",", "}")
    out.extra("query_failed") = fails.map { case (q, k) => s""""$q":$k""" }.mkString("{", ",", "}")
  }
}

/** A few operations of every workload, run once per build while the JVM
  * dumps its class-data archive, so the archive holds the classes that
  * the timed runs load. */
object Prime {
  def apply(run: Run, out: Out): Unit = {
    val broker = new Broker(run)
    try (1 to 3).foreach(i => broker.read(i * 997)) finally broker.close()
    val (df, ids) = new Producer(run, 6).batch()
    new Group(run.cascade, run.source.length - 1).cycle(df, ids)
    AnalyticsQueries.foreach { q =>
      SparkEntry.queries(q)(run.spark, run.corpus).write.format("noop").mode("overwrite").save()
    }
    out.attempted = 1
  }
}
