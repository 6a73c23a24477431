package perfbench

import graft.{Cascade, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** The benchmark's JVM side: one closed-loop client thread driving one
  * workload through the program's public API. `run.py` builds this, makes
  * the corpus and the run directory, and turns the JSON line printed here
  * into the result. See README.md for the workloads and metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <corpusDir> <workDir>
  *        <cpus> [probeOps]
  */
object Main {

  /** The analytics workload's fixed query list (`SparkEntry.queries`), one
    * query per family: event-log, relational, dedup/similarity, text and
    * multimodal. dd_minhash_pairs and ta_bpe_encode read trained artifacts
    * (minhash estimate pairs, the BPE tokenizer). Five queries of distinct
    * cost, each timed several times a run, put the median inside one
    * query's samples and the 90th percentile inside the slowest one's. */
  val AnalyticsQueries: Seq[String] = Seq(
    "el_consume_offset", "q02_filter_project", "dd_minhash_pairs",
    "ta_bpe_encode", "mm_dhash")
  /** Passes over the list per second of `--seconds`. */
  val PassesPerSecond = 0.4

  /** Point reads before timing, fixed by count (README.md, "Warm-up"). */
  val PointReadWarmup = 30
  /** Timed point reads per second of `--seconds`: the read count is
    * fixed per run so every run times the same stretch of the JIT curve. */
  val ReadsPerSecond = 3.5
  /** produce_consume cycles per second of `--seconds`: the cycle count is
    * fixed per run so the log ends every run at the same size. */
  val CyclesPerSecond = 0.8
  val BatchSize = 1000
  /** Topic set-ups per run; `setup_s` takes their median. */
  val TopicSetups = 3
  val Topic0 = "events"

  final class Run(val spark: SparkSession, val corpus: String, val work: String,
                  val seed: Long) {
    val events: DataFrame = Tables.events(spark, corpus)
    /** The source log in offset order: (ts, event_id), as publish orders it. */
    lazy val source: Array[Row] =
      events.orderBy(col("ts"), col("event_id")).collect()
    def rng(stream: Int) = new scala.util.Random(seed * 1000003L + stream)
    var cascade: Cascade = _
    var root: String = _
    /** Ack latencies of the set-up publishes of the whole log. */
    var setupPublishMs: Seq[Double] = Nil
    def topicDir: String = s"$root/$Topic0"
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, corpus, work, cpusS) = args.take(7)
    val probeOps = if (args.length > 7) args(7).toInt else 0
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val tStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cpusS]")
      .config("spark.sql.shuffle.partitions", cpusS)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, corpus, work, seedS.toLong)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val sessionS = (System.currentTimeMillis() - tStart) / 1e3

    // several topic set-ups, each on a fresh root: the last one is used
    run.setupPublishMs = (1 to TopicSetups).map { i =>
      run.root = s"$work/topics-$i"
      run.cascade = new Cascade(spark, run.root)
      val t0 = System.nanoTime()
      run.cascade.publish(Topic0, run.events)
      (System.nanoTime() - t0) / 1e6
    }
    val out = new Out
    out.setup("session_s", sessionS)
    out.setup("topic_s", median(run.setupPublishMs) / 1e3)

    try {
      workload match {
        case "point_read" => PointRead(run, out, seconds, tracer, probeOps)
        case "produce_consume" => ProduceConsume(run, out, seconds, tracer)
        case "analytics" => Analytics(run, out, seconds, tracer)
        case "prime" => Prime(run, out)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally spark.stop()
    println("PERFBENCH " + out.json)
  }

  // ---- statistics ------------------------------------------------------

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e6)
  }

  /** What a run reports: set-up parts, operations, and metric values. */
  final class Out {
    val setupParts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val extra = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    var failed = 0L
    def setup(k: String, v: Double): Unit = setupParts(k) = v
    def metric(k: String, v: Double): Unit = metrics(k) = v

    /** End-to-end metrics from per-operation latencies and the loop time. */
    def endToEnd(latMs: Seq[Double], loopS: Double, events: Double, pubMs: Seq[Double]): Unit = {
      metric("latency_p50_ms", median(latMs))
      metric("latency_p90_ms", quantile(latMs, 0.9))
      metric("ops_per_s", latMs.size / loopS)
      metric("events_per_s", events / loopS)
      metric("publish_p50_ms", median(pubMs))
      metric("setup_s", setupParts.values.sum)
    }

    /** Per-operation engine counts, averaged over `ops` operations. */
    def sparkPerOp(c: Counts, ops: Int, eventsOut: Double): Unit = {
      val n = ops.toDouble
      metric("spark.jobs_per_op", c.jobs / n)
      metric("spark.tasks_per_op", c.tasks / n)
      metric("spark.codegen_compiles_per_op", c.compiles / n)
      metric("spark.codegen_compile_ms_per_op", c.compileNs / 1e6 / n)
      metric("spark.rows_read_per_op", c.rowsRead / n)
      metric("spark.rows_read_per_event", c.rowsRead / eventsOut)
      metric("spark.analysis_ms", c.analysisMs / n)
      metric("spark.optimization_ms", c.optimizationMs / n)
      metric("spark.planning_ms", c.planningMs / n)
      metric("spark.executor_run_ms", c.runMs / n)
      metric("spark.executor_cpu_ms", c.cpuNs / 1e6 / n)
      metric("spark.shuffle_write_bytes", c.shuffleWrite / n)
      metric("spark.shuffle_read_bytes", c.shuffleRead / n)
      metric("spark.spill_bytes", c.spill / n)
    }

    def json: String = {
      def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
      def obj(m: Iterable[(String, String)]) =
        m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      obj(Seq(
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> obj(metrics.map { case (k, v) => k -> num(v) }),
        "setup" -> obj(setupParts.map { case (k, v) => k -> num(v) })) ++ extra)
    }
  }

  // ---- layer census for the traced run ---------------------------------

  /** Number of data files in a topic directory. */
  def topicFiles(dir: String): Double =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .count(f => f.isFile && f.getName.endsWith(".parquet")).toDouble
}
