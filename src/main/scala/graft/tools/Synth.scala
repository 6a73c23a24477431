package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize a larger corpus from a driver SF dir by consistent key-shifted
  * replication — the SCALING.md decade-up audit input (the oracle gate stays
  * at driver SFs; this corpus exists only to measure wall-time ratios one
  * decade beyond sf0.1).
  *
  * Replication must not manufacture degenerate structure the real corpus
  * lacks, or the ratio audit measures the generator instead of the engine:
  *   - every foreign key shifts by the SAME per-copy stride as its primary
  *     key, so join cardinalities scale exactly linearly;
  *   - document text is TOKEN-TAGGED per copy (every token of copy i>0
  *     gets a `~i` suffix): within-copy near-dup structure is preserved
  *     exactly (two near-dup docs stay near-dups — their tagged shingles
  *     still agree), while cross-copy shingle SETS are disjoint. A cyclic
  *     token rotation is NOT enough: rotation preserves the shingle set
  *     (only the wrap-boundary shingles change), so MinHash still banded
  *     every doc with its factor−1 twins and the LSH pair space grew
  *     ~factor²/2 per bucket (measured 840× pairs at factor 10) — a data
  *     artifact that would poison the ratio audit;
  *   - embeddings are DIMENSION-ROTATED per copy (an orthogonal transform):
  *     norms and within-copy cosine structure are bit-preserved, cross-copy
  *     vectors decorrelate;
  *   - region/nation stay fixed (dimension tables of bounded cardinality).
  *
  * Do NOT compose applications (src → ×10 → ×10): copy 0 keeps its text
  * untagged, so the first application's `~t` family collides token-for-token
  * with the second application's `~t` tagging of the untagged family —
  * every such doc gains an exact cross-copy twin, df doubles, and pair
  * queries inflate quadratically in the merged families (measured:
  * dd_dup_spans rows 2.5× over linear on a composed sf10, clean 10× per
  * decade on a single-application factor-100 corpus). Embedding rotations
  * compose commutatively and collide the same way. Always generate each
  * scale directly from the driver corpus with one factor.
  *
  * Usage: runMain graft.tools.Synth <srcSfDir> <dstDir> <factor> [tables]
  *
  * The optional comma-separated [tables] restricts which tables are
  * written (default: all), and an existing `{dst}/{t}.parquet` with a
  * `_SUCCESS` marker is skipped — together these make a third-decade
  * audit corpus resumable and buildable without the tables its query
  * list never reads (at factor 1000, documents/embeddings alone are
  * tens of GB). Row-count checks run only over the written set.
  */
object Synth {
  def main(args: Array[String]): Unit = {
    val (src, dst, fStr) = (args(0), args(1), args(2))
    val f = fStr.toInt
    val only: Set[String] =
      if (args.length > 3) args(3).split(',').toSet
      else graft.Tables.names.toSet
    val spark = graft.Session.local(graft.Session.cpus(32),
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: => DataFrame, t: String): Unit =
      if (only.contains(t) &&
          !java.nio.file.Files.exists(
            java.nio.file.Paths.get(s"$dst/$t.parquet/_SUCCESS"))) {
        // parallel writers scale with the factor (8 was tuned at f=100;
        // one decade up, 8 single-threaded writers ARE the wall clock)
        df.repartition(math.max(8, f / 32)).write
          .mode("overwrite").parquet(s"$dst/$t.parquet")
      }

    /** One row per (source row, copy 0..f-1). */
    def copies(df: DataFrame): DataFrame =
      df.withColumn("cp", explode(sequence(lit(0), lit(f - 1))))

    /** Per-copy stride for a key: max+1 of the source column, so shifted
      * ranges are disjoint and dense-ish. */
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    // fixed dims
    write(read("region"), "region")
    write(read("nation"), "nation")

    val customer = read("customer")
    val orders   = read("orders")
    val part     = read("part")
    val supplier = read("supplier")
    val custS  = stride(customer, "c_custkey")
    val ordS   = stride(orders, "o_orderkey")
    val partS  = stride(part, "p_partkey")
    val suppS  = stride(supplier, "s_suppkey")

    def shifted(df: DataFrame, shifts: (String, Long)*): DataFrame =
      shifts.foldLeft(copies(df)) { case (acc, (c, s)) =>
        acc.withColumn(c, col(c) + col("cp") * s)
      }.drop("cp")

    write(shifted(customer, "c_custkey" -> custS), "customer")
    write(shifted(supplier, "s_suppkey" -> suppS), "supplier")
    write(shifted(part, "p_partkey" -> partS), "part")
    write(shifted(orders, "o_orderkey" -> ordS, "o_custkey" -> custS), "orders")
    write(shifted(read("lineitem"),
      "l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS), "lineitem")

    // events: ts arrives as long nanos under nanosAsLong and is written
    // back as BIGINT — Tables.events handles either representation
    val events = read("events")
    write(shifted(events,
      "event_id" -> stride(events, "event_id"),
      "user_id"  -> stride(events, "user_id")), "events")

    // documents: shift doc_id, token-rotate text per copy
    val docs = read("documents")
    val docS = stride(docs, "doc_id")
    write(copies(docs)
      .withColumn("doc_id", col("doc_id") + col("cp") * docS)
      .withColumn("text",
        when(col("cp") === 0, col("text"))
          .otherwise(concat_ws(" ",
            transform(split(col("text"), " "),
              t => concat(t, lit("~"), col("cp"))))))
      .withColumn("n_chars", length(col("text")))
      .drop("cp"), "documents")

    // embeddings: shift vec_id, rotate dimensions per copy
    val emb  = read("embeddings")
    val embS = stride(emb, "vec_id")
    write(copies(emb)
      .withColumn("vec_id", col("vec_id") + col("cp") * embS)
      // rotate MODULO the dimension: cp can exceed dim at factor > 64,
      // where an unwrapped slice length goes negative and throws
      .withColumn("r", pmod(col("cp"), size(col("embedding"))))
      .withColumn("embedding",
        concat(slice(col("embedding"), col("r") + 1,
                     size(col("embedding")) - col("r")),
               slice(col("embedding"), lit(1), col("r"))))
      .drop("r", "cp"), "embeddings")

    Tables.check(spark, src, dst, f, only)
    spark.stop()
  }
}

/** Row-count sanity for the synthesized corpus. */
private object Tables {
  def check(spark: SparkSession, src: String, dst: String, f: Int,
            only: Set[String]): Unit =
    graft.Tables.names.filter(only.contains).foreach { t =>
      val s = spark.read.parquet(s"$src/$t.parquet").count()
      val d = spark.read.parquet(s"$dst/$t.parquet").count()
      val want = if (t == "region" || t == "nation") s else s * f
      assert(d == want, s"$t: synthesized $d rows, expected $want")
      println(s"[synth] $t: $s -> $d rows")
    }
}
