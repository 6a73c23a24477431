package graft.queries

import graft.{Q, Tables}
import graft.functions.Portable._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Retrieval and corpus-curation surface over `documents`: BM25 ranked
  * search (the query-side counterpart of `ta_inverted_index`'s index
  * build) and the per-source quality profile that drives domain-level
  * keep/drop decisions (the RefinedWeb / C4 "blocklist the bad domains"
  * stage). Like the reference's consume path these are read-side
  * operators; the analytics surface is the mandated extension.
  *
  * Everything is BIGINT arithmetic end to end — BM25's fractional
  * parameters (k1=1.2, b=0.75) enter as parts-per-thousand scale
  * factors with explicit integer division, so partial-aggregate order
  * can never move a bit and the DuckDB oracle matches exactly.
  */
object TextQueries3 {

  /** The fixed search query (every term is in the corpus vocabulary). */
  private val QTERMS = Seq("table", "scan", "fast")

  private def qlist: String = QTERMS.map(t => s"'$t'").mkString(", ")

  def defs: Map[String, Q] = Map(

    // BM25 top-10: score(d) = Σ_t idf(t)·tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl)).
    // Scaled-integer evaluation: idf_s = (N−df)·10⁴ ÷ (df+1) (the
    // Robertson idf without the log — monotone in df, exact in integers,
    // same reason ta_tfidf uses linear idf); norm_s = 10³·(1−b+b·|d|/avgdl)
    // with avgdl itself carried ×10³. Per-(doc,term) scores are BIGINTs,
    // so the final per-doc SUM is order-independent. Overflow headroom:
    // idf_s ≤ N·10⁴, tf ≤ |d|, ×2200 → ~N·|d|·2·10⁷ ≪ 2⁶³ for any corpus
    // this engine targets (at 10⁹ docs × 10³ tokens the product is
    // ~2·10¹⁹ — a real deployment would descale idf_s by 10; documented,
    // not silently wrong). Scale shape: DOCUMENT-at-a-time, zero
    // explode — per-doc tf for each query term is size(filter(toks)),
    // so the corpus never shuffles as tokens; corpus totals (N, avgdl,
    // per-term df) are ONE map-side-combined aggregate collapsed to a
    // 1-row localCheckpoint and broadcast back, so the scorer pass is
    // the only other corpus scan (2 scans total, vs 3 + an explode
    // shuffle for the naive term-table shape); per-doc term scores are
    // column arithmetic, and the only corpus-wide movement is the
    // final top-10 (TakeOrderedAndProject). The oracle keeps the
    // classic term-table formulation — same values, different plan.
    "ta_bm25_search" -> Q(
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM tok GROUP BY doc_id),
         |stats AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         (CAST(SUM(len) AS BIGINT) * 1000) // CAST(COUNT(*) AS BIGINT) AS avgdl_s
         |  FROM dl),
         |tf AS (
         |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM tok WHERE token IN ($qlist) GROUP BY doc_id, token),
         |df AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
         |idf AS (
         |  SELECT token, ((s.n_docs - df) * 10000) // (df + 1) AS idf_s
         |  FROM df, stats s),
         |scored AS (
         |  SELECT t.doc_id, t.token,
         |         (i.idf_s * t.tf * 2200) //
         |           (t.tf * 1000 + (1200 * (250 + (750 * d.len * 1000) // s.avgdl_s)) // 1000)
         |           AS term_s
         |  FROM tf t
         |  JOIN idf i ON t.token = i.token
         |  JOIN dl d ON t.doc_id = d.doc_id, stats s)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         |       CAST(SUM(term_s) AS BIGINT) AS score_s
         |FROM scored GROUP BY doc_id
         |ORDER BY score_s DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      val tfCols = QTERMS.indices.map { i =>
        size(filter(col("toks"), t => t === QTERMS(i))).cast("long").as(s"tf$i")
      }
      val perDoc = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id") +: size(col("toks")).cast("long").as("len") +: tfCols: _*)
      // corpus totals: one map-side-combined aggregate → 1 row, eager
      // (the scorer pass below must not re-run this lineage)
      val totalCols =
        expr("(sum(len) * 1000) div count(*)").as("avgdl_s") +:
        QTERMS.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
      val totals = perDoc.agg(count(lit(1)).as("n_docs"), totalCols: _*)
        .localCheckpoint(true)
      val termS = QTERMS.indices.map { i =>
        when(col(s"tf$i") > 0,
          expr(s"""(((n_docs - df$i) * 10000) div (df$i + 1)) * tf$i * 2200 div
                  |(tf$i * 1000 + (1200 * (250 + (750 * len * 1000) div avgdl_s)) div 1000)"""
            .stripMargin.replace("\n", " ")))
      }
      perDoc.crossJoin(broadcast(totals))
        .select(col("doc_id"),
          QTERMS.indices.map(i => when(col(s"tf$i") > 0, 1L).otherwise(0L))
            .reduce(_ + _).as("n_terms"),
          termS.map(c => coalesce(c, lit(0L))).reduce(_ + _).as("score_s"))
        .filter(col("n_terms") > 0)
        .orderBy(col("score_s").desc, col("doc_id"))
        .limit(10)
    },

    // Per-source curation profile: the domain-blocklist decision table.
    // For every source: volume, exact-duplicate share (via 60-bit text
    // hashes — 8-byte keys shuffle, documents don't), short-doc share,
    // and the keep/drop verdict at fixed thresholds (≥50% dups or ≥30%
    // short ⇒ drop — the "spam domain" rule). Shares are parts-per-
    // thousand integers. Scale shape: distinct-per-source goes through
    // a two-level aggregate ((source, hash) pre-combine, then source) —
    // no count(distinct) Expand doubling the scan rows; everything else
    // is one map-side-combined pass.
    "ta_source_profile" -> Q(
      s"""WITH h AS (
         |  SELECT source, n_chars, ${duckH("text", 15)} AS th FROM documents),
         |uniq AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct
         |  FROM (SELECT DISTINCT source, th FROM h) GROUP BY source),
         |base AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |         CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs
         |  FROM h GROUP BY source)
         |SELECT b.source, b.n_docs,
         |       (b.total_chars * 100) // b.n_docs AS mean_chars_x100,
         |       b.n_docs - u.n_distinct AS dup_docs,
         |       ((b.n_docs - u.n_distinct) * 1000) // b.n_docs AS dup_permille,
         |       (b.short_docs * 1000) // b.n_docs AS short_permille,
         |       CASE WHEN ((b.n_docs - u.n_distinct) * 1000) // b.n_docs < 500
         |             AND (b.short_docs * 1000) // b.n_docs < 300
         |            THEN 1 ELSE 0 END AS keep
         |FROM base b JOIN uniq u ON b.source = u.source
         |ORDER BY b.source""".stripMargin) { (s, d) =>
      val h = Tables.documents(s, d)
        .select(col("source"), col("n_chars"), h60(col("text")).as("th"))
      val uniq = h.select("source", "th").distinct()
        .groupBy(col("source").as("u_source"))
        .agg(count(lit(1)).as("n_distinct"))
      val base = h.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("total_chars"),
             sum(when(col("n_chars") < 100, 1L).otherwise(0L)).as("short_docs"))
      base.join(uniq, col("source") === col("u_source"))
        .select(col("source"), col("n_docs"),
          expr("(total_chars * 100) div n_docs").as("mean_chars_x100"),
          (col("n_docs") - col("n_distinct")).as("dup_docs"),
          expr("((n_docs - n_distinct) * 1000) div n_docs").as("dup_permille"),
          expr("(short_docs * 1000) div n_docs").as("short_permille"),
          when(expr("((n_docs - n_distinct) * 1000) div n_docs") < 500 &&
               expr("(short_docs * 1000) div n_docs") < 300, 1)
            .otherwise(0).as("keep"))
        .orderBy("source")
    },

    // Deterministic output sharding — the LAST stage of every training
    // pipeline: hash-assign each doc to one of 16 output shards with a
    // salted key (salt "shuf1" = the epoch-1 shuffle; a new salt is a
    // fresh epoch-order without moving data twice). The report is the
    // shard balance table a dataloader depends on: docs, tokens, and
    // token skew per shard. Scale shape: pure per-row hash + one
    // map-side-combined aggregate — embarrassingly parallel; at 100 TB
    // the same expression IS the partitionBy key of the final write.
    "ta_shuffle_shards" -> Q(
      s"""WITH s AS (
         |  SELECT ${duckH("'shuf1|' || CAST(doc_id AS VARCHAR)", 15)} % 16 AS shard,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
         |         doc_id
         |  FROM documents)
         |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(ntok) AS BIGINT) AS total_tokens,
         |       MIN(doc_id) AS first_doc
         |FROM s GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(pmod(h60(concat(lit("shuf1|"), col("doc_id").cast("string"))), lit(16L))
                  .as("shard"),
                size(split(col("text"), " ")).cast("long").as("ntok"),
                col("doc_id"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("total_tokens"),
             min(col("doc_id")).as("first_doc"))
        .orderBy("shard")
    },

    // Power-of-2 length bucketing — the batching-efficiency report: a
    // dataloader that pads every sequence in a batch to the bucket
    // width wastes (bucket − len) tokens per doc, and this table prices
    // that waste per bucket (the argument for length-grouped batching).
    // Buckets are the fixed 8..4096 power chain (everything larger
    // falls in 8192), identical CASE in both twins. Scale shape: one
    // per-row bucket expression + one map-side-combined aggregate.
    "ta_length_buckets" -> Q({
      val cases = (3 to 12).map(p => math.pow(2, p).toLong)
        .map(b => s"WHEN ntok <= $b THEN $b").mkString(" ")
      s"""WITH s AS (
         |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok FROM documents),
         |b AS (SELECT ntok, CAST(CASE $cases ELSE 8192 END AS BIGINT) AS bucket FROM s)
         |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(ntok) AS BIGINT) AS total_tokens,
         |       CAST(SUM(bucket - ntok) AS BIGINT) AS padding_waste
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    }) { (s, d) =>
      val ntok = size(split(col("text"), " ")).cast("long")
      val bucket = (3 to 12).map(p => math.pow(2, p).toLong)
        .foldRight(lit(8192L): Column) { (b, els) => when(col("ntok") <= b, b).otherwise(els) }
      Tables.documents(s, d)
        .select(ntok.as("ntok"))
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("total_tokens"),
             sum(col("bucket") - col("ntok")).as("padding_waste"))
        .orderBy("bucket")
    },

    // DSIR-style importance weights (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"), linearized for
    // integer portability: hashed-bigram bag models for a TARGET domain
    // (sources src0/src1 — the "quality" proxy) and the RAW corpus,
    // bucket probabilities in parts-per-million, and per-doc weight =
    // Σ over bigram instances of (target_ppm − raw_ppm), length-
    // normalized ×1000 per bigram. The true DSIR log-ratio is replaced
    // by the ppm DIFFERENCE — monotone in the same direction, exact in
    // BIGINTs, so the ranking an importance resampler consumes is
    // deterministic and oracle-checkable. Emitted: top-20 docs by
    // normalized weight (the resampling head). Scale shape: the bucket
    // dimension is 1024 rows built by ONE map-side-combined conditional
    // aggregate, then COLLECTED into a literal lookup array (the same
    // constant-size-artifact move as the Bloom filter's 128 words) so
    // the scoring pass is a pure per-row HOF fold — bigram hash →
    // element_at(dppm_lit) → running sum — with NO row-scale shuffle at
    // all and TakeOrdered for the top-20. The join formulation ((doc,
    // bucket) pre-agg × 1024-row dim) shuffled ~1 bucket row per bigram
    // (almost no map-side combining — doc×bucket pairs are near-unique)
    // and measured 26→46 s degrading across reps at sf10; the literal
    // fold runs the same corpus in ~5 s flat.
    "ta_dsir_weights" -> Q(
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
         |inst AS (
         |  SELECT doc_id, source,
         |         ${duckH("toks[s] || ' ' || toks[s+1]", 8)} % 1024 AS bucket
         |  FROM t, unnest(range(1, len(toks))) u(s)),
         |dim AS (
         |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_raw,
         |         CAST(SUM(CASE WHEN source IN ('src0','src1') THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_tgt
         |  FROM inst GROUP BY bucket),
         |tot AS (
         |  SELECT CAST(SUM(n_raw) AS BIGINT) AS raw_total,
         |         CAST(SUM(n_tgt) AS BIGINT) AS tgt_total
         |  FROM dim),
         |ppm AS (
         |  SELECT bucket,
         |         (n_tgt * 1000000) // t.tgt_total - (n_raw * 1000000) // t.raw_total
         |           AS dppm
         |  FROM dim, tot t),
         |dc AS (
         |  SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM inst GROUP BY doc_id, bucket),
         |w AS (
         |  SELECT dc.doc_id, CAST(SUM(dc.c) AS BIGINT) AS n_bigrams,
         |         CAST(SUM(dc.c * p.dppm) AS BIGINT) AS weight_ppm
         |  FROM dc JOIN ppm p ON dc.bucket = p.bucket GROUP BY dc.doc_id)
         |SELECT doc_id, n_bigrams, weight_ppm,
         |       CASE WHEN weight_ppm < 0
         |            THEN -(((-weight_ppm) * 1000) // n_bigrams)
         |            ELSE (weight_ppm * 1000) // n_bigrams END AS norm_weight
         |FROM w
         |ORDER BY norm_weight DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      // FLAT bigram stream: explode POSITIONS, then hash in a plain
      // codegen'd projection. Three shapes were measured before this
      // one (SCALING.md "Round 4 close", sf1, local[4]): building the
      // bucket array with a transform LAMBDA and exploding it costs
      // ~10 s per pass regardless of what follows — each exploded row
      // re-enters the interpreted lambda context — vs 1.0 s for this flat
      // position-explode (and element_at×2 inside the lambda doubles
      // the damage vs slice+concat_ws, the BASELINE shingle note).
      // Single-token docs: the two-arg sequence(1, 0) DESCENDS in
      // Spark (vs the oracle's empty range) — the size guard empties
      // it. The oracle-side CASE on norm_weight mirrors Spark `div`'s
      // truncation toward zero (DuckDB `//` floors, and weight_ppm is
      // legitimately negative for off-target docs).
      // round-10 follow-up: the flat position-explode still paid an
      // interpreted slice+concat_ws+md5 per bigram; graft_shingle_h32
      // (n=2, mode 2 — positional, empty for <2-token docs, matching
      // the size guard) digests each bigram's byte slice in one walk,
      // byte-identical values. spread: the md5-per-bigram work runs
      // twice (dim collect + main pass) in scan tasks on the
      // single-file test layout.
      graft.functions.Shingles.register(s)
      val flat = Tables.spread(Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("source"),
          explode(call_function("graft_shingle_h32",
            col("text"), lit(2), lit(2))).as("h"))
        .select(col("doc_id"), col("source"),
          pmod(col("h"), lit(1024L)).as("bucket"))
      // pass 1: the 1024-row bucket dimension (map-side combined), then
      // collected — a constant-size trained artifact, never row-scale
      val dim = flat
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_raw"),
             sum(when(col("source").isin("src0", "src1"), 1L).otherwise(0L)).as("n_tgt"))
        .collect()
      val rawTotal = dim.map(_.getLong(1)).sum
      val tgtTotal = dim.map(_.getLong(2)).sum
      val dppm = Array.fill(1024)(0L)
      dim.foreach { r =>
        dppm(r.getLong(0).toInt) =
          r.getLong(2) * 1000000L / tgtTotal - r.getLong(1) * 1000000L / rawTotal
      }
      val dlit = typedlit(dppm.toSeq)
      // pass 2: the same flat stream → codegen element_at lookup →
      // per-doc sum (doc keys combine perfectly within scan partitions)
      flat
        .select(col("doc_id"),
                element_at(dlit, col("bucket").cast("int") + 1).as("dp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("dp")).as("weight_ppm"))
        .select(col("doc_id"), col("n_bigrams"), col("weight_ppm"),
          expr("(weight_ppm * 1000) div n_bigrams").as("norm_weight"))
        .orderBy(col("norm_weight").desc, col("doc_id"))
        .limit(20)
    }
  )
}
