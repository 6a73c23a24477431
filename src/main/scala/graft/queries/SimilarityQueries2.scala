package graft.queries

import graft.{Q, Tables}
import graft.functions.FloatDot
import graft.functions.Vectors._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search, part 2: the IVF (inverted-file) ANN variant and
  * skew/scale patterns over the event log.
  *
  * IVF here: seed vectors (vec_id < k) initialize the coarse quantizer,
  * then ONE k-means refinement step replaces them with true cell
  * centroids — computed over INTEGER-QUANTIZED component sums
  * (floor(x·10⁴) summed as BIGINT, divided back in double), because an
  * exact-associative integer sum is engine-portable where a float mean's
  * accumulation order is not. Every vector re-assigns to its nearest
  * refined centroid; search probes the TWO nearest cells (nprobe=2).
  * The whole index — seeds, centroids, assignment, probe — is therefore
  * oracle-checkable bit-for-bit.
  */
object SimilarityQueries2 {

  /** Default IVF config (fixture-scaled: 500-vector corpora). Both are
    * per-query parameters now — `ss_ivf_ann_k16` declares the larger
    * config over the same corpus. */
  private[queries] val NSEEDS = 8
  private val DIM    = 64

  /** Every vector → nearest seed by cosine (tiebreak smaller seed id),
    * carrying embedding + norm for downstream rescoring. Shared by
    * assignment and probe so the IVF index definition cannot drift. */
  private def assignClusters(e: org.apache.spark.sql.DataFrame,
                             k: Int): org.apache.spark.sql.DataFrame = {
    val seeds = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("sid"), col("embedding").as("sv"), col("nrm").as("snrm"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("sid"))
    e.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("label"), col("embedding"), col("nrm"), col("sid"),
              (nativeDot(col("embedding"), col("sv")) / (col("nrm") * col("snrm"))).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
              col("sid").as("cluster"), col("cos").as("cluster_cos"))
  }

  /** The trained coarse quantizer, MATERIALIZED: one k-means step over
    * integer-quantized component sums, collected to k·dim doubles — the
    * "centroid artifact" a production IVF system trains once, persists,
    * and broadcasts. The collect is bounded by the index size (k rows),
    * never the corpus; the heavy work (assign + component sums) is one
    * scalable map-side-combined aggregate whose shuffle is k·dim longs.
    *
    * Persistence is two-layer via [[graft.ArtifactStore]]: a JVM cache
    * (plan sweeps and the IVF queries construct these frames repeatedly)
    * over a parquet artifact (train once per corpus, reload across
    * JVMs). `ArtifactStore.invalidate(dir)` drops both layers.
    */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, Array[Double], Double)]]()
  private val quantCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Double, Double)]]()

  graft.ArtifactStore.onInvalidate { dir =>
    centroidCache.keySet.removeIf(_.startsWith(dir + "|"))
    quantCache.remove(dir)
  }

  /** Trained per-dimension quantizer stats for a corpus: (min, scale)
    * per dim, bounded at DIM rows. Named so [[Warm]] can pre-build it
    * outside any query's wall time. */
  private[queries] def quantStats(e: org.apache.spark.sql.DataFrame,
                                  d: String): Seq[(Double, Double)] =
    quantCache.computeIfAbsent(d, _ =>
      e.select(posexplode(col("embedding")).as(Seq("j", "x")))
        .groupBy("j")
        .agg(min(col("x").cast("double")).as("mn"),
             max(col("x").cast("double")).as("mx"))
        .orderBy("j")
        .collect()
        .toSeq.map(r => (r.getDouble(1), (r.getDouble(2) - r.getDouble(1)) / 255.0)))

  private def trainCentroids(e: org.apache.spark.sql.DataFrame,
                             k: Int): Seq[(Long, Array[Double], Double)] =
    assignClusters(e, k)
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("j", "x")))
      .groupBy("cluster", "j")
      .agg(sum(floor(col("x").cast("double") * 10000).cast("long")).as("sq"),
           count(lit(1)).as("n"))
      .select(col("cluster"), col("j"),
        (col("sq").cast("double") / lit(10000.0) / col("n").cast("double")).as("cj"))
      .collect()
      .groupBy(_.getLong(0))
      .toSeq
      .map { case (c, rows) =>
        val cvec = rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
        // same left-to-right fold as the HOF norm — bit-identical
        var s = 0.0
        cvec.foreach(x => s += x * x)
        (c, cvec, math.sqrt(s))
      }
      .sortBy(_._1)

  /** Trained centroids for (corpus, k): JVM cache → parquet artifact →
    * train-and-persist. Doubles round-trip parquet exactly, so a reload
    * is bit-identical to the original training output. */
  private[queries] def centroids(e: org.apache.spark.sql.DataFrame, dir: String,
                                 k: Int): Seq[(Long, Array[Double], Double)] =
    centroidCache.computeIfAbsent(s"$dir|ivf-k$k", _ => {
      val spark = e.sparkSession
      val path  = graft.ArtifactStore.pathFor(dir, s"ivf-centroids-k$k")
      val (hfs, p) = graft.Topic.fs(spark, path)
      if (hfs.exists(p)) {
        spark.read.parquet(path).collect()
          .map(r => (r.getAs[Long]("cluster"),
                     r.getAs[scala.collection.Seq[Double]]("cvec").toArray,
                     r.getAs[Double]("cnrm")))
          .toSeq.sortBy(_._1)
      } else {
        val trained = trainCentroids(e, k)
        import spark.implicits._
        trained.map { case (c, v, n) => (c, v.toSeq, n) }
          .toDF("cluster", "cvec", "cnrm")
          .coalesce(1).write.mode("overwrite").parquet(path)
        trained
      }
    })

  /** The trained coarse quantizer as a LITERAL array-of-structs column
    * (ccluster, cvec, cnrm) — the broadcast form ingest-time assignment
    * needs: a per-row expression over this literal is STATELESS, so the
    * same quantizer serves batch queries and a streaming ingest edge
    * (graft.streaming.VectorIngestStream) without retraining. Trains or
    * loads the (corpus, k) artifact via [[centroids]]. */
  private[graft] def centroidArrayFor(spark: org.apache.spark.sql.SparkSession,
                                      dir: String, k: Int): org.apache.spark.sql.Column = {
    graft.functions.FloatDot.register(spark)
    val e = Tables.embeddings(spark, dir).withColumn("nrm", nativeNorm(col("embedding")))
    array(centroids(e, dir, k).map { case (c, v, cn) =>
      struct(lit(c).as("ccluster"),
             array(v.map(lit(_)): _*).as("cvec"),
             lit(cn).as("cnrm"))
    }: _*)
  }

  /** Re-assignment against the materialized quantizer: every vector
    * ranked against every refined centroid (rn = 1 → its cell; rn ≤ 2 →
    * its probe set). The centroids enter the plan as LITERALS (explode
    * of a k-element array), so ranking is one corpus pass of k codegen'd
    * dots + a per-vector window — the expensive training aggregate runs
    * exactly once even when callers branch this frame into a self-join.
    */
  private[queries] def refined(e: org.apache.spark.sql.DataFrame, dir: String,
                      k: Int = NSEEDS): org.apache.spark.sql.DataFrame = {
    val centArr = array(centroids(e, dir, k).map { case (c, v, cn) =>
      struct(lit(c).as("ccluster"),
             array(v.map(lit(_)): _*).as("cvec"),
             lit(cn).as("cnrm"))
    }: _*)
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("ccluster"))
    e.select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
             explode(centArr).as("c"))
      .select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
              col("c.ccluster").as("ccluster"),
              // nativeDot handles FLOAT×DOUBLE — same sequential fold as
              // the HOF dot, codegen'd (callers register FloatDot first)
              (nativeDot(col("embedding"), col("c.cvec")) /
               (col("nrm") * col("c.cnrm"))).as("cos"))
      .withColumn("rn", row_number().over(w))
  }

  /** DuckDB twin of `refined` (CTE list; defines `refined(vec_id, label,
    * embedding, cluster, cos, rn)`), parameterized by k like the Spark
    * side. */
  private[queries] def duckRefinedCte(k: Int): String =
    s"""seeds AS (
       |  SELECT vec_id AS sid, embedding AS sv FROM embeddings WHERE vec_id < $k),
       |s0 AS (
       |  SELECT e.vec_id, e.embedding, s.sid,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                            ORDER BY ${duckCosine("e.embedding", "s.sv")} DESC, s.sid) AS rn
       |  FROM embeddings e, seeds s),
       |assign0 AS (SELECT vec_id, embedding, sid AS cluster FROM s0 WHERE rn = 1),
       |comp AS (
       |  SELECT cluster, j,
       |         SUM(CAST(floor(CAST(embedding[j] AS DOUBLE) * 10000) AS BIGINT)) AS sq,
       |         COUNT(*) AS n
       |  FROM assign0, range(1, ${DIM + 1}) t(j)
       |  GROUP BY cluster, j),
       |centroid AS (
       |  SELECT cluster,
       |         list(CAST(sq AS DOUBLE) / CAST(10000 AS DOUBLE) / CAST(n AS DOUBLE)
       |              ORDER BY j) AS cvec
       |  FROM comp GROUP BY cluster),
       |rscore AS (
       |  SELECT e.vec_id, e.label, e.embedding, c.cluster,
       |         ${duckCosine("e.embedding", "c.cvec")} AS cos
       |  FROM embeddings e, centroid c),
       |refined AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |                               ORDER BY cos DESC, cluster) AS rn
       |  FROM rscore)""".stripMargin

  /** The IVF ANN probe, parameterized: queries (vec_id in [k, k+10))
    * search their `nprobe` nearest refined cells — candidates meet in an
    * equi-join on the cluster id, exact cosine rescoring, top-3. The
    * query range starts at k so queries are never seed vectors. */
  private def ivfAnn(s: org.apache.spark.sql.SparkSession, d: String,
                     k: Int, nprobe: Int): org.apache.spark.sql.DataFrame = {
    FloatDot.register(s)
    val e = Tables.embeddings(s, d).withColumn("nrm", nativeNorm(col("embedding")))
    val r = refined(e, d, k)
    val members = r.filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
              col("ccluster").as("cluster"))
    val probes = r.filter(col("rn") <= nprobe &&
                          col("vec_id") >= k && col("vec_id") < k + 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
              col("nrm").as("qnrm"), col("ccluster").as("qcluster"))
    val wR = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    probes.join(members, col("qcluster") === col("cluster") && col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), col("label"),
              (nativeDot(col("qv"), col("embedding")) / (col("qnrm") * col("nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(wR))
      .filter(col("rank") <= 3)
      .orderBy("qid", "rank")
  }

  /** DuckDB twin of [[ivfAnn]]. */
  private def duckIvfAnn(k: Int, nprobe: Int): String =
    s"""WITH ${duckRefinedCte(k)},
       |members AS (
       |  SELECT vec_id, label, embedding, cluster FROM refined WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, embedding AS qv, cluster FROM refined
       |  WHERE rn <= $nprobe AND vec_id >= $k AND vec_id < ${k + 10}),
       |cand AS (
       |  SELECT p.qid, m.vec_id, m.label,
       |         ${duckCosine("p.qv", "m.embedding")} AS cosine
       |  FROM probes p JOIN members m ON p.cluster = m.cluster AND p.qid <> m.vec_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
       |  FROM cand)
       |SELECT qid, vec_id, label, cosine, CAST(rank AS INTEGER) AS rank
       |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  def defs: Map[String, Q] = Map(

    // IVF cell assignment AFTER one k-means refinement step: every
    // vector → nearest refined centroid (cosine, tiebreak smaller
    // cluster id). The "inverted file" is the (cluster → members)
    // grouping; emitted per-vector for checkability.
    "ss_ivf_assign" -> Q(
      s"""WITH ${duckRefinedCte(NSEEDS)}
         |SELECT vec_id, label, CAST(cluster AS INTEGER) AS cluster, cos AS cluster_cos
         |FROM refined WHERE rn = 1 ORDER BY vec_id""".stripMargin) { (s, d) =>
      FloatDot.register(s)
      val e = Tables.embeddings(s, d).withColumn("nrm", nativeNorm(col("embedding")))
      refined(e, d).filter(col("rn") === 1)
        .select(col("vec_id"), col("label"), col("ccluster").cast("int").as("cluster"),
                col("cos").as("cluster_cos"))
        .orderBy("vec_id")
    },

    // IVF probe, nprobe=2: queries (vec_id in [8,18)) search their TWO
    // nearest refined cells — candidates meet in an equi-join on the
    // cluster id, exact cosine rescoring, top-3. (LSH twin: ss_lsh_ann;
    // exact baseline: ss_cosine_topk; recall asserted in SimilaritySpec.)
    "ss_ivf_ann" -> Q(duckIvfAnn(NSEEDS, 2)) {
      (s, d) => ivfAnn(s, d, NSEEDS, 2)
    },

    // The same probe at the SECOND declared config, k=16 / nprobe=3: k
    // and nprobe are the standard recall/latency dials (cells shrink to
    // ~n/16, three of them are scanned — candidate count drops to ~3n/16
    // while recall holds; SimilaritySpec asserts the floor at BOTH
    // configs). Each config trains its own centroid artifact, persisted
    // separately by ArtifactStore ("ivf-centroids-k8" / "-k16").
    "ss_ivf_ann_k16" -> Q(duckIvfAnn(16, 3)) {
      (s, d) => ivfAnn(s, d, 16, 3)
    },

    // IVF index-quality profile: per-cell membership and cohesion — the
    // observability report an ANN deployment watches to decide when to
    // retrain (empty/overfull cells, falling cohesion). One pass over
    // the shared refined assignment; the mean cos goes through the
    // exact DECIMAL unit-sum (a raw double AVG would be
    // accumulation-order-dependent).
    "ss_centroid_profile" -> Q(
      s"""WITH ${duckRefinedCte(NSEEDS)}
         |SELECT CAST(cluster AS INTEGER) AS cluster, COUNT(*) AS n_members,
         |       ${graft.functions.Portable.duckDavgUnit("cos")} AS avg_cos,
         |       MIN(cos) AS min_cos, MAX(cos) AS max_cos
         |FROM refined WHERE rn = 1 GROUP BY cluster ORDER BY cluster""".stripMargin) { (s, d) =>
      FloatDot.register(s)
      val e = Tables.embeddings(s, d).withColumn("nrm", nativeNorm(col("embedding")))
      refined(e, d).filter(col("rn") === 1)
        .groupBy(col("ccluster").cast("int").as("cluster"))
        .agg(count(lit(1)).as("n_members"),
             graft.functions.Portable.davgUnit(col("cos")).as("avg_cos"),
             min(col("cos")).as("min_cos"), max(col("cos")).as("max_cos"))
        .orderBy("cluster")
    },

    // Coreset / diversity sample off the trained quantizer: per IVF
    // cell, the MEDOID (member most cosine-aligned with its centroid —
    // the cell's representative for kNN-classify-by-prototype or
    // dataset distillation) and the OUTLIER (least aligned — the
    // hard-example half of a diversity-sampling mix). Ties break on
    // vec_id, so the sample is fully deterministic. This is the
    // selection step of coreset curation (herding/k-center style):
    // keep prototypes + boundary points, drop the redundant middle.
    // Scale shape: reuses the persisted centroid artifact (no retrain),
    // one corpus pass of k codegen'd dots, and the two rank windows
    // partition per CELL — k partitions total, each bounded by cell
    // membership; output is exactly 1 row per cell.
    "ss_coreset_sample" -> Q(
      s"""WITH ${duckRefinedCte(NSEEDS)},
         |members AS (
         |  SELECT vec_id, cluster, cos,
         |         ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY cos DESC, vec_id) AS mrn,
         |         ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY cos ASC,  vec_id) AS orn
         |  FROM refined WHERE rn = 1)
         |SELECT CAST(cluster AS INTEGER) AS cluster,
         |       CAST(COUNT(*) AS BIGINT) AS n_members,
         |       MAX(CASE WHEN mrn = 1 THEN vec_id END) AS medoid_id,
         |       MAX(CASE WHEN mrn = 1 THEN cos END) AS medoid_cos,
         |       MAX(CASE WHEN orn = 1 THEN vec_id END) AS outlier_id,
         |       MAX(CASE WHEN orn = 1 THEN cos END) AS outlier_cos
         |FROM members GROUP BY cluster ORDER BY cluster""".stripMargin) { (s, d) =>
      FloatDot.register(s)
      val e = Tables.embeddings(s, d).withColumn("nrm", nativeNorm(col("embedding")))
      val wM = Window.partitionBy("ccluster").orderBy(col("cos").desc, col("vec_id"))
      val wO = Window.partitionBy("ccluster").orderBy(col("cos").asc, col("vec_id"))
      refined(e, d).filter(col("rn") === 1)
        .select(col("vec_id"), col("ccluster"), col("cos"))
        .withColumn("mrn", row_number().over(wM))
        .withColumn("orn", row_number().over(wO))
        .groupBy(col("ccluster").cast("int").as("cluster"))
        .agg(count(lit(1)).as("n_members"),
             max(when(col("mrn") === 1, col("vec_id"))).as("medoid_id"),
             max(when(col("mrn") === 1, col("cos"))).as("medoid_cos"),
             max(when(col("orn") === 1, col("vec_id"))).as("outlier_id"),
             max(when(col("orn") === 1, col("cos"))).as("outlier_cos"))
        .orderBy("cluster")
    },

    // SemDeDup (semantic dedup): prune near-duplicate MEANING, not
    // near-duplicate text — the step after MinHash in a training
    // pipeline (arXiv:2303.09540's recipe). Blocking is the IVF cell
    // assignment (same trained quantizer artifact as ss_ivf_assign):
    // within each cell, a vector is dropped when a smaller-id cell-mate
    // sits above the cosine threshold — the greedy keep-first rule.
    // Threshold matches dd_embedding_neardup's 0.25 (fixture embeddings
    // are near-orthogonal random). Emitted as a per-vector keep/drop
    // verdict.
    //
    // SCALE GATE (round 10, closing the round-9 weak item): exact
    // max-cosine against all smaller-id cellmates is quadratic per cell,
    // and the fixture quantizer's cell COUNT is fixed (NSEEDS=8) while
    // the corpus grows — 2.5e9 pair evaluations / 272 s at sf10 in this
    // query's write path (bench's count() action hid it via outer-join
    // elimination; SCALING.md "The third decade catches a round-9
    // query"). Same q72 playbook as the sibling sweep below: the
    // declared form is input-gated to vec_id < 20000 — a no-op at every
    // SF ≤ 1 (oracle hash unchanged), a constant pair-budget ceiling
    // above. The ungated corpus-scale forms are dd_embedding_neardup's
    // capped LSH-band pair space, or an IVF whose cell count grows with
    // the corpus so per-cell occupancy stays constant.
    "ss_semdedup" -> Q(
      s"""WITH ${duckRefinedCte(NSEEDS)},
         |members AS (
         |  SELECT vec_id, cluster, embedding FROM refined
         |  WHERE rn = 1 AND vec_id < 20000),
         |drops AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM members a JOIN members b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.25)
         |SELECT m.vec_id, CAST(m.cluster AS INTEGER) AS cluster,
         |       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
         |FROM members m LEFT JOIN drops d ON m.vec_id = d.vec_id
         |ORDER BY m.vec_id""".stripMargin) { (s, d) =>
      FloatDot.register(s)
      val e = Tables.embeddings(s, d).withColumn("nrm", nativeNorm(col("embedding")))
      val m = refined(e, d).filter(col("rn") === 1 && col("vec_id") < 20000)
        .select(col("vec_id"), col("embedding"), col("nrm"),
                col("ccluster").as("cluster"))
      val a = m.select(col("cluster").as("ca"), col("vec_id").as("va"),
                       col("embedding").as("ea"), col("nrm").as("na"))
      val b = m.select(col("cluster").as("cb"), col("vec_id").as("vb"),
                       col("embedding").as("eb"), col("nrm").as("nb"))
      val drops = a.join(b, col("ca") === col("cb") && col("va") < col("vb"))
        .filter(nativeDot(col("ea"), col("eb")) / (col("na") * col("nb")) >= 0.25)
        .select(col("vb").as("dropped")).distinct()
      m.join(drops, col("vec_id") === col("dropped"), "left")
        .select(col("vec_id"), col("cluster").cast("int").as("cluster"),
                when(col("dropped").isNull, 1).otherwise(0).cast("int").as("kept"))
        .orderBy("vec_id")
    },

    // SemDeDup threshold sweep (round 9): the ε-tuning table the
    // 2303.09540 recipe calls for — how much of the corpus each cosine
    // threshold would drop. One pair pass per cell computes each
    // vector's MAX cosine against smaller-id cellmates (the greedy
    // keep-first drop condition), with the smallest swept threshold
    // pushed INTO the join (a pair below θ_min can never change any
    // swept count); the 4-threshold grid then reads off that per-vector
    // maximum — pair cosines are computed once, not per threshold, and
    // every compare divides the same integers by the same literal in
    // both engines.
    //
    // SCALE HONESTY (the round-9 third-decade audit's find): exact
    // max-cosine against all smaller-id cellmates is QUADRATIC PER CELL
    // by semantics, and the fixture quantizer's cell COUNT is fixed
    // (NSEEDS=8) while the corpus grows — at sf10's 200k vectors that
    // is 2.5e9 dot evaluations (~272 s measured; SCALING.md "The third
    // decade catches a round-9 query"). The sibling ss_semdedup had the SAME true
    // cost — its fast bench number was a count()-action artifact:
    // Catalyst ELIMINATES the left-outer join against the distinct
    // drops side when only row counts are observed, so bench never ran
    // the pair join (Verify's write path did). Since round 10 BOTH
    // forms carry this gate, and Bench's action no longer permits
    // outer-join elimination. The q72 playbook: the DECLARED
    // queries are input-gated to vec_id < 20000 (a no-op at
    // every SF ≤ 1, a constant ceiling above), and the ungated
    // production form for corpus-scale embedding near-dup tuning is
    // dd_embedding_neardup's capped LSH-band pair space — or an IVF
    // index whose cell count scales with n so per-cell occupancy (and
    // the per-vector pair budget) stays constant.
    "ss_semdedup_sweep" -> Q(
      s"""WITH ${duckRefinedCte(NSEEDS)},
         |members AS (
         |  SELECT vec_id, cluster, embedding FROM refined
         |  WHERE rn = 1 AND vec_id < 20000),
         |mx AS (
         |  SELECT b.vec_id, MAX(${duckCosine("a.embedding", "b.embedding")}) AS mcos
         |  FROM members a JOIN members b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ${duckCosine("a.embedding", "b.embedding")} >= CAST(2500 AS DOUBLE) / 10000
         |  GROUP BY b.vec_id),
         |n AS (SELECT COUNT(*) AS n_vecs FROM members),
         |qs AS (SELECT unnest([2500, 3000, 3500, 4000]) AS theta_bp),
         |sweep AS (
         |  SELECT q.theta_bp,
         |         COUNT(CASE WHEN m.mcos >= CAST(q.theta_bp AS DOUBLE) / 10000
         |                    THEN 1 END) AS n_dropped
         |  FROM qs q LEFT JOIN mx m ON TRUE GROUP BY 1)
         |SELECT CAST(s.theta_bp AS INTEGER) AS theta_bp,
         |       CAST(s.n_dropped AS BIGINT) AS n_dropped,
         |       CAST(n.n_vecs - s.n_dropped AS BIGINT) AS n_kept,
         |       CAST(s.n_dropped AS DOUBLE) / n.n_vecs AS drop_share
         |FROM sweep s CROSS JOIN n ORDER BY theta_bp""".stripMargin) { (s, d) =>
      FloatDot.register(s)
      val e = Tables.embeddings(s, d).withColumn("nrm", nativeNorm(col("embedding")))
      val m = refined(e, d).filter(col("rn") === 1 && col("vec_id") < 20000)
        .select(col("vec_id"), col("embedding"), col("nrm"),
                col("ccluster").as("cluster"))
      val a = m.select(col("cluster").as("ca"), col("vec_id").as("va"),
                       col("embedding").as("ea"), col("nrm").as("na"))
      val b = m.select(col("cluster").as("cb"), col("vec_id").as("vb"),
                       col("embedding").as("eb"), col("nrm").as("nb"))
      val mx = a.join(b, col("ca") === col("cb") && col("va") < col("vb"))
        .select(col("vb").as("mvec"),
                (nativeDot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
        .filter(col("cos") >= lit(2500).cast("double") / 10000)
        .groupBy("mvec").agg(max("cos").as("mcos"))
      val nv = m.agg(count(lit(1)).as("n_vecs"))
      val qs = e.sparkSession.range(1)
        .select(explode(array(lit(2500), lit(3000), lit(3500), lit(4000)))
          .as("theta_bp"))
      // LEFT join (not cross): a corpus with no qualifying pairs leaves
      // mx empty, and the grid must still emit its 4 rows with
      // n_dropped = 0 rather than degrade to 0 rows. mx is bounded by
      // the vec_id gate, so it broadcasts.
      qs.join(broadcast(mx), lit(true), "left")
        .groupBy("theta_bp")
        .agg(count(when(col("mcos") >= col("theta_bp").cast("double") / 10000,
                        1)).as("n_dropped"))
        .crossJoin(broadcast(nv))
        .select(col("theta_bp").cast("int").as("theta_bp"),
                col("n_dropped").cast("long").as("n_dropped"),
                (col("n_vecs") - col("n_dropped")).cast("long").as("n_kept"),
                (col("n_dropped").cast("double") / col("n_vecs")).as("drop_share"))
        .orderBy("theta_bp")
    },

    // Scalar int8 quantization of the embedding column — the memory
    // compression a 100 TB ANN index runs before anything else (4×
    // smaller vectors, cheaper distance scans). Per-dimension corpus
    // min/max train the quantizer (one posexplode aggregate, collected
    // to a DIM-row artifact like the IVF centroids); codes are
    // floor((x-min)/scale) clamped to [0,255]; the emitted metrics are
    // the reconstruction error profile per vector — all IEEE-exact
    // double steps, so the oracle matches bit-for-bit.
    "ss_quantize_int8" -> Q(
      s"""WITH stats AS (
         |  SELECT j, MIN(CAST(embedding[j] AS DOUBLE)) AS mn,
         |         MAX(CAST(embedding[j] AS DOUBLE)) AS mx
         |  FROM embeddings, range(1, ${DIM + 1}) t(j) GROUP BY j),
         |arrs AS (
         |  SELECT list(mn ORDER BY j) AS mns,
         |         list((mx - mn) / CAST(255 AS DOUBLE) ORDER BY j) AS scs
         |  FROM stats),
         |errs AS (
         |  SELECT vec_id,
         |         [CAST(embedding[i] AS DOUBLE) -
         |            (mns[i] + (CASE WHEN scs[i] = 0 THEN CAST(0 AS DOUBLE)
         |                       ELSE least(floor((CAST(embedding[i] AS DOUBLE) - mns[i]) / scs[i]),
         |                                  CAST(255 AS DOUBLE)) END
         |                       + 0.5) * scs[i])
         |          for i in range(1, ${DIM + 1})] AS es
         |  FROM embeddings, arrs)
         |SELECT vec_id,
         |       list_sum([e * e for e in es]) / CAST($DIM AS DOUBLE) AS mse,
         |       list_max([abs(e) for e in es]) AS max_abs_err
         |FROM errs ORDER BY vec_id""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val stats = quantStats(e, d)
      val mns = array(stats.map { case (mn, _) => lit(mn) }: _*)
      val scs = array(stats.map { case (_, sc) => lit(sc) }: _*)
      val errs = transform(col("embedding"), (x, i) => {
        val mn   = element_at(mns, i + 1)
        val sc   = element_at(scs, i + 1)
        val xd   = x.cast("double")
        val code = when(sc === 0, lit(0.0))
          .otherwise(least(floor((xd - mn) / sc), lit(255.0)))
        xd - (mn + (code + lit(0.5)) * sc)
      })
      // materialize the error array once: the two metric folds below
      // would otherwise each re-quantize the vector (no CSE in HOFs)
      e.select(col("vec_id"), errs.as("es"))
        .select(col("vec_id"),
          (aggregate(col("es"), lit(0.0), (a, v) => a + v * v) /
            lit(DIM.toDouble)).as("mse"),
          array_max(transform(col("es"), v => abs(v))).as("max_abs_err"))
        .orderBy("vec_id")
    },

    // Range (band) join, scalably: same-user event pairs within 5
    // minutes. The naive form is a theta join (quadratic); here the time
    // axis is bucketed to 5-minute cells and candidates meet in TWO
    // equi-joins (same cell, adjacent cell) — the standard interval-join
    // decomposition. The oracle states the naive theta semantics.
    "el_range_join" -> Q(
      """SELECT a.event_id AS e1, b.event_id AS e2,
        |       epoch_ns(b.ts)//1000 - epoch_ns(a.ts)//1000 AS delta_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id <> b.event_id
        |  AND epoch_ns(b.ts)//1000 >= epoch_ns(a.ts)//1000
        |  AND epoch_ns(b.ts)//1000 - epoch_ns(a.ts)//1000 <= 300000000
        |  AND (epoch_ns(b.ts)//1000 > epoch_ns(a.ts)//1000 OR a.event_id < b.event_id)
        |ORDER BY e1, e2""".stripMargin) { (s, d) =>
      val base = Tables.events(s, d).select(
        col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"),
        expr("unix_micros(ts) div 300000000").as("cell"))
      val a = base.select(col("user_id").as("u"), col("event_id").as("e1"),
                          col("tus").as("t1"), col("cell").as("c1"))
      val b = base.select(col("user_id").as("u2"), col("event_id").as("e2"),
                          col("tus").as("t2"), col("cell").as("c2"))
      def joinOn(cellMatch: org.apache.spark.sql.Column) =
        a.join(b, col("u") === col("u2") && cellMatch)
      val pairs = joinOn(col("c2") === col("c1"))
        .unionByName(joinOn(col("c2") === col("c1") + 1))
        .filter(col("e1") =!= col("e2") &&
                col("t2") >= col("t1") && col("t2") - col("t1") <= 300000000L &&
                (col("t2") > col("t1") || col("e1") < col("e2")))
      pairs.select(col("e1"), col("e2"), (col("t2") - col("t1")).as("delta_us"))
        .orderBy("e1", "e2")
    },

    // Salted aggregation: the skew-mitigation pattern — partial aggregate
    // on (key, salt) spreads a hot key over 8 reducers, final aggregate
    // re-combines. Integer sums are associative, so the result (and the
    // oracle, which states the direct groupBy) is unchanged.
    "el_salted_agg" -> Q(
      """SELECT user_id,
        |       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)
        |         / CAST(100 AS DOUBLE) AS total_value,
        |       COUNT(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import graft.functions.Portable.cents
      Tables.events(s, d)
        .groupBy(col("user_id"), pmod(col("event_id"), lit(8)).as("salt"))
        .agg(sum(cents(col("value"))).as("pc"), count(lit(1)).as("pn"))
        .groupBy("user_id")
        .agg((sum(col("pc")).cast("double") / lit(100.0)).as("total_value"),
             sum(col("pn")).as("n_events"))
        .orderBy("user_id")
    },

    // ANN recall@3: the evaluation metric every ANN deployment runs —
    // IVF probe results (ss_ivf_ann's exact config) joined against the
    // brute-force ground-truth top-3 for the same query set, hits
    // counted per query. Both sides are deterministic (ties broken by
    // vec_id), so even the RECALL of the approximate index is
    // oracle-checked exactly. Scale shape: truth is one corpus pass
    // against a 10-query broadcast (corpus never shuffles); the ANN
    // side is cell-bounded; the final join is 30 rows.
    "ss_ann_recall" -> Q(
      s"""WITH ${duckRefinedCte(NSEEDS)},
         |members AS (
         |  SELECT vec_id, label, embedding, cluster FROM refined WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS qid, embedding AS qv, cluster FROM refined
         |  WHERE rn <= 2 AND vec_id >= $NSEEDS AND vec_id < ${NSEEDS + 10}),
         |acand AS (
         |  SELECT p.qid, m.vec_id,
         |         ${duckCosine("p.qv", "m.embedding")} AS cosine
         |  FROM probes p JOIN members m ON p.cluster = m.cluster AND p.qid <> m.vec_id),
         |aranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
         |  FROM acand),
         |ann AS (SELECT qid, vec_id FROM aranked WHERE rank <= 3),
         |q AS (
         |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id >= $NSEEDS AND vec_id < ${NSEEDS + 10}),
         |tcand AS (
         |  SELECT q.qid, e.vec_id,
         |         ${duckCosine("e.embedding", "q.qv")} AS cosine
         |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
         |tranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
         |  FROM tcand),
         |truth AS (SELECT qid, vec_id FROM tranked WHERE rank <= 3),
         |hits AS (
         |  SELECT t.qid, COUNT(*) AS n FROM truth t
         |  JOIN ann a ON t.qid = a.qid AND t.vec_id = a.vec_id GROUP BY t.qid)
         |SELECT q2.qid, CAST(COALESCE(h.n, 0) AS INTEGER) AS n_hits,
         |       CAST(COALESCE(h.n, 0) AS DOUBLE) / 3.0 AS recall_at_3
         |FROM (SELECT DISTINCT qid FROM q) q2 LEFT JOIN hits h ON q2.qid = h.qid
         |ORDER BY q2.qid""".stripMargin) { (s, d) =>
      FloatDot.register(s)
      val ann = ivfAnn(s, d, NSEEDS, 2).select(col("qid"), col("vec_id"))
      val e = Tables.embeddings(s, d).withColumn("nrm", nativeNorm(col("embedding")))
      val q = e.filter(col("vec_id") >= NSEEDS && col("vec_id") < NSEEDS + 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qnrm"))
      val wT = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
      val truth = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
                (nativeDot(col("embedding"), col("qv")) / (col("nrm") * col("qnrm"))).as("cosine"))
        .withColumn("rank", row_number().over(wT))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("vec_id"))
      val hits = truth.join(ann, Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("n"))
      q.select(col("qid")).distinct()
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("n"), lit(0L)).cast("int").as("n_hits"),
                (coalesce(col("n"), lit(0L)).cast("double") / lit(3.0)).as("recall_at_3"))
        .orderBy("qid")
    },

    // NDCG@10 + MRR of the IVF probe index against brute-force cosine
    // ground truth (round 9) — the GRADED ranking metrics next to
    // ss_ann_recall's set-overlap recall: position i's discount
    // 1/log2(i+1) is pre-quantized to the INTEGER micro-weight table
    // below (the same literals inlined into both engines, so DCG is an
    // exact integer sum — no float log ever crosses the gate);
    // relevance of an ANN hit is 11 − its true rank. NDCG divides two
    // integers; MRR is 1/first-hit-rank. Scale shape: truth is one
    // corpus pass against the 10-query broadcast, the ANN side is
    // cell-bounded, everything after is ≤ 100 rows.
    "ss_ndcg_mrr" -> Q({
      val K = 10
      val wts = (1 to K).map(i =>
        math.round(1e6 / (math.log(i + 1) / math.log(2))))
      val idcg = (1 to K).map(i => (11L - i) * wts(i - 1)).sum
      val wtCase = (col: String) => (1 to K).map(i =>
        s"WHEN $i THEN ${wts(i - 1)}").mkString(s"CASE $col ", " ", " ELSE 0 END")
      s"""WITH ${duckRefinedCte(NSEEDS)},
         |members AS (
         |  SELECT vec_id, label, embedding, cluster FROM refined WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS qid, embedding AS qv, cluster FROM refined
         |  WHERE rn <= 2 AND vec_id >= $NSEEDS AND vec_id < ${NSEEDS + 10}),
         |acand AS (
         |  SELECT p.qid, m.vec_id,
         |         ${duckCosine("p.qv", "m.embedding")} AS cosine
         |  FROM probes p JOIN members m ON p.cluster = m.cluster AND p.qid <> m.vec_id),
         |aranked AS (
         |  SELECT qid, vec_id,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS arank
         |  FROM acand),
         |ann AS (SELECT qid, vec_id, arank FROM aranked WHERE arank <= $K),
         |q AS (
         |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id >= $NSEEDS AND vec_id < ${NSEEDS + 10}),
         |tcand AS (
         |  SELECT q.qid, e.vec_id,
         |         ${duckCosine("e.embedding", "q.qv")} AS cosine
         |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
         |tranked AS (
         |  SELECT qid, vec_id,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS trank
         |  FROM tcand),
         |truth AS (SELECT qid, vec_id, trank FROM tranked WHERE trank <= $K),
         |graded AS (
         |  SELECT a.qid, a.arank,
         |         COALESCE(11 - t.trank, 0) AS rel
         |  FROM ann a LEFT JOIN truth t ON a.qid = t.qid AND a.vec_id = t.vec_id),
         |agg AS (
         |  SELECT qid,
         |         CAST(SUM(rel * (${wtCase("arank")})) AS BIGINT) AS dcg_u,
         |         MIN(CASE WHEN rel > 0 THEN arank END) AS first_hit
         |  FROM graded GROUP BY qid)
         |SELECT q2.qid, COALESCE(a.dcg_u, 0) AS dcg_u,
         |       CAST(COALESCE(a.dcg_u, 0) AS DOUBLE) / $idcg AS ndcg,
         |       CAST(COALESCE(a.first_hit, 0) AS INTEGER) AS first_hit,
         |       CASE WHEN a.first_hit IS NULL THEN CAST(0 AS DOUBLE)
         |            ELSE CAST(1 AS DOUBLE) / a.first_hit END AS mrr
         |FROM (SELECT DISTINCT qid FROM q) q2 LEFT JOIN agg a ON q2.qid = a.qid
         |ORDER BY q2.qid""".stripMargin
    }) { (s, d) =>
      val K = 10
      val wts = (1 to K).map(i =>
        math.round(1e6 / (math.log(i + 1) / math.log(2))))
      val idcg = (1 to K).map(i => (11L - i) * wts(i - 1)).sum
      val wtCase = (1 to K).map(i =>
        s"WHEN $i THEN ${wts(i - 1)}").mkString("CASE arank ", " ", " ELSE 0 END")
      FloatDot.register(s)
      val e = Tables.embeddings(s, d).withColumn("nrm", nativeNorm(col("embedding")))
      val r = refined(e, d, NSEEDS)
      val members = r.filter(col("rn") === 1)
        .select(col("vec_id"), col("embedding"), col("nrm"),
                col("ccluster").as("cluster"))
      val probes = r.filter(col("rn") <= 2 &&
                            col("vec_id") >= NSEEDS && col("vec_id") < NSEEDS + 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
                col("nrm").as("qnrm"), col("ccluster").as("qcluster"))
      val wA = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
      val ann = probes
        .join(members, col("qcluster") === col("cluster") && col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id"),
                (nativeDot(col("qv"), col("embedding")) / (col("qnrm") * col("nrm"))).as("cosine"))
        .withColumn("arank", row_number().over(wA))
        .filter(col("arank") <= K)
        .select(col("qid"), col("vec_id"), col("arank"))
      val q = e.filter(col("vec_id") >= NSEEDS && col("vec_id") < NSEEDS + 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qnrm"))
      val wT = Window.partitionBy(col("tqid")).orderBy(col("cosine").desc, col("vec_id"))
      val truth = e.crossJoin(broadcast(q.withColumnRenamed("qid", "tqid")))
        .filter(col("vec_id") =!= col("tqid"))
        .select(col("tqid"), col("vec_id"),
                (nativeDot(col("embedding"), col("qv")) / (col("nrm") * col("qnrm"))).as("cosine"))
        .withColumn("trank", row_number().over(wT))
        .filter(col("trank") <= K)
        .select(col("tqid"), col("vec_id"), col("trank"))
      val agg = ann
        .join(truth, ann("qid") === truth("tqid") && ann("vec_id") === truth("vec_id"), "left")
        .select(col("qid"), col("arank"),
                coalesce(lit(11) - col("trank"), lit(0)).as("rel"))
        .select(col("qid"), col("arank"), col("rel"))
        .groupBy("qid")
        .agg(sum(col("rel") * expr(wtCase)).cast("long").as("dcg_u"),
             min(when(col("rel") > 0, col("arank"))).as("first_hit"))
      q.select(col("qid")).distinct()
        .join(agg, Seq("qid"), "left")
        .select(col("qid"),
                coalesce(col("dcg_u"), lit(0L)).as("dcg_u"),
                (coalesce(col("dcg_u"), lit(0L)).cast("double") / lit(idcg.toDouble)).as("ndcg"),
                coalesce(col("first_hit"), lit(0)).cast("int").as("first_hit"),
                when(col("first_hit").isNull, lit(0.0))
                  .otherwise(lit(1.0) / col("first_hit")).as("mrr"))
        .orderBy("qid")
    }
  )
}
