package graft

import org.apache.spark.sql.execution.SparkPlan

/** Locks in the scale-audit plan shapes for the canonical queries so a
  * future refactor can't silently regress pushdown/broadcast/partial-agg
  * (the .explain review SURVEY.md §7 mandates, as assertions).
  */
class PlanAssertionsSpec extends SparkSpec {

  private def plan(name: String): String =
    // formatted mode: executedPlan.toString truncates long PushedFilters
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q01: shipdate filter pushes to the parquet scan; schema pruned") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_orderkey"), "unused column not pruned:\n" + p)
  }

  test("q02: predicate pushdown on quantity and returnflag") {
    val p = plan("q02_filter_project")
    assert(p.contains("GreaterThan(l_quantity,45.0)") && p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("q04: dimension chain broadcasts") {
    val p = plan("q04_broadcast_dims")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("dd_minhash_sig: partial min aggregation below the exchange") {
    // tree check, not substring order: map-side combining means a
    // HashAggregate must sit BELOW the shuffle exchange (a plan that
    // shuffles raw rows first still contains both substrings somewhere)
    // (here the upstream repartition(doc_id) already co-locates groups,
    // so partial+final run back-to-back with NO exchange between — even
    // better; the invariant is that a Partial-mode aggregate exists)
    val sp = SparkEntry.queries("dd_minhash_sig")(spark, sf).queryExecution.sparkPlan
    val hasPartial = sp.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.aggregateExpressions.exists(
          _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
    }.nonEmpty
    assert(hasPartial, sp.toString)
  }

  test("ta_bm25_search: zero shuffle exchanges — broadcast totals + TakeOrdered only") {
    // the document-at-a-time scorer's whole point: one corpus scan into
    // a broadcast cross join and a top-k, never a row-scale shuffle
    val p = plan("ta_bm25_search")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("ShuffleExchange") && !p.contains("Exchange hashpartitioning"),
      "BM25 scorer must not shuffle rows:\n" + p)
  }

  test("ta_dsir_weights: no joins — literal lookup + doc-keyed partial agg") {
    // the 1024-bucket dimension is collected to a literal, so the
    // scoring pass must contain NO join operator of any kind, and the
    // per-doc sum must map-side combine
    val sp = SparkEntry.queries("ta_dsir_weights")(spark, sf).queryExecution.sparkPlan
    val joins = sp.collect {
      case j if j.nodeName.toLowerCase.contains("join") => j
    }
    assert(joins.isEmpty, s"unexpected joins: ${joins.map(_.nodeName)}")
    val hasPartial = sp.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.aggregateExpressions.exists(
          _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
    }.nonEmpty
    assert(hasPartial, sp.toString)
  }

  test("dd_cdc_chunks: array-native chunking — no window, no token-level generate") {
    // chunk construction is per-row array work; the only Generate is
    // the CHUNK-granularity explode feeding the dedup aggregate
    val sp = SparkEntry.queries("dd_cdc_chunks")(spark, sf).queryExecution.sparkPlan
    val windows = sp.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, "CDC must not window the token stream")
    val generates = sp.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(generates.size == 1, s"expected exactly the chunk explode, got ${generates.size}")
  }

  test("q61/q62/q37: the parse stays ABOVE the declared sort (sort-first barrier)") {
    // the round-10 sort-first rewrite depends on the optimizer neither
    // re-inlining the parse below the Sort nor collapsing the
    // explode(array(…)) barrier; a Spark upgrade could silently regress
    // it (ADVICE r10). For all three queries the parse marker must not
    // appear anywhere in the Sort's subtree — there the range sampler
    // would execute it twice. q61 and q62 extract several fields, so
    // their single parse is pinned in a Generate barrier above the Sort;
    // q37 extracts one field and has no barrier, so for it the property
    // the barrier protects is checked directly: exactly one from_json in
    // the whole plan, in a node whose subtree holds the Sort.
    import org.apache.spark.sql.execution.{GenerateExec, SortExec}
    def holdsSort(n: SparkPlan) = n.collectFirst { case s: SortExec => s }.isDefined
    for ((q, marker) <- Seq(("q61_xml_extract", "from_xml"),
                            ("q62_variant_path", "variant"),
                            ("q37_from_json", "from_json"))) {
      val sp = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
      val sorts = sp.collect { case s: SortExec => s }
      assert(sorts.nonEmpty, s"$q lost its sort-first Sort")
      val below = sorts.exists(_.toString.toLowerCase.contains(marker))
      assert(!below, s"$q: the $marker parse slid below the Sort:\n${sp.toString}")
      if (q == "q37_from_json") {
        val parses = sp.flatMap(n => n.expressions.flatMap(_.collect {
          case _: org.apache.spark.sql.catalyst.expressions.JsonToStructs => n
        }))
        val count = parses.size
        assert(count == 1, s"$q: expected one from_json parse, got $count:\n${sp.toString}")
        assert(holdsSort(parses.head),
          s"$q: the from_json parse no longer sits above the Sort:\n${sp.toString}")
      } else {
        val gens = sp.collect { case g: GenerateExec => g }
        assert(gens.exists(holdsSort),
          s"$q: the Generate parse barrier no longer sits above the Sort")
      }
    }
  }

  test("el_consume_offset: TakeOrderedAndProject, no global sort") {
    val p = plan("el_consume_offset")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("ta_bloom_contamination: exact dim broadcasts; no sort-merge join") {
    // the Bloom bits themselves are a literal-array projection (no join
    // at all); the only join is the exact-hit check against the bounded
    // bench-gram dim, which must broadcast — a sort-merge join here
    // would shuffle the corpus gram stream by gram string
    val p = plan("ta_bloom_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "gram stream shuffled by string:\n" + p)
  }

  test("ta_boilerplate: frequent-shingle dim and total broadcast") {
    val p = plan("ta_boilerplate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("BroadcastNestedLoopJoin|BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("el_cms_counts: the sketch grid broadcasts back to the probe side") {
    // the D·W-row counter table must broadcast — a sort-merge join here
    // would shuffle the keyed probe stream by (d, cell)
    val p = plan("el_cms_counts")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "probe stream shuffled by cell:\n" + p)
  }

  test("dd_sorted_neighborhood: neighborhood meets in an equi-join, no theta join") {
    // the w=3 window must be the exploded-successor EQUI-join —
    // a BroadcastNestedLoopJoin would mean the rank-band predicate
    // degenerated to a filtered cross product
    val p = plan("dd_sorted_neighborhood")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "theta join in sorted-neighborhood:\n" + p)
  }

  test("el_bitmap_overlap: word packing partially aggregates below the exchange") {
    val sp = SparkEntry.queries("el_bitmap_overlap")(spark, sf).queryExecution.sparkPlan
    val hasPartial = sp.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.aggregateExpressions.exists(
          _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
    }.nonEmpty
    assert(hasPartial, sp.toString)
  }

  test("ta_corpus_funnel: one documents scan feeds the stage flags (plus the gram branches)") {
    // the single-pass rewrite reads documents 3× (flag lineage + two
    // gram streams); the per-stage-union shape read it 7+×. Pin the
    // ceiling so a refactor can't silently reintroduce the fan-out.
    val sp = SparkEntry.queries("ta_corpus_funnel")(spark, sf).queryExecution.sparkPlan
    val scans = sp.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size
    assert(scans <= 3, s"documents scanned $scans times:\n" + sp)
  }

  // ---- full-surface sweep: every declared query's physical plan ----

  /** Queries allowed a WindowExec with an empty partition spec: the
    * consume point-reads rank a prefix ALREADY bounded by orderBy+limit
    * (≤ 110 rows reach the window — the TakeOrderedAndProject above it
    * is asserted separately), so the "global" window never sees
    * unbounded input. Anything else growing one fails the suite until
    * listed here with a rationale. */
  private val globalWindowByDesign = Set(
    "el_consume_offset", "el_consume_batch", "el_consume_shard",
    // rank window over the TakeOrdered head: ≤ 50 rows reach it
    "ta_zipf_rank",
    // same pattern: rank window over a 20-row TakeOrdered head
    "ta_collocations",
    // both fusion arms rank over 50-row TakeOrdered heads
    "ss_hybrid_rrf",
    // running CUSUM over the daily grid: input bounded by calendar days
    // (the log collapses to ≤366 rows before the window)
    "el_changepoint_cusum",
    // rank-prefix window over the discretized dollar grid: LEAST(·,1024)
    // bounds the window input at 1026 rows in the query's semantics
    "el_mann_whitney",
    // domain-index window over DISTINCT event_type: input bounded by the
    // K-row type domain (the randomized-response report dimension)
    "pr_rr_counts",
    // largest-remainder seat rank over the |sources|-row strata grid
    "ta_neyman_alloc",
    // centered 7-day MA over the dense daily grid: ≤ calendar days
    "el_seasonal_decompose",
    // sorted-neighborhood lead window over DISTINCT p_name: input bounded
    // by the |colors|·|nouns| name vocabulary at every SF
    "dd_jaro_winkler",
    // BH rank window over per-type test stats: one row per event type
    "el_fdr_bh",
    // two-pass sorted-neighborhood leads over the vocab-bounded DISTINCT
    // name domain (same rationale as dd_jaro_winkler)
    "dd_fs_weights")

  /** One shared plan build per query. The window sweep inspects
    * `sparkPlan` — the physical plan BEFORE the AQE wrapper, because
    * `executedPlan` under AQE is an AdaptiveSparkPlanExec LEAF whose
    * `.collect` never descends into the real operators (a sweep over it
    * is vacuously green). */
  private lazy val allExec: Map[String, (String, SparkPlan)] =
    SparkEntry.queries.keys.map { n =>
      val qe = SparkEntry.queries(n)(spark, sf).queryExecution
      n -> (qe.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")),
        qe.sparkPlan)
    }.toMap

  test("sweep: no non-broadcast cartesian product in any declared plan") {
    val offenders = allExec.collect {
      case (n, (p, _)) if p.contains("CartesianProduct") => n
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("sweep: no cached-relation leaks in any declared plan") {
    val offenders = allExec.collect {
      case (n, (p, _)) if p.contains("InMemoryRelation") => n
    }
    assert(offenders.isEmpty, s"InMemoryRelation in: $offenders")
  }

  test("sweep: single-partition windows only where input is bounded") {
    // inspect the tree, not the dump: a scalar aggregate also plans a
    // SinglePartition exchange (one output row — fine); what must not
    // appear unannounced is a WindowExec with an EMPTY partition spec,
    // which funnels its whole input through one task
    val actual = allExec.collect {
      case (n, (_, sp)) if sp.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }.nonEmpty => n
    }.toSet
    // exact equality: an unannounced global window fails, and so does a
    // stale allowlist entry (a query that no longer needs the trade)
    assert(actual == globalWindowByDesign,
      s"global-window set drifted — unexpected: ${actual -- globalWindowByDesign}, stale: ${globalWindowByDesign -- actual}")
  }
}
