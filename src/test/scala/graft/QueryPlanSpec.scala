package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards for the shipped queries' scale
  * invariants — the properties that make the plans survive a 100× data
  * scale-up, asserted on the REAL `SparkEntry.queries` entries over the
  * sf0.001 fixture. Fixture-size-dependent choices (e.g. which side
  * broadcasts at tiny SF) are deliberately NOT asserted; only the
  * invariants that must hold at any scale are:
  *
  *  - no BroadcastNestedLoopJoin / CartesianProduct anywhere (the
  *    O(n·m) cliff — a range predicate that misses its equi-key
  *    restatement would plan one silently);
  *  - selective predicates reach the parquet scan as PushedFilters;
  *  - top-k queries plan the bounded-heap TakeOrderedAndProject, never
  *    a global sort + limit;
  *  - single-partitioning shapes (as-of join) stay join-free.
  */
class QueryPlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-plan-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      // events reader prerequisite - see Tables.NanosAsLongConf
      .config(graft.ops.Tables.NanosAsLongConf, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** What the tests read of one query, from ONE build of it: the session
    * SQL conf entries that building and analyzing it added, removed or
    * changed (the conf-purity sweep's input), its executed plan, and that
    * plan's formatted explain. The corpus-wide sweeps would otherwise each
    * rebuild all the queries.
    */
  private final case class Built(confDiff: Set[(String, String)], executed: String,
                                 formatted: String)
  private val built = mutable.Map.empty[String, Built]

  private def build(name: String): Built = built.getOrElseUpdate(name, {
    val before = spark.conf.getAll
    val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
    qe.analyzed
    val after = spark.conf.getAll
    Built((after.toSet -- before.toSet) ++ (before.toSet -- after.toSet),
      qe.executedPlan.toString,
      // formatted mode: scan metadata (PushedFilters, ReadSchema) untruncated
      qe.explainString(ExplainMode.fromString("formatted")))
  })

  private def plan(name: String): String = build(name).formatted

  private def assertNoLoopJoin(name: String): Unit = {
    val p = plan(name)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"$name plans a nested-loop join — O(n*m) at scale:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"$name plans a cartesian product:\n$p")
  }

  test("q1_pricing: column pruning — only the 5 needed columns are read") {
    val p = plan("q1_pricing")
    assert(p.contains("ReadSchema") && !p.contains("l_shipdate"),
      s"q1 must not read columns it does not use:\n$p")
  }

  test("q6_forecast: every predicate is pushed to the parquet scan") {
    val p = plan("q6_forecast")
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThan(l_quantity").foreach { f =>
      assert(p.contains(f), s"q6 predicate $f must reach the scan:\n$p")
    }
  }

  test("q3_top_revenue: bounded-heap top-k, no global sort+limit") {
    val p = plan("q3_top_revenue")
    assert(p.contains("TakeOrderedAndProject"),
      s"q3 top-10 must be TakeOrderedAndProject:\n$p")
    assertNoLoopJoin("q3_top_revenue")
  }

  test("q5_local_supplier: all joins are hash joins, region filter pushed") {
    assertNoLoopJoin("q5_local_supplier")
    val p = plan("q5_local_supplier")
    assert(p.contains("EqualTo(r_name,ASIA)"),
      s"region filter must reach the region scan:\n$p")
  }

  test("q19_disjunctive: OR-of-ANDs join stays a hash equi-join") {
    assertNoLoopJoin("q19_disjunctive")
  }

  test("q9_profit: part name filter is pushed to the part scan; all joins hashed") {
    assertNoLoopJoin("q9_profit")
    val p = plan("q9_profit")
    assert(p.contains("StringContains(p_name,red)"),
      s"q9's name LIKE filter must reach the part scan:\n$p")
  }

  test("q20_dominant_supplier: fact scanned once (checkpointed aggregate), joins hashed") {
    assertNoLoopJoin("q20_dominant_supplier")
    // The per-(part,supplier) aggregate is checkpointed, so the visible
    // plan reads it as an in-memory scan; the only parquet scans left are
    // the two dimension tables — the fact is provably not re-scanned.
    // (executedPlan.toString prints each node once, unlike formatted mode
    // whose detail section would double-count.)
    val p = build("q20_dominant_supplier").executed
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"q20 should scan only supplier+nation after the checkpoint, got $scans:\n$p")
  }

  test("range_join: bucketized restatement plans no nested-loop join") {
    assertNoLoopJoin("range_join")
  }

  test("range_join_auto: the optimizer rule rewrites the raw BETWEEN join") {
    // the query itself installs RangeJoinBucketize in the session
    assertNoLoopJoin("range_join_auto")
  }

  test("range_join_date: the rule fires on DATE operands too") {
    assertNoLoopJoin("range_join_date")
  }

  test("knn_bruteforce: corpus is never sort-merge shuffled; top-k is a partial aggregate") {
    val p = plan("knn_bruteforce")
    assert(!p.contains("SortMergeJoin"),
      s"kNN must broadcast the query side, never shuffle the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), s"kNN cartesian:\n$p")
    assert(p.contains("topk_by_score"),
      s"kNN must reduce via the bounded-heap topk_by_score aggregate:\n$p")
  }

  test("minhash_pairs: LSH candidate generation is an equi-join") {
    assertNoLoopJoin("minhash_pairs")
  }

  test("asof_join: union + ordered window, no join operator at all") {
    val p = plan("asof_join")
    assert(!p.contains("Join"), s"as-of must stay join-free:\n$p")
  }

  test("corpus-wide sweep: no cartesian products; nested-loop joins only against bounded broadcasts") {
    // Queries where a BroadcastNestedLoopJoin is the DESIGNED plan: the
    // build side is a bounded broadcast — a 1-row global-stats aggregate
    // (bm25/tfidf/surprisal/PMI totals, q22's scalar average, PageRank's
    // node count), the fixed k-row query set (kNN), or a calendar-bounded
    // dimension axis (gap_fill's hour grid). Anything else planning a
    // BNLJ (or any query planning a CartesianProduct) is a scale
    // regression.
    val boundedBnlj = Set("bm25_search", "knn_bruteforce", "pmi_bigrams",
      "q22_idle_customers", "tfidf_top", "unigram_surprisal",
      "pagerank_step", "gap_fill", "rrf_fusion" /* bm25 leg's stats row */,
      "ann_recall" /* brute-force leg broadcasts the fixed query set */,
      "knn_pq" /* broadcast of the bounded query-side ADC distance tables */,
      "knn_ivfpq" /* bounded broadcasts: (queries × K) cell ranking + (queries × k) ADC tables */,
      "ann_recall_ivfpq" /* three ADC legs, each with the bounded query-side crosses above */,
      "knn_ivfpq_res" /* bounded broadcasts: (queries × K) cell+centroid ranking + (queries × nprobe × k) residual ADC tables */,
      "ann_recall_ivfpq_res" /* brute-force truth + raw and residual ADC legs, all bounded query-side crosses */,
      "knn_sq" /* fixed query-set broadcast (bounds are artifact-loaded literals now — no bounds cross) */,
      "ann_recall_probe" /* brute-force leg + the (queries × K centroids) cell-ranking cross, both bounded broadcasts */,
      "ann_recall_trained" /* same legs against the shipped quantizer: brute-force + cell-ranking crosses, bounded */,
      "semantic_decontaminate" /* bench side small by contract, broadcast */,
      "q11_important_stock" /* 1-row threshold broadcast */,
      "triangle_count" /* 1-row mean-degree threshold + 1-row × 1-row output join */,
      "ndcg_eval" /* bm25 leg's 1-row stats broadcast + final 1-row dcg × 1-row idcg cross */,
      "mrr_eval" /* per-query RR rows × the 1-row MRR summary broadcast */,
      "map_eval" /* per-query AP rows × the 1-row MAP summary broadcast */,
      "doc_perplexity" /* per-doc ppl rows × the 1-row mean/σ gate broadcast */,
      "source_divergence" /* 1-row corpus-total broadcast cross */,
      "kll_quantiles" /* |q|-row certified-bracket spec broadcast into the exact pass */,
      "kll_quantiles_grouped" /* summary × |q|-row quantile spec (the corpus joins brackets by KEY) */,
      "kll_merge" /* 1-row totals + |q|-row bracket spec broadcasts */,
      "winsorize" /* bracket spec + 1-row exact-cuts frame broadcast into the clamp pass */,
      "robust_scale" /* per-group bracket specs (groups × 1 quantile rows) broadcast */,
      "weighted_quantiles" /* |q|-row certified-bracket spec broadcast into the exact pass */,
      "weighted_quantiles_grouped" /* summary × |q|-row quantile spec (the corpus joins brackets by KEY) */,
      "quantile_bins" /* bracket spec + 1-row cut-array frame broadcast into the bin pass */,
      "stream_quantiles" /* batch exact pass: |q|-row certified-bracket spec broadcast, as kll_quantiles */,
      "merge_apply" /* the 3-row change-sequence axis (VALUES (1),(2),(3)) crossed into the sampled keys — a literal bounded broadcast */)
    // stream_* builders run their streaming query to completion and the
    // sweep then audits the returned BATCH leg — the part of those
    // queries this class of guard was blind to through round 7.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val offenders = names.flatMap { n =>
      val p = build(n).executed
      val cart = p.contains("CartesianProduct")
      val bnlj = p.contains("BroadcastNestedLoopJoin") && !boundedBnlj(n)
      if (cart || bnlj) Some(s"$n${if (cart) " [cartesian]" else " [unlisted BNLJ]"}")
      else None
    }
    assert(offenders.isEmpty, s"scale-unsafe join plans: $offenders")
  }

  test("heavy hitters: candidate join broadcasts, corpus never sort-merge shuffled") {
    Seq("heavy_hitters", "domain_heavy_hitters").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q pass-2 must broadcast the <=k candidates:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q must never shuffle-sort the token stream for the candidate join:\n$p")
      assert(p.contains("ObjectHashAggregate"),
        s"$q pass-1 must run the misra_gries TypedImperativeAggregate " +
          s"(ObjectHashAggregate), partial then final:\n$p")
    }
  }

  test("kll quantiles: sketch pass is an ObjectHashAggregate, exact pass never sort-merges") {
    // A SortAggregate fallback would SORT the corpus to feed the sketch —
    // the exact cost the sketch exists to avoid; and pass 2 must join the
    // tiny bracket spec by broadcast, never shuffle the value column.
    Seq("kll_quantiles", "kll_quantiles_grouped", "kll_merge", "winsorize")
      .foreach { q =>
        val p = plan(q)
        // Every KLL query's sketch pass now runs behind an eager
        // localCheckpoint (the merged sketch frame is materialized once
        // for its two consumers — the CDF summary and the all-NULL-group
        // branch), so the final plan only carries pass 2. The
        // hash-not-sort aggregate guard moves to the direct sketch-frame
        // assertion below.
        assert(!p.contains("SortMergeJoin"),
          s"$q must never shuffle-sort the corpus for the bracket join:\n$p")
      }
    // The guard the per-query plans can no longer show: kll_sketch must
    // plan as ObjectHashAggregate (a SortAggregate fallback would SORT
    // the corpus to feed the sketch — the exact cost it exists to avoid).
    graft.functions.GraftFunctions.register(spark)
    val sketchPlan = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.expr(
        "kll_sketch(cast(l_extendedprice as double), 1024)"))
      .queryExecution.executedPlan.toString
    assert(sketchPlan.contains("ObjectHashAggregate"),
      s"kll_sketch must plan as ObjectHashAggregate, partial then final:\n$sketchPlan")
    assert(!sketchPlan.contains("SortAggregate"),
      s"kll_sketch must not fall back to SortAggregate:\n$sketchPlan")
  }

  test("corpus-wide sweep: scan multiplicity — no table read more often than its documented budget") {
    // Default budget: each table scanned ONCE per query. Shapes with an
    // inherent second read (two-pass sketch+exact, self-joins, stats legs
    // that Catalyst cannot share) are listed explicitly WITH the reason.
    // Anything over budget is the dataset_card class of regression (that
    // query silently unioned SEVEN full corpus scans for a one-pass
    // datasheet — ~700 TB of read at the design point — and nothing
    // noticed until a judge did). localCheckpoint'ed subplans appear as
    // RDD scans, so a checkpointed-once corpus read correctly counts 0
    // here — the checkpoint job itself is the single scan.
    val budget: Map[String, Map[String, Int]] = Map(
      // -- two-pass sketch + exact designs: pass 2 re-reads by design,
      //    trading a second cheap columnar scan for never shuffling the
      //    full distinct key space
      // heavy_hitters / domain_heavy_hitters: both passes read the
      // TextStage staged token frame now — zero documents scans (the
      // staged-plan test below pins the whole family)
      "kll_quantiles" -> Map("lineitem" -> 2),         // sketch pass + exact windowed pass
      "kll_quantiles_grouped" -> Map("lineitem" -> 2),
      "winsorize" -> Map("lineitem" -> 3),             // sketch + exact-cut + clamp passes
      "robust_scale" -> Map("events" -> 5),            // two sketch+exact quantile rounds + outlier count
      "weighted_quantiles" -> Map("lineitem" -> 2),    // weighted sketch pass + weighted exact pass
      "quantile_bins" -> Map("lineitem" -> 3),         // sketch + exact-cut + bin-assignment passes
      "kll_merge" -> Map("orders" -> 3),               // per-slice sketch pass + n_slices + exact pass
      // -- accuracy evals: two independent methods over the SAME input,
      //    compared — the re-read IS the experiment
      "ann_recall" -> Map("embeddings" -> 4),      // brute-force leg vs IVF leg, each corpus+queries
      "ann_recall_probe" -> Map("embeddings" -> 6), // three retrieval legs (exact, nprobe=1, nprobe=2), each corpus+queries
      "ann_recall_trained" -> Map("embeddings" -> 6), // same three legs against the SHIPPED quantizer (centroids from the artifact, no sampling scan)
      "bloom_prefilter" -> Map("documents" -> 4),  // sketch build/probe vs exact-join truth, disjoint pushed-filter slices
      "cms_freq" -> Map("documents" -> 2),         // CMS estimate vs exact counts
      "approx_distinct" -> Map("events" -> 2),     // HLL estimate vs exact distinct
      "hll_merge" -> Map("events" -> 3),           // the slice→merge associativity proof: 2 halves + direct run
      // -- one table in TWO OR MORE SEMANTIC ROLES (self-join family);
      //    pushed filters make each role's scan partial where applicable
      "knn_bruteforce" -> Map("embeddings" -> 2),  // corpus role + query role (vec_id<8 pushed)
      "mrr_eval" -> Map("embeddings" -> 4),        // corpus + query retrieval roles + corpus-label + query-label lookups; RR frame checkpointed so neither re-scans
      "knn_ivf" -> Map("embeddings" -> 2),
      "knn_ivf_trained" -> Map("embeddings" -> 2), // corpus role + query role (vec_id<8 pushed); centroids come from the artifact, not a scan
      "knn_pq" -> Map("embeddings" -> 2),          // code-scan role + ADC-table query role
      "knn_ivfpq" -> Map("embeddings" -> 3),       // assign+encode scan + query cell-ranking role + query ADC-table role (both quantizers are artifact literals, no sampling scan)
      "ann_recall_ivfpq" -> Map("embeddings" -> 8), // unrouted-ADC truth (2 roles) + two routed legs (3 roles each)
      "knn_ivfpq_res" -> Map("embeddings" -> 2),    // assign+residual-encode scan + query role (cells/ce/ADC tables all derive from it; quantizers are artifact literals)
      "ann_recall_ivfpq_res" -> Map("embeddings" -> 7), // brute-force truth (2 roles) + raw routed leg (3 roles) + residual leg (2 roles)
      "semantic_dedup" -> Map("embeddings" -> 2),
      "semantic_decontaminate" -> Map("embeddings" -> 2), // corpus role + broadcast bench role
      "asof_join" -> Map("events" -> 2),           // quote stream + trade stream roles
      "full_outer" -> Map("orders" -> 2),          // both diff sides
      "table_diff" -> Map("customer" -> 3),        // old snapshot, new snapshot, changed-row compare
      "scd2_merge" -> Map("customer" -> 3),        // current dim + incoming batch + close-out
      "incr_dedup" -> Map("documents" -> 2),       // incoming batch anti-joins the seen corpus
      "decontaminate" -> Map("documents" -> 2),    // corpus vs benchmark sides
      "edit_distance" -> Map("documents" -> 2),    // both members of each near-dup pair
      "dup_spans" -> Map("documents" -> 3),        // span sides + doc metadata
      "range_join" -> Map("lineitem" -> 2, "orders" -> 2), // probe + build intervals
      // the rule-rewritten twins now take the same two-level rollup
      // (day-agg + boundary legs each read both sides once)
      "range_join_auto" -> Map("lineitem" -> 2, "orders" -> 2),
      "range_join_date" -> Map("lineitem" -> 2, "orders" -> 2),
      "set_ops" -> Map("orders" -> 4),             // UNION/INTERSECT/EXCEPT legs — the surface under test
      // -- stats-then-score: a 1-row (or reduced) aggregate leg plus the
      //    scoring scan; Catalyst cannot share a scan across an aggregate
      //    boundary, and checkpointing the CORPUS to avoid a cheap
      //    columnar re-read would cost more than the read
      "value_zscore" -> Map("events" -> 2),
      "emb_outliers" -> Map("embeddings" -> 2),
      "sq_encode" -> Map("embeddings" -> 2),     // per-dim bounds pass + map-only encode pass
      "knn_sq" -> Map("embeddings" -> 2),        // code-scan role + query role (vec_id<8 pushed); bounds are artifact-loaded literals, no in-plan bounds pass
      "quality_filter" -> Map("documents" -> 2),   // per-language quantile cut needs the full distribution first
      "gap_fill" -> Map("events" -> 3),            // per-key bounds, dense spine, observed join
      // -- reduced-vocabulary join designs: term-count aggregate leg(s) +
      //    the per-doc scan; re-scan beats materializing the exploded
      //    token stream (larger than the corpus) at any scale.
      //    The LM family (doc_perplexity / bigram_surprisal /
      //    unigram_surprisal / source_divergence) is NOT here any more:
      //    those read the TextStage staged token frame — documents.parquet
      //    is scanned once at staging time and ZERO times per query (the
      //    dedicated staged-plan test below pins that), so they fall
      //    under the default budget.
      // -- TPC-H correlated-subquery shapes: the spec's own semantics
      //    (scalar-subquery threshold, EXISTS/NOT EXISTS legs, two
      //    nation roles) read a table more than once
      "q2_min_price" -> Map("part" -> 2),
      "q7_nation_volume" -> Map("nation" -> 2),    // supplier nation × customer nation
      "q8_market_share" -> Map("nation" -> 2),
      "q11_important_stock" -> Map("lineitem" -> 2, "nation" -> 2, "supplier" -> 2), // per-key value + global threshold
      "q17_small_quantity" -> Map("lineitem" -> 2), // per-part avg subquery
      "q21_waiting_supplier" -> Map("lineitem" -> 3, "orders" -> 3), // base + EXISTS + NOT EXISTS
      "overlap_join" -> Map("lineitem" -> 2),      // interval self-join: both pair sides scan the (pruned) source
      "q22_idle_customers" -> Map("customer" -> 2), // global avg-balance subquery
      "merge_apply" -> Map("customer" -> 3)        // target role + change-log role in the anti join + the upsert leg (Catalyst cannot share a scan across the window boundary)
    ).withDefaultValue(Map.empty)
    // stream_* included: their builders run the stream, the sweep audits
    // the returned batch leg's scans (see the BNLJ sweep note above)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val offenders = names.flatMap { n =>
      val p = plan(n)
      "/([a-z_]+)\\.parquet".r.findAllMatchIn(p).map(_.group(1)).toSeq
        .groupBy(identity).collect {
          case (t, hits) if hits.size > budget(n).getOrElse(t, 1) =>
            s"$n: $t scanned ${hits.size}x (budget ${budget(n).getOrElse(t, 1)})"
        }
    }
    assert(offenders.isEmpty,
      s"scan-multiplicity regressions:\n${offenders.mkString("\n")}")
  }

  test("LM family reads the staged token frame: zero documents scans, bounded staged scans") {
    // TextStage stages the tokenized corpus ONCE per process; every LM
    // aggregate must read the staged parquet (location prefix
    // graft_toks), never re-tokenize documents.parquet. Budgets are the
    // aggregate counts of each design — creep here means an aggregate
    // fell off the staged frame.
    val budgets = Map(
      "doc_perplexity" -> 0,     // per-doc ppl frame is checkpointed: the 5 LM aggregates ran at build time, over the staged frame
      "bigram_surprisal" -> 3,   // tf / c_ab / c_w1
      "unigram_surprisal" -> 3,  // tf / term counts / total
      "source_divergence" -> 0,  // (source,term) frame is checkpointed
      "vocab_topk" -> 1,
      "zipf_slope" -> 1,
      "tfidf_top" -> 3,          // tf / df legs + the 1-row doc total
      "source_entropy" -> 2,     // (source,term) counts + totals reduce from them; both legs read staged
      "heavy_hitters" -> 2,      // sketch pass + exact pass (the two-pass design, now regex-free)
      "domain_heavy_hitters" -> 2,
      "pmi_bigrams" -> 2,        // bigram + unigram count legs (checkpointed; totals reduce from them)
      "bm25_search" -> 0,        // tf projection is checkpointed at build time
      "ndcg_eval" -> 0,          // same checkpointed tf projection feeds rank + labels
      "sparse_knn" -> 0,         // postings/idf/weighted-postings all checkpointed
      "sparse_recall" -> 0)      // both legs' postings/idf checkpointed at build
    budgets.foreach { case (name, maxStaged) =>
      val p = plan(name)
      assert(!p.contains("documents.parquet"),
        s"$name must read the staged token frame, not re-tokenize documents:\n$p")
      val staged = "graft_toks".r.findAllIn(p).length
      assert(staged <= maxStaged,
        s"$name staged-frame scans $staged exceed budget $maxStaged:\n$p")
    }
  }

  test("corpus-wide sweep: building a query never mutates session SQL conf") {
    // Readers and query builders must be PURE: a builder that conf.sets
    // (the old Tables.events nanosAsLong pattern) changes behavior for
    // every LATER query in the session — the bug class that darkened 25
    // queries in round 4 was only possible because a reader owned session
    // state. The streaming runners pin state partitions and RESTORE them —
    // this sweep now PROVES that restore by diffing confs across their
    // full build-and-run, instead of taking their own specs' word for it.
    // Session EXTENSIONS (an optimizer rule / strategy added via the
    // experimental hook by range_join_auto / hybrid_sort_exec) are not
    // SQL confs and are idempotent — this guard checks confs only. The
    // diff is of each query's FIRST build in this session (see `build`):
    // a later build would miss a builder that sets a fixed value.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val offenders = names.flatMap { n =>
      val diff = build(n).confDiff
      if (diff.isEmpty) None else Some(s"$n changed: $diff")
    }
    assert(offenders.isEmpty,
      s"impure query builders:\n${offenders.mkString("\n")}")
  }

  test("zorder_auto: the rule injects the strip partition filter the user never wrote") {
    // the query's own predicate is ONLY `pk < 64`; the zstrip IN (...)
    // partition filter must appear in the physical scan, put there by
    // ZOrderStripPrune from the layout's _graft_zlayout descriptor
    // (formatted plan string — the scan hides under AdaptiveSparkPlan)
    val p = plan("zorder_auto")
    assert("PartitionFilters: \\[zstrip#\\d+L? IN \\(".r.findFirstIn(p).isDefined,
      s"rule-injected zstrip IN partition filter missing:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(pk), LessThan(pk,64)]"),
      s"dimension predicate must still reach the scan:\n$p")
  }

  test("sessions: exactly one user-keyed exchange feeds windows and aggregate") {
    val p = plan("sessions")
    assert(!p.contains("Join"), s"sessions must not join:\n$p")
    val shuffles = "hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(shuffles == 1,
      s"sessions must reuse ONE user_id partitioning, got $shuffles:\n$p")
  }
}
