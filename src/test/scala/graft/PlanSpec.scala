package graft

/** Physical-plan shape assertions — the properties that matter at 100 TB
  * (pushdown reaching the scan, broadcast for small dims, top-k instead
  * of global sort, partial aggregation) must hold structurally, not by
  * luck. Guards against regressions that stay correct but stop scaling.
  */
class PlanSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, d)
    df.queryExecution.executedPlan.toString
  }

  test("q02: filter + projection pushed to the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters") &&
      (p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("GreaterThanOrEqual(l_quantity")),
      s"no pushed filters in:\n$p")
    // pruned read schema: only the 4 referenced columns
    assert(!p.contains("l_extendedprice"), "scan reads unused columns")
  }

  test("q06: tiny dims join via broadcast, not shuffle") {
    val p = plan("q06_dim_join")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("q04/q05: semi and anti joins planned as such") {
    assert(plan("q04_semi_join").contains("LeftSemi"))
    assert(plan("q05_anti_join").contains("LeftAnti"))
  }

  test("q08: global top-k is TakeOrderedAndProject, not full sort+limit") {
    assert(plan("q08_topk_global").contains("TakeOrderedAndProject"))
  }

  test("q162: benchmark gram set broadcasts into the semi-join (zero corpus shuffle)") {
    val p = plan("q162_decontaminate_spans")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"decontamination semi-join must broadcast the bench grams:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus grams must not shuffle for the eval-set probe:\n$p")
  }

  test("q158: pairing-range predicate reaches both parquet scans") {
    // regression guard for the compute-then-filter form that ran the
    // interpreted bigram HOF over the full corpus on both join legs
    val p = plan("q158_rouge_overlap")
    assert("LessThanOrEqual\\(doc_id,20\\)".r.findAllIn(p).size >= 2,
      s"doc range not pushed to both scans:\n$p")
  }

  test("q173: query vocabulary broadcasts into the postings probe") {
    val p = plan("q173_tfidf_cosine")
    assert(p.contains("BroadcastHashJoin"),
      s"the query-vocab probe must broadcast, not shuffle postings:\n$p")
  }

  test("q188: rates broadcast and the keep predicate stays a scan-side filter") {
    val p = plan("q188_temperature_mixture")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-stratum rate table must broadcast:\n$p")
    assert(p.contains("pmod") || p.contains("%"),
      s"keep predicate must appear as a filter in the plan:\n$p")
  }

  test("q181: forward as-of stays the single union+exchange window plan") {
    val p = plan("q181_asof_forward")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
      s"forward as-of must not plan as a join:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"expected the window carry:\n$p")
  }

  test("q01: aggregation is partial+final (map-side combine)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"no partial aggregation in:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q07: rank-filter compiles to WindowGroupLimit (per-group top-k " +
      "prune before the full sort)") {
    // Spark 4's window-group-limit pushdown: rank()<=k must NOT rank
    // every row — the optimizer inserts a per-partition limit that
    // drops losers BEFORE the window sort materializes. This is the
    // difference between "sort every group" and "keep k per group" at
    // 100 TB fan-in.
    val p = plan("q07_window_topk")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k did not plan a WindowGroupLimit:\n$p")
  }

  test("runtime Bloom filter injects a fact-side semi-filter for a " +
      "selective dim join (InjectRuntimeFilter)") {
    // the engine-managed counterpart of ops/BloomJoin: with the runtime
    // filter optimizer enabled and thresholds scaled to test data, a
    // selective dim filter must inject bloom_filter_agg/might_contain
    // onto the fact scan side — rows that cannot join die before the
    // shuffle. Result equality vs the unfiltered plan is pinned.
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "100MB")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    import org.apache.spark.sql.functions._
    val dd = "/root/testdata/sf0.01"
    val li = Graft.table(s, dd, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = Graft.table(s, dd, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("long").as("qty"))
    val p = joined.queryExecution.optimizedPlan.toString
    assert(p.contains("might_contain") || p.contains("bloom_filter"),
      s"no runtime bloom filter injected:\n$p")
    val got = joined.head()
    // equality vs a session with the rewrite off
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    val li2 = Graft.table(s2, dd, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord2 = Graft.table(s2, dd, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val want = li2.join(ord2, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("long").as("qty")).head()
    assert(got == want, s"bloom-filtered result diverged: $got vs $want")
  }

  test("q74: explicit BloomJoin probe is the native might_contain " +
      "expression — no udf eval node in the fact scan's filter") {
    // r7: the probe swapped from a Scala udf (non-codegen eval in the
    // hot path) to Spark's own BloomFilterMightContain; the fact-side
    // filter must show the native function and stay codegen-compiled
    val p = plan("q74_bloom_join")
    assert(p.contains("might_contain"),
      s"native bloom probe missing from the plan:\n$p")
    assert(!p.toLowerCase.contains("udf"),
      s"a udf eval node survived in the bloom-join plan:\n$p")
  }

  test("BloomJoin on a STRING key: hashes both sides instead of a " +
      "null-yielding long cast, and matches the plain join") {
    // r8 (ADVICE): .cast("long") on a string key yields null,
    // might_contain(null) is null, and every fact row silently died
    // before the join. Non-integral keys now go through xxhash64 on
    // BOTH build and probe sides; result equality vs the plain join
    // is the operator's contract (no false negatives).
    import org.apache.spark.sql.functions._
    val dd = "/root/testdata/sf0.01"
    val li = Graft.table(spark, dd, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"))
    val dim = Graft.table(spark, dd, "lineitem")
      .select(col("l_returnflag")).distinct()
      .filter(col("l_returnflag").isin("A", "R"))
      .withColumnRenamed("l_returnflag", "flag")
    val got = graft.ops.BloomJoin.join(li, dim, "l_returnflag", "flag", 10L)
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("long").as("qty")).head()
    val want = li.join(dim, col("l_returnflag") === col("flag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("long").as("qty")).head()
    assert(got.getLong(0) > 0, "string-key bloom join filtered everything")
    assert(got == want, s"string-key bloom join diverged: $got vs $want")
  }

  test("q40: plans the native CosineSimilarity expression") {
    val df = SparkEntry.queries("q40_cosine_topk")(spark, d)
    def hasCosine(p: org.apache.spark.sql.catalyst.plans.QueryPlan[_]): Boolean =
      p.expressions.exists(_.exists(_.isInstanceOf[graft.expr.CosineSimilarity])) ||
        p.children.exists(c =>
          hasCosine(c.asInstanceOf[org.apache.spark.sql.catalyst.plans.QueryPlan[_]]))
    assert(hasCosine(df.queryExecution.optimizedPlan),
      "native cosine expression not in the optimized plan")
    assert(df.count() > 0) // and it executes (codegen path compiles)
  }

  test("q38: inverted shingle index — native ShingleHashes, no cartesian/NL join") {
    val df = SparkEntry.queries("q38_jaccard_pairs")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise phase degenerated to a product join:\n$p")
    def hasShingle(pl: org.apache.spark.sql.catalyst.plans.QueryPlan[_]): Boolean =
      pl.expressions.exists(_.exists(_.isInstanceOf[graft.expr.ShingleHashes])) ||
        pl.children.exists(c =>
          hasShingle(c.asInstanceOf[org.apache.spark.sql.catalyst.plans.QueryPlan[_]]))
    assert(hasShingle(df.queryExecution.optimizedPlan),
      "native ShingleHashes not in the optimized plan")
  }

  test("lshTopK (q41's probe path): equi-join on the bucket key, no product join") {
    // q41's ENTRY returns a contract summary (LocalRelation); the probe
    // pipeline shape is asserted on the operator itself, multi-probe on
    import org.apache.spark.sql.functions._
    val emb = Graft.table(spark, d, "embeddings")
    val qs = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val df = graft.ext.Similarity.lshTopK(qs, corpus, 3,
      nPlanes = 8, maxProbeHamming = 2)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LSH probe degenerated to a product join:\n$p")
    // bucket keys come from the native fused expression, not the HOF form
    def hasBits(pl: org.apache.spark.sql.catalyst.plans.QueryPlan[_]): Boolean =
      pl.expressions.exists(_.exists(_.isInstanceOf[graft.expr.HyperplaneSignBits])) ||
        pl.children.exists(c =>
          hasBits(c.asInstanceOf[org.apache.spark.sql.catalyst.plans.QueryPlan[_]]))
    assert(hasBits(df.queryExecution.optimizedPlan),
      "native HyperplaneSignBits not in the optimized plan")
  }

  test("plan lint: product joins only where intentional, across ALL queries") {
    // non-equi / all-pairs by design:
    //   q39/q40/q47: exact similarity baselines (id_a < id_b, qid != id)
    //   q45: explicit cross join
    //   q46: 1-row broadcast scalar
    //   q28: band join (range predicate against a broadcast dim)
    // q41/q44/q97 run their accuracy contract in-job and RETURN a
    // LocalRelation summary, so this lint sees no join; their pipeline
    // shapes are asserted by the dedicated lshTopK test above and
    // SimilaritySpec (the brute baseline inside them is a deliberate
    // broadcast NL join, same as q40's).
    val productOk = Set("q28_range_join", "q39_embedding_neardup",
      "q40_cosine_topk", "q45_cross_join",
      "q46_scalar_subquery", "q47_hybrid_search",
      "q69_dedup_clusters", // q69: exact-cosine edge derivation (q39's)
      "q78_contamination",  // 1-row broadcast snippet injection
      // q162: same 1-row broadcast snippet injection as q78 (the
      // decontamination spans themselves flow through a broadcast
      // SEMI-join — keyed, not a product)
      "q162_decontaminate_spans",
      // q206: the same 1-row snippet injection; the Bloom pre-filter is
      // a scan predicate and the confirm join is keyed on the gram hash
      "q206_bloom_decontaminate",
      // q99/q100: BM25's (N, avgdl) corpus stats are ONE broadcast row
      // cross-joined onto the matched postings — O(|matched|) work,
      // scale-safe by construction (same class as q46's scalar)
      "q99_bm25_topk", "q100_rrf_fusion",
      // q104: the (n_keys, n_rows, max_cnt) summary is ONE broadcast
      // row cross-joined onto the top-K histogram rows — O(K) work,
      // same class as q46's scalar subquery
      "q104_skew_diagnostic",
      // q105: the LM's vocabulary size V is ONE broadcast row
      // cross-joined onto the scored bigrams (q46's scalar class);
      // the count TABLES join on real keys, never cross
      "q105_bigram_lm",
      // q167: the same bigramLmScore vocab scalar (q105's class); the
      // phase assignment itself is a window, not a join
      "q167_curriculum_phases",
      // q169: med and MAD are ONE-row broadcasts onto the O(days)
      // rollup (q46's scalar class)
      "q169_rate_anomaly",
      // q113: each PageRank round cross-joins TWO one-row scalars
      // (node count, dangling mass) onto the rank relation (q46's
      // scalar class); edges × ranks joins on src, never cross
      "q113_pagerank",
      // q117: corpus size N is ONE broadcast row cross-joined onto
      // the (tok, lang) counts (q46's scalar class); every other join
      // is keyed (tok / lang)
      "q117_token_pmi",
      // q121: the user-universe size is ONE broadcast row (q46's
      // scalar class); baskets join on user_id, metrics on item keys
      "q121_assoc_rules",
      // q129: the corpus row count n is ONE broadcast row off the
      // checkpointed dense-id frame (q46's scalar class); the ids
      // themselves come from denseIds' keyed range exchange
      "q129_equidepth_bins",
      // q134: the (hour × bucket) spine is a product of two TINY
      // derived aggregates (hours, bucket ids) — O(spine) rows; the
      // events relation aggregates once and never products
      "q134_sliding_distinct",
      // q145: the (np, nq, V) totals are ONE broadcast row cross-joined
      // onto the vocabulary relation (q46's scalar class)
      "q145_token_kl",
      // q154: the (nt, nr, V) model totals are ONE broadcast row
      // cross-joined onto the vocabulary relation (q145's exact shape);
      // doc tokens join the weight table on tok, never cross
      "q154_importance_resampling",
      // q156: bounded broadcast query set × corpus with a non-equi
      // label-mismatch predicate — q40's deliberate broadcast-NL class;
      // at scale the corpus side is an ANN shortlist, not a full scan
      "q156_hard_negatives",
      // q173: corpus doc count N is ONE broadcast row cross-joined
      // onto postings (q46's scalar class); postings/df/norm/probe
      // joins are all keyed (term / doc / qid)
      "q173_tfidf_cosine",
      // q174: the pair total T is ONE broadcast row onto the top-25
      // slice (q46's scalar class); marginal joins are keyed on token
      "q174_skipgram_pmi",
      // q179: the mean pair count is ONE broadcast row onto the pair
      // relation (q46's scalar class); wedge/closing joins are keyed
      "q179_triangle_count",
      // q183: same p95 scalar broadcast as q179; vote joins are keyed
      "q183_label_propagation",
      // q193: the ONE-row integrity scalar broadcasts onto the 5-row
      // fold-size rollup (q46's scalar class)
      "q193_group_kfold",
      // q220: the dimension-sized station table broadcasts against
      // every point for the argmin fold — q40's deliberate
      // broadcast-NL class (site tables are thousands of rows at most)
      "q220_nearest_station",
      // q225/q226/q232/q234: ONE-row scalar broadcasts (sample sizes /
      // pe numerator / N / test-fold bounds) onto bounded relations —
      // q46's scalar class
      "q225_ks_two_sample",
      "q226_cohen_kappa",
      "q232_chi_square",
      "q234_purged_time_split",
      // q235: the max-supplier-key scalar is ONE broadcast row onto
      // the parts relation; candidate/positive joins are keyed
      "q235_negative_edges",
      // q270: Theil–Sen's day-pair product is CALENDAR-bounded (O(days²)
      // over the gap-filled spine, never data-bounded), and the final
      // 1-row median × 1-row level combine is q46's scalar class
      "q270_theil_sen",
      // q278: MaxSim's bounded broadcast query set × corpus vector scan
      // is q40's deliberate broadcast-NL class; ANN shortlists swap in
      // at scale (Similarity.maxSim scaladoc)
      "q278_maxsim_retrieval",
      // q291/q292/q295/q298: the (N, ΣT) / moment totals are ONE
      // broadcast row cross-joined onto the k-group rows (q46's
      // scalar class); the rank/group aggregates themselves are keyed
      "q291_anova_f", "q292_kruskal_wallis", "q295_effect_sizes",
      "q298_cochran_q",
      // q293: the min-day origin is ONE broadcast row (q46's scalar
      // class); the per-user pivot is a keyed groupBy
      "q293_mcnemar",
      // q294: the users × types spine is a deliberate k=5-wide
      // broadcast product (blocks × treatments is the STATISTIC's
      // domain); rank windows partition by user
      "q294_friedman",
      // q297/q300: the Mann–Kendall day-pair product is q270's
      // CALENDAR-bounded class (O(days²) on the gap-filled spine);
      // the mid/max/median/MAD combines are 1-row scalars (q169's)
      "q297_mann_kendall", "q300_quality_monitor",
      // q306: the (N, V) train totals are ONE broadcast row onto the
      // scored test tokens (q105's vocab-scalar class); every gram
      // join is keyed
      "q306_trigram_lm",
      // q304: HITS's node-count and L1-normalization sums are ONE-row
      // broadcasts per half-step (q113's scalar class); the score
      // propagation joins are keyed on src/dst
      "q304_hits",
      // q307/q308: the calibration count / q̂ / x₍ₖ₎ threshold are
      // ONE-row broadcasts onto O(days) / O(k) relations (q46's
      // scalar class)
      "q307_conformal", "q308_hill_tail",
      // q311: the min-half-size alignment bound is ONE broadcast row
      // onto the ranked vectors (q46's scalar class)
      "q311_mmd_linear",
      // q319: the series median is ONE broadcast row onto the O(days)
      // spine (q169's median-scalar class)
      "q319_runs_test",
      // q321: the (N, S, Σx²) grand totals are ONE broadcast row onto
      // the 7 dow rows (q46's scalar class)
      "q321_dow_seasonal",
      // q322: PPR re-uses q113's ladder — node-count/dangling-mass
      // scalars broadcast per round; score propagation joins are keyed
      "q322_ppr",
      // q325: the (distinct cents × k=4 weeks) grid is q294's
      // deliberate k-wide broadcast-product spine (the STATISTIC's
      // domain); the min-day and group-stat scalars are q46's class
      "q325_jonckheere",
      // q326: the min/max-day spine bound is ONE broadcast row
      // (q289's spine class)
      "q326_gap_interpolate",
      // q330: the 10×10 Sinkhorn grid is q294's deliberate
      // fixed-width broadcast-product spine (bins² is set by the
      // BINNING, not the data); the max-cents scalar is q46's class
      "q330_sinkhorn_ot",
      // q332: the same bins² Sinkhorn grid (ext.Transport) plus the
      // max-chars and total-count scalars (q46's class); the routing
      // assignment joins on bin + a broadcast hash-range predicate
      "q332_ot_rebalance",
      // q343: the predicate panel is a 3-row broadcast crossed onto
      // <= 384 zone-map rows (q46's scalar class — bounded by
      // layouts x buckets, never by data)
      "q343_layout_skipping",
      // q346: the same 3-row predicate panel crossed onto 16 chunk
      // zone-map rows
      "q346_footer_zonemap",
      // q361: q346's panel crossed onto <= 64 page zone-map rows
      "q361_page_index_skipping",
      // q348: the one-row p95 threshold scalar crossed onto the pair
      // counts (q46's class; the staged copurchase build does the same
      // inside buildCoPurchaseEdges)
      "q348_copurchase_delta",
      // q351: the 9-row node panel broadcast-crossed onto the doc ids
      // (the scoring fanout IS the operator) plus a one-row load scalar
      "q351_rendezvous_routing",
      // q352: q348's one-row p95 threshold scalar
      "q352_maintained_stage")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(productOk)
      .filterNot(Set("q52_stream_window_agg", "q53_stream_active911",
        "q65_stream_interval_join",
        "q82_stream_static_join")) // start streaming queries
      .flatMap { q =>
        val p = plan(q)
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
          Some(q)
        else None
      }
    assert(offenders.isEmpty,
      s"unintentional product join in: ${offenders.mkString(", ")}")
  }

  test("active911 pipeline: zero exchanges end-to-end") {
    import spark.implicits._
    val env = graft.ops.Fixtures.envelopes.toDF("agency_id", "raw")
    val p = graft.ops.Active911.pipeline(env).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"))
  }

  test("join hints steer the physical strategy without changing the answer") {
    // the user-facing knob for the §4 join-strategy row: the same
    // orders⋈customer equi-join planned three ways on demand, results
    // byte-identical. At 100 TB this is how a pipeline forces SHJ when
    // the build side fits memory but exceeds the broadcast threshold,
    // or forbids a broadcast the size estimator got wrong.
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    graft.Graft.table(spark, d, "orders").createOrReplaceTempView("ph_o")
    graft.Graft.table(spark, d, "customer").createOrReplaceTempView("ph_c")
    def run(hint: String) = spark.sql(
      s"""SELECT /*+ $hint */ c_mktsegment,
            COUNT(*) AS n,
            CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
              AS cents
          FROM ph_o JOIN ph_c ON o_custkey = c_custkey
          GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    val byHint = Seq("SHUFFLE_HASH(ph_c)", "MERGE(ph_o)", "BROADCAST(ph_c)")
      .map { h =>
        val df = run(h)
        (h, df.queryExecution.executedPlan.toString, df.collect().toSeq)
      }
    assert(byHint(0)._2.contains("ShuffledHashJoin"), byHint(0)._2)
    assert(byHint(1)._2.contains("SortMergeJoin"), byHint(1)._2)
    assert(byHint(2)._2.contains("BroadcastHashJoin"), byHint(2)._2)
    assert(byHint.map(_._3).distinct.size == 1, "hinted results diverge")
  }

  test("source lint: every .collect() in main is on the bounded-material " +
      "allowlist (r10, VERDICT-r9 #8 — the crossJoin lint's sibling)") {
    // Each entry: file -> (count, why the collected material is bounded
    // by MODEL/MANIFEST size, never by data volume). A new .collect()
    // anywhere in main fails this spec until it is justified here — the
    // discipline can't erode silently.
    val allow: Map[String, (Int, String)] = Map(
      "graft/ops/FooterManifest.scala" -> (3,
        "per-file footer stats, per-page index stats, and per-block " +
          "bloom bitsets — bounded manifest material per file/page"),
      "graft/ext/Metrics.scala" -> (1,
        "confusion-matrix cells — |classes|^2 model material"),
      "graft/ext/Similarity.scala" -> (2,
        "IVF centroid matrix + probe query vectors — k x dim model"),
      "graft/ext/Embeddings.scala" -> (2,
        "kmeans centroids per iteration + PCA basis — k x dim model"),
      "graft/ext/Corpus.scala" -> (1,
        "limit(1) scalar — one decontamination cutoff row"),
      "graft/queries/Analytics.scala" -> (1,
        "q345's distinct batch ids (|micro-batches|)"),
      "graft/queries/Ext.scala" -> (4,
        "8-query probe panels for the ANN rigs — fixed probe-set size; " +
          "r13 fused recall rigs: q331's per-leg hit counts (8 rows) " +
          "and q338's per-pool hit counts (6 rows) — one tagged " +
          "aggregate each instead of 8/6 sequential count jobs"),
      "graft/ops/ManifestLookup.scala" -> (3,
        "kept file PATHS from the manifest scan (selectivity-bounded " +
          "and ≤ |files| of tiny strings — the pruning decision, " +
          "never data) for the probe-set, binary-key, and range forms"),
      "graft/StressManifest.scala" -> (2,
        "file-count stress verdict: one probe key's kept-vs-full row " +
          "sets (selectivity-bounded) for the pruned_eq_full contract"),
      "graft/queries/Sources.scala" -> (8,
        "maxRows+1 materializer guard; the r14 collectCapped helper " +
          "(limit(maxRows+1) + require — the ONE collect site every " +
          "got/want leg of the one-execution manifest family now routes " +
          "through, VERDICT-r13 #2); 16 zone-map model boxes (q346); " +
          "q354's per-file containing set (|files|); q358's 8-key probe " +
          "set; q361's <=64 page model boxes; q368's 4 probe keys; " +
          "q370's 6 dim ids"),
      "graft/queries/Relational.scala" -> (1,
        "limit(1) scalar — one percentile threshold row"),
      "graft/queries/Advanced.scala" -> (2,
        "q203's top-10 heavy-hitter probe panel (limit-capped); q142's " +
          "per-lang observed-metrics rows (|langs|)"),
      "graft/queries/AdvancedStreaming.scala" -> (2,
        "q52/q53's grouped stream-sink folds — |event_type| rows, " +
          "re-wrapped for the driver (moved with the r12 registry " +
          "split; same bounds as before)"))
    val root = java.nio.file.Paths.get("src/main/scala")
    import scala.jdk.CollectionConverters._
    val found = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map { p =>
        val n = "\\.collect\\(\\)".r
          .findAllIn(new String(java.nio.file.Files.readAllBytes(p),
            "UTF-8")).size
        root.relativize(p).toString -> n
      }
      .filter(_._2 > 0).toMap
    val drift = (found.keySet ++ allow.keySet).toSeq.sorted.flatMap { f =>
      val got = found.getOrElse(f, 0)
      val want = allow.get(f).map(_._1).getOrElse(0)
      if (got != want) Some(s"$f: $got collect() sites, allowlisted $want")
      else None
    }
    assert(drift.isEmpty,
      "unjustified .collect() drift (add a bounded-material justification " +
        s"to the allowlist or remove the collect):\n${drift.mkString("\n")}")
  }

  test("source lint: no Dataset toJSON in main (to_json serializes " +
      "inside the stage)") {
    // toJSON converts every row to an external Row and back, and
    // generates that Row serializer in every task of every job
    val root = java.nio.file.Paths.get("src/main/scala")
    import scala.jdk.CollectionConverters._
    val sites = scala.util.Using.resource(java.nio.file.Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(".toJSON") => s"${root.relativize(p)}:${i + 1}"
        }
      }.toList)
    assert(sites.isEmpty, "use to_json(struct(...)) instead of toJSON at:\n" +
      sites.mkString("\n"))
  }

  test("source lint: no typed-lambda udf in the connector's row functions " +
      "(UDF1/UDF3 with an explicit result type)") {
    // a typed Scala lambda builds ExpressionEncoders, and every task
    // generates their projections from inside the stage
    val p = java.nio.file.Paths.get("src/main/scala/graft/ops/Active911.scala")
    import scala.jdk.CollectionConverters._
    val sites = java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
      case (line, i) if line.contains("udf((") => s"Active911.scala:${i + 1}"
    }
    assert(sites.isEmpty, "declare the function as a UDF1/UDF3 with its result type at:\n" +
      sites.mkString("\n"))
  }

  test("source lint: streaming-rig wiring (memory sink, AvailableNow " +
      "trigger) appears only in StreamRig and the hand-wired rigs") {
    // Each entry: file -> (count of `format("memory")` plus
    // `Trigger.AvailableNow()` sites, why that rig cannot go through
    // StreamRig.availableNow). A rig that writes the lifecycle out by
    // hand again fails this spec until it is justified here.
    val allow: Map[String, (Int, String)] = Map(
      "StreamRig.scala" -> (2, "the helper itself"),
      "AdvancedStreaming.scala" -> (7,
        "q334's three memory sinks over one source (3 + 3); q197's " +
          "restart loop into a parquet sink (1)"),
      "Analytics.scala" -> (5,
        "q345's two phases, the first with its own checkpoint (2 + 2); " +
          "q277's foreachBatch sink (1)"))
    val qdir = java.nio.file.Paths.get("src/main/scala/graft/queries")
    val site = "format\\(\"memory\"\\)|Trigger\\.AvailableNow\\(\\)".r
    import scala.jdk.CollectionConverters._
    val found = scala.util.Using.resource(java.nio.file.Files.list(qdir))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).map { p =>
        p.getFileName.toString ->
          site.findAllIn(java.nio.file.Files.readString(p)).size
      }.filter(_._2 > 0).toMap)
    val drift = (found.keySet ++ allow.keySet).toSeq.sorted.flatMap { f =>
      val got = found.getOrElse(f, 0)
      val want = allow.get(f).map(_._1).getOrElse(0)
      if (got != want) Some(s"$f: $got sites, allowlisted $want")
      else None
    }
    assert(drift.isEmpty,
      "streaming-rig wiring outside StreamRig (port the rig to " +
        "StreamRig.availableNow or justify it here):\n" +
        drift.mkString("\n"))
  }
}
