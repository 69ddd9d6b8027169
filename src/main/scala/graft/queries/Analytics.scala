package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Graft.{deleteRecursively, roundz, table}
import Sources.materialize
import StreamRig.{stageWatchFile, wmSentinel}

/** Drift / correlation / ranking-evaluation analytics (round 6,
  * SURVEY.md §2.14 EXT): Spearman rank correlation, population
  * stability index, autocorrelation, CUSUM changepoint, NDCG, mutual
  * information, subsample confidence intervals, Theil–Sen slope,
  * Heaps'-law vocabulary growth, and per-source diversity indices —
  * the monitoring layer that sits beside the Metrics evaluation family.
  *
  * Determinism conventions (SURVEY §5): every statistic reduces to
  * exact integer counts/cents first; each float division happens once
  * in an identical spelling on both engines; any float SUM whose
  * operand order could differ across engines runs as an ORDERED window
  * cumsum (the q175/q257 argument) or is avoided entirely via the
  * n-scaled-integer trick (x_t − mean lifted to n·x_t − Σx, exact in
  * Long). `roundz` normalizes signed zero at every float emission.
  */
object Analytics {

  private def cents(c: Column): Column = round(c * 100, 0).cast("long")

  /** events with ts normalized to TIMESTAMP (the parquet physical type
    * varies by harness generation — Graft.normalizeTs absorbs either).
    */
  private def events(s: SparkSession, d: String): DataFrame =
    graft.Graft.normalizeTs(table(s, d, "events"))

  private def day(c: Column): Column =
    expr(s"unix_micros(${c.toString}) div 86400000000")

  /** Stage q339's delete-capable fact stream for the streaming IVM rigs
    * (q341/q359) into `stage`/watch as two ordered files: the base facts
    * (+1), then the mixed batch (inserts +1 / deletes −1), each row
    * (segment, custkey, cents, sign). Returns the watch dir.
    */
  private def stageSignedDeltas(s: SparkSession, d: String,
      stage: java.nio.file.Path): java.nio.file.Path = {
    val cust = table(s, d, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val ord = table(s, d, "orders").select(col("o_orderkey"),
      col("o_custkey"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    def signedDeltas(f: DataFrame, sign: Long): DataFrame =
      f.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          col("c_custkey").as("custkey"), col("cents"),
          lit(sign).as("sign"))
    val base = ord.filter(pmod(col("o_orderkey"), lit(10)) =!= 7)
    val ins = ord.filter(pmod(col("o_orderkey"), lit(10)) === 7)
    val del = base.filter(pmod(col("o_orderkey"), lit(10)) === 3)
    val watch = java.nio.file.Files.createDirectories(stage.resolve("watch"))
    stageWatchFile(signedDeltas(base, 1L), watch, "01", 1000000000000L)
    stageWatchFile(signedDeltas(ins, 1L)
      .unionByName(signedDeltas(del, -1L)), watch, "02", 1000000100000L)
    watch
  }

  /** Gap-filled daily series over [min_day, max_day]: (day, x). */
  private def dailySpine(daily: DataFrame): DataFrame = {
    val spine = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    spine.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("x"), lit(0L)).as("x"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Spearman rank correlation between supplier revenue and account
    // balance: row_number ranks with sk tie-break make both rankings
    // total orders (no tie handling → the classic 1 − 6Σd²/(n(n²−1))
    // identity is EXACT in integers until one division). One shuffle
    // for the revenue agg, two cardinality-bounded rank windows.
    // Long headroom: n(n²−1) and Σd² stay under 2⁶³ for n < 2M ranked
    // entities — dimension-sized by construction (suppliers), never
    // fact-sized.
    "q263_spearman" -> ((s, d) => {
      val rev = table(s, d, "lineitem")
        .groupBy(col("l_suppkey").cast("long").as("sk"))
        .agg(sum(cents(col("l_extendedprice"))).as("rev"))
      val bal = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long").as("sk"),
          cents(col("s_acctbal")).as("bal"))
      rev.join(bal, Seq("sk"))
        .withColumn("ra", row_number().over(
          Window.orderBy(col("rev"), col("sk"))).cast("long"))
        .withColumn("rb", row_number().over(
          Window.orderBy(col("bal"), col("sk"))).cast("long"))
        .agg(count(lit(1)).as("n"),
          sum((col("ra") - col("rb")) * (col("ra") - col("rb"))).as("sd2"))
        .select(col("n"), col("sd2"),
          roundz(lit(1.0) - lit(6.0) * col("sd2") /
            (col("n") * (col("n") * col("n") - 1)).cast("double"), 6)
            .as("rho6"))
    }),

    // Population Stability Index between interleaved day-parity
    // periods: fixed 10-bin value grid (so absent bins still appear),
    // Laplace +1 smoothing keeps ln finite, per-bin contribution plus
    // an ORDERED running total (the float-sum-order fix) whose last
    // row is the PSI. The whole statistic is two integer count
    // vectors — at 100 TB it is one groupBy over (parity, bin).
    "q264_psi" -> ((s, d) => {
      val binned = events(s, d)
        .select((day(col("ts")) % 2).as("p"),
          least(floor(cents(col("value")) / lit(10000L)), lit(9L))
            .cast("long").as("bin"))
        .groupBy(col("bin"))
        .agg(sum(when(col("p") === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("p") === 1, 1L).otherwise(0L)).as("cb"))
      val spine = s.range(0, 10).select(col("id").as("bin"))
      val grid = spine.join(binned, Seq("bin"), "left")
        .select(col("bin"), coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"))
      val wAll = Window.partitionBy()
      val t = grid
        .withColumn("na", sum(col("ca")).over(wAll))
        .withColumn("nb", sum(col("cb")).over(wAll))
      val pa = (col("ca") + 1).cast("double") / (col("na") + 10)
      val pb = (col("cb") + 1).cast("double") / (col("nb") + 10)
      val wOrd = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.withColumn("contrib", (pa - pb) * log(pa / pb))
        .select(col("bin"), col("ca"), col("cb"),
          roundz(col("contrib"), 6).as("contrib6"),
          roundz(sum(col("contrib")).over(wOrd), 6).as("psi_cum6"))
        .orderBy(col("bin"))
    }),

    // Autocorrelation of the daily event count at lags 1..7, EXACT in
    // integers: lift x_t − x̄ to X_t = n·x_t − Σx (Long), then
    // acf_L = ΣX_t·X_{t+L} / ΣX_t² is a single division of two exact
    // Long sums — no float mean enters the pipeline. Leads come from
    // one ordered window over the gap-filled spine (consecutive days →
    // lead(L) IS day+L).
    "q265_acf" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(day(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val filled = dailySpine(daily)
      val wAll = Window.partitionBy()
      val w = Window.orderBy(col("day"))
      val xx = filled
        .withColumn("xc", count(lit(1)).over(wAll) * col("x") -
          sum(col("x")).over(wAll))
      val leads = xx.select(col("day") +: col("xc") +:
        (1 to 7).map(l => lead(col("xc"), l).over(w).as(s"l$l")): _*)
      val aggCols = sum(col("xc") * col("xc")).as("den") ::
        (1 to 7).map(l => sum(col("xc") * col(s"l$l")).as(s"n$l")).toList
      val agg = leads.agg(aggCols.head, aggCols.tail: _*)
      agg.select(col("den"),
          posexplode(array((1 to 7).map(l => col(s"n$l")): _*))
            .as(Seq("i", "num")))
        .select((col("i") + 1).as("lag"),
          roundz(col("num").cast("double") / col("den"), 6).as("acf6"))
        .orderBy(col("lag"))
    }),

    // CUSUM changepoint screen on daily purchase revenue: the
    // mean-centered cumulative sum runs entirely in Longs via the same
    // n-scale lift (C_t = Σ(n·x_i − Σx) — exact, so the argmax is an
    // integer comparison), and only the reported magnitude divides by
    // n once. Tie-break: earliest day attaining max |C_t|.
    "q266_cusum" -> ((s, d) => {
      val daily = events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(day(col("ts")).as("day"))
        .agg(sum(cents(col("value"))).as("x"))
      val filled = dailySpine(daily)
      val wAll = Window.partitionBy()
      val wOrd = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      filled
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("s", sum(col("x")).over(wAll))
        .withColumn("c", sum(col("n") * col("x") - col("s")).over(wOrd))
        .orderBy(abs(col("c")).desc, col("day"))
        .limit(1)
        .select(col("n").as("n_days"), col("day").as("cp_day"),
          roundz(abs(col("c")).cast("double") / col("n") / 100.0, 4)
            .as("cusum_max4"))
    }),

    // NDCG@10 of each nation's revenue-ranked supplier list against
    // account-balance relevance grades {0,1,2}: both DCG and ideal DCG
    // accumulate as ORDERED window cumsums (positive terms → the group
    // max IS the total, and the summation order is pinned on both
    // engines). The candidate pool is the top-10 by revenue; ideal
    // order re-sorts that pool by grade (sk tie-break pins float
    // order). One agg + two rank windows per nation.
    "q267_ndcg" -> ((s, d) => {
      val rev = table(s, d, "lineitem")
        .groupBy(col("l_suppkey").cast("long").as("sk"))
        .agg(sum(cents(col("l_extendedprice"))).as("rev"))
      val sup = table(s, d, "supplier")
        .select(col("s_suppkey").cast("long").as("sk"),
          col("s_nationkey").cast("long").as("nk"),
          cents(col("s_acctbal")).as("bal"))
      val rel = when(col("bal") >= 500000L, 2L)
        .when(col("bal") >= 0L, 1L).otherwise(0L)
      val pool = rev.join(sup, Seq("sk"))
        .withColumn("rel", rel)
        .withColumn("i", row_number().over(
          Window.partitionBy(col("nk"))
            .orderBy(col("rev").desc, col("sk"))))
        .filter(col("i") <= 10)
        .withColumn("ig", row_number().over(
          Window.partitionBy(col("nk"))
            .orderBy(col("rel").desc, col("sk"))))
      val gain = pow(lit(2.0), col("rel")) - 1.0
      val wI = Window.partitionBy(col("nk")).orderBy(col("i"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wG = Window.partitionBy(col("nk")).orderBy(col("ig"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pool
        .withColumn("dcg_c", sum(gain / log2(col("i") + 1.0)).over(wI))
        .withColumn("idcg_c", sum(gain / log2(col("ig") + 1.0)).over(wG))
        .groupBy(col("nk"))
        .agg(count(lit(1)).as("k"), max(col("dcg_c")).as("dcg"),
          max(col("idcg_c")).as("idcg"))
        .select(col("nk"), col("k"), roundz(col("dcg"), 6).as("dcg6"),
          roundz(when(col("idcg") > 0.0, col("dcg") / col("idcg"))
            .otherwise(lit(0.0)), 6).as("ndcg6"))
        .orderBy(col("nk"))
    }),

    // Mutual information between event_type and the value tercile
    // (q232's contingency, the information-theoretic complement of its
    // chi-square): per-cell term c/n·ln(c·n/(r·k)) from exact integer
    // marginals, with an ORDERED running total (terms can be negative,
    // so the last row — not a max — carries I(X;Y)).
    "q268_mutual_info" -> ((s, d) => {
      val cells = table(s, d, "events")
        .select(col("event_type").as("ra"),
          floor(cents(col("value")) / lit(16334.0)).cast("long").as("cb"))
        .groupBy(col("ra"), col("cb")).agg(count(lit(1)).as("c"))
      val t = cells
        .withColumn("r", sum(col("c")).over(Window.partitionBy(col("ra"))))
        .withColumn("k", sum(col("c")).over(Window.partitionBy(col("cb"))))
        .withColumn("n", sum(col("c")).over(Window.partitionBy()))
      val term = col("c").cast("double") / col("n") *
        log(col("c").cast("double") * col("n") / (col("r") * col("k")))
      val wOrd = Window.orderBy(col("ra"), col("cb"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.withColumn("term", term)
        .select(col("ra"), col("cb"), col("c"),
          roundz(col("term"), 6).as("mi_term6"),
          roundz(sum(col("term")).over(wOrd), 6).as("mi_cum6"))
        .orderBy(col("ra"), col("cb"))
    }),

    // Subsample-and-aggregate confidence band: 20 deterministic
    // half-samples via overflow-safe reduced-mod hashing (reduce the
    // key mod 10⁴ BEFORE the Knuth multiply — SURVEY §5), each rep's
    // mean an exact Long-ratio division; the cross-rep band uses only
    // MIN/MAX (order-insensitive), never a float sum. The rep fan-out
    // is a narrow explode — at 100 TB this is the one-scan replacement
    // for a resample loop.
    "q269_subsample_ci" -> ((s, d) => {
      val reps = table(s, d, "events")
        .select(col("event_id"), cents(col("value")).as("c"))
        .select(col("event_id"), col("c"),
          explode(sequence(lit(0L), lit(19L))).as("rep"))
        .filter(pmod((col("event_id") % 10000 + col("rep")) *
          lit(2654435761L), lit(10000L)) < 5000)
        .groupBy(col("rep"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
        .withColumn("mean", col("sc").cast("double") / col("n"))
      val wAll = Window.partitionBy()
      reps.select(col("rep"), col("n"), roundz(col("mean"), 6).as("mean6"),
          roundz(min(col("mean")).over(wAll), 6).as("lo6"),
          roundz(max(col("mean")).over(wAll), 6).as("hi6"))
        .orderBy(col("rep"))
    }),

    // Theil–Sen robust trend of the daily event count: median pairwise
    // slope over the gap-filled spine. Day-pairs are O(days²) —
    // calendar-bounded, NOT data-bounded, so the quadratic is over a
    // few thousand rows at any corpus size. Slopes are exact-integer
    // ratios (deterministic IEEE doubles); ordering ties break on
    // (span, day) so the lower-median row is pinned on both engines.
    "q270_theil_sen" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(day(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val filled = dailySpine(daily).localCheckpoint(true)
      val a = filled.select(col("day").as("di"), col("x").as("xi"))
      val b = filled.select(col("day").as("dj"), col("x").as("xj"))
      val pairs = a.crossJoin(b).filter(col("di") < col("dj"))
        .select(((col("xj") - col("xi")).cast("double") /
            (col("dj") - col("di"))).as("slope"),
          (col("dj") - col("di")).as("span"), col("di"))
      val rn = row_number().over(
        Window.orderBy(col("slope"), col("span"), col("di")))
      val med = pairs.withColumn("rn", rn)
        .withColumn("np", count(lit(1)).over(Window.partitionBy()))
        .filter(col("rn") === expr("(np + 1) div 2"))
      val lvl = filled.withColumn("rn", row_number().over(
          Window.orderBy(col("x"), col("day"))))
        .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
        .filter(col("rn") === expr("(nd + 1) div 2"))
        .select(col("nd").as("n_days"), col("x").as("median_level"))
      med.select(col("np").as("n_pairs"),
          roundz(col("slope"), 6).as("sen_slope6"))
        .crossJoin(broadcast(lvl))
        .select(col("n_days"), col("n_pairs"), col("sen_slope6"),
          col("median_level"))
    }),

    // Heaps'-law vocabulary growth: V(n) at ten document-count
    // checkpoints. Each token contributes at its FIRST document (one
    // min-agg over the exploded token stream — the 100 TB shape), docs
    // fold into ten rank-decile BUCKETS (so the cumsum runs over 10
    // rows, never per-doc; at scale the rank comes from dense ids /
    // a range-partitioned global index — q94's machinery — instead of
    // the single-partition row_number spelled here for the oracle).
    // β̂ is the log-log slope between the first and last checkpoint
    // from MIN/MAX endpoints of the monotone cumulative series.
    "q271_heaps_law" -> ((s, d) => {
      val toks = table(s, d, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), " "))
          .as("token"))
        .filter(length(col("token")) > 0)
      val ranked = table(s, d, "documents")
        .select(col("doc_id"))
        .withColumn("rn", row_number().over(Window.orderBy(col("doc_id")))
          .cast("long"))
        .withColumn("dn", count(lit(1)).over(Window.partitionBy()))
        // greatest(…, 1): a <10-doc corpus degrades to one bucket on
        // BOTH engines instead of div-by-zero asymmetry (Spark null vs
        // DuckDB error)
        .withColumn("k",
          least(expr("(rn - 1) div greatest(dn div 10, 1) + 1"), lit(10L)))
      val perDoc = toks.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"))
      val firstDoc = toks.groupBy(col("token"))
        .agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("new_tok"))
      val buckets = ranked
        .join(perDoc, Seq("doc_id"), "left")
        .join(firstDoc, Seq("doc_id"), "left")
        .groupBy(col("k"))
        .agg(max(col("rn")).as("n_docs"),
          sum(coalesce(col("n_tok"), lit(0L))).as("tok_k"),
          sum(coalesce(col("new_tok"), lit(0L))).as("voc_k"))
      val wOrd = Window.orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      buckets
        .withColumn("n_tokens", sum(col("tok_k")).over(wOrd))
        .withColumn("vocab", sum(col("voc_k")).over(wOrd))
        .withColumn("beta6", roundz(
          (log(max(col("vocab")).over(wAll).cast("double")) -
            log(min(col("vocab")).over(wAll).cast("double"))) /
          (log(max(col("n_tokens")).over(wAll).cast("double")) -
            log(min(col("n_tokens")).over(wAll).cast("double"))), 6))
        .select(col("k"), col("n_docs"), col("n_tokens"), col("vocab"),
          col("beta6"))
        .orderBy(col("k"))
    }),

    // Per-source corpus diversity over languages: richness, Simpson
    // index as an EXACT integer identity ((n²−Σc²)/n² — no float sum),
    // and Shannon entropy via ln(n) − (Σ c·ln c)/n with the Σ as an
    // ordered-by-lang window cumsum whose last row is kept (float
    // order pinned). One groupBy over (source, lang) at any scale.
    "q272_diversity_index" -> ((s, d) => {
      val cl = table(s, d, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
      val wSrc = Window.partitionBy(col("source"))
      val wOrd = Window.partitionBy(col("source")).orderBy(col("lang"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wPick = Window.partitionBy(col("source")).orderBy(col("lang").desc)
      cl.withColumn("n", sum(col("c")).over(wSrc))
        .withColumn("s2", sum(col("c") * col("c")).over(wSrc))
        .withColumn("rich", count(lit(1)).over(wSrc))
        .withColumn("clnc_cum",
          sum(col("c").cast("double") * log(col("c").cast("double")))
            .over(wOrd))
        .withColumn("pick", row_number().over(wPick))
        .filter(col("pick") === 1)
        .select(col("source"), col("n"), col("rich").as("richness"),
          roundz((col("n") * col("n") - col("s2")).cast("double") /
            (col("n") * col("n")), 6).as("simpson6"),
          roundz(log(col("n").cast("double")) -
            col("clnc_cum") / col("n"), 6).as("shannon6"))
        .orderBy(col("source"))
    }),

    // Stream-stream UNION with INDEPENDENT watermarks (30 min vs 2 h):
    // Spark's global watermark is the MIN across inputs, so the slower
    // side gates emission for both. Each side gets its own §5.8
    // sentinel file — the terminal min-watermark lands at 2030−2h,
    // past every real window end, so the append-mode emission equals
    // the plain relational recompute of the unioned aggregate (no
    // watermark arithmetic in the oracle). The sentinels' own windows
    // stay open and never emit.
    "q273_stream_union" -> ((s0, d) =>
      StreamRig.availableNow(s0, "append") { (s, stage) =>
        val ev = graft.Graft.normalizeTs(table(s, d, "events"))
        val watchA = java.nio.file.Files.createDirectories(stage.resolve("wa"))
        val watchB = java.nio.file.Files.createDirectories(stage.resolve("wb"))
        stageWatchFile(ev.filter(col("event_type") === "click"),
          watchA, "01", 1000000000000L)
        stageWatchFile(wmSentinel(s, -81L, "__wm_flush_a"),
          watchA, "02", 1000000100000L)
        stageWatchFile(ev.filter(col("event_type") === "purchase"),
          watchB, "01", 1000000000000L)
        stageWatchFile(wmSentinel(s, -82L, "__wm_flush_b"),
          watchB, "02", 1000000100000L)
        val schema = s.read.parquet(watchA.toString).schema
        val a = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(watchA.toString)
          .withWatermark("ts", "30 minutes")
        val b = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(watchB.toString)
          .withWatermark("ts", "2 hours")
        a.unionByName(b)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      } { sink =>
        sink.select(unix_micros(col("window.start")).as("win_start_us"),
            col("event_type"), col("n"), col("cents"))
          .orderBy(col("win_start_us"), col("event_type"))
      }),

    // CHAINED stateful operators in one streaming query (the Spark-4
    // multi-stateful surface): a 30-minute windowed aggregate feeds a
    // second 2-hour windowed re-aggregate via window(window_col, ...) —
    // watermark propagates through the first stateful operator to gate
    // the second. §5.8 sentinel flush closes every real window at both
    // levels; the sentinel's level-1 window never emits, so it never
    // reaches level 2. Oracle recomputes both levels relationally
    // (sub-window count = distinct 30-min slots inside each 2-h slot).
    "q274_stream_chained_agg" -> ((s0, d) =>
      StreamRig.availableNow(s0, "append") { (s, stage) =>
        val ev = graft.Graft.normalizeTs(table(s, d, "events"))
        val t0 = to_timestamp(lit("2024-01-16 00:00:00"))
        val watch = java.nio.file.Files.createDirectories(stage.resolve("watch"))
        stageWatchFile(ev.filter(col("ts") < t0), watch, "01",
          1000000000000L)
        stageWatchFile(ev.filter(col("ts") >= t0), watch, "02",
          1000000100000L)
        stageWatchFile(wmSentinel(s, -83L, "__wm_flush"), watch, "03",
          1000000200000L)
        val schema = s.read.parquet(watch.toString).schema
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(watch.toString)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "30 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100, 0).cast("long")).as("cents"))
          .groupBy(window(col("window"), "2 hours"), col("event_type"))
          .agg(sum(col("n")).as("n_events"), sum(col("cents")).as("cents"),
            count(lit(1)).as("n_subwindows"))
      } { sink =>
        sink.select(unix_micros(col("window.start")).as("win_start_us"),
            col("event_type"), col("n_events"), col("cents"),
            col("n_subwindows"))
          .orderBy(col("win_start_us"), col("event_type"))
      }),

    // Streaming IVM bridge (r9, SURVEY §7.6): q339's delete-capable
    // counting maintenance re-expressed as a transformWithState rig
    // (streaming.CountingView) — the SAME algebra, fed by a live
    // stream of signed deltas instead of a staged batch. Two ordered
    // files: the base facts (+1), then the mixed batch (inserts +1 /
    // deletes −1). State per segment = (n, rev) scalars + a
    // per-customer support MapState with the live-member count
    // maintained incrementally on 0↔positive transitions (no batch
    // ever iterates the map). Emissions are NOT monotone under
    // deletes, so the final view per key is picked by the state's own
    // batch VERSION (max per key), not q120's groupBy-max trick.
    // MAX/MIN deliberately absent — not delta-maintainable under
    // deletes (q339 re-derives them with a group-pruned base rescan; a
    // stream has no base to rescan). Oracle = the from-scratch rollup
    // over the post-batch fact set — batch q339 and this rig must
    // agree with the same SQL contract.
    "q341_stream_ivm" -> ((s0, d) =>
      StreamRig.availableNow(s0, "update") { (s, stage) =>
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val watch = stageSignedDeltas(s, d, stage)
        val schema = s.read.parquet(watch.toString).schema
        import s.implicits._
        val in = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(watch.toString)
          .as[graft.streaming.CountingView.DeltaIn]
        graft.streaming.CountingView.view(s, in).toDF()
      } { sink =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("segment")).orderBy(col("version").desc)
        val out = sink
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1 && col("n_orders") > 0)
          .select(col("segment").as("c_mktsegment"), col("n_orders"),
            col("rev_cents"), col("n_customers"))
          .orderBy(col("c_mktsegment"))
        materialize(sink.sparkSession, "q341_stream_ivm", out)
      }),

    // Streaming IVM with retractable EXTREMA (r10, VERDICT-r9 #6):
    // q341's counting bridge composed with q347's support-at-extremum
    // trigger inside one transformWithState processor
    // (streaming.ExtremaView). The state gains a per-group value
    // HISTOGRAM — the O(distinct) multiset a delete-capable extremum
    // fundamentally needs (q341 documented MAX/MIN as absent for
    // exactly this reason; the histogram IS the streaming "base") —
    // but the q347 discipline governs when it is ever ITERATED:
    // inserts fold (monotone), deletes are point writes, and only a
    // batch that exhausts the support at the stored extreme scans the
    // histogram keys for the new one. A retraction storm away from
    // the extremum costs zero scans (StatefulStreamSpec pins it with
    // an injected accumulator). Oracle = the from-scratch rollup over
    // the post-batch fact set with MAX/MIN — the same contract as
    // batch q339, now met by the stream.
    "q359_stream_extrema_ivm" -> ((s0, d) =>
      StreamRig.availableNow(s0, "update") { (s, stage) =>
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val watch = stageSignedDeltas(s, d, stage)
        val schema = s.read.parquet(watch.toString).schema
        import s.implicits._
        val in = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(watch.toString)
          .as[graft.streaming.CountingView.DeltaIn]
        graft.streaming.ExtremaView.view(s, in).toDF()
      } { sink =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("segment")).orderBy(col("version").desc)
        val out = sink
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1 && col("n_orders") > 0)
          .select(col("segment").as("c_mktsegment"), col("n_orders"),
            col("rev_cents"), col("max_cents"), col("min_cents"),
            col("n_customers"))
          .orderBy(col("c_mktsegment"))
        materialize(sink.sparkSession, "q359_stream_extrema_ivm", out)
      }),

    // CDC-shaped retraction source (r9, SURVEY §7.6 backlog item #3 —
    // completes q341's end-to-end retraction story): the signed deltas
    // feeding the CountingView are not hand-staged here; they are
    // DERIVED FROM AN UPSTREAM OPERATOR'S STATE CHANGELOG. The rig:
    // (1) an upstream streaming aggregation keeps per-ORDER live state
    // (sum of ±1 signs keyed (segment, custkey, orderkey) — unit
    // granularity, so every state transition is a ±1 delta) over two
    // file batches (base inserts, then inserts + deletes), with
    // RocksDB changelog checkpointing on; (2) the Spark 4 state source
    // in readChangeFeed mode replays that checkpoint's CHANGELOG as a
    // batch relation (batch_id, change_type, key, value) — the CDC
    // feed; signed deltas fall out as value-vs-lag(value) per key in
    // batch order (a 0→1 transition is an insert, 1→0 a retraction),
    // joined to a broadcast cents dim; (3) the deltas are replayed in
    // batch order through the SAME CountingView processor as q341 —
    // upstream state changes, not source rows, now maintain the
    // downstream view. Oracle = the from-scratch rollup over the
    // post-batch fact set (identical contract to q341: the CDC route
    // must land on the same answer). At scale the changelog read is
    // one file scan per (shard, batch) — no state snapshot rebuild —
    // and the lag window partitions by key, so deriving deltas
    // shuffles O(|changed keys|), never O(state).
    // Hand-wired: two streaming phases (changelog-checkpointed upstream,
    // then the replay), the first with its own checkpoint location.
    "q345_state_changelog_cdc" -> ((s0, d) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "4")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s.conf.set("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled", "true")
      val cust = table(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val ord = table(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      def facts(f: DataFrame, sign: Long): DataFrame =
        f.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("segment"),
            col("c_custkey").as("custkey"),
            col("o_orderkey").as("orderkey"), lit(sign).as("sign"))
      val base = ord.filter(pmod(col("o_orderkey"), lit(10)) =!= 7)
      val ins = ord.filter(pmod(col("o_orderkey"), lit(10)) === 7)
      val del = base.filter(pmod(col("o_orderkey"), lit(10)) === 3)
      val stage = java.nio.file.Files.createTempDirectory("graft_cdc_")
      val watch = stage.resolve("watch")
      val watch2 = stage.resolve("watch2")
      val ckpt = stage.resolve("ckpt")
      java.nio.file.Files.createDirectories(watch)
      java.nio.file.Files.createDirectories(watch2)
      try {
        stageWatchFile(facts(base, 1L), watch, "01", 1000000000000L)
        stageWatchFile(facts(ins, 1L).unionByName(facts(del, -1L)),
          watch, "02", 1000000100000L)
        val upName = "cdc_up_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        val schema = s.read.parquet(watch.toString).schema
        val up = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(watch.toString)
          .groupBy(col("segment"), col("custkey"), col("orderkey"))
          .agg(sum(col("sign")).as("live"))
          .writeStream.outputMode("update")
          .format("memory").queryName(upName)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        up.awaitTermination()
        s.catalog.dropTempView(upName)
        // the CDC feed: state changelog → signed unit deltas
        val wk = Window.partitionBy(col("segment"), col("custkey"),
          col("orderkey")).orderBy(col("batch_id"))
        val chg = s.read.format("statestore")
          .option("path", ckpt.toString)
          .option("readChangeFeed", "true")
          .option("changeStartBatchId", "0").load()
          .select(col("batch_id"),
            col("key.segment").as("segment"),
            col("key.custkey").as("custkey"),
            col("key.orderkey").as("orderkey"),
            when(col("change_type") === "delete", lit(0L))
              .otherwise(col("value.sum")).as("live"))
          .withColumn("sign",
            col("live") - coalesce(lag(col("live"), 1).over(wk), lit(0L)))
          .filter(col("sign") =!= 0)
          .join(broadcast(ord.select(col("o_orderkey").as("orderkey"),
            col("cents"))), Seq("orderkey"))
          .select(col("batch_id"), col("segment"), col("custkey"),
            col("cents"), col("sign"))
          .localCheckpoint(true)
        // replay the feed in batch order through the q341 rig
        val batchIds = chg.select(col("batch_id")).distinct()
          .orderBy(col("batch_id")).collect().map(_.getLong(0))
        batchIds.zipWithIndex.foreach { case (b, i) =>
          stageWatchFile(chg.filter(col("batch_id") === b).drop("batch_id"),
            watch2, f"${i + 1}%02d", 1000000000000L + i * 100000L)
        }
        val schema2 = s.read.parquet(watch2.toString).schema
        import s.implicits._
        val in = s.readStream.schema(schema2)
          .option("maxFilesPerTrigger", "1").parquet(watch2.toString)
          .as[graft.streaming.CountingView.DeltaIn]
        val name = "cdc_view_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        val q = graft.streaming.CountingView.view(s, in)
          .toDF().writeStream.outputMode("update")
          .format("memory").queryName(name)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val wv = Window.partitionBy(col("segment"))
          .orderBy(col("version").desc)
        val out = s.table(name)
          .withColumn("__rn", row_number().over(wv))
          .filter(col("__rn") === 1 && col("n_orders") > 0)
          .select(col("segment").as("c_mktsegment"), col("n_orders"),
            col("rev_cents"), col("n_customers"))
          .orderBy(col("c_mktsegment"))
        materialize(s, "q345_state_changelog_cdc", out)
      } finally deleteRecursively(stage)
    }),

    // l-diversity generalization walk (r9 — k-anonymity q213's
    // release-gate complement): a quasi-identifier release is
    // l-diverse when every QI group carries >= l DISTINCT sensitive
    // values (here: users per (event_type, time bucket)). The operator
    // is the LATTICE WALK: coarsen the time bucket level by level
    // (hour -> 6h -> day -> week) and pick the MINIMAL level whose
    // min-diversity clears l — coarsening merges groups and a merged
    // group's distinct count is >= the max of its parts, so
    // min-diversity is monotone up the lattice and "first ok" is
    // well-defined (the monotonicity is visible in the min_div
    // column). Each level is one exact count-distinct agg — bounded
    // by |levels| shuffles, each O(groups).
    "q350_l_diversity" -> ((s, d) => {
      val e = events(s, d).select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hr"), col("user_id"))
      val l = 3L
      val legs = Seq(("1_hour", 1L), ("2_six_hours", 6L),
        ("3_day", 24L), ("4_week", 168L)).map { case (name, width) =>
        e.groupBy(col("event_type"), expr(s"hr div $width").as("qb"))
          .agg(countDistinct(col("user_id")).as("div"))
          .agg(count(lit(1)).as("n_groups"), min(col("div")).as("min_div"))
          .select(lit(name).as("level"), col("n_groups"), col("min_div"),
            (col("min_div") >= l).as("l_ok"))
      }
      val w = Window.orderBy(col("level"))
        .rowsBetween(Window.unboundedPreceding, -1)
      legs.reduce(_ unionByName _)
        .withColumn("prev_ok",
          coalesce(max(col("l_ok").cast("long")).over(w), lit(0L)))
        .withColumn("chosen", col("l_ok") && col("prev_ok") === 0)
        .drop("prev_ok")
        .orderBy(col("level"))
    }),

    // Matryoshka truncation audit: how much of each embedding's energy
    // survives prefix truncation to 8/16/32 of 64 dims — the
    // retention ratio r_k = Σ_{i<k}v_i²/Σv_i² per vector (q236's
    // per-vector float-sum + round-4 determinism precedent), then
    // per-(label, k) rollups using only order-insensitive aggregates
    // (count / threshold-count / min / max on the ROUNDED ratio).
    "q275_matryoshka_eval" -> ((s, d) => {
      val f = table(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("i", "v")))
        .select(col("vec_id"), col("label"), col("i"),
          col("v").cast("double").as("v"))
      val per = f.groupBy(col("vec_id"), col("label"))
        .agg(sum(when(col("i") < 8, col("v") * col("v")).otherwise(0.0))
            .as("s8"),
          sum(when(col("i") < 16, col("v") * col("v")).otherwise(0.0))
            .as("s16"),
          sum(when(col("i") < 32, col("v") * col("v")).otherwise(0.0))
            .as("s32"),
          sum(col("v") * col("v")).as("den"))
      val stacked = per.select(col("label"),
          posexplode(array(
            roundz(col("s8") / col("den"), 4),
            roundz(col("s16") / col("den"), 4),
            roundz(col("s32") / col("den"), 4))).as(Seq("ki", "r4")))
        .select(col("label"),
          element_at(array(lit(8), lit(16), lit(32)), col("ki") + 1)
            .as("k"), col("r4"))
      stacked.groupBy(col("label"), col("k"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("r4") >= 0.9, 1L).otherwise(0L)).as("n_ge90"),
          min(col("r4")).as("min_r4"), max(col("r4")).as("max_r4"))
        .orderBy(col("label"), col("k"))
    }),

    // foreachBatch UPSERT sink with versioned state and an idempotent
    // redelivery guard: each micro-batch folds its per-user delta into
    // the previous batch's published state (read v{id−1} → merge →
    // write v{id}); the pre-write existence check makes a REPLAYED
    // batch id a no-op — the same discipline a 100 TB exactly-once
    // foreachBatch sink needs (Spark guarantees batch-id stability
    // across restarts, the sink must supply idempotency). Final state
    // must equal the plain batch aggregate — that equality IS the
    // oracle; batch boundaries cannot leak into the result.
    // Hand-wired: a foreachBatch sink, not StreamRig's memory sink.
    "q277_stream_upsert_sink" -> ((s0, d) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val ev = graft.Graft.normalizeTs(table(s, d, "events"))
      val stage = java.nio.file.Files.createTempDirectory("graft_upsert_")
      val watch = stage.resolve("watch")
      val state = stage.resolve("state")
      java.nio.file.Files.createDirectories(watch)
      java.nio.file.Files.createDirectories(state)
      try {
        val t0 = to_timestamp(lit("2024-01-10 00:00:00"))
        val t1 = to_timestamp(lit("2024-01-20 00:00:00"))
        stageWatchFile(ev.filter(col("ts") < t0), watch, "01",
          1000000000000L)
        stageWatchFile(ev.filter(col("ts") >= t0 && col("ts") < t1),
          watch, "02", 1000000100000L)
        stageWatchFile(ev.filter(col("ts") >= t1), watch, "03",
          1000000200000L)
        val schema = s.read.parquet(watch.toString).schema
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(watch.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, id: Long) =>
            val vdir = state.resolve(s"v$id")
            if (!java.nio.file.Files.exists(vdir)) { // replay guard
              val delta = batch.groupBy(col("user_id"))
                .agg(count(lit(1)).as("n"),
                  sum(round(col("value") * 100, 0).cast("long")).as("cents"))
              val prev = state.resolve(s"v${id - 1}")
              val merged =
                if (java.nio.file.Files.exists(prev))
                  s.read.parquet(prev.toString).unionByName(delta)
                    .groupBy(col("user_id"))
                    .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
                else delta
              merged.write.mode("overwrite").parquet(vdir.toString)
            }
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val last = scala.util.Using.resource(
            java.nio.file.Files.list(state)) { st =>
          val it = st.iterator()
          var best = -1L
          while (it.hasNext) {
            val v = it.next().getFileName.toString.stripPrefix("v").toLong
            if (v > best) best = v
          }
          best
        }
        materialize(s, "q277_stream_upsert_sink",
          s.read.parquet(state.resolve(s"v$last").toString)
            .orderBy(col("user_id")))
      } finally deleteRecursively(stage)
    }),

    // Write–Audit–Publish: the admission-control deployment pattern —
    // each batch lands in a STAGING dir, runs the one-scan constraint
    // suite (ops/Audit.tableAudit: row count, nulls, bounds, key
    // uniqueness fused into one aggregate), and only a fully-green
    // audit ATOMICALLY renames staging into the published tree; a red
    // audit discards staging and publishes nothing. Batch 1 is clean;
    // batch 2 carries a planted violation (null lang, negative
    // n_chars) and MUST NOT leak — the oracle recomputes published
    // content from scratch, so any leak or loss flips every row.
    "q279_write_audit_publish" -> ((s, d) => {
      val stage = java.nio.file.Files.createTempDirectory("graft_wap_")
      val published = stage.resolve("published")
      java.nio.file.Files.createDirectories(published)
      try {
        val docs = table(s, d, "documents")
        def publishIfClean(df: DataFrame, name: String): Boolean = {
          val staging = stage.resolve("staging_" + name)
          df.write.mode("overwrite").parquet(staging.toString)
          val audit = graft.ops.Audit.tableAudit(
            s.read.parquet(staging.toString), uniqueKey = Seq("doc_id"),
            notNull = Seq("doc_id", "lang"),
            bounds = Map("n_chars" -> (0.0, 1e9)))
          val ok = audit.filter(!col("ok")).count() == 0
          if (ok)
            java.nio.file.Files.move(staging, published.resolve(name),
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          else deleteRecursively(staging)
          ok
        }
        val clean = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        val dirty = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .unionByName(s.range(1).select(lit(-1L).as("doc_id"),
            lit("corrupt").as("text"), lit(null).cast("string").as("lang"),
            lit("bad").as("source"), lit(-5L).as("n_chars")))
        val ok1 = publishIfClean(clean, "batch1")
        val ok2 = publishIfClean(dirty, "batch2")
        materialize(s, "q279_write_audit_publish",
          s.read.parquet(s"$published/*")
            .groupBy(col("lang"))
            .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
            .withColumn("published_ok", lit(ok1 && !ok2))
            .orderBy(col("lang")))
      } finally deleteRecursively(stage)
    }),

    // Leakage-safe out-of-fold target encoding: each (category, fold)
    // cell's encoding is the mean target over the OTHER folds —
    // (S_cat − S_cat,f)/(N_cat − N_cat,f), exact integer sums with one
    // division (the supervised-feature counterpart of q193's
    // GroupKFold split integrity). Two aggregates at any scale; rows
    // where the category exists only inside fold f are excluded on
    // both engines (no out-of-fold evidence → no encoding).
    "q276_target_encoding" -> ((s, d) => {
      val per = table(s, d, "events")
        .groupBy(col("event_type"), (col("user_id") % 5).as("fold"))
        .agg(count(lit(1)).as("n_fold"), sum(cents(col("value"))).as("sf"))
      val wCat = Window.partitionBy(col("event_type"))
      per
        .withColumn("nc", sum(col("n_fold")).over(wCat))
        .withColumn("sc", sum(col("sf")).over(wCat))
        .filter(col("nc") > col("n_fold"))
        .select(col("event_type"), col("fold"), col("n_fold"),
          (col("nc") - col("n_fold")).as("n_oof"),
          roundz((col("sc") - col("sf")).cast("double") /
            (col("nc") - col("n_fold")), 6).as("enc6"))
        .orderBy(col("event_type"), col("fold"))
    }),

    // Day-of-week seasonal decomposition (r7): per-dow means of the
    // gap-filled daily purchase-cents series plus the variance
    // explained by the weekly season, η² = SSB/SST — the "is there a
    // weekly cycle worth modeling" gate before q266/q289 changepoint
    // hunting. dow = (day + 4) % 7 from the pure epoch-day integer
    // (0 = Sunday; no calendar function — engine-identical by
    // construction). Overflow-safe products (r8, ADVICE): a single
    // daily-cents square can reach ~2⁶³, so BIGINT·BIGINT silently
    // wraps on Spark while DuckDB promotes to HUGEINT. s_d²/n_d and
    // s²/N are therefore pre-divided through doubles with the exact
    // spelling mirrored in the oracle (the q289 pattern), and Σx² is
    // computed exactly — DECIMAL(38,0) here, HUGEINT in DuckDB — so
    // both engines round the SAME exact integer to double. The ≤7
    // per-dow SSB terms still fold in DOW ORDER (ordered cumsum — the
    // q175 float discipline). Scale: one groupBy to days, windows
    // over ≤7 rows.
    "q321_dow_seasonal" -> ((s, d) => {
      val daily = events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(day(col("ts")).as("day"))
        .agg(sum(cents(col("value"))).as("x"))
      val f = dailySpine(daily)
        .withColumn("dow", expr("(day + 4) % 7"))
      val byDow = f.groupBy(col("dow"))
        .agg(count(lit(1)).as("n_d"), sum(col("x")).as("s_d"))
      val tot = f.agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x").cast("decimal(38,0)") *
          col("x").cast("decimal(38,0)")).as("ssq"))
      val wd = Window.orderBy(col("dow"))
      val wAll = Window.partitionBy()
      val acc = byDow.crossJoin(broadcast(tot))
        .withColumn("term", round(
          (col("s_d").cast("double") / col("n_d").cast("double")) *
            col("s_d").cast("double"), 9))
        .withColumn("cum", sum(col("term")).over(
          wd.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("bsum", max(col("cum")).over(wAll))
      acc.select(col("dow"), col("n_d"),
          roundz(col("s_d").cast("double") / col("n_d").cast("double")
            / lit(100.0), 4).as("mean4"),
          roundz(
            (col("bsum") - (col("s").cast("double") /
              col("n").cast("double")) * col("s").cast("double")) /
            (col("ssq").cast("double") - (col("s").cast("double") /
              col("n").cast("double")) * col("s").cast("double")),
            6).as("eta2_6"))
        .orderBy(col("dow"))
    }),

    // Linear gap interpolation (r7) — the third missing-day policy
    // beside zero-fill (q289's spine) and forward-fill (q219): days
    // with no purchases get the LINEAR blend of the nearest known
    // neighbors, x_p + (x_n−x_p)·(day−d_p)/(d_n−d_p) — the right
    // spelling for rate-like series where a gap means "not observed",
    // not "zero". All terms exact BIGINTs, ONE division, round-4; the
    // bracketing scan is two ignoreNulls window passes over the
    // calendar-bounded spine (interior gaps always have both
    // brackets). Scale: O(days) after one groupBy — q289's shape.
    "q326_gap_interpolate" -> ((s, d) => {
      val daily = events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(day(col("ts")).as("day"))
        .agg(sum(cents(col("value"))).as("x"))
      val spine = daily
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val j = spine.join(daily, Seq("day"), "left")
      val w = Window.orderBy(col("day"))
      val wp = w.rowsBetween(Window.unboundedPreceding, 0)
      val wn = w.rowsBetween(0, Window.unboundedFollowing)
      j.withColumn("xp", last(col("x"), ignoreNulls = true).over(wp))
        .withColumn("dp", last(when(col("x").isNotNull, col("day")),
          ignoreNulls = true).over(wp))
        .withColumn("xn", first(col("x"), ignoreNulls = true).over(wn))
        .withColumn("dn", first(when(col("x").isNotNull, col("day")),
          ignoreNulls = true).over(wn))
        .select(col("day"), col("x").isNull.as("interpolated"),
          roundz(when(col("x").isNotNull, col("x").cast("double"))
            .otherwise(col("xp").cast("double") +
              (col("xn") - col("xp")).cast("double") *
                (col("day") - col("dp")).cast("double") /
                (col("dn") - col("dp")).cast("double")) / lit(100.0), 4)
            .as("x4"))
        .orderBy(col("day"))
    }))

  val oracles: Map[String, String] = Map(
    "q326_gap_interpolate" ->
      """WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
             SUM(CAST(round(value*100) AS BIGINT)) AS x
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         sp AS (
           SELECT unnest(generate_series((SELECT MIN(day) FROM daily),
             (SELECT MAX(day) FROM daily))) AS day),
         f AS (
           SELECT sp.day, daily.x
           FROM sp LEFT JOIN daily ON daily.day = sp.day),
         br AS (
           SELECT day, x,
             last_value(x IGNORE NULLS) OVER (ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS xp,
             last_value(CASE WHEN x IS NOT NULL THEN day END
               IGNORE NULLS) OVER (ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS dp,
             first_value(x IGNORE NULLS) OVER (ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS xn,
             first_value(CASE WHEN x IS NOT NULL THEN day END
               IGNORE NULLS) OVER (ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS dn
           FROM f)
         SELECT day, x IS NULL AS interpolated,
           round(CASE WHEN x IS NOT NULL THEN CAST(x AS DOUBLE)
             ELSE CAST(xp AS DOUBLE) +
               CAST(xn - xp AS DOUBLE) * CAST(day - dp AS DOUBLE) /
               CAST(dn - dp AS DOUBLE) END / 100.0, 4) + 0.0 AS x4
         FROM br ORDER BY day""",
    "q321_dow_seasonal" ->
      """WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
             SUM(CAST(round(value*100) AS BIGINT)) AS x
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         sp AS (
           SELECT unnest(generate_series((SELECT MIN(day) FROM daily),
             (SELECT MAX(day) FROM daily))) AS day),
         f AS (
           SELECT sp.day, COALESCE(daily.x, 0) AS x,
             (sp.day + 4) % 7 AS dow
           FROM sp LEFT JOIN daily ON daily.day = sp.day),
         byd AS (
           SELECT dow, COUNT(*) AS n_d, SUM(x) AS s_d
           FROM f GROUP BY dow),
         tot AS (
           SELECT COUNT(*) AS n, SUM(x) AS s,
             SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS ssq FROM f),
         acc AS (
           SELECT dow, n_d, s_d, n, s, ssq,
             SUM(round((CAST(s_d AS DOUBLE) / CAST(n_d AS DOUBLE))
               * CAST(s_d AS DOUBLE), 9))
               OVER (ORDER BY dow ROWS UNBOUNDED PRECEDING) AS cum
           FROM byd, tot),
         b AS (SELECT *, MAX(cum) OVER () AS bsum FROM acc)
         SELECT dow, CAST(n_d AS BIGINT) AS n_d,
           round(CAST(s_d AS DOUBLE) / CAST(n_d AS DOUBLE) / 100.0, 4)
             + 0.0 AS mean4,
           round((bsum - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               * CAST(s AS DOUBLE)) /
             (CAST(ssq AS DOUBLE) - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               * CAST(s AS DOUBLE)), 6) + 0.0 AS eta2_6
         FROM b ORDER BY dow""",
    "q263_spearman" ->
      """WITH rev AS (
           SELECT CAST(l_suppkey AS BIGINT) AS sk,
             SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS rev
           FROM lineitem GROUP BY 1),
         bal AS (
           SELECT CAST(s_suppkey AS BIGINT) AS sk,
             CAST(round(s_acctbal*100) AS BIGINT) AS bal
           FROM supplier),
         r AS (
           SELECT ROW_NUMBER() OVER (ORDER BY rev, rev.sk) AS ra,
             ROW_NUMBER() OVER (ORDER BY bal, rev.sk) AS rb
           FROM rev JOIN bal ON bal.sk = rev.sk)
         SELECT COUNT(*) AS n,
           CAST(SUM((ra - rb) * (ra - rb)) AS BIGINT) AS sd2,
           round(1.0 - 6.0 * SUM((ra - rb) * (ra - rb)) /
             CAST(COUNT(*) * (COUNT(*) * COUNT(*) - 1) AS DOUBLE), 6)
             + 0.0 AS rho6
         FROM r""",
    "q264_psi" ->
      """WITH e AS (
           SELECT epoch_us(ts) // 86400000000 % 2 AS p,
             least(CAST(round(value*100) AS BIGINT) // 10000, 9) AS bin
           FROM events),
         g AS (
           SELECT bin,
             SUM(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS cb
           FROM e GROUP BY bin),
         sp AS (SELECT unnest(generate_series(0, 9)) AS bin),
         grid AS (
           SELECT sp.bin, COALESCE(g.ca, 0) AS ca, COALESCE(g.cb, 0) AS cb
           FROM sp LEFT JOIN g ON g.bin = sp.bin),
         t AS (
           SELECT bin, ca, cb, SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
           FROM grid),
         c AS (
           SELECT bin, ca, cb,
             (CAST(ca + 1 AS DOUBLE) / (na + 10)
               - CAST(cb + 1 AS DOUBLE) / (nb + 10)) *
             ln((CAST(ca + 1 AS DOUBLE) / (na + 10)) /
                (CAST(cb + 1 AS DOUBLE) / (nb + 10))) AS contrib
           FROM t)
         SELECT bin, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
           round(contrib, 6) + 0.0 AS contrib6,
           round(SUM(contrib) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING),
             6) + 0.0 AS psi_cum6
         FROM c ORDER BY bin""",
    "q265_acf" ->
      """WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS x
           FROM events GROUP BY 1),
         sp AS (
           SELECT unnest(generate_series((SELECT MIN(day) FROM daily),
             (SELECT MAX(day) FROM daily))) AS day),
         f AS (
           SELECT sp.day, COALESCE(daily.x, 0) AS x
           FROM sp LEFT JOIN daily ON daily.day = sp.day),
         tot AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM f),
         xc AS (
           SELECT f.day, tot.n * f.x - tot.s AS xc FROM f, tot),
         l AS (
           SELECT xc,
             lead(xc, 1) OVER (ORDER BY day) AS l1,
             lead(xc, 2) OVER (ORDER BY day) AS l2,
             lead(xc, 3) OVER (ORDER BY day) AS l3,
             lead(xc, 4) OVER (ORDER BY day) AS l4,
             lead(xc, 5) OVER (ORDER BY day) AS l5,
             lead(xc, 6) OVER (ORDER BY day) AS l6,
             lead(xc, 7) OVER (ORDER BY day) AS l7
           FROM xc),
         a AS (
           SELECT SUM(xc * xc) AS den,
             SUM(xc * l1) AS n1, SUM(xc * l2) AS n2, SUM(xc * l3) AS n3,
             SUM(xc * l4) AS n4, SUM(xc * l5) AS n5, SUM(xc * l6) AS n6,
             SUM(xc * l7) AS n7
           FROM l)
         SELECT 1 AS lag, round(CAST(n1 AS DOUBLE) / den, 6) + 0.0 AS acf6
           FROM a
         UNION ALL SELECT 2, round(CAST(n2 AS DOUBLE) / den, 6) + 0.0 FROM a
         UNION ALL SELECT 3, round(CAST(n3 AS DOUBLE) / den, 6) + 0.0 FROM a
         UNION ALL SELECT 4, round(CAST(n4 AS DOUBLE) / den, 6) + 0.0 FROM a
         UNION ALL SELECT 5, round(CAST(n5 AS DOUBLE) / den, 6) + 0.0 FROM a
         UNION ALL SELECT 6, round(CAST(n6 AS DOUBLE) / den, 6) + 0.0 FROM a
         UNION ALL SELECT 7, round(CAST(n7 AS DOUBLE) / den, 6) + 0.0 FROM a
         ORDER BY lag""",
    "q266_cusum" ->
      """WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
             SUM(CAST(round(value*100) AS BIGINT)) AS x
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         sp AS (
           SELECT unnest(generate_series((SELECT MIN(day) FROM daily),
             (SELECT MAX(day) FROM daily))) AS day),
         f AS (
           SELECT sp.day, COALESCE(daily.x, 0) AS x
           FROM sp LEFT JOIN daily ON daily.day = sp.day),
         tot AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM f),
         c AS (
           SELECT f.day, tot.n,
             SUM(tot.n * f.x - tot.s)
               OVER (ORDER BY f.day ROWS UNBOUNDED PRECEDING) AS c
           FROM f, tot)
         SELECT CAST(n AS BIGINT) AS n_days, day AS cp_day,
           round(CAST(abs(c) AS DOUBLE) / n / 100.0, 4) + 0.0 AS cusum_max4
         FROM c ORDER BY abs(c) DESC, day LIMIT 1""",
    "q267_ndcg" ->
      """WITH rev AS (
           SELECT CAST(l_suppkey AS BIGINT) AS sk,
             SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS rev
           FROM lineitem GROUP BY 1),
         sup AS (
           SELECT CAST(s_suppkey AS BIGINT) AS sk,
             CAST(s_nationkey AS BIGINT) AS nk,
             CAST(round(s_acctbal*100) AS BIGINT) AS bal
           FROM supplier),
         pool0 AS (
           SELECT sup.nk, rev.sk, rev.rev,
             CASE WHEN bal >= 500000 THEN 2
                  WHEN bal >= 0 THEN 1 ELSE 0 END AS rel,
             ROW_NUMBER() OVER (PARTITION BY sup.nk
               ORDER BY rev DESC, rev.sk) AS i
           FROM rev JOIN sup ON sup.sk = rev.sk),
         pool AS (
           SELECT nk, sk, rel, i,
             ROW_NUMBER() OVER (PARTITION BY nk
               ORDER BY rel DESC, sk) AS ig
           FROM pool0 WHERE i <= 10),
         cums AS (
           SELECT nk,
             SUM((pow(2.0, rel) - 1.0) / log2(i + 1.0))
               OVER (PARTITION BY nk ORDER BY i
                 ROWS UNBOUNDED PRECEDING) AS dcg_c,
             SUM((pow(2.0, rel) - 1.0) / log2(ig + 1.0))
               OVER (PARTITION BY nk ORDER BY ig
                 ROWS UNBOUNDED PRECEDING) AS idcg_c
           FROM pool)
         SELECT nk, COUNT(*) AS k,
           round(MAX(dcg_c), 6) + 0.0 AS dcg6,
           round(CASE WHEN MAX(idcg_c) > 0.0
             THEN MAX(dcg_c) / MAX(idcg_c) ELSE 0.0 END, 6) + 0.0 AS ndcg6
         FROM cums GROUP BY nk ORDER BY nk""",
    "q268_mutual_info" ->
      """WITH cells AS (
           SELECT event_type AS ra,
             CAST(floor(CAST(round(value*100) AS BIGINT) / 16334.0)
               AS BIGINT) AS cb,
             COUNT(*) AS c
           FROM events GROUP BY 1, 2),
         t AS (
           SELECT ra, cb, c,
             SUM(c) OVER (PARTITION BY ra) AS r,
             SUM(c) OVER (PARTITION BY cb) AS k,
             SUM(c) OVER () AS n
           FROM cells),
         w AS (
           SELECT ra, cb, c,
             CAST(c AS DOUBLE) / n *
               ln(CAST(c AS DOUBLE) * n / (r * k)) AS term
           FROM t)
         SELECT ra, cb, CAST(c AS BIGINT) AS c,
           round(term, 6) + 0.0 AS mi_term6,
           round(SUM(term) OVER (ORDER BY ra, cb ROWS UNBOUNDED PRECEDING),
             6) + 0.0 AS mi_cum6
         FROM w ORDER BY ra, cb""",
    "q269_subsample_ci" ->
      """WITH reps AS (
           SELECT r.rep, COUNT(*) AS n,
             SUM(CAST(round(e.value*100) AS BIGINT)) AS sc
           FROM events e
           CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS rep) r
           WHERE (e.event_id % 10000 + r.rep) * 2654435761 % 10000 < 5000
           GROUP BY r.rep),
         m AS (SELECT rep, n, CAST(sc AS DOUBLE) / n AS mean FROM reps)
         SELECT rep, CAST(n AS BIGINT) AS n,
           round(mean, 6) + 0.0 AS mean6,
           round(MIN(mean) OVER (), 6) + 0.0 AS lo6,
           round(MAX(mean) OVER (), 6) + 0.0 AS hi6
         FROM m ORDER BY rep""",
    "q270_theil_sen" ->
      """WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS x
           FROM events GROUP BY 1),
         sp AS (
           SELECT unnest(generate_series((SELECT MIN(day) FROM daily),
             (SELECT MAX(day) FROM daily))) AS day),
         f AS (
           SELECT sp.day, COALESCE(daily.x, 0) AS x
           FROM sp LEFT JOIN daily ON daily.day = sp.day),
         pairs AS (
           SELECT CAST(b.x - a.x AS DOUBLE) / (b.day - a.day) AS slope,
             b.day - a.day AS span, a.day AS di
           FROM f a JOIN f b ON a.day < b.day),
         med AS (
           SELECT slope, COUNT(*) OVER () AS np,
             ROW_NUMBER() OVER (ORDER BY slope, span, di) AS rn
           FROM pairs),
         lvl AS (
           SELECT x, COUNT(*) OVER () AS nd,
             ROW_NUMBER() OVER (ORDER BY x, day) AS rn
           FROM f)
         SELECT CAST(lvl.nd AS BIGINT) AS n_days,
           CAST(med.np AS BIGINT) AS n_pairs,
           round(med.slope, 6) + 0.0 AS sen_slope6,
           CAST(lvl.x AS BIGINT) AS median_level
         FROM med, lvl
         WHERE med.rn = (med.np + 1) // 2 AND lvl.rn = (lvl.nd + 1) // 2""",
    "q271_heaps_law" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
           FROM documents),
         tk AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
         ranked AS (
           SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY doc_id)
             AS BIGINT) AS rn
           FROM documents),
         per_doc AS (SELECT doc_id, COUNT(*) AS n_tok FROM tk GROUP BY 1),
         first_doc AS (
           SELECT doc_id, COUNT(*) AS new_tok FROM (
             SELECT token, MIN(doc_id) AS doc_id FROM tk GROUP BY token) t
           GROUP BY doc_id),
         rk AS (
           SELECT rn, doc_id,
             least((rn - 1) //
               greatest((SELECT COUNT(*) FROM ranked) // 10, 1) + 1,
               10) AS k
           FROM ranked),
         buckets AS (
           SELECT r.k, MAX(r.rn) AS n_docs,
             SUM(COALESCE(p.n_tok, 0)) AS tok_k,
             SUM(COALESCE(fd.new_tok, 0)) AS voc_k
           FROM rk r
           LEFT JOIN per_doc p ON p.doc_id = r.doc_id
           LEFT JOIN first_doc fd ON fd.doc_id = r.doc_id
           GROUP BY r.k),
         chk AS (
           SELECT k, n_docs,
             SUM(tok_k) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
               AS n_tokens,
             SUM(voc_k) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
               AS vocab
           FROM buckets)
         SELECT k, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab,
           round((ln(CAST(MAX(vocab) OVER () AS DOUBLE)) -
                  ln(CAST(MIN(vocab) OVER () AS DOUBLE))) /
                 (ln(CAST(MAX(n_tokens) OVER () AS DOUBLE)) -
                  ln(CAST(MIN(n_tokens) OVER () AS DOUBLE))), 6) + 0.0
             AS beta6
         FROM chk ORDER BY k""",
    "q272_diversity_index" ->
      """WITH cl AS (
           SELECT source, lang, COUNT(*) AS c
           FROM documents GROUP BY source, lang),
         t AS (
           SELECT source, lang, c,
             SUM(c) OVER (PARTITION BY source) AS n,
             SUM(c * c) OVER (PARTITION BY source) AS s2,
             COUNT(*) OVER (PARTITION BY source) AS rich,
             SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
               OVER (PARTITION BY source ORDER BY lang
                 ROWS UNBOUNDED PRECEDING) AS clnc_cum,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY lang DESC)
               AS pick
           FROM cl)
         SELECT source, CAST(n AS BIGINT) AS n,
           CAST(rich AS BIGINT) AS richness,
           round(CAST(n * n - s2 AS DOUBLE) / (n * n), 6) + 0.0
             AS simpson6,
           round(ln(CAST(n AS DOUBLE)) - clnc_cum / n, 6) + 0.0
             AS shannon6
         FROM t WHERE pick = 1 ORDER BY source""",
    // §5.8 sentinel-flush: the oracle is the PLAIN relational
    // recompute of the unioned hourly aggregate — the staged sentinels
    // guarantee every real window closed, so no watermark arithmetic
    // appears here (the min-across-inputs policy is exercised, not
    // encoded)
    "q273_stream_union" ->
      """WITH e AS (
           SELECT epoch_us(ts) AS us, event_type,
             CAST(round(value*100) AS BIGINT) AS cents
           FROM events WHERE event_type IN ('click', 'purchase'))
         SELECT (us // 3600000000) * 3600000000 AS win_start_us,
           event_type, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS cents
         FROM e GROUP BY 1, 2 ORDER BY win_start_us, event_type""",
    // the streamed counting view's final state must equal the
    // from-scratch rollup over the post-batch fact set (base minus
    // deletes plus inserts = o_orderkey % 10 <> 3) — the same contract
    // SQL shape as batch q339
    "q341_stream_ivm" ->
      """SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS rev_cents,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_orderkey % 10 <> 3
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // q341's contract PLUS retractable extrema: the streamed view's
    // final state must equal the post-batch rollup including MAX/MIN —
    // a stale stored extremum (missed rescan) or a spurious histogram
    // scan landing on the wrong value hash-mismatches here
    "q359_stream_extrema_ivm" ->
      """SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS rev_cents,
           CAST(MAX(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS max_cents,
           CAST(MIN(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS min_cents,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_orderkey % 10 <> 3
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // monotone lattice walk replayed level by level; chosen = first ok
    "q350_l_diversity" ->
      """WITH e AS (
           SELECT event_type, epoch_us(ts) // 3600000000 AS hr, user_id
           FROM events),
         lv AS (
           SELECT '1_hour' AS level, 1 AS wdt
           UNION ALL SELECT '2_six_hours', 6
           UNION ALL SELECT '3_day', 24
           UNION ALL SELECT '4_week', 168),
         g AS (
           SELECT lv.level, e.event_type, e.hr // lv.wdt AS qb,
             COUNT(DISTINCT e.user_id) AS dv
           FROM e CROSS JOIN lv GROUP BY 1, 2, 3),
         r AS (
           SELECT level, COUNT(*) AS n_groups,
             CAST(MIN(dv) AS BIGINT) AS min_div,
             MIN(dv) >= 3 AS l_ok
           FROM g GROUP BY 1)
         SELECT level, n_groups, min_div, l_ok,
           l_ok AND coalesce(MAX(CASE WHEN l_ok THEN 1 ELSE 0 END)
             OVER (ORDER BY level
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) = 0 AS chosen
         FROM r ORDER BY level""",
    // identical contract to q341: the CDC route (upstream state
    // changelog → signed deltas → CountingView) must land on the same
    // from-scratch rollup over the post-batch fact set
    "q345_state_changelog_cdc" ->
      """SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS rev_cents,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_orderkey % 10 <> 3
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q274_stream_chained_agg" ->
      """WITH e AS (
           SELECT epoch_us(ts) // 1800000000 AS w30, event_type,
             CAST(round(value*100) AS BIGINT) AS cents
           FROM events),
         sub AS (
           SELECT w30, event_type, COUNT(*) AS n, SUM(cents) AS cents
           FROM e GROUP BY 1, 2)
         SELECT (w30 // 4) * 7200000000 AS win_start_us, event_type,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS cents,
           COUNT(*) AS n_subwindows
         FROM sub GROUP BY 1, 2 ORDER BY win_start_us, event_type""",
    "q275_matryoshka_eval" ->
      """WITH f AS (
           SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         per AS (
           SELECT vec_id, label,
             SUM(CASE WHEN i <= 8 THEN v*v ELSE 0 END) AS s8,
             SUM(CASE WHEN i <= 16 THEN v*v ELSE 0 END) AS s16,
             SUM(CASE WHEN i <= 32 THEN v*v ELSE 0 END) AS s32,
             SUM(v*v) AS den
           FROM f GROUP BY vec_id, label),
         st AS (
           SELECT label, 8 AS k, round(s8/den, 4) + 0.0 AS r4 FROM per
           UNION ALL
           SELECT label, 16, round(s16/den, 4) + 0.0 FROM per
           UNION ALL
           SELECT label, 32, round(s32/den, 4) + 0.0 FROM per)
         SELECT label, k, COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN r4 >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ge90,
           MIN(r4) AS min_r4, MAX(r4) AS max_r4
         FROM st GROUP BY label, k ORDER BY label, k""",
    // the oracle recomputes the published tree from scratch: the clean
    // batch must be there in full, the red batch entirely absent
    "q279_write_audit_publish" ->
      """SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars, TRUE AS published_ok
         FROM documents WHERE doc_id % 2 = 0
         GROUP BY lang ORDER BY lang""",
    // the oracle IS the no-batch-boundary recompute: the foreachBatch
    // versioned-state fold must be invisible in the final totals
    "q277_stream_upsert_sink" ->
      """SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q276_target_encoding" ->
      """WITH per AS (
           SELECT event_type, user_id % 5 AS fold, COUNT(*) AS n_fold,
             SUM(CAST(round(value*100) AS BIGINT)) AS sf
           FROM events GROUP BY 1, 2),
         t AS (
           SELECT event_type, fold, n_fold, sf,
             SUM(n_fold) OVER (PARTITION BY event_type) AS nc,
             SUM(sf) OVER (PARTITION BY event_type) AS sc
           FROM per)
         SELECT event_type, fold, CAST(n_fold AS BIGINT) AS n_fold,
           CAST(nc - n_fold AS BIGINT) AS n_oof,
           round(CAST(sc - sf AS DOUBLE) / (nc - n_fold), 6) + 0.0 AS enc6
         FROM t WHERE nc > n_fold ORDER BY event_type, fold""")
}
