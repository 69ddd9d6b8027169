package graft
object Bench {

  private def md5_8(s: String): String = Graft.md5_8(s)

  /** Queries whose time is dominated by a fixed wall-clock floor —
    * Structured Streaming rigs (micro-batch scheduling + state-store
    * startup/commit, ~1-3 s each regardless of data volume; measured
    * r8: the five r7 "inflated" rigs run 1.2-3.0 s isolated vs 4-8 s
    * inside the full suite, i.e. the delta is shared-JVM suite
    * pressure, not plan cost). Tagged in the bench JSON so cross-round
    * regression triage (plan_diff --ratios) can auto-exclude them:
    * their run-to-run swings track host contention, not plans. The set
    * is every registry entry that drives readStream (the 22 streaming
    * rigs + the state-store reader); EntrySpec lints it against the
    * source tree so a new rig can't be silently mis-triaged.
    */
  private[graft] val FLOOR: Set[String] = Set(
    "q52_stream_window_agg", "q53_stream_active911",
    "q65_stream_interval_join", "q82_stream_static_join",
    "q120_stream_running_totals", "q132_stream_recent_k",
    "q147_stream_append_window", "q148_stream_outer_join",
    "q157_stream_dedup_watermark", "q168_stream_map_state",
    "q170_stream_timer_sessions", "q171_stream_semi_join",
    "q178_state_reader", "q190_stream_sliding_window",
    "q196_stream_full_outer_join", "q197_stream_restart",
    "q202_session_window", "q207_stream_right_outer_join",
    "q273_stream_union", "q274_stream_chained_agg",
    "q277_stream_upsert_sink", "q334_stream_chaos",
    "q341_stream_ivm", "q345_state_changelog_cdc",
    "q359_stream_extrema_ivm")

  /** `Class: message` of a failed run, for the bench JSON's "errors" and
    * Verify's failure lines. */
  private[graft] def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${e.getMessage}"

  private[graft] def median3(ts: Seq[Double]): Double =
    ts.sorted.apply(ts.size / 2)

  /** Stall-suspect predicate (r9, VERDICT-r8 #3). The driver's r8
    * artifact carried 20 queries at 5-53× the same-code builder times
    * with ZERO plan changes, in CONTIGUOUS registry blocks — host
    * stall windows long enough that all three median-of-3 passes of
    * consecutive queries fell inside one stall, so the median was
    * defenseless. Two independent signals, either marks a suspect:
    *  - intra-run: the three passes span more than 3× (a stall edge
    *    crossed the query mid-measurement);
    *  - cross-run: the median exceeds 5× the committed same-code
    *    reference median AND the absolute excess is over 1 s (a stall
    *    window covered all three passes — invisible intra-run).
    * Sub-half-second medians are never suspects: at that scale a 3×
    * span is scheduler jitter, and an isolated re-time would add noise
    * rather than information. Suspects get ONE isolated re-time after
    * the full run (annotation only — the reported median is never
    * replaced; the annotation lets plan_diff separate "host stalled"
    * from "plan regressed" without a manual rerun next round).
    */
  private[graft] def stallSuspect(times: Seq[Double],
                                  ref: Option[Double]): Boolean = {
    val med = median3(times)
    val span = times.max / math.max(times.min, 1e-9)
    med >= 0.5 && (span > 3.0 ||
      ref.exists(r => r > 0 && med > 5.0 * r && med - r > 1.0))
  }

  /** Reference medians from the committed same-code bench artifact —
    * used only when that artifact was produced at the SAME sf dir
    * (cross-sf ratios are meaningless). Minimal extraction, no JSON
    * dep: the artifact is machine-written single-line JSON whose
    * "queries" object holds only name:number pairs.
    */
  private[graft] def referenceMedians(path: String,
                                      sfDir: String): Map[String, Double] = {
    try {
      val text = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      val sfOk = """"sf":"([^"]+)"""".r.findFirstMatchIn(text)
        .exists(_.group(1) == sfDir)
      if (!sfOk) Map.empty
      else {
        val qi = text.indexOf("\"queries\":{")
        if (qi < 0) Map.empty
        else {
          val body = text.substring(qi + 11, text.indexOf("}", qi))
          """"([^"]+)":([0-9.eE+-]+)""".r.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      }
    } catch { case _: Throwable => Map.empty }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.driverSession()
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_out.json")
    // Committed same-code reference (read BEFORE this run overwrites it)
    // for the cross-run stall signal; empty when sf differs or absent.
    val refMed = referenceMedians(out, sfDir)
    // Warm-up pass: execute every query once untimed. A cold JVM pays
    // lazy classloading, codegen compilation, and page-cache faults on
    // its first touch of each operator path — 2-10x per-query inflation
    // that measures the host, not the engine. The timed pass then sees
    // steady-state throughput, which is what a long-lived cluster runs at.
    // The warm-up also records an 8-hex canonicalized-plan hash per query
    // so successive rounds can diff PLANS, not just times.
    // optional local-iteration subset (comma-separated name prefixes);
    // the driver never sets it, so its runs cover the full set
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    val plans = scala.collection.mutable.LinkedHashMap[String, String]()
    ordered.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Sources queries execute inside fn() and return a LocalRelation;
        // their REAL plan hash is recorded pre-materialize in
        // Sources.planHashes — prefer it, else plan diffing is blind for
        // exactly those queries (q62/q64/q72 shared one hash in r2).
        plans(name) = queries.Sources.planHashes.getOrElse(name,
          Graft.planSignature(df))
        // forensic text capture: the scrubbed string the signature
        // hashes, per query — lets a transient in-suite hash flip be
        // DIFFED instead of guessed at (a PlanDump re-probe runs in a
        // fresh JVM and may not reproduce suite-order-dependent
        // state). DEFAULT-ON since r10 (VERDICT-r9 #2: the q106/q221
        // stable-class flips between same-code builder/driver
        // artifacts left no minority-variant text to diff because all
        // capture-enabled runs produced the majority variant) — every
        // bench run now writes <out>_plans/<query>.plan, so the next
        // flip, whoever's run it lands in, ships its own scrub-gap
        // diff. Override the dir with SPARK_GRAFT_PLANDIR.
        df.count()
        // AFTER the count and in its own try: a plan-dir IO failure
        // (read-only dir, disk full) must not silently void the
        // warm-up — a skipped warm-up count makes the first timed
        // pass pay cold-JVM costs and skews the medians cross-round.
        // Materialized queries (Sources/Analytics rigs) return a
        // LocalRelation stub whose plan is NOT what the recorded hash
        // covers — their real pre-materialize text is in
        // Sources.planTexts, recorded beside the hash.
        try {
          val planDir = sys.env.getOrElse("SPARK_GRAFT_PLANDIR",
            out.stripSuffix(".json") + "_plans")
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(planDir))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(planDir, s"$name.plan"),
            queries.Sources.planTexts.getOrElse(name, Graft.planScrub(
              df.queryExecution.optimizedPlan.canonicalized.toString)))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] plan capture failed for $name: " +
            e.getMessage)
        }
      } catch { case _: Throwable => () }
    }
    // median of 3 timed passes: single-sample local[32] timings carry
    // multi-second scheduler/GC noise that would swamp real regressions
    // (best-of-N hides a systematic slowdown; median resists one outlier
    // in either direction). A query that throws in ANY pass is reported
    // under "failed" and excluded from the totals — a broken query must
    // not read as a fast success. Its first exception, as
    // `Class: message`, goes under "errors" so the failure says why.
    // Opt-in (SPARK_GRAFT_GC_BETWEEN=1): force a full GC before each
    // query's timed passes, to isolate whether a straggler (q226-class,
    // r6) is paying another query's garbage. The driver NEVER sets it —
    // default timings stay comparable across rounds.
    val gcBetween = sys.env.contains("SPARK_GRAFT_GC_BETWEEN")
    val results = ordered.map { case (name, fn) =>
      if (gcBetween) { System.gc(); Thread.sleep(50) }
      val passes = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable => Left(describe(e)) }
      }
      val times = passes.map(_.getOrElse(-1.0))
      (name, times, if (times.contains(-1.0)) None else Some(median3(times)),
        passes.collectFirst { case Left(err) => err })
    }
    // Stall re-pass (r9): one isolated re-time per suspect, AFTER the
    // full run (so the re-time itself sits outside any stall window
    // that covered the block). FLOOR rigs excluded — their swings are
    // micro-batch scheduling, already auto-excluded from plan triage.
    val stalls = results.collect {
      case (name, times, Some(_), _)
        if !FLOOR(name) && stallSuspect(times, refMed.get(name)) =>
        System.gc(); Thread.sleep(100)
        val t0 = System.nanoTime()
        val iso = try {
          SparkEntry.queries(name)(spark, sfDir).count()
          Right((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable => Left(describe(e)) }
        name -> iso
    }
    val ok = results.collect { case (n, _, Some(t), _) => n -> t }
    val failed = results.collect { case (n, _, None, _) => n }
    // a re-time can only fail for a query whose timed passes all passed
    val errors = results.collect { case (n, _, _, Some(err)) => n -> err } ++
      stalls.collect { case (n, Left(err)) => n -> err }
    val qs = ok.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val ps = plans.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fl = ordered.map(_._1).filter(FLOOR)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-pass timings: stall forensics becomes one jq call, not a rerun
    val pp = results.map { case (n, ts, _, _) =>
      "\"" + n + "\":" + ts.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val st = stalls.map { case (n, iso) => "\"" + n + "\":" + iso.getOrElse(-1.0) }
      .mkString("{", ",", "}")
    val es = errors.map { case (n, err) =>
      "\"" + n + "\":\"" + Graft.jsonEscape(err) + "\"" }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fs,"plans":$ps,"floors":$fl,"passes":$pp,"stalls":$st,"errors":$es,"sf":"$sfDir"}"""
    println(line)
    // also persist to a file: the driver's log capture truncates stdout
    // (r2 lost the totals), so the bench artifact must be self-contained
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
    // LAST line, kept short: the driver's log capture retains only the
    // tail of stdout, so the full per-query line above gets its head
    // truncated and has parsed as null four rounds running. A compact
    // summary (<200 chars — totals + failures, no maps) printed last is
    // always inside the retained window and always valid JSON.
    val totalR = math.round(total * 1000.0) / 1000.0
    println(s"""{"metric":"total","value":$totalR,"unit":"sec","n":${ok.size},"failed":$fs}""")
    spark.stop()
  }
}
