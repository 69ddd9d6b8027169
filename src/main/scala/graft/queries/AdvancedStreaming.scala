package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Graft.{deleteRecursively, table}
import graft.ops.{Active911, Fixtures}
import graft.streaming.Lookback

/** The Structured-Streaming half of the advanced registry (r12,
  * VERDICT-r11 #3 — registry hygiene split along the SURVEY §8 family
  * seams; plan-hash identity with the pre-split registry is
  * PlanDump-verified). Every rig here drives a real streaming query —
  * MemoryStream/file sources, watermarks, stateful operators, RocksDB
  * state stores — and lands on a batch-SQL oracle; the batch rigs stay
  * in [[Advanced]].
  */
object AdvancedStreaming {

  private def events(s: SparkSession, d: String): DataFrame =
    Advanced.events(s, d)

  /** Stage the (normalized) events table plus far-future watermark
    * FLUSH SENTINELS into `dir` for the stream-stream join rigs
    * (q148/q196): one 2030 click and one 2030 purchase on distinct
    * unused negative users. The sentinels drive both sides' terminal
    * watermarks years past every real row's eviction deadline, so the
    * emitted set equals the plain relational join — the oracle needs
    * no watermark arithmetic and survives Spark minor-version boundary
    * shifts (see q148's header comment). Returns the staged schema
    * (ts is a true timestamp after normalizeTs, so the streaming read
    * needs no physical-type absorption).
    */
  private def stageEventsWithFlushSentinels(
      s: SparkSession, d: String,
      dir: java.nio.file.Path): org.apache.spark.sql.types.StructType = {
    val ev = events(s, d)
    def sentinel(id: Long, uid: Long, tpe: String): DataFrame =
      ev.limit(1).select(lit(id).as("event_id"),
        to_timestamp(lit("2030-01-01 00:00:00")).as("ts"),
        lit(uid).as("user_id"), lit(tpe).as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
    ev.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .unionByName(sentinel(-901L, -999L, "click"))
      .unionByName(sentinel(-902L, -998L, "purchase"))
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    s.read.parquet(dir.toString).schema
  }

  /** The click→purchase interval join of the stream-stream join rigs
    * (q65 inner, q148 left outer, q171 left semi, q196 full outer, q207
    * right outer): each click joined to the same user's purchases
    * within the following 12 hours. The event-time range predicate plus
    * the two 1-hour watermarks is what bounds the join state.
    */
  private def intervalJoin(clicks: DataFrame, purchases: DataFrame,
      joinType: String): DataFrame =
    clicks.select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
      .join(purchases.select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour"),
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("click_ts") &&
          col("p_ts") <= col("click_ts") + expr("interval 12 hours"),
        joinType)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ENGINE-MANAGED session windows (session_window, Spark 3.2+) —
    // the third spelling of sessionization after the batch
    // gaps-and-islands window (q21) and the hand-rolled
    // transformWithState timers (q170): the engine merges overlapping
    // [ts, ts+gap) intervals per key and closes a session when the
    // watermark passes its end. Emission uses the §5.8 sentinel-flush
    // convention (a 2030 event for unused user -21 closes every real
    // session; its own session stays open and must be absent), so the
    // oracle is the plain relational reconstruction. BOUNDARY NOTE:
    // session_window's interval is half-open — an event at exactly
    // last+gap starts a NEW session — so the oracle breaks on
    // `ms - prev >= gap` where the q21/q170 hand-rolled forms break on
    // `>` (documented API semantics, not internals).
    "q202_session_window" -> ((s0, d) =>
      StreamRig.availableNow(s0, "append") { (s, stage) =>
        val ev0 = events(s, d)
        ev0.select(col("user_id"), col("ts"))
          .filter(col("user_id") <= 20)
          .unionByName(ev0.limit(1).select(lit(-21L).as("user_id"),
            to_timestamp(lit("2030-01-01 00:00:00")).as("ts")))
          .coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val schema = s.read.parquet(stage.toString).schema
        s.readStream.schema(schema).parquet(stage.toString)
          .withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
      } { sink =>
        sink.select(col("user_id"),
            unix_micros(col("session_window.start")).as("start_us"),
            unix_micros(col("session_window.end")).as("end_us"),
            col("n_events"))
          .orderBy(col("user_id"), col("start_us"))
      }),

    // Stream-STATIC broadcast join (the reference's agency-config shape
    // at cluster scale: a small dimension joined into every micro-batch
    // without state). The dim is broadcast per batch — no stream-side
    // shuffle for the join, no watermark needed on the static side;
    // unmatched stream rows survive via left join + coalesce. Oracle =
    // the same join in batch SQL.
    "q82_stream_static_join" -> ((s0, d) =>
      StreamRig.availableNow(s0, "complete") { (s, stage) =>
        import s.implicits._
        val dim = Seq(
          ("click", "engagement"), ("view", "engagement"),
          ("purchase", "revenue"), ("signup", "acquisition"))
          .toDF("event_type", "category")
        s.readStream.schema(StreamRig.stageEvents(s, d, stage))
          .parquet(stage.toString)
          .join(broadcast(dim), Seq("event_type"), "left")
          .withColumn("category", coalesce(col("category"), lit("(other)")))
          .groupBy(col("category"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      } { sink => sink.orderBy(col("category")) }),

    // Tumbling-window aggregation executed through Structured Streaming
    // (AvailableNow over the parquet dir, memory sink), oracle-checked
    // against the equivalent batch SQL — proves the streaming engine
    // computes the same answer the SQL semantics demand (SURVEY.md §2.10).
    "q52_stream_window_agg" -> ((s0, d) =>
      StreamRig.availableNow(s0, "complete") { (s, stage) =>
        graft.Graft.normalizeTs(
            s.readStream.schema(StreamRig.stageEvents(s, d, stage))
              .parquet(stage.toString))
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      } { sink =>
        sink.select(unix_micros(col("window.start")).as("win_start_us"),
            col("event_type"), col("n"), col("cents"))
          .orderBy(col("win_start_us"), col("event_type"))
      }),

    // SLIDING-window streaming aggregate (q52 is the tumbling form):
    // window(ts, 2h, 30min) lands every event in FOUR overlapping
    // windows — the engine expands the window set per row BEFORE the
    // keyed state update, so state is O(open windows × types), 4× the
    // tumbling count. This rig runs outputMode("complete"), where the
    // watermark does NOT evict aggregation state (complete mode retains
    // every window so the full result can be re-emitted each batch) —
    // what's under test here is the per-row window EXPANSION, not
    // eviction; watermark-driven state eviction is q52/q147's
    // append-mode territory. Oracle replays the expansion relationally:
    // each event joins its four aligned slide starts.
    "q190_stream_sliding_window" -> ((s0, d) =>
      StreamRig.availableNow(s0, "complete") { (s, stage) =>
        graft.Graft.normalizeTs(
            s.readStream.schema(StreamRig.stageEvents(s, d, stage))
              .parquet(stage.toString))
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "2 hours", "30 minutes"),
            col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      } { sink =>
        sink.select(unix_micros(col("window.start")).as("win_start_us"),
            col("event_type"), col("n"), col("cents"))
          .orderBy(col("win_start_us"), col("event_type"))
      }),

    // Per-key running totals on the Spark 4 arbitrary-state API
    // (streaming.RunningTotals: transformWithState + StatefulProcessor,
    // RocksDB state store — the successor surface to q65's
    // flatMapGroupsWithState). Update-mode emissions are monotone per
    // key (exact integer cents), so the final state per key is the
    // groupBy max over the sink — which must equal the plain batch
    // aggregate, and that equality IS the oracle.
    "q120_stream_running_totals" -> ((s0, d) =>
      StreamRig.availableNow(s0, "update") { (s, stage) =>
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        import s.implicits._
        val in = s.readStream.schema(StreamRig.stageEvents(s, d, stage))
          .parquet(stage.toString)
          .select(col("user_id"),
            round(col("value") * 100, 0).cast("long").as("cents"))
          .as[graft.streaming.RunningTotals.EventIn]
        graft.streaming.RunningTotals.totals(s, in).toDF()
      } { sink =>
        sink.groupBy(col("user_id"))
          .agg(max(col("n_events")).as("n_events"),
            max(col("total_cents")).as("total_cents"))
          .orderBy(col("user_id"))
      }),

    // Event-time TIMERS on transformWithState (streaming/TimedSessions):
    // sessions close on gap OR on the registered timer when the
    // watermark passes last+30min — the final arbitrary-state API
    // surface after the three typed handles. The staged stream adds a
    // far-future (2030) sentinel event for unused user -21 (it passes
    // the <= 20 cap), driving the terminal watermark years past every
    // real session's 30-min horizon: ALL real sessions must
    // timer-fire, so the oracle is the plain gaps-and-islands batch
    // reconstruction with NO watermark cutoff — robust to ms-flooring
    // or fire-comparison-direction changes across Spark versions. The
    // sentinel's own session horizon (2030+30min) sits past the
    // terminal watermark, so its open session must stay absent.
    // Users capped at 20 to bound the dump (1.4k sessions at sf0.01).
    "q170_stream_timer_sessions" -> ((s0, d) =>
      StreamRig.availableNow(s0, "append") { (s, stage) =>
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val ev0 = events(s, d)
        ev0.select(col("user_id"), col("ts"))
          .unionByName(ev0.limit(1).select(lit(-21L).as("user_id"),
            to_timestamp(lit("2030-01-01 00:00:00")).as("ts")))
          .coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val schema = s.read.parquet(stage.toString).schema
        import s.implicits._
        val in = s.readStream.schema(schema).parquet(stage.toString)
          .filter(col("user_id") <= 20)
          .select(col("user_id"), col("ts"))
          .as[graft.streaming.TimedSessions.Event]
        graft.streaming.TimedSessions.sessions(s, in).toDF()
      } { sink => sink.orderBy(col("user_id"), col("start_ms")) }),

    // MapState counterpart of q120 (streaming/TypeCounts): per-user map
    // of event_type → (n, cents) — point reads/writes touch only the
    // types present in the batch, untouched entries never deserialize.
    // Same monotone-integer-cents discipline: final (user, type) state
    // is the max over Update-mode emissions, pinned to the plain batch
    // aggregate by the oracle.
    "q168_stream_map_state" -> ((s0, d) =>
      StreamRig.availableNow(s0, "update") { (s, stage) =>
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        import s.implicits._
        val in = s.readStream.schema(StreamRig.stageEvents(s, d, stage))
          .parquet(stage.toString)
          .select(col("user_id"), col("event_type"),
            round(col("value") * 100, 0).cast("long").as("cents"))
          .as[graft.streaming.TypeCounts.EventIn]
        graft.streaming.TypeCounts.counts(s, in).toDF()
      } { sink =>
        sink.groupBy(col("user_id"), col("event_type"))
          .agg(max(col("n_events")).as("n_events"),
            max(col("total_cents")).as("total_cents"))
          .orderBy(col("user_id"), col("event_type"))
      }),

    // Per-key bounded recent-event history on transformWithState's
    // ListState surface (streaming.RecentEvents; q120 covers
    // ValueState): each user's 3 most recent event types, newest
    // first — the "last K actions" feature-store shape. Rows arrive
    // shuffle-ordered within a batch, so the processor sorts retained
    // state + batch rows by (us, event_id) before trimming — the
    // emission is ordering-independent, which is what lets the batch
    // oracle replay it with a window. Emissions are versioned by a
    // monotone seen-counter (second state handle); max_by collapses
    // multi-batch updates to the final one.
    "q132_stream_recent_k" -> ((s0, d) =>
      StreamRig.availableNow(s0, "update") { (s, stage) =>
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        import s.implicits._
        val in = graft.Graft.normalizeTs(
            s.readStream.schema(StreamRig.stageEvents(s, d, stage))
              .parquet(stage.toString))
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"), col("event_type"))
          .as[graft.streaming.RecentEvents.EventIn]
        graft.streaming.RecentEvents.recent(s, in, k = 3).toDF()
      } { sink =>
        sink.groupBy(col("user_id"))
          .agg(max(col("n_total")).as("n_total"),
            max_by(col("recent"), col("n_total")).as("recent"))
          .orderBy(col("user_id"))
      }),

    // APPEND-mode windowed aggregation — the production streaming mode
    // (q52's complete mode rebuilds the whole result every batch; at
    // scale only append's emit-once-on-close works). Three
    // deterministic micro-batches (events split at Jan 16, file order
    // pinned by mtime, then a SENTINEL FLUSH batch): batches 1-2 run
    // the incremental eviction path, and the final batch is one
    // far-future (2030) sentinel event — the production
    // watermark-heartbeat pattern — that drives the terminal watermark
    // years past every real window end. The emitted set is therefore
    // exactly the batch recompute of ALL real windows, with NO
    // dependence on where Spark floors the watermark or whether the
    // window_end comparison is inclusive: no real window end is within
    // a year of the cutoff, so a minor-version boundary shift cannot
    // flip a row. The open-state semantics stay pinned from the other
    // side: the sentinel's own 2030 window (end > watermark by
    // construction, margin 1h ≫ any rounding) must NEVER emit — if a
    // regression emitted open windows, its "__wm_flush" row appears
    // and flips the oracle red.
    "q147_stream_append_window" -> ((s0, d) =>
      StreamRig.availableNow(s0, "append") { (s, stage) =>
        val ev = graft.Graft.normalizeTs(table(s, d, "events"))
        val t0 = to_timestamp(lit("2024-01-16 00:00:00"))
        val watch = Files.createDirectories(stage.resolve("watch"))
        StreamRig.stageWatchFile(ev.filter(col("ts") < t0), watch, "01",
          1000000000000L)
        StreamRig.stageWatchFile(ev.filter(col("ts") >= t0), watch, "02",
          1000000100000L)
        // sentinel flush batch: one 2030 event pushes the terminal
        // watermark past every real window end (see header comment)
        StreamRig.stageWatchFile(StreamRig.wmSentinel(s, -77L, "__wm_flush"),
          watch, "03", 1000000200000L)
        val schema = s.read.parquet(watch.toString).schema
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(watch.toString)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      } { sink =>
        sink.select(unix_micros(col("window.start")).as("win_start_us"),
            col("event_type"), col("n"), col("cents"))
          .orderBy(col("win_start_us"), col("event_type"))
      }),

    // Streaming exact dedup via dropDuplicatesWithinWatermark — the
    // engine-managed answer to at-least-once redelivery (q53's custom
    // lookback state is the hand-rolled form; this is the Spark 3.5+
    // API with watermark-bounded state). Batch 1 delivers the first
    // half; batch 2 delivers the second half PLUS a full redelivery of
    // batch 1 (the at-least-once source pattern). The 90-day delay
    // exceeds the fixture's time span, so no key is evicted before its
    // duplicate arrives and every event must emit EXACTLY once — the
    // oracle is the plain per-type aggregate over the events table
    // (event_id is unique there); a doubled first half flips it red.
    // State at scale: O(keys inside the watermark horizon), the
    // production knob being the delay, not the corpus.
    "q157_stream_dedup_watermark" -> ((s0, d) =>
      StreamRig.availableNow(s0, "append") { (s, stage) =>
        val ev = graft.Graft.normalizeTs(table(s, d, "events"))
        val t0 = to_timestamp(lit("2024-01-16 00:00:00"))
        val watch = Files.createDirectories(stage.resolve("watch"))
        StreamRig.stageWatchFile(ev.filter(col("ts") < t0), watch, "01",
          1000000000000L)
        StreamRig.stageWatchFile(ev.filter(col("ts") >= t0)
          .unionByName(ev.filter(col("ts") < t0)), watch, "02",
          1000000100000L)
        val schema = s.read.parquet(watch.toString).schema
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(watch.toString)
          .withWatermark("ts", "90 days")
          .dropDuplicatesWithinWatermark("event_id")
      } { sink =>
        val out = sink.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100, 0).cast("long")).as("cents"))
          .orderBy(col("event_type"))
          .collect()
        import s0.implicits._
        out.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .toDF("event_type", "n", "cents")
      }),

    // Streaming chaos fixture (r8, §7.6): ONE bounded-out-of-orderness
    // generator drives THREE stateful operators — dedup-within-
    // watermark, dedup→tumbling-window CHAINED aggregation, and
    // session windows — and each must equal its batch recompute under
    // shuffled, duplicated arrival. The generator splits events into 4
    // time-quarter batches, then perturbs the boundary: among each
    // quarter's last-3-days events (hash-bucketed, deterministic),
    // bucket <150 arrives ONE BATCH LATE (bounded disorder: when it
    // arrives, the watermark stands ≥2 days below its event time at
    // the 5-day delay, so it must be accepted, not dropped) and bucket
    // [150,300) is DUPLICATED into the next batch (at-least-once
    // redelivery). A 2030 sentinel batch flushes the terminal
    // watermark (q147's convention; its own windows stay open and must
    // never emit). Legs: (raw) the un-deduped 1-day windows COUNT the
    // duplicates — pinning that redelivery really reached the source;
    // (tumbling) dedup→window chained state must equal the clean
    // per-day rollup; (sessions) dedup→2h-gap session windows per user
    // must equal the gaps-and-islands replay. Out-of-order margin is
    // against the PREVIOUS batch's max event time — Spark advances the
    // watermark between micro-batches — so the bound holds at every
    // SF (quarter length derives from the observed span; the two span
    // scalars are q261-class driver material).
    // Hand-wired: three sinks over one staged source, which the
    // one-query StreamRig.availableNow does not cover.
    "q334_stream_chaos" -> ((s0, d) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val tag = java.util.UUID.randomUUID.toString.replace("-", "")
      val stage = Files.createTempDirectory("graft_chaos_")
      val watch = Files.createDirectories(stage.resolve("watch"))
      try {
        val ev = events(s, d)
          .withColumn("day", expr("unix_micros(ts) div 86400000000"))
        val br = ev.agg(min(col("day")), max(col("day"))).head()
        val mind = br.getLong(0)
        val qq = math.max(1L, (br.getLong(1) - mind + 4) / 4)
        val tagged = ev
          .withColumn("b", expr(s"least(3, (day - $mind) div $qq)"))
          .withColumn("h", pmod(pmod(col("event_id"), lit(1000L)) *
            lit(2654435761L), lit(1000L)))
          .withColumn("qend", lit(mind) + (col("b") + 1) * lit(qq) - 1)
          .withColumn("le", col("b") < 3 && col("day") >= col("qend") - 2)
          .withColumn("send", when(col("le") && col("h") < 150,
            col("b") + 1).otherwise(col("b")))
          .localCheckpoint(true)
        val cols = Seq("event_id", "ts", "user_id", "event_type",
          "value", "props").map(col)
        for (b <- 0L to 3L) {
          val own = tagged.filter(col("send") === b).select(cols: _*)
          val dups = tagged.filter(col("le") && col("h") >= 150 &&
            col("h") < 300 && col("b") === b - 1).select(cols: _*)
          StreamRig.stageWatchFile(own.unionByName(dups), watch, f"0$b",
            1000000000000L + b * 100000L)
        }
        StreamRig.stageWatchFile(StreamRig.wmSentinel(s, -77L, "__wm_flush"),
          watch, "09", 1000000900000L)
        val schema = s.read.parquet(watch.toString).schema
        def src0 = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(watch.toString)
          .withWatermark("ts", "5 days")
        val cents = round(col("value") * 100, 0).cast("long")
        val qRaw = src0
          .groupBy(window(col("ts"), "1 day"))
          .agg(count(lit(1)).as("n"), sum(cents).as("m"))
          .writeStream.outputMode("append").format("memory")
          .queryName(s"chaos_raw_$tag")
          .trigger(Trigger.AvailableNow()).start()
        val qTum = src0
          .dropDuplicatesWithinWatermark("event_id")
          .groupBy(window(col("ts"), "1 day"))
          .agg(count(lit(1)).as("n"), sum(cents).as("m"))
          .writeStream.outputMode("append").format("memory")
          .queryName(s"chaos_tum_$tag")
          .trigger(Trigger.AvailableNow()).start()
        val qSes = src0
          .dropDuplicatesWithinWatermark("event_id")
          .filter(col("user_id").between(0, 20))
          .groupBy(session_window(col("ts"), "2 hours"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .writeStream.outputMode("append").format("memory")
          .queryName(s"chaos_ses_$tag")
          .trigger(Trigger.AvailableNow()).start()
        qRaw.awaitTermination(); qTum.awaitTermination()
        qSes.awaitTermination()
        def winLeg(name: String, leg: String): DataFrame =
          s.table(name).select(lit(leg).as("leg"),
            expr("unix_micros(window.start) div 86400000000").as("k"),
            col("n"), col("m"))
        val ses = s.table(s"chaos_ses_$tag")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("n")).as("m"))
          .select(lit("sessions").as("leg"), col("user_id").as("k"),
            col("n"), col("m"))
        val out = winLeg(s"chaos_raw_$tag", "raw")
          .unionByName(winLeg(s"chaos_tum_$tag", "tumbling"))
          .unionByName(ses)
          .orderBy(col("leg"), col("k"))
        Seq("raw", "tum", "ses").foreach(x =>
          s.catalog.dropTempView(s"chaos_${x}_$tag"))
        out
      } finally deleteRecursively(stage)
    }),

    // Stream-stream interval join (SURVEY.md §2.10): each click joined
    // to the same user's purchases within the following 12 hours, both
    // sides unbounded streams. The event-time range predicate plus the
    // two watermarks is what BOUNDS THE JOIN STATE — without them every
    // click would be retained forever; with them state is O(12h of
    // traffic) per side regardless of total volume. Inner join in
    // append mode emits exactly the batch-join pairs, which is what the
    // DuckDB oracle recomputes.
    // Stream-stream LEFT OUTER interval join — the hardest streaming
    // emission semantic: matches emit like the inner join, and an
    // UNMATCHED click emits its null row only when the watermark
    // proves no future purchase can match (click state expires past
    // the 12h join window). The staged stream carries a far-future
    // (2030) sentinel click+purchase pair (distinct unused users, so
    // they match nothing) — the watermark-heartbeat pattern — which
    // drives BOTH sides' terminal watermarks years past every real
    // click's 12h deadline: every real unmatched click null-emits, so
    // the oracle is the plain relational outer join with NO watermark
    // arithmetic and no Spark-internals pinning. The sentinels' own
    // deadlines (2030+12h / 2030) sit ABOVE the terminal watermark
    // (2030 − 1h delay) by ≥ 1h — margin ≫ any boundary rounding — so
    // their null rows must never appear; if a regression emitted
    // unexpired state, the negative-id sentinel rows flip this red.
    // Exactly-once across a checkpointed RESTART — the production
    // recovery semantics every streaming deployment leans on: run 1
    // (AvailableNow) drains the even half of the events into a parquet
    // sink and STOPS; the odd half then lands in the source directory;
    // run 2 starts on the SAME checkpoint, sees the full directory,
    // and must process ONLY the new file — the checkpoint's source log
    // skips run 1's files and the sink's commit log keeps rerun output
    // atomic. The sink rollup therefore equals the plain batch rollup
    // of ALL events exactly once; a double-counted batch-1 or a lost
    // batch-2 flips it red.
    // Hand-wired: two runs on one checkpoint into a parquet sink.
    "q197_stream_restart" -> ((s0, d) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val stage = Files.createTempDirectory("graft_restart_")
      try {
        val in = s"$stage/in"; val out = s"$stage/out"
        val ckpt = s"$stage/ckpt"
        val ev = graft.Graft.normalizeTs(table(s, d, "events"))
          .select(col("event_id"), col("event_type"),
            round(col("value") * 100, 0).cast("long").as("cents"))
        ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .coalesce(1).write.mode("overwrite").parquet(in)
        val schema = s.read.parquet(in).schema
        def runOnce(): Unit = {
          val q = s.readStream.schema(schema).parquet(in)
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        runOnce()
        ev.filter(pmod(col("event_id"), lit(2)) === 1)
          .coalesce(1).write.mode("append").parquet(in)
        runOnce()
        // materialize the tiny rollup before the staging dir vanishes
        val res = s.read.parquet(out)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
          .orderBy(col("event_type"))
        import scala.jdk.CollectionConverters._
        s.createDataFrame(res.collect().toSeq.asJava, res.schema)
      } finally deleteRecursively(stage)
    }),

    // Stream-stream FULL outer interval join — completes the
    // stream-stream matrix (q65 inner, q148 left outer, q171 left
    // semi): BOTH state stores emit null-padded rows once the
    // watermark passes the last instant the row could still match —
    // clicks at click_ts + 12 h (q148's gate), purchases at p_ts
    // (future clicks are ≥ the watermark and a match needs click_ts ≤
    // p_ts). The staged 2030 sentinel pair (q148's de-brittling)
    // passes both gates for every real row, so the oracle is the
    // plain relational FULL OUTER interval join — no watermark
    // modeling; the sentinels' own null rows must stay absent.
    // Nullable-on-both-sides ordering keys spell NULLS FIRST
    // explicitly on both engines.
    "q196_stream_full_outer_join" -> ((s0, d) =>
      StreamRig.availableNow(s0, "append") { (s, stage) =>
        val schema = stageEventsWithFlushSentinels(s, d, stage)
        def side(tpe: String) = graft.Graft.normalizeTs(
            s.readStream.schema(schema).parquet(stage.toString))
          .filter(col("event_type") === tpe)
        intervalJoin(side("click"), side("purchase"), "full_outer")
      } { sink =>
        sink.select(col("click_id"), col("purchase_id"),
            coalesce(col("user_id"), col("p_user")).as("uid"),
            (unix_micros(col("p_ts")) - unix_micros(col("click_ts")))
              .as("lag_us"))
          .orderBy(col("click_id").asc_nulls_first,
            col("purchase_id").asc_nulls_first)
      }),

    // Stream-stream RIGHT OUTER interval join — the last cell of the
    // join-type matrix (q65 inner, q148 left outer, q171 left semi,
    // q196 full outer): the RIGHT side's state store emits null-padded
    // purchases once the watermark passes p_ts (the q196 right-side
    // gate); same sentinel-flush staging, so the oracle is the plain
    // relational right outer join and the sentinels stay absent.
    "q207_stream_right_outer_join" -> ((s0, d) =>
      StreamRig.availableNow(s0, "append") { (s, stage) =>
        val schema = stageEventsWithFlushSentinels(s, d, stage)
        def side(tpe: String) = graft.Graft.normalizeTs(
            s.readStream.schema(schema).parquet(stage.toString))
          .filter(col("event_type") === tpe)
        intervalJoin(side("click"), side("purchase"), "right_outer")
      } { sink =>
        sink.select(col("click_id"), col("purchase_id"),
            col("p_user").as("user_id"),
            (unix_micros(col("p_ts")) - unix_micros(col("click_ts")))
              .as("lag_us"))
          .orderBy(col("purchase_id"), col("click_id").asc_nulls_first)
      }),

    "q148_stream_outer_join" -> ((s0, d) =>
      StreamRig.availableNow(s0, "append") { (s, stage) =>
        val schema = stageEventsWithFlushSentinels(s, d, stage)
        def side(tpe: String) = graft.Graft.normalizeTs(
            s.readStream.schema(schema).parquet(stage.toString))
          .filter(col("event_type") === tpe)
        intervalJoin(side("click"), side("purchase"), "left_outer")
      } { sink =>
        sink.select(col("click_id"), col("purchase_id"), col("user_id"),
            (unix_micros(col("p_ts")) - unix_micros(col("click_ts")))
              .as("lag_us"))
          .orderBy(col("click_id"), col("purchase_id"))
      }),

    "q65_stream_interval_join" -> ((s0, d) =>
      StreamRig.availableNow(s0, "append") { (s, stage) =>
        val schema = StreamRig.stageEvents(s, d, stage)
        def side(tpe: String) = graft.Graft.normalizeTs(
            s.readStream.schema(schema).parquet(stage.toString))
          .filter(col("event_type") === tpe)
        intervalJoin(side("click"), side("purchase"), "inner")
      } { sink =>
        sink.select(col("click_id"), col("purchase_id"), col("user_id"),
            (unix_micros(col("p_ts")) - unix_micros(col("click_ts")))
              .as("lag_us"))
          .orderBy(col("click_id"), col("purchase_id"))
      }),

    // Stream-stream LEFT SEMI interval join — completes the
    // stream-stream family (q65 inner, q148 left outer): "clicks that
    // converted within 12 h", emitting each click ONCE regardless of
    // how many purchases matched — the existence probe that avoids
    // materializing the N-way fanout the inner join pays. Same
    // watermark bounds on both sides cap the state.
    "q171_stream_semi_join" -> ((s0, d) =>
      StreamRig.availableNow(s0, "append") { (s, stage) =>
        val schema = StreamRig.stageEvents(s, d, stage)
        def side(tpe: String) = graft.Graft.normalizeTs(
            s.readStream.schema(schema).parquet(stage.toString))
          .filter(col("event_type") === tpe)
        intervalJoin(side("click"), side("purchase"), "left_semi")
      } { sink =>
        sink.select(col("click_id"), col("user_id"),
            unix_micros(col("click_ts")).as("click_us"))
          .orderBy(col("click_id"))
      }),

    // The reference pipeline under Structured Streaming, end-to-end
    // (SURVEY.md §2.10 T1/T2/T4): the SAME envelope batch is delivered
    // twice in two micro-batches (maxFilesPerTrigger=1) — the
    // reference's overlapping 6-hour lookback windows re-fetch alerts
    // every run (task.ts:134-135), so delivery is at-least-once and
    // idempotency comes from the stable feature id `active911-<id>`
    // (task.ts:215): watermark + dropDuplicates(id) (Lookback.dedupById)
    // must collapse the redelivery to exactly the batch pipeline's
    // output. Oracle: the same SQL re-derivation as q50.
    "q53_stream_active911" -> ((s0, d) =>
      StreamRig.availableNow(s0, "append") { (s, stage) =>
        import s.implicits._
        val env = Fixtures.envelopes.toDF("agency_id", "raw")
        env.coalesce(1).write.mode("append").parquet(stage.toString) // run 1
        env.coalesce(1).write.mode("append").parquet(stage.toString) // run 2 (redelivery)
        val features = Active911.pipeline(
          s.readStream.schema(env.schema).option("maxFilesPerTrigger", 1)
            .parquet(stage.toString))
        Lookback.dedupById(
          features.withColumn("ts", to_timestamp(col("properties.start"))),
          "id", "ts")
      } { sink =>
        sink.select(col("id"), col("type"),
            col("properties.callsign").as("callsign"),
            element_at(col("geometry.coordinates"), 1).as("lon"),
            element_at(col("geometry.coordinates"), 2).as("lat"),
            col("properties.remarks").as("remarks"))
          .orderBy(col("id"))
      }),
  )

  val oracles: Map[String, String] = Map(
    "q82_stream_static_join" ->
      """WITH dim(event_type, category) AS (VALUES
           ('click', 'engagement'), ('view', 'engagement'),
           ('purchase', 'revenue'), ('signup', 'acquisition'))
         SELECT coalesce(category, '(other)') AS category,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
         FROM events LEFT JOIN dim USING (event_type)
         GROUP BY 1 ORDER BY category""",
    // engine-managed session windows replayed relationally in EXACT µs
    // (no ms truncation anywhere — the fixture has sub-ms timestamps);
    // break on >= gap: session_window's [ts, ts+gap) interval is
    // half-open, an event at exactly last+gap starts a new session
    "q202_session_window" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS us FROM events
           WHERE user_id <= 20),
         x AS (
           SELECT user_id, us,
             lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev
           FROM e),
         f AS (
           SELECT user_id, us,
             CASE WHEN prev IS NULL OR us - prev >= 1800000000
                  THEN 1 ELSE 0 END AS brk
           FROM x),
         s AS (
           SELECT user_id, us,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS sid
           FROM f),
         g AS (
           SELECT user_id, sid, MIN(us) AS start_us,
             MAX(us) + 1800000000 AS end_us, COUNT(*) AS n_events
           FROM s GROUP BY 1, 2)
         SELECT user_id, start_us, end_us,
           CAST(n_events AS BIGINT) AS n_events
         FROM g ORDER BY user_id, start_us""",
    "q52_stream_window_agg" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us, event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
         FROM events GROUP BY win_start_us, event_type
         ORDER BY win_start_us, event_type""",
    // sliding windows expanded relationally: each event joins its four
    // 30-min-aligned starts s with s <= t < s + 2h
    "q190_stream_sliding_window" ->
      """WITH e AS (
           SELECT epoch_us(ts) AS us, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         w AS (
           SELECT ((us // 1800000000) - k.k) * 1800000000 AS win_start_us,
             event_type, cents
           FROM e, (VALUES (0), (1), (2), (3)) AS k(k))
         SELECT win_start_us, event_type, COUNT(*) AS n,
           CAST(SUM(cents) AS BIGINT) AS cents
         FROM w GROUP BY win_start_us, event_type
         ORDER BY win_start_us, event_type""",
    // the streamed interval join must emit exactly the batch-join pairs
    // the streamed semi join must equal the batch EXISTS probe —
    // exactly one row per converted click
    "q171_stream_semi_join" ->
      """SELECT c.event_id AS click_id, c.user_id,
           epoch_us(c.ts) AS click_us
         FROM events c
         WHERE c.event_type = 'click' AND EXISTS (
           SELECT 1 FROM events p
           WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 12 HOUR)
         ORDER BY c.event_id""",
    "q65_stream_interval_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 12 HOUR
         ORDER BY click_id, purchase_id""",
    // the streaming dedup of the redelivered batch must land exactly on
    // the batch pipeline's rows — same re-derivation as q50
    "q53_stream_active911" -> Ext.active911FeaturesOracle,
    // the streamed per-key running totals must land exactly on the
    // batch aggregate
    "q120_stream_running_totals" ->
      """SELECT user_id, COUNT(*) AS n_events,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
         FROM events GROUP BY user_id ORDER BY user_id""",
    // gaps-and-islands session reconstruction; the staged 2030
    // sentinel fires every real session's timer, so ALL sessions
    // emit and the oracle carries no watermark cutoff (the sentinel's
    // own open session must be absent)
    "q170_stream_timer_sessions" ->
      """WITH e AS (
           SELECT user_id, epoch_ms(ts) AS ms FROM events
           WHERE user_id <= 20),
         x AS (
           SELECT user_id, ms,
             lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS prev
           FROM e),
         f AS (
           SELECT user_id, ms,
             CASE WHEN prev IS NULL OR ms - prev > 1800000
                  THEN 1 ELSE 0 END AS brk
           FROM x),
         s AS (
           SELECT user_id, ms,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ms
                            ROWS UNBOUNDED PRECEDING) AS sid
           FROM f),
         g AS (
           SELECT user_id, sid, MIN(ms) AS start_ms, MAX(ms) AS end_ms,
             COUNT(*) AS n_events
           FROM s GROUP BY 1, 2)
         SELECT user_id, start_ms, end_ms,
           CAST(n_events AS BIGINT) AS n_events
         FROM g
         ORDER BY user_id, start_ms""",
    // the streamed per-(user, type) map entries must land exactly on
    // the two-key batch aggregate
    "q168_stream_map_state" ->
      """SELECT user_id, event_type, COUNT(*) AS n_events,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
         FROM events GROUP BY user_id, event_type
         ORDER BY user_id, event_type""",
    // exactly-once across the restart ⇒ the plain batch rollup
    "q197_stream_restart" ->
      """SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    // q148's model + the RIGHT side's null emissions: the staged 2030
    // sentinels close every real row's match window, so this is the
    // plain relational FULL OUTER interval join — no watermark CTE
    "q196_stream_full_outer_join" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
             epoch_us(ts) AS us FROM events),
         c AS (SELECT event_id AS click_id, user_id, us AS click_us
           FROM ev WHERE event_type = 'click'),
         p AS (SELECT event_id AS purchase_id, user_id, us AS p_us
           FROM ev WHERE event_type = 'purchase'),
         matched AS (
           SELECT click_id, purchase_id, c.user_id AS uid,
             p_us - click_us AS lag_us
           FROM c JOIN p ON c.user_id = p.user_id
             AND p_us >= click_us AND p_us <= click_us + 43200000000),
         un_c AS (
           SELECT click_id, CAST(NULL AS BIGINT) AS purchase_id,
             c.user_id AS uid, CAST(NULL AS BIGINT) AS lag_us
           FROM c
           WHERE NOT EXISTS (
               SELECT 1 FROM p WHERE p.user_id = c.user_id
                 AND p_us >= click_us AND p_us <= click_us + 43200000000)),
         un_p AS (
           SELECT CAST(NULL AS BIGINT) AS click_id, purchase_id,
             p.user_id AS uid, CAST(NULL AS BIGINT) AS lag_us
           FROM p
           WHERE NOT EXISTS (
               SELECT 1 FROM c WHERE c.user_id = p.user_id
                 AND p_us >= click_us AND p_us <= click_us + 43200000000))
         SELECT * FROM (SELECT * FROM matched
           UNION ALL SELECT * FROM un_c
           UNION ALL SELECT * FROM un_p)
         ORDER BY click_id NULLS FIRST, purchase_id NULLS FIRST""",
    // the right-side mirror of q148: matched pairs plus null-padded
    // purchases with no click in their 12h lookback — the sentinels
    // close every real purchase's gate, plain relational right outer
    "q207_stream_right_outer_join" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
             epoch_us(ts) AS us FROM events),
         c AS (SELECT event_id AS click_id, user_id, us AS click_us
           FROM ev WHERE event_type = 'click'),
         p AS (SELECT event_id AS purchase_id, user_id, us AS p_us
           FROM ev WHERE event_type = 'purchase'),
         matched AS (
           SELECT click_id, purchase_id, p.user_id AS user_id,
             p_us - click_us AS lag_us
           FROM c JOIN p ON c.user_id = p.user_id
             AND p_us >= click_us AND p_us <= click_us + 43200000000),
         unmatched AS (
           SELECT CAST(NULL AS BIGINT) AS click_id, purchase_id,
             p.user_id AS user_id, CAST(NULL AS BIGINT) AS lag_us
           FROM p
           WHERE NOT EXISTS (
               SELECT 1 FROM c WHERE c.user_id = p.user_id
                 AND p_us >= click_us AND p_us <= click_us + 43200000000))
         SELECT * FROM (SELECT * FROM matched
           UNION ALL SELECT * FROM unmatched)
         ORDER BY purchase_id, click_id NULLS FIRST""",
    // the staged 2030 sentinels pass every real click's 12h deadline,
    // so this is the plain relational LEFT OUTER interval join
    "q148_stream_outer_join" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
             epoch_us(ts) AS us FROM events),
         c AS (SELECT event_id AS click_id, user_id, us AS click_us
           FROM ev WHERE event_type = 'click'),
         p AS (SELECT event_id AS purchase_id, user_id, us AS p_us
           FROM ev WHERE event_type = 'purchase'),
         matched AS (
           SELECT click_id, purchase_id, c.user_id AS user_id,
             p_us - click_us AS lag_us
           FROM c JOIN p ON c.user_id = p.user_id
             AND p_us >= click_us AND p_us <= click_us + 43200000000),
         unmatched AS (
           SELECT click_id, CAST(NULL AS BIGINT) AS purchase_id,
             c.user_id AS user_id, CAST(NULL AS BIGINT) AS lag_us
           FROM c
           WHERE NOT EXISTS (
               SELECT 1 FROM p WHERE p.user_id = c.user_id
                 AND p_us >= click_us AND p_us <= click_us + 43200000000))
         SELECT * FROM (SELECT * FROM matched
           UNION ALL SELECT * FROM unmatched)
         ORDER BY click_id, purchase_id NULLS FIRST""",
    // redelivered batch-1 rows must be dropped, so the streamed output
    // aggregates to the PLAIN per-type rollup of the unique events
    "q157_stream_dedup_watermark" ->
      """SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM events GROUP BY 1 ORDER BY 1""",
    // append mode's emitted set: the 2030 sentinel flush batch closes
    // EVERY real window, so the oracle is the plain batch recompute —
    // no watermark arithmetic, no Spark-internals dependence. The
    // sentinel's own open window must be absent (it would appear as
    // an unmatched "__wm_flush" row and flip this red).
    "q147_stream_append_window" ->
      """WITH agg AS (
           SELECT epoch_us(ts) // 3600000000 AS h, event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
           FROM events GROUP BY 1, 2)
         SELECT h * 3600000000 AS win_start_us, event_type, n, cents
         FROM agg
         ORDER BY win_start_us, event_type""",
    // the chaos rig's contract: whatever the arrival order, raw
    // windows count the redelivered duplicates (derived from the same
    // hash/batch rules), deduped windows equal the clean rollup, and
    // sessions equal the gaps-and-islands replay
    "q334_stream_chaos" ->
      """WITH ev AS (
           SELECT event_id, user_id, ts,
             epoch_us(ts) // 86400000000 AS day,
             CAST(round(value*100) AS BIGINT) AS cents
           FROM events),
         bd AS (SELECT MIN(day) AS mind, MAX(day) AS maxd FROM ev),
         prm AS (SELECT mind,
           greatest(1, (maxd - mind + 4) // 4) AS qq FROM bd),
         t AS (
           SELECT ev.*, least(3, (day - mind) // qq) AS b,
             (event_id % 1000 * 2654435761) % 1000 AS h,
             mind + (least(3, (day - mind) // qq) + 1) * qq - 1 AS qend
           FROM ev, prm),
         dups AS (SELECT day, cents FROM t
           WHERE b < 3 AND day >= qend - 2 AND h >= 150 AND h < 300),
         raw AS (
           SELECT day AS k, COUNT(*) AS n, SUM(cents) AS m
           FROM (SELECT day, cents FROM t
                 UNION ALL SELECT day, cents FROM dups) u
           GROUP BY day),
         tum AS (SELECT day AS k, COUNT(*) AS n, SUM(cents) AS m
                 FROM t GROUP BY day),
         se AS (SELECT user_id, epoch_us(ts) AS us FROM ev
                WHERE user_id BETWEEN 0 AND 20),
         x AS (SELECT user_id, us,
             lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev
           FROM se),
         f AS (SELECT user_id, us,
             CASE WHEN prev IS NULL OR us - prev >= 7200000000
                  THEN 1 ELSE 0 END AS brk
           FROM x),
         si AS (SELECT user_id,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY us
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM f),
         g AS (SELECT user_id, sid, COUNT(*) AS ne FROM si GROUP BY 1, 2),
         ses AS (SELECT user_id AS k, COUNT(*) AS n, SUM(ne) AS m
                 FROM g GROUP BY 1)
         SELECT * FROM (
           SELECT 'raw' AS leg, k, n, CAST(m AS BIGINT) AS m FROM raw
           UNION ALL SELECT 'tumbling', k, n, CAST(m AS BIGINT) FROM tum
           UNION ALL SELECT 'sessions', k, n, CAST(m AS BIGINT) FROM ses) z
         ORDER BY leg, k""",
    // the streamed recent-k must equal the batch window replay
    "q132_stream_recent_k" ->
      """WITH r AS (
           SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
           FROM events),
         n AS (SELECT user_id, COUNT(*) AS n_total FROM events
           GROUP BY user_id)
         SELECT n.user_id, n.n_total,
           (SELECT string_agg(event_type, ',' ORDER BY rn)
            FROM r WHERE r.user_id = n.user_id AND rn <= 3) AS recent
         FROM n ORDER BY n.user_id""",
  )
}
