package perfbench

import java.nio.file.Files
import java.time.Instant

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.ops.Active911
import graft.sinks.CloudTakSink
import graft.streaming.Lookback

/** Open-loop stream: every `tickMs` each agency's 6-hour window is
  * fetched again. A window carries the alerts new since the last fetch
  * plus those of the previous one or two windows (the overlapping
  * lookback's at-least-once redelivery). Before the open loop, `bursts`
  * catch-up deliveries of `burst` new alerts each are sent one at a time,
  * as after a connector outage.
  */
case class StreamWorkload(agencies: Int, newPerAgency: Int, tickMs: Int,
                          shape: Gen.Shape, burst: Int, bursts: Int)

object StreamWorkload {
  val lookback: StreamWorkload = StreamWorkload(agencies = 4, newPerAgency = 6, tickMs = 200,
    Gen.Shape(linesMin = 0, linesMax = 2, detailsChars = 60, fixShare = 0.03, dropShare = 0.02),
    burst = 400, bursts = 3)
}

/** All deliveries of a stream run, generated at set-up. `sent` times are
  * clock-ordered: each burst, then each tick, is 6 simulated minutes after
  * the one before, so redelivered alerts stay far inside the 6-hour
  * watermark.
  */
class StreamInput(val w: StreamWorkload, seed: Long, val ticks: Int) {
  private val rnd = new Random(seed)
  private val base = Instant.parse("2025-07-01T00:00:00Z")
  private def at(slot: Int): Instant = base.plusSeconds(360L * slot + rnd.nextInt(300))

  // fresh(k)(a): alerts first delivered by agency a at tick k
  private val fresh: IndexedSeq[IndexedSeq[Seq[(Gen.Alert, Int)]]] =
    (0 until ticks).map(k => (0 until w.agencies).map(a =>
      (0 until w.newPerAgency).map(i =>
        Gen.alert(10000000L + k * 1000L + a * 100L + i, at(w.bursts + k), w.shape, rnd) -> (1 + rnd.nextInt(2)))))

  /** Envelopes delivered at tick k, one per agency. */
  val deliveries: IndexedSeq[Seq[(Int, String)]] = (0 until ticks).map(k =>
    (0 until w.agencies).map { a =>
      val carried = (math.max(0, k - 2) to k).flatMap(j =>
        fresh(j)(a).collect { case (al, r) if k - j <= r => al })
      (101 + a) -> Gen.envelope(carried, 1736200000000L + k)
    })

  /** (tick of first delivery, creation offset in the tick before it, as
    * a share of the tick) per alert id: alerts are created evenly between
    * two fetches and wait for the next one, as under a polling connector.
    */
  val created: Map[String, (Int, Double)] = (for (k <- 0 until ticks) yield {
    val ids = for (a <- 0 until w.agencies; (al, _) <- fresh(k)(a)) yield al.featureId
    ids.zipWithIndex.map { case (id, i) => id -> (k, (i + 1).toDouble / ids.size) }
  }).flatten.toMap

  val burstAlerts: IndexedSeq[Seq[Gen.Alert]] = (0 until w.bursts).map(b =>
    (0 until w.burst).map(i => Gen.alert(90000000L + b * 10000L + i, at(b), w.shape, rnd)))

  val burstDeliveries: IndexedSeq[Seq[(Int, String)]] = burstAlerts.zipWithIndex.map { case (as, b) =>
    as.grouped(math.ceil(as.size.toDouble / w.agencies).toInt).toSeq.zipWithIndex.map {
      case (g, a) => (101 + a) -> Gen.envelope(g, 1736300000000L + b)
    }
  }

  private val all: Seq[Gen.Alert] =
    fresh.flatten.flatten.map(_._1) ++ burstAlerts.flatten
  val expect: Map[String, Gen.Expect] = all.flatMap(a => a.expect.map(a.featureId -> _)).toMap
  val dropped: Set[String] = all.filter(_.expect.isEmpty).map(_.featureId).toSet
  def nAlerts: Int = all.size
}

/** Runs the stream: MemoryStream of envelopes → pipeline →
  * Lookback.dedupById → CloudTakSink.foreachBatchSink → recorder.
  */
class StreamRunner(spark: SparkSession, in: StreamInput, posts: Posts) {
  private implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._
  private val mem = MemoryStream[(Int, String)]

  /** First post time (nanos), post count and first problem per feature id. */
  val firstPost = mutable.Map.empty[String, Long]
  val postCount = mutable.Map.empty[String, Int]
  val problems = mutable.Map.empty[String, String]
  var featuresPosted = 0L

  def start(checkpoint: String): StreamingQuery = {
    val features = Active911.pipeline(mem.toDF().toDF("agency_id", "raw"))
    val deduped = Lookback.dedupById(
      features.withColumn("ts", to_timestamp(col("properties.start"))), "id", "ts").drop("ts")
    val sink: (DataFrame, Long) => Unit =
      new CloudTakSink(Recorder.post, Recorder.FeaturesPerPost).foreachBatchSink
    deduped.writeStream.option("checkpointLocation", checkpoint).foreachBatch(sink).start()
  }

  def deliver(envelopes: Seq[(Int, String)]): Unit = { mem.addData(envelopes); () }

  /** Collect until every id in `ids` has been posted; the last first-post
    * time among them. Gives up after two minutes (the check then fails).
    */
  def await(ids: Iterable[String]): Long = {
    val deadline = System.nanoTime() + 120000000000L
    while (!ids.forall(firstPost.contains) && System.nanoTime() < deadline) {
      Thread.sleep(5)
      collect()
    }
    ids.flatMap(firstPost.get).maxOption.getOrElse(System.nanoTime())
  }

  /** Take in what was posted since the last call. */
  def collect(): Unit = posts.drain().foreach { case (t, f) =>
    val id = f.get("id").asText()
    featuresPosted += 1
    postCount(id) = postCount.getOrElse(id, 0) + 1
    if (!firstPost.contains(id)) firstPost(id) = t
    in.expect.get(id) match {
      case Some(e) => posts.mismatch(f, e).foreach(problems.getOrElseUpdate(id, _))
      case None => problems.getOrElseUpdate(id,
        if (in.dropped(id)) s"$id has no usable coordinates but was posted" else s"$id was never generated")
    }
  }

  /** Alerts with a problem: missing, posted more than once, or wrong. */
  def failures(): Map[String, String] = {
    val out = mutable.Map.empty[String, String] ++ problems
    postCount.foreach { case (id, n) => if (n > 1) out.getOrElseUpdate(id, s"$id posted $n times") }
    in.expect.keys.foreach(id => if (!postCount.contains(id)) out.getOrElseUpdate(id, s"$id never posted"))
    out.toMap
  }
}

/** Stream run: set-up; the cold first trigger over tick 0; the catch-up
  * bursts; then the open loop (warm-up, then the measured window; in the
  * traced pass an untraced half window, then a traced window under the
  * listeners).
  */
object StreamBench {
  /** Open-loop seconds after the cold trigger before lags are measured. */
  val WarmupS = 4

  /** Stream-only per-layer metrics, 0 on the batch workloads. */
  val notStream: Map[String, Double] = Map(
    "stream.add_batch_ms" -> 0, "stream.planning_ms" -> 0, "stream.commit_ms" -> 0,
    "stream.batches" -> 0, "stream.state_rows" -> 0, "stream.dups_dropped" -> 0,
    "gen.late_ms" -> 0)

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  def run(r: Run): Outcome = {
    require(!r.coldOnly, "the stream has no cold-only mode")
    val w = StreamWorkload.lookback
    val spark = Main.session(Main.Cores)
    val untracedS = if (r.trace) r.seconds / 2.0 else r.seconds.toDouble
    val tracedS = if (r.trace) r.seconds.toDouble else 0.0
    val ticks = 1 + ((WarmupS + untracedS + tracedS) * 1000 / w.tickMs).toInt
    val in = new StreamInput(w, r.seed, ticks)
    val setupS = r.sinceStart
    Report.line(f"lookback_stream: ${in.nAlerts} alerts, $ticks ticks of ${w.tickMs} ms, set-up $setupS%.3f s")
    val posts = new Posts
    val runner = new StreamRunner(spark, in, posts)
    Recorder.posts.clear()
    val q = runner.start(Files.createTempDirectory(r.work, "checkpoint").toString)
    val qStart = System.nanoTime()
    val jit0 = Jvm.jitMs
    runner.deliver(in.deliveries(0))
    runner.await(in.created.collect { case (id, (0, _)) if in.expect.contains(id) => id })
    val coldS = (runner.firstPost.values.min - qStart) / 1e9
    q.processAllAvailable()
    val coldJitMs = Jvm.jitMs - jit0

    // catch-up bursts, one at a time; they also warm the path for the loop
    val burstRates = in.burstDeliveries.zip(in.burstAlerts).map { case (d, as) =>
      val t = System.nanoTime()
      runner.deliver(d)
      val last = runner.await(as.filter(_.expect.nonEmpty).map(_.featureId))
      q.processAllAvailable()
      as.size / ((last - t) / 1e9)
    }

    // open loop: tick k (k >= 1) is due at loopStart + (k - 1) ticks
    val tickNs = w.tickMs * 1000000L
    val loopStart = System.nanoTime()
    def due(k: Int): Long = loopStart + (k - 1) * tickNs
    val late = new Array[Long](ticks)
    val gen = new Thread(() => (1 until ticks).foreach { k =>
      val wait = due(k) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      runner.deliver(in.deliveries(k))
      late(k) = System.nanoTime() - due(k)
    })
    val warmEnd = loopStart + (WarmupS * 1e9).toLong
    val untracedEnd = warmEnd + (untracedS * 1e9).toLong
    val streamL = new StreamListener
    val engine = new EngineListener
    // when tracing began: (nanos, posts, post bytes, features, JIT ms, GC ms)
    var tracedFrom: Option[(Long, Long, Long, Long, Long, Long)] = None
    gen.start()
    while (gen.isAlive) {
      Thread.sleep(20)
      runner.collect()
      if (r.trace && tracedFrom.isEmpty && System.nanoTime() >= untracedEnd) {
        spark.streams.addListener(streamL)
        spark.sparkContext.addSparkListener(engine)
        tracedFrom = Some((System.nanoTime(), posts.bodies, posts.bytes, runner.featuresPosted,
          Jvm.jitMs, Jvm.gcMs))
      }
    }
    q.processAllAvailable()
    runner.collect()
    val loopEnd = System.nanoTime()
    val jitEnd = Jvm.jitMs
    val gcEnd = Jvm.gcMs
    if (r.trace) {
      engine.settle()
      spark.sparkContext.removeSparkListener(engine)
      spark.streams.removeListener(streamL)
    }
    // lag: first post minus creation (spread over the tick before delivery)
    def lagsIn(from: Long, until: Long): Seq[Double] = in.created.toSeq.collect {
      case (id, (k, share)) if k >= 1 && due(k) >= from && due(k) < until && runner.firstPost.contains(id) =>
        (runner.firstPost(id) - (due(k) - tickNs + (share * tickNs).toLong)) / 1e6
    }
    val lags = lagsIn(warmEnd, untracedEnd)
    val byTwo = (0L until (loopEnd - loopStart) / 2000000000L).map(i =>
      lagsIn(loopStart + i * 2000000000L, loopStart + (i + 1) * 2000000000L))
    Report.line("lag p50 ms per 2 s of open loop: " +
      byTwo.filter(_.nonEmpty).map(l => f"${Stats.median(l)}%.0f").mkString(", "))

    q.stop()
    val fails = runner.failures()
    fails.values.take(3).foreach(p => Report.line(s"problem: $p"))
    val p99 = Stats.quantile(lags, 0.99)
    Report.line(s"lag samples ${lags.size}, ${lags.count(_ > p99)} beyond p99; generator at most " +
      f"${late.max / 1e6}%.1f ms late; burst alerts/s ${burstRates.map(x => f"$x%.1f").mkString(", ")}")

    val metrics =
      if (!r.trace) Map("setup_s" -> setupS, "cold_cycle_s" -> coldS,
        "alerts_per_s" -> Stats.median(burstRates),
        "lag_p50_ms" -> Stats.quantile(lags, 0.5), "lag_p99_ms" -> p99)
      else {
        val (t1, bodies1, bytes1, features1, jit1, gc1) = tracedFrom.get
        val batches = streamL.synchronized(streamL.progress.toSeq).filter(_.numInputRows > 0)
        val n = batches.size.toDouble
        val wallS = (loopEnd - t1) / 1e9
        // layer split of the traced window's deliveries, replayed as one batch
        import spark.implicits._
        val replay = (1 until ticks).filter(k => due(k) >= t1).flatMap(in.deliveries)
        val sink = new CloudTakSink(_ => (), Recorder.FeaturesPerPost)
        val replays = (1 to 4).map(_ => Layers.run(replay.toDF("agency_id", "raw"),
          f => sink.foreachBatchSink(f, 0L)))
        val layers = Layers.medians(replays.drop(1)) // the first warms the layered plans
        // untraced batches of the measured window, from the query's own
        // progress history (no listener); progress stamps are wall clock
        def epochMs(nanos: Long): Long = System.currentTimeMillis() - (System.nanoTime() - nanos) / 1000000L
        val untracedBatchMs = Stats.median(q.recentProgress.toSeq.filter { p =>
          val at = Instant.parse(p.timestamp).toEpochMilli
          p.numInputRows > 0 && at >= epochMs(warmEnd) && at < epochMs(t1)
        }.map(dur(_, "triggerExecution")))
        (layers - "traced_wall_ms") ++ Map(
          "source.ms" -> Stats.median(batches.map(p => dur(p, "getBatch") + dur(p, "latestOffset"))),
          "source.partitions" -> 0.0,
          "sink.posts" -> (posts.bodies - bodies1).toDouble, "sink.bytes" -> (posts.bytes - bytes1).toDouble,
          "sink.features" -> (runner.featuresPosted - features1).toDouble,
          "stream.add_batch_ms" -> Stats.median(batches.map(dur(_, "addBatch"))),
          "stream.planning_ms" -> Stats.median(batches.map(dur(_, "queryPlanning"))),
          "stream.commit_ms" -> Stats.median(batches.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))),
          "stream.batches" -> n,
          "stream.state_rows" -> batches.last.stateOperators.map(_.numRowsTotal).sum.toDouble,
          "stream.dups_dropped" -> batches.flatMap(_.stateOperators).map(s =>
            Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum.toDouble,
          "gen.late_ms" -> late.max / 1e6,
          "engine.jobs" -> engine.jobsEnded / n, "engine.tasks" -> engine.tasks / n,
          "engine.task_ms" -> engine.taskMs / n,
          "engine.busy_share" -> engine.taskMs / (wallS * 1000 * Main.Cores),
          "engine.shuffle_bytes" -> engine.shuffleBytes / n,
          "engine.task_skew" -> engine.taskSkew,
          "jvm.jit_ms" -> (jitEnd - jit1) / n, "jvm.cold_jit_ms" -> coldJitMs.toDouble,
          "jvm.gc_ms" -> (gcEnd - gc1) / n,
          "trace.overhead_ms" -> (Stats.median(batches.map(dur(_, "triggerExecution"))) - untracedBatchMs),
          "scaling.one_core_alerts_per_s" -> 0.0, "scaling.speedup" -> 0.0)
      }
    spark.stop()
    Outcome(metrics, in.nAlerts, fails.size)
  }
}
