package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Active911
import graft.sinks.CloudTakDataSource
import graft.sources.Active911DataSource

/** A batch workload: the alerts per agency envelope, in agency order (the
  * order the source's partitions are scheduled in), the alert shape, and
  * the cycles run after the cold one before anything is measured. Sizes
  * and order are fixed, so every seed does the same work on the same
  * schedule. The warm-up count is fixed too, so every run measures the
  * same point of the JIT warm-up: about where cycle times stop falling
  * steeply. The JIT keeps compiling after it; jvm.jit_ms reports how much.
  */
case class BatchWorkload(name: String, sizes: Seq[Int], shape: Gen.Shape, warmupCycles: Int)

object BatchWorkload {
  /** Tens of small envelopes, ~8 responder lines per alert: the links
    * layer does most of the work, decode very little.
    */
  val fleetLinks: BatchWorkload = BatchWorkload("fleet_links",
    (0 until 12).flatMap(i => Seq(25 + i % 6, 25 - i % 6)),
    Gen.Shape(linesMin = 6, linesMax = 10, detailsChars = 60, fixShare = 0.03, dropShare = 0.02),
    warmupCycles = 3)

  /** Six uneven envelopes of up to 400 alerts with 0–1 responder lines
    * and a coordinate-fallback share: decode dominates, and the largest
    * envelope, scheduled last, sets the cycle time. 400 is below the decode
    * ceiling that `--probe-decode` measures; above it the decode fails and
    * the run yields nothing.
    */
  val countyBulk: BatchWorkload = BatchWorkload("county_bulk",
    Seq(100, 160, 220, 280, 340, 400),
    Gen.Shape(linesMin = 0, linesMax = 1, detailsChars = 200, fixShare = 0.10, dropShare = 0.04),
    warmupCycles = 10)
}

/** Inputs of one batch workload, generated once at set-up: the envelope
  * per agency and, per alert, what must be posted.
  */
class BatchInput(w: BatchWorkload, seed: Long) {
  private val rnd = new Random(seed)
  val alerts: Seq[Seq[Gen.Alert]] = w.sizes.zipWithIndex.map { case (n, a) =>
    (0 until n).map(i => Gen.alert((a + 1) * 1000000L + i, Gen.randomInstant(rnd), w.shape, rnd))
  }
  val envelopes: Map[Int, String] = alerts.zipWithIndex.map { case (as, a) =>
    (101 + a) -> Gen.envelope(as, 1736200000000L + a)
  }.toMap
  val expect: Map[String, Gen.Expect] =
    alerts.flatten.flatMap(a => a.expect.map(a.featureId -> _)).toMap
  val dropped: Set[String] = alerts.flatten.filter(_.expect.isEmpty).map(_.featureId).toSet
  def nAlerts: Int = alerts.map(_.size).sum
}

/** Result of one cycle: wall ms, per-alert ms from cycle start to the
  * POST that carried it, problems found and the first one, JIT and GC ms.
  */
case class Cycle(wallMs: Double, lagsMs: Seq[Double], problems: Int, first: String,
                 jitMs: Long, gcMs: Long)

/** Closed-loop batch cycles: DSv2 source → pipeline → DSv2 sink, one
  * cycle in flight.
  */
class BatchRunner(spark: SparkSession, in: BatchInput, val posts: Posts) {
  def source(): DataFrame =
    spark.read.format("graft.sources.Active911DataSource")
      .option("username", "bench").option("password", "bench")
      .option("nowMs", "1765200000000").load()
      .filter(col("fetch_error").isNull).select("agency_id", "raw")

  def post(features: DataFrame): Unit =
    features.select(to_json(struct(features.columns.map(col).toSeq: _*)).as("feature"))
      .write.format("graft.sinks.CloudTakDataSource")
      .option("maxFeaturesPerPost", Recorder.FeaturesPerPost.toString).mode("append").save()

  def install(): Unit = {
    Served.envelopes = in.envelopes
    Active911DataSource.transport = new StubTransport
    CloudTakDataSource.post = Recorder.post _
    Recorder.posts.clear()
  }

  /** Run `body` as one cycle and check what it posted. */
  def cycle(body: => Unit): Cycle = {
    val jit0 = Jvm.jitMs
    val gc0 = Jvm.gcMs
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e6
    val jit = Jvm.jitMs - jit0
    val gc = Jvm.gcMs - gc0
    val got = posts.drain()
    val lags = got.map { case (at, _) => (at - t0) / 1e6 }
    val seen = mutable.Map.empty[String, Int]
    var problems = 0
    var first = ""
    def problem(s: String): Unit = { if (problems == 0) first = s; problems += 1 }
    got.foreach { case (_, f) =>
      val id = f.get("id").asText()
      seen(id) = seen.getOrElse(id, 0) + 1
      in.expect.get(id) match {
        case Some(e) => posts.mismatch(f, e).foreach(problem)
        case None => problem(if (in.dropped(id)) s"$id has no usable coordinates but was posted" else s"$id was never generated")
      }
    }
    seen.foreach { case (id, n) => if (n > 1) problem(s"$id posted $n times") }
    in.expect.keys.foreach(id => if (!seen.contains(id)) problem(s"$id never posted"))
    Cycle(wall, lags, problems, first, jit, gc)
  }

  def pipelineCycle(): Cycle = cycle(post(Active911.pipeline(source())))

  def layeredCycle(): (Cycle, Map[String, Double]) = {
    var layers = Map.empty[String, Double]
    val c = cycle { layers = Layers.run(source(), post) }
    (c, layers)
  }
}

/** Batch run: set-up, one cold cycle, a fixed warm-up, then either the
  * measured cycles (end-to-end metrics) or the traced pass (per-layer).
  */
object BatchBench {
  def run(w: BatchWorkload, r: Run): Outcome = {
    val spark = Main.session(Main.Cores)
    val in = new BatchInput(w, r.seed)
    val setupS = r.sinceStart
    val posts = new Posts
    Report.line(f"${w.name}: ${in.nAlerts} alerts in ${w.sizes.size} envelopes, " +
      f"${in.envelopes.values.map(_.length.toLong).sum} envelope bytes, set-up $setupS%.3f s")
    val all = mutable.ArrayBuffer.empty[Cycle]
    def note(tag: String)(c: Cycle): Cycle = {
      all += c
      Report.line(f"$tag cycle ${all.size}: ${c.wallMs}%.1f ms, jit ${c.jitMs} ms, gc ${c.gcMs} ms" +
        (if (c.problems > 0) s", ${c.problems} problems, first: ${c.first}" else ""))
      c
    }
    val runner = new BatchRunner(spark, in, posts)
    runner.install()
    val cold = note("cold")(runner.pipelineCycle())
    if (!r.coldOnly) (1 to w.warmupCycles).foreach(_ => note("warm-up")(runner.pipelineCycle()))
    val metrics =
      if (r.coldOnly) {
        spark.stop()
        Map("setup_s" -> setupS, "cold_cycle_s" -> cold.wallMs / 1000)
      } else if (!r.trace) {
        val measured = Main.repeatFor(r.seconds, 3)(note("measured")(runner.pipelineCycle()))
        val lags = measured.flatMap(_.lagsMs)
        val p99 = Stats.quantile(lags, 0.99)
        Report.line(s"lag samples ${lags.size}, ${lags.count(_ > p99)} beyond p99")
        spark.stop()
        Map("setup_s" -> setupS, "cold_cycle_s" -> cold.wallMs / 1000,
          "alerts_per_s" -> in.nAlerts / (Stats.median(measured.map(_.wallMs)) / 1000),
          "lag_p50_ms" -> Stats.quantile(lags, 0.5), "lag_p99_ms" -> p99)
      } else traced(spark, runner, in, cold, note("traced")) // stops the session
    Outcome(metrics, all.size, all.count(_.problems > 0))
  }

  /** The traced pass. In turn: untraced cycles (the baseline for the
    * overhead), cycles under a SparkListener (engine counters), cycles
    * timed layer by layer, and the untraced cycle on a fresh one-core
    * context (the first of those is cold and not kept).
    */
  private def traced(spark: SparkSession, runner: BatchRunner, in: BatchInput,
                     cold: Cycle, note: Cycle => Cycle): Map[String, Double] = {
    val untraced = (1 to 2).map(_ => note(runner.pipelineCycle()))
    val untracedMs = Stats.median(untraced.map(_.wallMs))
    val engine = new EngineListener
    spark.sparkContext.addSparkListener(engine)
    val engineCycles = (1 to 2).map(_ => note(runner.pipelineCycle()))
    engine.settle()
    spark.sparkContext.removeSparkListener(engine)
    // the layered path runs other plans (persist, count, noop write), so
    // it has a JIT warm-up of its own; its first cycle is not kept
    note(runner.layeredCycle()._1)
    val layered = (1 to 2).map { _ =>
      val (bodies0, bytes0) = (runner.posts.bodies, runner.posts.bytes)
      val (c, layers) = runner.layeredCycle()
      note(c)
      layers ++ Map("sink.posts" -> (runner.posts.bodies - bodies0).toDouble,
        "sink.bytes" -> (runner.posts.bytes - bytes0).toDouble,
        "sink.features" -> c.lagsMs.size.toDouble)
    }
    val layers = Layers.medians(layered)
    val n = engineCycles.size.toDouble
    val partitions = runner.source().rdd.getNumPartitions.toDouble
    spark.stop()
    val one = Main.session(1)
    val oneRunner = new BatchRunner(one, in, runner.posts)
    oneRunner.install()
    note(oneRunner.pipelineCycle()) // a new context plans and generates code afresh
    val oneCore = note(oneRunner.pipelineCycle())
    one.stop()
    val alertsPerS = in.nAlerts / (untracedMs / 1000)
    val oneCoreAlertsPerS = in.nAlerts / (oneCore.wallMs / 1000)
    (layers - "traced_wall_ms") ++ StreamBench.notStream ++ Map(
      "source.partitions" -> partitions,
      "engine.jobs" -> engine.jobsEnded / n, "engine.tasks" -> engine.tasks / n,
      "engine.task_ms" -> engine.taskMs / n,
      "engine.busy_share" -> engine.taskMs / (engineCycles.map(_.wallMs).sum * Main.Cores),
      "engine.shuffle_bytes" -> engine.shuffleBytes / n,
      "engine.task_skew" -> engine.taskSkew,
      "jvm.jit_ms" -> Stats.median(untraced.map(_.jitMs.toDouble)),
      "jvm.cold_jit_ms" -> cold.jitMs.toDouble,
      "jvm.gc_ms" -> Stats.median(untraced.map(_.gcMs.toDouble)),
      "trace.overhead_ms" -> (layers("traced_wall_ms") - untracedMs),
      "scaling.one_core_alerts_per_s" -> oneCoreAlertsPerS,
      "scaling.speedup" -> alertsPerS / oneCoreAlertsPerS)
  }
}
