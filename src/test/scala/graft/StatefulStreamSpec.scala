package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.{Active911, Fixtures}
import graft.sinks.CloudTakSink
import graft.streaming.StatefulSessions
import graft.streaming.StatefulSessions.Event

/** Streaming end-to-end: (a) the Active911 pipeline running AS a stream
  * (envelopes arrive per micro-batch → features POSTed per batch via
  * foreachBatch — the production shape of the reference's scheduled
  * runs), and (b) custom state with flatMapGroupsWithState.
  */
class StatefulStreamSpec extends SparkSpec {
  import spark.implicits._

  test("Active911 pipeline runs under Structured Streaming with foreachBatch sink") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, String)]
    val features = Active911.pipeline(mem.toDF.toDF("agency_id", "raw"))
    val sink = new CloudTakSink(CloudTakPostCollector.fresh())
    val q = features.writeStream
      .outputMode("append")
      .foreachBatch(sink.foreachBatchSink)
      .start()
    try {
      // run 1: agency 101; run 2 (next schedule tick): agency 102
      mem.addData(101 -> Fixtures.envelopes.toMap.apply(101))
      q.processAllAvailable()
      mem.addData(102 -> Fixtures.envelopes.toMap.apply(102))
      q.processAllAvailable()
      val batches = CloudTakPostCollector.bodies.filter(_.contains("\"features\":[{"))
      assert(batches.size == 2)
      assert(batches(0).contains("active911-9001"))
      assert(batches(1).contains("active911-9101"))
      // per-batch FeatureCollection envelope, same wire shape as batch mode
      assert(batches.forall(_.startsWith("""{"type":"FeatureCollection"""")))
    } finally q.stop()
  }

  test("a checkpointed lookback stream spawns no process") {
    // Without libhadoop, Hadoop's stock local file system forks `chmod`
    // per created file and `readlink` per FileContext rename, ~50
    // processes per micro-batch of this stream; Graft.session routes
    // checkpoints around both
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import jdk.jfr.consumer.RecordingStream
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import scala.jdk.CollectionConverters._
    implicit val sq = spark.sqlContext
    val checkpoint = java.nio.file.Files.createTempDirectory("graft_nofork_ckpt")
    val fs = new org.apache.hadoop.fs.Path(checkpoint.toUri)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    val mem = MemoryStream[(Int, String)]
    val features = graft.streaming.Lookback.dedupById(
      Active911.pipeline(mem.toDF().toDF("agency_id", "raw"))
        .withColumn("ts", to_timestamp(col("properties.start"))), "id", "ts").drop("ts")
    val sink = new CloudTakSink(CloudTakPostCollector.fresh())
    // only processes on the checkpoint's files count: the JVM also runs
    // one-off probes (`getconf PAGESIZE`) and other sessions' cleanup
    // (`rm -rf` of their artifact dirs) at times no test controls
    val ckptName = checkpoint.getFileName.toString
    val spawned = new ConcurrentLinkedQueue[String]()
    val done = new CountDownLatch(1)
    val recording = new RecordingStream()
    recording.enable("jdk.ProcessStart")
    recording.enable(classOf[StreamDone])
    recording.onEvent("jdk.ProcessStart", e => {
      val command = e.getString("command")
      if (command.contains(ckptName)) spawned.add(command)
      ()
    })
    recording.onEvent("graft.test.StreamDone", _ => done.countDown())
    recording.startAsync()
    val q = features.writeStream.option("checkpointLocation", checkpoint.toString)
      .foreachBatch(sink.foreachBatchSink).start()
    try {
      // agency 102, agency 101 (later event times, so inside the
      // watermark), then 101 again: the lookback window's redelivery,
      // dropped by the dedup state
      Seq(102, 101, 101).foreach { a =>
        mem.addData(a -> Fixtures.envelopes.toMap.apply(a))
        q.processAllAvailable()
      }
      // every event committed before the marker is delivered before it
      new StreamDone().commit()
      assert(done.await(60, TimeUnit.SECONDS), "the recording never delivered its marker")
      val progress = q.recentProgress
      assert(progress.count(_.numInputRows > 0) >= 3)
      assert(progress.exists(_.stateOperators.exists(_.numRowsTotal > 0)))
      val posted = CloudTakPostCollector.bodies.mkString
      assert("\"id\":\"active911-9001\"".r.findAllIn(posted).size == 1)
      assert(posted.contains("active911-9101"))
      assert(spawned.isEmpty,
        s"${spawned.size} processes spawned: ${spawned.asScala.take(5).mkString("; ")}")
    } finally {
      q.stop()
      recording.close()
      org.apache.commons.io.FileUtils.deleteDirectory(checkpoint.toFile)
    }
  }

  test("transformWithState: per-key state accumulates across micro-batches") {
    // cloned session: transformWithState requires the RocksDB state
    // store; scope the provider conf without mutating the shared session
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    implicit val sq = s.sqlContext
    import graft.streaming.RunningTotals
    import graft.streaming.RunningTotals.EventIn
    val mem = MemoryStream[EventIn]
    val out = RunningTotals.totals(s, mem.toDS())
    val name = "tot_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.toDF().writeStream.outputMode("update")
      .format("memory").queryName(name).start()
    try {
      mem.addData(EventIn(1L, 100L), EventIn(1L, 50L), EventIn(2L, 10L))
      q.processAllAvailable()
      val b1 = s.table(name).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(b1(1L) == ((2L, 150L)) && b1(2L) == ((1L, 10L)))
      // second batch: state must CARRY, not restart
      mem.addData(EventIn(1L, 1L), EventIn(3L, 7L))
      q.processAllAvailable()
      val rows = s.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // latest emission per key = max n_events (monotone)
      val last = rows.groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
      assert(last(1L) == ((1L, 3L, 151L)))
      assert(last(2L) == ((2L, 1L, 10L)))
      assert(last(3L) == ((3L, 1L, 7L)))
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
    }
  }

  test("transformWithState ListState: recent-k carries across batches and absorbs late rows") {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    implicit val sq = s.sqlContext
    import graft.streaming.RecentEvents
    import graft.streaming.RecentEvents.EventIn
    val mem = MemoryStream[EventIn]
    val out = RecentEvents.recent(s, mem.toDS(), k = 3)
    val name = "rec_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.toDF().writeStream.outputMode("update")
      .format("memory").queryName(name).start()
    try {
      // batch 1: four events — t=10 falls off the k=3 list
      mem.addData(EventIn(1L, 10L, 1L, "a"), EventIn(1L, 20L, 2L, "b"),
        EventIn(1L, 30L, 3L, "c"), EventIn(1L, 40L, 4L, "d"))
      q.processAllAvailable()
      // batch 2: a LATE row at t=25 must slot between b and c (incremental
      // top-k == global top-k: dropped rows were already out of top-k);
      // a second key proves state isolation
      mem.addData(EventIn(1L, 25L, 5L, "x"), EventIn(2L, 1L, 6L, "y"))
      q.processAllAvailable()
      val last = s.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
      assert(last(1L) == ((1L, 5L, "d,c,x")))
      assert(last(2L) == ((2L, 1L, "y")))
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
    }
  }

  test("transformWithState MapState: per-type entries carry and stay isolated") {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    implicit val sq = s.sqlContext
    import graft.streaming.TypeCounts
    import graft.streaming.TypeCounts.EventIn
    val mem = MemoryStream[EventIn]
    val out = TypeCounts.counts(s, mem.toDS())
    val name = "tc_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.toDF().writeStream.outputMode("update")
      .format("memory").queryName(name).start()
    try {
      mem.addData(EventIn(1L, "click", 10L), EventIn(1L, "click", 5L),
        EventIn(1L, "view", 1L), EventIn(2L, "click", 7L))
      q.processAllAvailable()
      // batch 2: user 1 touches ONLY "click" — the "view" entry must
      // carry untouched; user 2 opens a new type in its own map
      mem.addData(EventIn(1L, "click", 100L), EventIn(2L, "buy", 2L))
      q.processAllAvailable()
      val last = s.table(name).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .groupBy(t => (t._1, t._2)).view.mapValues(_.maxBy(_._3)).toMap
      assert(last((1L, "click")) == ((1L, "click", 3L, 115L)))
      assert(last((1L, "view")) == ((1L, "view", 1L, 1L)))
      assert(last((2L, "click")) == ((2L, "click", 1L, 7L)))
      assert(last((2L, "buy")) == ((2L, "buy", 1L, 2L)))
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
    }
  }

  test("CountingView: deletes retract counts, the last supporting " +
      "delete drops the member, and a re-insert revives it") {
    // q341's streaming IVM state machine at the unit level — the three
    // transitions the batch oracle can't isolate: support 1→0 must
    // decrement the live-member count, 0→1 must increment it, and a
    // retracted group's scalars must track signed sums exactly.
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    implicit val sq = s.sqlContext
    import graft.streaming.CountingView
    import graft.streaming.CountingView.DeltaIn
    val mem = MemoryStream[DeltaIn]
    val out = CountingView.view(s, mem.toDS())
    val name = "cv_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.toDF().writeStream.outputMode("update")
      .format("memory").queryName(name).start()
    try {
      def viewOf(version: Long) = s.table(name).collect()
        .filter(r => r.getString(0) == "SEG" && r.getLong(1) == version)
        .map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).head
      // batch 1: customer 7 twice, customer 9 once
      mem.addData(DeltaIn("SEG", 7L, 100L, 1L), DeltaIn("SEG", 7L, 50L, 1L),
        DeltaIn("SEG", 9L, 30L, 1L))
      q.processAllAvailable()
      assert(viewOf(1L) == ((3L, 180L, 2L)))
      // batch 2: delete one of 7's orders (support 2→1: still live) and
      // 9's only order (support 1→0: member drops)
      mem.addData(DeltaIn("SEG", 7L, 100L, -1L), DeltaIn("SEG", 9L, 30L, -1L))
      q.processAllAvailable()
      assert(viewOf(2L) == ((1L, 50L, 1L)))
      // batch 3: 9 returns (0→1 revival) — live count must recover
      mem.addData(DeltaIn("SEG", 9L, 70L, 1L))
      q.processAllAvailable()
      assert(viewOf(3L) == ((2L, 120L, 2L)))
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
    }
  }

  test("ExtremaView: a retraction storm away from the extremum costs " +
      "ZERO histogram scans; only a support-exhausting delete scans; " +
      "extrema track the post-batch multiset exactly") {
    // q359's minimal-trigger claim made observable: the injected
    // accumulator counts every histogram iteration, so the spec can
    // distinguish "answered from (extreme, support) state" from
    // "scanned the multiset" — the distinction the batch oracle's
    // value-only contract cannot see.
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    implicit val sq = s.sqlContext
    import graft.streaming.{CountingView, ExtremaView}
    import graft.streaming.CountingView.DeltaIn
    val rescans = s.sparkContext.longAccumulator("spec.extrema.rescans")
    val mem = MemoryStream[DeltaIn]
    val out = ExtremaView.view(s, mem.toDS(), Some(rescans))
    val name = "xv_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.toDF().writeStream.outputMode("update")
      .format("memory").queryName(name).start()
    try {
      def viewOf(version: Long) = s.table(name).collect()
        .filter(r => r.getString(0) == "SEG" && r.getLong(1) == version)
        .map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).head
      // batch 1: values 100, 50, 50, 30 — inserts only, no scan ever
      mem.addData(DeltaIn("SEG", 1L, 100L, 1L), DeltaIn("SEG", 2L, 50L, 1L),
        DeltaIn("SEG", 3L, 50L, 1L), DeltaIn("SEG", 4L, 30L, 1L))
      q.processAllAvailable()
      assert(viewOf(1L) == ((4L, 230L, 4L, 100L, 30L)))
      assert(rescans.value == 0L, "insert folds must never scan")
      // batch 2: the retraction storm AWAY from both extrema — one of
      // the two 50s goes; max (100) and min (30) both still supported
      mem.addData(DeltaIn("SEG", 2L, 50L, -1L))
      q.processAllAvailable()
      assert(viewOf(2L) == ((3L, 180L, 3L, 100L, 30L)))
      assert(rescans.value == 0L,
        s"retraction away from the extremum scanned: ${rescans.value}")
      // batch 3: delete the LAST row at the max — support exhausts,
      // exactly one scan (max side), min untouched
      mem.addData(DeltaIn("SEG", 1L, 100L, -1L))
      q.processAllAvailable()
      assert(viewOf(3L) == ((2L, 80L, 2L, 50L, 30L)))
      assert(rescans.value == 1L,
        s"expected exactly the max-side scan, got ${rescans.value}")
      // batch 4: insert above the stored max — fold, no scan
      mem.addData(DeltaIn("SEG", 5L, 500L, 1L))
      q.processAllAvailable()
      assert(viewOf(4L) == ((3L, 580L, 3L, 500L, 30L)))
      assert(rescans.value == 1L)
      // batch 5: same batch deletes the min's last support AND inserts
      // a lower value — insert-fold certifies the new min, no scan
      mem.addData(DeltaIn("SEG", 4L, 30L, -1L), DeltaIn("SEG", 6L, 10L, 1L))
      q.processAllAvailable()
      assert(viewOf(5L) == ((3L, 560L, 3L, 500L, 10L)))
      assert(rescans.value == 1L,
        "an insert below the dying min must fold, not scan")
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
    }
  }

  test("ExtremaView: out-of-order retraction (delete before its insert) " +
      "parks as a negative count and cancels exactly — live counts and " +
      "extrema converge to the net multiset, with the revival rescan") {
    // ADVICE-r10: the old code dropped histogram/support entries at
    // count <= 0, so a delete-before-insert permanently corrupted state
    // (the late insert restarted from 0). The fix retains negative
    // counts; this spec drives the exact corruption scenarios and pins
    // (a) convergence to the net multiset once the stream is drained,
    // (b) the revival-path histogram rescan that a leftover positive
    // entry needs, (c) rescan counts for every batch.
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    implicit val sq = s.sqlContext
    import graft.streaming.{CountingView, ExtremaView}
    import graft.streaming.CountingView.DeltaIn
    val rescans = s.sparkContext.longAccumulator("spec.extrema.ooo")
    val mem = MemoryStream[DeltaIn]
    val out = ExtremaView.view(s, mem.toDS(), Some(rescans))
    val name = "xvo_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.toDF().writeStream.outputMode("update")
      .format("memory").queryName(name).start()
    try {
      def viewOf(version: Long) = s.table(name).collect()
        .filter(r => r.getString(0) == "SEG" && r.getLong(1) == version)
        .map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getLong(5)),
          if (r.isNullAt(6)) None else Some(r.getLong(6)))).head
      // batch 1: two inserts
      mem.addData(DeltaIn("SEG", 1L, 100L, 1L), DeltaIn("SEG", 2L, 50L, 1L))
      q.processAllAvailable()
      assert(viewOf(1L) == ((2L, 150L, 2L, Some(100L), Some(50L))))
      // batch 2: delete for (ck=3, 70) whose insert hasn't arrived —
      // parks at −1; member 3 is NOT live, 70 is NOT present
      mem.addData(DeltaIn("SEG", 3L, 70L, -1L))
      q.processAllAvailable()
      assert(viewOf(2L) == ((1L, 80L, 2L, Some(100L), Some(50L))))
      // batch 3: the matching insert lands — cancels through 0: member
      // 3 net-absent (old code would have counted it live here)
      mem.addData(DeltaIn("SEG", 3L, 70L, 1L))
      q.processAllAvailable()
      assert(viewOf(3L) == ((2L, 150L, 2L, Some(100L), Some(50L))))
      // batch 4: a REAL insert of the same fact — now live
      mem.addData(DeltaIn("SEG", 3L, 70L, 1L))
      q.processAllAvailable()
      assert(viewOf(4L) == ((3L, 220L, 3L, Some(100L), Some(50L))))
      assert(rescans.value == 0L,
        s"no extremum died, yet the histogram was scanned ${rescans.value}x")
      // --- revival with a leftover positive entry (second group) ---
      def viewB(version: Long) = s.table(name).collect()
        .filter(r => r.getString(0) == "B" && r.getLong(1) == version)
        .map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getLong(5)),
          if (r.isNullAt(6)) None else Some(r.getLong(6)))).head
      mem.addData(DeltaIn("B", 1L, 50L, 1L))
      q.processAllAvailable()
      assert(viewB(1L) == ((1L, 50L, 1L, Some(50L), Some(50L))))
      // inversion: out-of-order delete drives n to 0 — group empties
      // with the 50 entry STILL in the histogram
      mem.addData(DeltaIn("B", 2L, 70L, -1L))
      q.processAllAvailable()
      assert(viewB(2L) == ((0L, -20L, 1L, None, None)))
      // revival: a 30 insert — the insert fold alone would claim
      // max = 30; the forced revival rescan must find the leftover 50
      mem.addData(DeltaIn("B", 3L, 30L, 1L))
      q.processAllAvailable()
      assert(viewB(3L) == ((1L, 10L, 2L, Some(50L), Some(30L))),
        "revival missed the leftover positive histogram entry")
      assert(rescans.value == 2L,
        s"revival should scan once per side, got ${rescans.value}")
      // the parked 70-delete cancels; net multiset is {50, 30}
      mem.addData(DeltaIn("B", 2L, 70L, 1L))
      q.processAllAvailable()
      assert(viewB(4L) == ((2L, 80L, 2L, Some(50L), Some(30L))))
      assert(rescans.value == 3L,
        "the cancelled insert's fold candidate (70) must trigger the " +
          s"max-side scan only, got ${rescans.value}")
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
    }
  }

  test("ExtremaView fuzz: seeded random insert/retract scenarios match " +
      "a brute-force recompute after every batch, including emptied and " +
      "revived groups") {
    // The state machine under adversarial interleavings: random valid
    // retraction streams (only live facts are retracted) where extrema
    // die and revive across batch boundaries — the shapes the
    // hand-written transitions above don't enumerate. A broken trigger
    // (missed or mistargeted histogram scan) surfaces as a wrong
    // max/min against the recompute.
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    implicit val sq = s.sqlContext
    import graft.streaming.{CountingView, ExtremaView}
    import graft.streaming.CountingView.DeltaIn
    val rnd = new scala.util.Random(42L)
    for (scenario <- 1 to 2) {
      val mem = MemoryStream[DeltaIn]
      val out = ExtremaView.view(s, mem.toDS(), None)
      val name = s"xvf${scenario}_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val q = out.toDF().writeStream.outputMode("update")
        .format("memory").queryName(name).start()
      val live = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      try {
        for (batch <- 1 to 8) {
          val deltas = (0 until (1 + rnd.nextInt(5))).map { _ =>
            // bias toward deletes once state exists so extrema die often
            if (live.nonEmpty && rnd.nextInt(10) < 5) {
              val i = rnd.nextInt(live.size)
              val (ck, cents) = live.remove(i)
              DeltaIn("SEG", ck, cents, -1L)
            } else {
              val ck = 1L + rnd.nextInt(4)
              val cents = 10L * (1 + rnd.nextInt(6))
              live += ((ck, cents))
              DeltaIn("SEG", ck, cents, 1L)
            }
          }
          mem.addData(deltas: _*)
          q.processAllAvailable()
          val row = s.table(name).collect()
            .filter(r => r.getString(0) == "SEG" && r.getLong(1) == batch)
            .map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
              if (r.isNullAt(5)) None else Some(r.getLong(5)),
              if (r.isNullAt(6)) None else Some(r.getLong(6)))).head
          val expected = (
            live.size.toLong,
            live.map(_._2).sum,
            live.map(_._1).distinct.size.toLong,
            if (live.isEmpty) None else Some(live.map(_._2).max),
            if (live.isEmpty) None else Some(live.map(_._2).min))
          assert(row == expected,
            s"scenario $scenario batch $batch: view $row vs " +
              s"recompute $expected (live=${live.toList})")
        }
      } finally {
        q.stop()
        s.catalog.dropTempView(name)
      }
    }
  }

  test("ExtremaView TTL (VERDICT-r10 #5): an idle group is evicted " +
      "whole with a tombstone row; a revived group restarts from empty " +
      "with version continuity; an active group is untouched") {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    implicit val sq = s.sqlContext
    import graft.streaming.{CountingView, ExtremaView}
    import graft.streaming.CountingView.DeltaIn
    val mem = MemoryStream[DeltaIn]
    val ttlMs = 3000L
    val out = ExtremaView.view(s, mem.toDS(), None, Some(ttlMs))
    val name = "xvt_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.toDF().writeStream.outputMode("update")
      .format("memory").queryName(name).start()
    try {
      def rowsOf(seg: String) = s.table(name).collect()
        .filter(_.getString(0) == seg)
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getLong(5)),
          if (r.isNullAt(6)) None else Some(r.getLong(6))))
        .sortBy(_._1)
      // ProcessingTime mode runs micro-batches continuously (each one
      // evaluates due timers), so quiescence-based processAllAvailable
      // never returns — poll the sink instead.
      def await(msg: String)(cond: => Boolean): Unit = {
        val deadline = System.currentTimeMillis + 60000L
        while (!cond) {
          assert(System.currentTimeMillis < deadline,
            s"timed out: $msg; sink=${s.table(name).collect().toList}")
          Thread.sleep(200L)
        }
      }
      // Wall-clock interleaving of data batches vs timer batches is
      // engine-scheduled (the first RocksDB batch alone can outlast a
      // TTL), so every claim here is asserted in VERSION space over a
      // deterministic lifecycle: born → evicted → revived → evicted.
      mem.addData(DeltaIn("A", 1L, 100L, 1L), DeltaIn("A", 2L, 50L, 1L),
        DeltaIn("B", 9L, 30L, 1L))
      await("initial rows")(rowsOf("A").nonEmpty && rowsOf("B").nonEmpty)
      assert(rowsOf("A").last == ((1L, 2L, 150L, 2L, Some(100L), Some(50L))))
      // both groups idle past the TTL → whole-group eviction: tombstone
      // rows with the version continuing (maps dropped in state)
      await("A eviction tombstone")(
        rowsOf("A").lastOption.exists(_._2 == 0L))
      assert(rowsOf("A").last == ((2L, 0L, 0L, 0L, None, None)),
        s"bad tombstone: ${rowsOf("A").toList}")
      await("B eviction tombstone")(
        rowsOf("B").lastOption.exists(_._2 == 0L))
      assert(rowsOf("B").map(t => (t._1, t._2)).toList ==
        List((1L, 1L), (2L, 0L)), s"B lifecycle: ${rowsOf("B").toList}")
      // revival: A restarts from EMPTY state (the prior 100/50 rows are
      // gone — "since the last activity gap" semantics), version
      // continues past the tombstone so the reader's max-version rule
      // keeps working across eviction and revival
      mem.addData(DeltaIn("A", 3L, 70L, 1L))
      await("A revival")(rowsOf("A").lastOption.exists(_._1 == 3L))
      assert(rowsOf("A").last == ((3L, 1L, 70L, 1L, Some(70L), Some(70L))),
        s"revival wrong: ${rowsOf("A").toList}")
      // the revived group re-armed its eviction timer: it dies again
      // after another idle TTL (v4), while B — evicted with no timer
      // left — must never emit again
      await("A second eviction")(
        rowsOf("A").lastOption.exists(r => r._1 == 4L && r._2 == 0L))
      assert(rowsOf("A").map(t => (t._1, t._2)).toList ==
        List((1L, 2L), (2L, 0L), (3L, 1L), (4L, 0L)),
        s"A lifecycle: ${rowsOf("A").toList}")
      assert(rowsOf("B").size == 2,
        s"dead group B emitted again: ${rowsOf("B").toList}")
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
    }
  }

  test("CountingView TTL (VERDICT-r11 #5): the standalone counting view " +
      "evicts idle groups whole with a tombstone, revives from empty " +
      "with version continuity, and re-arms the revived group's timer") {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    implicit val sq = s.sqlContext
    import graft.streaming.CountingView
    import graft.streaming.CountingView.DeltaIn
    val mem = MemoryStream[DeltaIn]
    val ttlMs = 3000L
    val out = CountingView.view(s, mem.toDS(), Some(ttlMs))
    val name = "cvt_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.toDF().writeStream.outputMode("update")
      .format("memory").queryName(name).start()
    try {
      def rowsOf(seg: String) = s.table(name).collect()
        .filter(_.getString(0) == seg)
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(_._1)
      // ProcessingTime mode runs micro-batches continuously — poll the
      // sink, assert in VERSION space (see the ExtremaView TTL test)
      def await(msg: String)(cond: => Boolean): Unit = {
        val deadline = System.currentTimeMillis + 60000L
        while (!cond) {
          assert(System.currentTimeMillis < deadline,
            s"timed out: $msg; sink=${s.table(name).collect().toList}")
          Thread.sleep(200L)
        }
      }
      mem.addData(DeltaIn("A", 1L, 100L, 1L), DeltaIn("A", 2L, 50L, 1L),
        DeltaIn("B", 9L, 30L, 1L))
      await("initial rows")(rowsOf("A").nonEmpty && rowsOf("B").nonEmpty)
      assert(rowsOf("A").last == ((1L, 2L, 150L, 2L)))
      // idle past the TTL → whole-group eviction tombstones
      await("A eviction tombstone")(
        rowsOf("A").lastOption.exists(_._2 == 0L))
      assert(rowsOf("A").last == ((2L, 0L, 0L, 0L)),
        s"bad tombstone: ${rowsOf("A").toList}")
      await("B eviction tombstone")(
        rowsOf("B").lastOption.exists(_._2 == 0L))
      assert(rowsOf("B").map(t => (t._1, t._2)).toList ==
        List((1L, 1L), (2L, 0L)), s"B lifecycle: ${rowsOf("B").toList}")
      // revival from EMPTY (prior members gone — "since the last
      // activity gap"), version continuing past the tombstone
      mem.addData(DeltaIn("A", 3L, 70L, 1L))
      await("A revival")(rowsOf("A").lastOption.exists(_._1 == 3L))
      assert(rowsOf("A").last == ((3L, 1L, 70L, 1L)),
        s"revival wrong: ${rowsOf("A").toList}")
      // the revived group dies again after another idle TTL; B (no
      // timer left) never emits again
      await("A second eviction")(
        rowsOf("A").lastOption.exists(r => r._1 == 4L && r._2 == 0L))
      assert(rowsOf("A").map(t => (t._1, t._2)).toList ==
        List((1L, 2L), (2L, 0L), (3L, 1L), (4L, 0L)),
        s"A lifecycle: ${rowsOf("A").toList}")
      assert(rowsOf("B").size == 2,
        s"dead group B emitted again: ${rowsOf("B").toList}")
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
    }
  }

  test("transformWithState timers: sessions close on gap or event-time timer") {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    implicit val sq = s.sqlContext
    import graft.streaming.TimedSessions
    import graft.streaming.TimedSessions.Event
    val mem = MemoryStream[Event]
    val out = TimedSessions.sessions(s, mem.toDS())
    val name = "tmr_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.toDF().writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      def ev(user: Long, hhmm: String) =
        Event(user, Timestamp.valueOf(s"2025-12-08 $hhmm:00"))
      // batch 1 — user 1 bursts 10:00–10:10; user 2 lone at 09:00. The
      // follow-up batch sees watermark 10:10 > user 2's 09:30 horizon →
      // its TIMER fires; user 1's (10:40) stays armed
      mem.addData(ev(1, "10:00"), ev(1, "10:10"), ev(2, "09:00"))
      q.processAllAvailable()
      val b1 = s.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      assert(b1 == Set((2L, 1L)))
      // batch 2 — user 1 returns past the gap at 11:30: the burst closes
      // by GAP (not timer), and the deleted 10:40 timer must not have
      // fired a bogus row; the new 11:30 session stays open (horizon
      // 12:00 > watermark 11:30)
      mem.addData(ev(1, "11:30"))
      q.processAllAvailable()
      val rows = s.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      def ms(hhmm: String) =
        Timestamp.valueOf(s"2025-12-08 $hhmm:00").getTime
      assert(rows.toSet == Set(
        (2L, ms("09:00"), ms("09:00"), 1L),
        (1L, ms("10:00"), ms("10:10"), 2L)))
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
    }
  }

  test("flatMapGroupsWithState: sessions close on gap or watermark timeout") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = StatefulSessions.sessions(spark, mem.toDS())
    val name = "sessions_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      def ev(user: Long, hhmm: String) =
        Event(user, Timestamp.valueOf(s"2025-12-08 $hhmm:00"))
      // batch 1 — user 1: burst at 10:00-10:10; user 2: lone event at
      // 09:00. processAllAvailable also runs the follow-up timeout batch
      // after the watermark advances to 10:10, which already passes user
      // 2's 09:00+30m horizon → user 2's session closes by event-time
      // timeout here; user 1's stays open (horizon 10:40).
      mem.addData(ev(1, "10:00"), ev(1, "10:10"), ev(2, "09:00"))
      q.processAllAvailable()
      // batch 2 — user 1 returns past the 30m gap: the arrival itself
      // closes session (10:00,10:10); the 12:00 burst stays open.
      mem.addData(ev(1, "12:00"), ev(1, "12:05"))
      q.processAllAvailable()
      val rows = spark.table(name)
        .as[StatefulSessions.SessionOut].collect().sortBy(_.user_id)
      assert(rows.length == 2)
      val s1 = rows(0)
      assert(s1.user_id == 1 && s1.n_events == 2)
      assert(s1.end_ms - s1.start_ms == 10 * 60 * 1000)
      val s2 = rows(1)
      assert(s2.user_id == 2 && s2.n_events == 1 && s2.start_ms == s2.end_ms)
    } finally q.stop()
  }
}

/** Marks the end of a recorded workload: a recording stream delivers
  * it only after every event committed before it.
  */
@jdk.jfr.Name("graft.test.StreamDone")
class StreamDone extends jdk.jfr.Event
