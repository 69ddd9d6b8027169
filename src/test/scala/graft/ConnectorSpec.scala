package graft

import graft.ops.{Active911, Fixtures}
import graft.sinks.{CloudTakDataSource, CloudTakSink}
import graft.sources.{Active911Config, Active911Connector, Active911Transport}

/** Standalone (no \$outer capture) serializable transport for the DSv2
  * tests — the reader factory ships it inside task closures.
  */
private class V2MockTransport(failing: Set[Int] = Set.empty)
    extends Active911Transport {
  def login(u: String, p: String): String =
    """({"result":"success","message":{"jwt":"tok-abc","agencies":[{"id":101},{"id":102},{"id":103}]}})"""
  def fetchAlerts(token: String, agencyId: Int, fromMs: Long, toMs: Long): String = {
    assert(token == "tok-abc" && toMs - fromMs == 6L * 3600 * 1000)
    if (failing.contains(agencyId)) throw new RuntimeException(s"http 500 for $agencyId")
    Fixtures.envelopes.toMap.apply(agencyId)
  }
}

/** Ten agencies (201–210), each serving agency 101's fixture envelope.
  * Every fetch is counted in [[PackedFetches]]: the transport is
  * serialized into the tasks, so a field of its own would count in a
  * deserialized copy.
  */
private class PackedMockTransport(failing: Set[Int] = Set.empty)
    extends Active911Transport {
  def login(u: String, p: String): String = {
    val ids = PackedFetches.Agencies.map(id => s"""{"id":$id}""").mkString(",")
    s"""({"result":"success","message":{"jwt":"tok-abc","agencies":[$ids]}})"""
  }
  def fetchAlerts(token: String, agencyId: Int, fromMs: Long, toMs: Long): String = {
    PackedFetches.record(agencyId)
    if (failing.contains(agencyId)) throw new RuntimeException(s"http 500 for $agencyId")
    Fixtures.envelopes.toMap.apply(101)
  }
}

/** Process-wide fetch counts of [[PackedMockTransport]]. */
object PackedFetches {
  val Agencies: Seq[Int] = 201 to 210
  private val counts = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  def record(agencyId: Int): Unit = { counts.merge(agencyId, 1, _ + _); () }
  def clear(): Unit = counts.clear()
  def snapshot: Map[Int, Int] = {
    import scala.jdk.CollectionConverters._
    counts.asScala.toMap
  }
}

/** Connector ring semantics (reference task.ts:98-152, 238-279): login
  * parse, agency validation throw, window arithmetic, HTTP-error
  * accumulation, and the submit-then-fail ordering of the sink.
  */
class ConnectorSpec extends SparkSpec {

  private val loginResponse =
    """({"result":"success","message":{"jwt":"tok-abc","agencies":[{"id":101},{"id":102},{"id":103}]}})"""

  private class MockTransport(failing: Set[Int] = Set.empty) extends Active911Transport {
    var fetched: List[Int] = Nil
    def login(u: String, p: String): String = loginResponse
    def fetchAlerts(token: String, agencyId: Int, fromMs: Long, toMs: Long): String = {
      assert(token == "tok-abc")
      assert(toMs - fromMs == 6L * 3600 * 1000) // the 6h window, task.ts:134-135
      fetched = agencyId :: fetched
      if (failing.contains(agencyId)) throw new RuntimeException(s"http 500 for $agencyId")
      Fixtures.envelopes.toMap.apply(agencyId)
    }
  }

  test("login parses jwt + agency ids (task.ts:267-278)") {
    val c = new Active911Connector(new MockTransport)
    val (tok, ids) = c.login(Active911Config("u", "p"))
    assert(tok == "tok-abc" && ids == Seq(101, 102, 103))
  }

  test("agency validation: subset ok, inaccessible throws, empty = all (task.ts:105-114)") {
    val c = new Active911Connector(new MockTransport)
    assert(c.validateAgencies(Seq("102"), Seq(101, 102)) == Seq(102))
    assert(c.validateAgencies(Nil, Seq(101, 102)) == Seq(101, 102))
    val e = intercept[IllegalStateException](c.validateAgencies(Seq("999"), Seq(101)))
    assert(e.getMessage.contains("999"))
  }

  test("fetch: per-agency failures accumulate, batch continues (task.ts:150-152)") {
    val t = new MockTransport(failing = Set(102))
    val c = new Active911Connector(t)
    val res = c.fetch("tok-abc", Seq(101, 102, 103), nowMs = 1765200000000L)
    assert(res.envelopes.map(_._1) == Seq(101, 103)) // 102 skipped, not fatal
    assert(res.errors == Seq("http 500 for 102"))
    assert(t.fetched.reverse == List(101, 102, 103))
  }

  test("end-to-end: read → pipeline → submit-then-fail ordering (task.ts:238-242)") {
    val c = new Active911Connector(new MockTransport)
    val (envelopes, fetchErrs) = c.read(spark, Active911Config("u", "p"), 1765200000000L)
    val features = Active911.pipeline(envelopes)
    val apiErrs = Active911.envelopeErrors(envelopes)
      .collect().map(_.getAs[String]("error")).toSeq

    val sink = new CloudTakSink(CloudTakPostCollector.fresh())
    val errs = fetchErrs ++ apiErrs
    val thrown = intercept[RuntimeException](sink.submit(features, errs))
    val posted: Option[String] = CloudTakPostCollector.bodies.lastOption
    // delivery happened BEFORE the failure signal
    assert(posted.isDefined)
    val body = posted.get
    assert(body.startsWith("""{"type":"FeatureCollection","features":["""))
    assert(body.contains(""""id":"active911-9001""""))
    // absent production_time serialized as omitted (JS undefined), not null
    assert(!body.contains(""""production_time":null"""))
    assert(thrown.getMessage == """["Agency not available"]""")
    // the sink's serializer writes the bytes Dataset.toJSON writes
    def asCollections(df: org.apache.spark.sql.DataFrame) =
      Vector(CloudTakDataSource.toFeatureCollection(df.toJSON.collect().toSeq))
    assert(CloudTakPostCollector.bodies == asCollections(features))
    // a responder time that does not parse (production_time absent), no
    // responders at all (empty links), and remarks that need escaping
    import spark.implicits._
    val odd = Active911.pipeline(Seq(501 -> Fixtures.envelope(Fixtures.csv(Seq(
      Fixtures.row("id" -> "9501", "sent" -> "12/08/2025 18:27:47 MST",
        "description" -> "Say \"when\"", "details" -> "back\\slash\ttab\nline \u0001 \u2028 caf\u00e9 </script>",
        "lat" -> "39.7", "lon" -> "-104.9", "source" -> "C\"AD", "units" -> "E4",
        "responses" -> "Got a response of Respond to Ann O'Neil(42) at sometime."),
      Fixtures.row("id" -> "9502", "sent" -> "12/08/2025 20:15:00 UTC",
        "description" -> "MVA", "details" -> "\\\"\r\n",
        "lat" -> "40.0", "lon" -> "-105.2", "responses" -> ""))))).toDF("agency_id", "raw"))
    assert(odd.count() == 2)
    CloudTakPostCollector.fresh()
    sink.submit(odd, Nil)
    val oddBody = CloudTakPostCollector.bodies
    assert(oddBody == asCollections(odd))
    assert(oddBody.head.contains(""""links":[]"""))
    assert(oddBody.head.contains("""{"relation":"t-s","callsign":"Ann O'Neil","remarks":"Respond"}"""))
    assert(oddBody.head.contains("back\\\\slash\\ttab\\nline \\u0001"))
  }

  test("sink chunks large results into size-capped POSTs, all before the throw") {
    val c = new Active911Connector(new MockTransport)
    val (envelopes, _) = c.read(spark, Active911Config("u", "p"), 1765200000000L)
    val features = Active911.pipeline(envelopes)
    val n = features.count() // 5 fixture features
    val sink = new CloudTakSink(CloudTakPostCollector.fresh(), maxFeaturesPerPost = 2)
    intercept[RuntimeException](sink.submit(features, Seq("boom")))
    val bodies = CloudTakPostCollector.bodies.toList
    // ceil(5/2) = 3 capped collections, every one a valid wrapper
    assert(bodies.length == math.ceil(n / 2.0).toInt)
    assert(bodies.forall(_.startsWith("""{"type":"FeatureCollection","features":[""")))
    // no chunk exceeds the cap; union covers every feature exactly once
    val perChunk = bodies.map(_.sliding("\"type\":\"Feature\"".length)
      .count(_ == "\"type\":\"Feature\""))
    assert(perChunk.forall(_ <= 2) && perChunk.sum == n)
  }

  test("error body JSON-escapes control characters (task.ts:241 JSON.stringify)") {
    val sink = new CloudTakSink(CloudTakPostCollector.fresh())
    val msg = "line1\nline2\t\"quoted\" back\\slash " + '\u0001'
    val e = intercept[RuntimeException](
      sink.submit(spark.emptyDataFrame, Seq(msg)))
    assert(e.getMessage ==
      "[\"line1\\nline2\\t\\\"quoted\\\" back\\\\slash \\u0001\"]")
  }

  test("sink with no errors does not throw") {
    val c = new Active911Connector(new MockTransport)
    val (envelopes, _) = c.read(spark, Active911Config("u", "p"), 1765200000000L)
    new CloudTakSink(CloudTakPostCollector.fresh()).submit(Active911.pipeline(envelopes), Nil)
    val posted = CloudTakPostCollector.bodies.size
    assert(posted == 1)
  }

  test("sink: a micro-batch posts from its tasks in one Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, String)]
    // the lookback dedup shuffles, so each micro-batch spans the
    // session's shuffle partitions
    val features = graft.streaming.Lookback.dedupById(
      Active911.pipeline(mem.toDF().toDF("agency_id", "raw"))
        .withColumn("ts", to_timestamp(col("properties.start"))), "id", "ts").drop("ts")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt >= 2)
    val sink = new CloudTakSink(CloudTakPostCollector.fresh(), maxFeaturesPerPost = 2)
    val batchKey = "graft.test.batch"
    val jobBatches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(batchKey)))
          .foreach(b => jobBatches.add(b.toLong))
    }
    // posts per micro-batch: everything recorded while the sink ran
    val posts = scala.collection.concurrent.TrieMap.empty[Long, Vector[String]]
    val checkpoint = java.nio.file.Files.createTempDirectory("graft_sink_ckpt")
    spark.sparkContext.addSparkListener(listener)
    val q = features.writeStream.option("checkpointLocation", checkpoint.toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val before = CloudTakPostCollector.bodies.size
        spark.sparkContext.setLocalProperty(batchKey, id.toString)
        try sink.foreachBatchSink(df, id)
        finally spark.sparkContext.setLocalProperty(batchKey, null)
        posts(id) = CloudTakPostCollector.bodies.drop(before)
      }.start()
    try {
      mem.addData(Fixtures.envelopes.filter(_._1 != 103): _*) // 5 features
      q.processAllAvailable()
      mem.addData(Fixtures.envelopes.filter(_._1 == 103): _*) // error envelope only
      q.processAllAvailable()
      var (last, stableFor) = (-1, 0)
      while (stableFor < 3) {
        Thread.sleep(100)
        val n = jobBatches.size
        if (n == last) stableFor += 1 else { stableFor = 0; last = n }
      }
      def featuresIn(body: String) = "\"type\":\"Feature\"".r.findAllIn(body).size
      val full = posts.filter(_._2.map(featuresIn).sum > 0)
      assert(full.size == 1 && full.head._2.map(featuresIn).sum == 5)
      assert(full.head._2.forall(featuresIn(_) <= 2)) // no chunk over the cap
      assert(full.head._2.size == 3) // ceil(5 / 2): the tails are packed, not posted per task
      val jobs = jobBatches.asScala.groupBy(identity).map { case (id, js) => id -> js.size }
      posts.keys.foreach(id => assert(jobs.get(id).contains(1), s"batch $id ran ${jobs.get(id)} jobs"))
      val empty = posts.filter(_._2.map(featuresIn).sum == 0)
      assert(empty.nonEmpty)
      empty.values.foreach(b =>
        assert(b == Vector("""{"type":"FeatureCollection","features":[]}""")))
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(checkpoint.toFile)
    }
  }

  test("DSv2 read path: one partition per agency, executor-side fetch") {
    graft.sources.Active911DataSource.transport = new V2MockTransport
    try {
      val df = spark.read.format("graft.sources.Active911DataSource")
        .option("username", "u").option("password", "p")
        .option("nowMs", "1765200000000").load()
      // login-validated agencies each become one input partition
      assert(df.rdd.getNumPartitions == 3)
      val rows = df.collect()
      assert(rows.map(_.getInt(0)).sorted.toSeq == Seq(101, 102, 103))
      assert(rows.forall(r => !r.isNullAt(1) && r.isNullAt(2)))
      // the scan output feeds the existing pipeline unchanged
      val feats = Active911.pipeline(df.select("agency_id", "raw"))
      assert(feats.count() > 0)
    } finally graft.sources.Active911DataSource.transport = null
  }

  /** The DSv2 source over [[PackedMockTransport]], fetch counts cleared. */
  private def withPackedSource(failing: Set[Int] = Set.empty)(
      body: org.apache.spark.sql.DataFrame => Unit): Unit = {
    graft.sources.Active911DataSource.transport = new PackedMockTransport(failing)
    PackedFetches.clear()
    try body(spark.read.format("graft.sources.Active911DataSource")
      .option("username", "u").option("password", "p")
      .option("nowMs", "1765200000000").load())
    finally graft.sources.Active911DataSource.transport = null
  }

  test("DSv2 read path: agencies packed into one partition per task slot") {
    withPackedSource() { df =>
      // 10 agencies on local[4]: min(#agencies, slots) partitions
      assert(df.rdd.getNumPartitions == 4)
      val rows = df.collect()
      assert(rows.map(_.getInt(0)).sorted.toSeq == PackedFetches.Agencies)
      assert(rows.forall(r => !r.isNullAt(1) && r.isNullAt(2)))
      assert(PackedFetches.snapshot == PackedFetches.Agencies.map(_ -> 1).toMap)
    }
  }

  test("DSv2 read path: a failed fetch in a packed partition is an error row, " +
      "its partition mates still deliver") {
    // agency i goes to partition i mod 4: 205 sits between 201 and 209
    withPackedSource(failing = Set(205)) { df =>
      val rows = df.collect().sortBy(_.getInt(0))
      assert(rows.map(_.getInt(0)).toSeq == PackedFetches.Agencies)
      val (failed, ok) = rows.partition(!_.isNullAt(2))
      assert(failed.map(_.getInt(0)).toSeq == Seq(205))
      assert(failed.head.getString(2) == "http 500 for 205" && failed.head.isNullAt(1))
      assert(ok.map(_.getInt(0)).toSeq == PackedFetches.Agencies.filter(_ != 205))
      assert(ok.forall(!_.isNullAt(1)))
      assert(PackedFetches.snapshot == PackedFetches.Agencies.map(_ -> 1).toMap)
    }
  }

  test("DSv2 read path: spark.sql.leafNodeDefaultParallelism sets the slots") {
    val key = "spark.sql.leafNodeDefaultParallelism"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    try withPackedSource() { df =>
      assert(df.rdd.getNumPartitions == 2)
      assert(df.collect().map(_.getInt(0)).sorted.toSeq == PackedFetches.Agencies)
      assert(PackedFetches.snapshot == PackedFetches.Agencies.map(_ -> 1).toMap)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("DSv2 source → pipeline → DSv2 sink over packed agencies runs 4 tasks") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
    import org.apache.spark.sql.functions.{col, struct, to_json}
    import spark.implicits._
    val tag = "graft.test.packed"
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty(tag) != null)) {
          js.stageIds.foreach(stages.add)
          jobs.add(js.jobId)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (jobs.contains(je.jobId)) ended.incrementAndGet()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId)) tasks.incrementAndGet()
    }
    val perAgency = Active911.pipeline(Fixtures.envelopes.filter(_._1 == 101)
      .toDF("agency_id", "raw")).count()
    CloudTakPostCollector.posts.clear()
    graft.sinks.CloudTakDataSource.post = CloudTakPostCollector.record _
    spark.sparkContext.addSparkListener(listener)
    try withPackedSource() { df =>
      val features = Active911.pipeline(df.filter(col("fetch_error").isNull)
        .select("agency_id", "raw"))
      spark.sparkContext.setLocalProperty(tag, "1")
      try features.select(to_json(struct(features.columns.map(col).toSeq: _*)).as("feature"))
        .write.format("graft.sinks.CloudTakDataSource").mode("append").save()
      finally spark.sparkContext.setLocalProperty(tag, null)
      // the listener bus is asynchronous; a job's end follows its tasks' ends
      val deadline = System.nanoTime() + 10000000000L
      while ((jobs.isEmpty || ended.get < jobs.size) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(jobs.size == 1 && ended.get == 1)
      assert(tasks.get == 4, s"${tasks.get} tasks")
      val posted = CloudTakPostCollector.bodies
        .map("\"type\":\"Feature\"".r.findAllIn(_).size).sum
      assert(posted == 10 * perAgency)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.sinks.CloudTakDataSource.post = null
    }
  }

  test("DSv2 read path: agency subset honored, inaccessible throws at planning") {
    graft.sources.Active911DataSource.transport = new V2MockTransport
    try {
      val sub = spark.read.format("graft.sources.Active911DataSource")
        .option("username", "u").option("password", "p")
        .option("agencies", "102").option("nowMs", "1765200000000").load()
      assert(sub.collect().map(_.getInt(0)).toSeq == Seq(102))
      val bad = spark.read.format("graft.sources.Active911DataSource")
        .option("username", "u").option("password", "p")
        .option("agencies", "999").option("nowMs", "1765200000000").load()
      val e = intercept[Exception](bad.collect())
      assert(e.getMessage.contains("999") ||
        e.getCause != null && e.getCause.getMessage.contains("999"))
    } finally graft.sources.Active911DataSource.transport = null
  }

  test("DSv2 read path: transport failure lands as an error ROW, batch continues") {
    graft.sources.Active911DataSource.transport = new V2MockTransport(failing = Set(102))
    try {
      val df = spark.read.format("graft.sources.Active911DataSource")
        .option("username", "u").option("password", "p")
        .option("nowMs", "1765200000000").load()
      val rows = df.collect().sortBy(_.getInt(0))
      assert(rows.length == 3) // 102's failure is data, not a dead batch
      val failed = rows.filter(!_.isNullAt(2))
      assert(failed.map(_.getInt(0)).toSeq == Seq(102))
      assert(failed.head.getString(2).contains("http 500 for 102"))
      assert(rows.filter(_.isNullAt(2)).forall(!_.isNullAt(1)))
    } finally graft.sources.Active911DataSource.transport = null
  }

  test("DSv2 write path: executor-side size-capped FeatureCollection posts") {
    import spark.implicits._
    CloudTakPostCollector.posts.clear()
    graft.sinks.CloudTakDataSource.post = CloudTakPostCollector.record _
    try {
      (1 to 25).map(i => s"""{"id":$i}""").toDF("feature")
        .repartition(1)
        .write.format("graft.sinks.CloudTakDataSource")
        .option("maxFeaturesPerPost", "10").mode("append").save()
      val posts = {
        import scala.jdk.CollectionConverters._
        CloudTakPostCollector.posts.asScala.toVector
      }
      // 25 features through one task at cap 10 → chunks of 10, 10, 5
      assert(posts.length == 3)
      assert(posts.forall(_.startsWith(
        """{"type":"FeatureCollection","features":[""")))
      assert(posts.map("\\{\"id\":".r.findAllIn(_).size) == Vector(10, 10, 5))
    } finally graft.sinks.CloudTakDataSource.post = null
  }

  test("DSv2 write path: every partition posts independently; totals conserve") {
    import spark.implicits._
    CloudTakPostCollector.posts.clear()
    graft.sinks.CloudTakDataSource.post = CloudTakPostCollector.record _
    try {
      (1 to 23).map(i => s"""{"id":$i}""").toDF("feature")
        .repartition(4)
        .write.format("graft.sinks.CloudTakDataSource")
        .option("maxFeaturesPerPost", "3").mode("append").save()
      val posts = {
        import scala.jdk.CollectionConverters._
        CloudTakPostCollector.posts.asScala.toVector
      }
      assert(posts.map("\\{\"id\":".r.findAllIn(_).size).sum == 23)
      // no chunk exceeds the cap; empty partitions post nothing
      assert(posts.forall("\\{\"id\":".r.findAllIn(_).size <= 3))
    } finally graft.sinks.CloudTakDataSource.post = null
  }
}

/** Process-wide post collector for the sink specs — both sinks post
  * from tasks, and the lambda handed to them captures only this static
  * reference, so it serializes into the tasks and collects in one place
  * in local mode (a closure over a test-local `var` would append to a
  * deserialized copy and leave the test's own `var` empty).
  */
object CloudTakPostCollector {
  val posts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def record(s: String): Unit = { posts.add(s); () }

  /** Clear the collector; the transport that records into it. */
  def fresh(): String => Unit = { posts.clear(); record }

  /** Everything posted since the last clear, in arrival order. */
  def bodies: Vector[String] = {
    import scala.jdk.CollectionConverters._
    posts.asScala.toVector
  }
}
