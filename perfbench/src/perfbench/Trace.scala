package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.storage.StorageLevel

import graft.ops.Active911

/** Engine counters from Spark's public listener bus: jobs, tasks, task
  * run time, shuffle bytes written and per-stage task times (for skew).
  */
class EngineListener extends SparkListener {
  var jobsStarted = 0
  var jobsEnded = 0
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobsStarted += 1 }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsEnded += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  /** The listener bus is asynchronous: wait until every started job has
    * reported its end, so the counters cover the work just run.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (synchronized(jobsEnded < jobsStarted) && System.nanoTime() < deadline)
      Thread.sleep(5)
    Thread.sleep(50)
  }

  /** max/median task time of the stage with the most task time. */
  def taskSkew: Double = synchronized {
    val multi = stageTaskMs.values.filter(_.size >= 2)
    if (multi.isEmpty) 1.0
    else {
      val ts = multi.maxBy(_.sum).map(_.toDouble).toSeq
      ts.max / math.max(Stats.median(ts), 1.0)
    }
  }
}

/** Per-trigger progress from the public StreamingQueryListener. */
class StreamListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized { progress += e.progress }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** One traced cycle over already-fetched envelopes, timed from outside
  * around each public layer call. Each layer's output is persisted and
  * counted, so the next layer starts from materialized input and its
  * time is its own; the persists are the trace overhead.
  */
object Layers {
  private def timed[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e6)
  }

  /** `envelopes` has `agency_id` and `raw`. Persisting and counting it is
    * the source layer: for the DSv2 source that is login, planning and
    * fetch. `post` writes the features to the sink.
    */
  def run(envelopes: DataFrame, post: DataFrame => Unit): Map[String, Double] = {
    val began = System.nanoTime()
    val persisted = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { persisted += df; df.persist(StorageLevel.MEMORY_ONLY) }
    try {
      val (src, sourceMs) = timed { val d = keep(envelopes); d.count(); d }
      val bytesIn = src.agg(sum(length(col("raw")))).head().getLong(0)
      val ((dec, rowsOut), decodeMs) = timed {
        val d = keep(Active911.alertsFromEnvelopes(src)); (d, d.count())
      }
      val ((fixed, kept), fixMs) = timed {
        val d = keep(Active911.fixCoordinates(dec)); (d, d.count())
      }
      val zero = Active911.jsNumber(col("lon")) === 0.0 || Active911.jsNumber(col("lat")) === 0.0
      val fixedRows = fixed.filter(zero).count()
      // written to the noop sink like `features` below, so that
      // features.self_ms = features - links compares like with like
      val links = fixed.select(Active911.responseLinks(col("responses")).as("links"))
      val (_, linksMs) = timed(links.write.format("noop").mode("overwrite").save())
      val linksOut = links.agg(sum(size(col("links")))).head().getLong(0)
      val linesIn = fixed.agg(sum(size(filter(
        split(coalesce(col("responses"), lit("")), "\n"),
        l => l.startsWith("Got a response of "))))).head().getLong(0)
      val (feats, featuresMs) = timed {
        val d = keep(Active911.features(fixed))
        d.write.format("noop").mode("overwrite").save()
        d
      }
      val (_, sinkMs) = timed(post(feats))
      Map(
        "source.ms" -> sourceMs, "decode.ms" -> decodeMs,
        "decode.rows_out" -> rowsOut.toDouble, "decode.bytes_in" -> bytesIn.toDouble,
        "fix.ms" -> fixMs, "fix.fixed" -> fixedRows.toDouble,
        "fix.dropped" -> (rowsOut - kept).toDouble,
        "links.ms" -> linksMs, "links.lines_in" -> linesIn.toDouble,
        "links.links_out" -> linksOut.toDouble,
        "features.self_ms" -> (featuresMs - linksMs), "sink.ms" -> sinkMs,
        "traced_wall_ms" -> (System.nanoTime() - began) / 1e6)
    } finally persisted.foreach(_.unpersist(blocking = true))
  }

  /** Median of each layer metric over traced cycles, plus the links
    * yield: links kept per responder line read.
    */
  def medians(cycles: Seq[Map[String, Double]]): Map[String, Double] = {
    val med = cycles.head.keys.map(k => k -> Stats.median(cycles.map(_(k)))).toMap
    med + ("links.yield" -> med("links.links_out") / math.max(med("links.lines_in"), 1.0))
  }
}
