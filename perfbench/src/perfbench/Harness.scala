package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.sources.Active911Transport

/** The Active911 "server": envelopes the stub transport serves, by agency.
  * Executors are threads of this JVM in local mode, so the transport reads
  * this registry instead of carrying the envelopes inside every task.
  */
object Served {
  @volatile var envelopes: Map[Int, String] = Map.empty
}

/** Stub transport: a fixed login answer listing the served agencies, and
  * each agency's current envelope.
  */
class StubTransport extends Active911Transport {
  def login(username: String, password: String): String = {
    val ids = Served.envelopes.keys.toSeq.sorted.map(id => s"""{"id":$id}""")
    s"""({"result":"success","message":{"jwt":"bench-token","agencies":[${ids.mkString(",")}]}})"""
  }
  def fetchAlerts(token: String, agencyId: Int, fromMs: Long, toMs: Long): String =
    Served.envelopes(agencyId)
}

/** The CloudTAK end of the sink: every POST body with its arrival time. */
object Recorder {
  /** Features per POST. Small enough that one partition's features
    * arrive in several POSTs, so per-alert post times are spread.
    */
  val FeaturesPerPost = 50

  val posts = new ConcurrentLinkedQueue[(Long, String)]()
  def post(body: String): Unit = { posts.add((System.nanoTime(), body)); () }
}

/** Parses the recorded POSTs and checks posted features against what the
  * generator intended.
  */
class Posts {
  private val mapper = new ObjectMapper()
  var bodies = 0L
  var bytes = 0L

  /** Drain the recorder: (arrival nanos, feature) for every posted feature. */
  def drain(): Seq[(Long, JsonNode)] = {
    val out = mutable.ArrayBuffer.empty[(Long, JsonNode)]
    var p = Recorder.posts.poll()
    while (p != null) {
      bodies += 1
      bytes += p._2.length
      mapper.readTree(p._2).get("features").elements().asScala
        .foreach(f => out += (p._1 -> f))
      p = Recorder.posts.poll()
    }
    out.toSeq
  }

  /** Problems with one posted feature against its expectation. */
  def mismatch(f: JsonNode, e: Gen.Expect): Option[String] = {
    val id = f.get("id").asText()
    val props = f.get("properties")
    val start = Option(props.get("start")).map(_.asText()).orNull
    val links = props.get("links").elements().asScala.toSeq
    val callsigns = links.map(_.get("callsign").asText())
    val coords = f.get("geometry").get("coordinates")
    if (start != e.start) Some(s"$id start $start, expected ${e.start}")
    else if (callsigns.size != e.callsigns.size || callsigns.toSet != e.callsigns)
      Some(s"$id callsigns ${callsigns.mkString("|")}, expected ${e.callsigns.mkString("|")}")
    else if (coords.get(0).asDouble() != e.lon || coords.get(1).asDouble() != e.lat)
      Some(s"$id coordinates $coords, expected [${e.lon},${e.lat}]")
    else None
  }
}

object Jvm {
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Report lines go to stdout prefixed with `#`; the runner relays them. */
object Report {
  def line(s: String): Unit = { println(s"# $s"); Console.out.flush() }
}
