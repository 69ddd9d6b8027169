package perfbench

import scala.util.Random

import graft.Graft
import graft.ops.Active911

/** Decode probe, one envelope size per JVM: decodes a single envelope of
  * `n` county_bulk-shaped alerts with `Active911.alertsFromEnvelopes` and
  * prints `RESULT` with the outcome. `perfbench/run.py --probe-decode`
  * searches the largest size that decodes, forking one JVM per size, so a
  * size that kills the JVM still yields an answer.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val n = args(0).toInt
    val spark = Graft.session("local[1]")
    import spark.implicits._
    val rnd = new Random(1)
    val shape = BatchWorkload.countyBulk.shape
    val alerts = (0 until n).map(i => Gen.alert(i.toLong, Gen.randomInstant(rnd), shape, rnd))
    val env = Gen.envelope(alerts, 1736200000000L)
    val t = System.nanoTime()
    val outcome =
      try {
        val rows = Active911.alertsFromEnvelopes(Seq((101, env)).toDF("agency_id", "raw")).count()
        require(rows == n, s"decoded $rows rows, expected $n")
        s""""ok":true"""
      } catch {
        case e: Throwable =>
          var root: Throwable = e
          while (root.getCause != null) root = root.getCause
          val msg = String.valueOf(root.getMessage).linesIterator.toSeq.headOption.getOrElse("")
            .replace("\\", "\\\\").replace("\"", "\\\"").take(200)
          s""""ok":false,"error":"${root.getClass.getName}: $msg""""
      }
    val s = (System.nanoTime() - t) / 1e9
    println(s"""RESULT {"alerts":$n,"envelope_bytes":${env.length},"seconds":$s,$outcome}""")
    spark.stop()
  }
}
