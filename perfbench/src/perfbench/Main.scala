package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Graft

/** One benchmark run's settings. `t0Ms` is the epoch time at which the
  * runner spawned this JVM, so set-up time covers JVM start. A `coldOnly`
  * JVM stops after the cold cycle and reports set-up and cold time only.
  */
case class Run(seed: Long, seconds: Int, trace: Boolean, coldOnly: Boolean, t0Ms: Double,
               work: Path) {
  def sinceStart: Double = {
    val now = java.time.Instant.now()
    (now.getEpochSecond * 1000.0 + now.getNano / 1e6 - t0Ms) / 1000.0
  }
}

/** Metrics by name, and the operations checked and failed. */
case class Outcome(metrics: Map[String, Double], attempted: Int, failed: Int)

/** Benchmark JVM. `perfbench/run.py` builds and launches it; run that.
  *
  * Arguments: `<workload> <seed> <seconds> <trace 0|1|cold> <t0 epoch ms>
  * <work dir>`. Report lines start with `#`; the last line is `RESULT`
  * and one JSON object of metric values, operations attempted and failed.
  */
object Main {
  /** Executor threads: one fewer than the 4 cores the benchmark was tuned
    * on, leaving a core to query planning, the JIT compiler and GC so they
    * do not steal time from the tasks.
    */
  val Cores = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, t0Ms, work) = args
    val run = Run(seed.toLong, seconds.toInt, trace == "1", trace == "cold", t0Ms.toDouble,
      Path.of(work))
    val out = workload match {
      case "fleet_links" => BatchBench.run(BatchWorkload.fleetLinks, run)
      case "county_bulk" => BatchBench.run(BatchWorkload.countyBulk, run)
      case "lookback_stream" => StreamBench.run(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ms = out.metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
    println(s"""RESULT {"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":{${ms.mkString(",")}}}""")
  }

  def session(cores: Int): SparkSession = Graft.session(s"local[$cores]")

  /** Run `one` for at least `seconds` and at least `minTimes` times. */
  def repeatFor[T](seconds: Double, minTimes: Int)(one: => T): Seq[T] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[T]
    while (out.size < minTimes || System.nanoTime() < end) out += one
    out.toSeq
  }
}
