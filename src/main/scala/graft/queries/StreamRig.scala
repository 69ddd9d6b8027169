package graft.queries

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.Graft.{deleteRecursively, table}

/** The fixed part of an AvailableNow streaming rig (Structured
  * Streaming's stream = batch query + sink + trigger): session clone,
  * temp stage, memory sink, trigger, await, view drop, stage delete.
  * A rig supplies only what differs — what it stages, its own
  * `s.readStream…` source and transform, any extra session conf, and
  * its result projection over the sink.
  */
private[queries] object StreamRig {

  /** Run one streaming query to completion under
    * `Trigger.AvailableNow` into a memory sink and return `result` of
    * the sink's rows.
    *
    * `stream` gets a clone of `s0` at 8 shuffle partitions (the
    * state-store count is fixed at query start from
    * shuffle.partitions — sized to the rigs' state cardinality, not
    * the relational default, WITHOUT mutating the shared session's
    * conf: queries may run concurrently on one session) and a fresh
    * temp stage dir. It stages its input there, sets any extra session
    * conf on the clone, and returns the streaming frame, which is
    * written in output mode `mode` (`append`, `complete` or `update`).
    *
    * Contract: `result` is applied to the sink's table and the frame
    * it returns is resolved BEFORE the sink's view is dropped (the
    * analyzed plan keeps the sink's rows alive; the catalog entry is no
    * longer needed). The stage dir is deleted on success and on
    * failure, so a result that must read staged files (rather than the
    * sink) has to materialize them first.
    */
  def availableNow(s0: SparkSession, mode: String)(
      stream: (SparkSession, Path) => DataFrame)(
      result: DataFrame => DataFrame): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val name = "stream_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val stage = Files.createTempDirectory("graft_stream_")
    try {
      stream(s, stage).writeStream.outputMode(mode)
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      val out = result(s.table(name))
      s.catalog.dropTempView(name)
      out
    } finally deleteRecursively(stage)
  }

  /** Copy the harness events file into `dir` (file-stream sources
    * watch a directory — in production it IS a directory of arriving
    * files) and return its schema for the streaming read.
    */
  def stageEvents(s: SparkSession, d: String, dir: Path): StructType = {
    Files.copy(Paths.get(s"$d/events.parquet"),
      Files.createDirectories(dir).resolve("events.parquet"))
    table(s, d, "events").schema
  }

  /** Write `df` as ONE parquet file named `n`.parquet inside `watch`,
    * with an explicit mtime so `maxFilesPerTrigger=1` streams files in
    * a pinned order (q147's staging convention).
    */
  def stageWatchFile(df: DataFrame, watch: Path, n: String,
      mt: Long): Unit = {
    val dir = watch.getParent.resolve(n + "_" + watch.getFileName + "_dir")
    df.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    // Using.resource: Files.list holds a directory handle until closed
    val src = scala.util.Using.resource(Files.list(dir)) { st =>
      val it = st.iterator()
      var found: Path = null
      while (it.hasNext) {
        val p = it.next()
        if (p.toString.endsWith(".parquet")) found = p
      }
      found
    }
    val dst = watch.resolve(n + ".parquet")
    Files.copy(src, dst)
    Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(mt))
  }

  /** One far-future event (§5.8 sentinel-flush): pushes the terminal
    * watermark past every real window end so append-mode emission is
    * the plain relational recompute; the sentinel's own window stays
    * open and never emits.
    */
  def wmSentinel(s: SparkSession, id: Long, tpe: String): DataFrame =
    s.range(1).select(lit(id).as("event_id"),
      to_timestamp(lit("2030-01-01 00:00:00")).as("ts"),
      lit(id).as("user_id"), lit(tpe).as("event_type"),
      lit(0.0).as("value"), lit("{}").as("props"))
}
