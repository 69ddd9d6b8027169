package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, struct, to_json}

import graft.Graft

/** The submit sink (reference `submit(fc)`, task.ts:238; behavior from
  * `@tak-ps/etl`): POST the FeatureCollection, THEN fail the run if any
  * errors accumulated — delivery of good data strictly precedes the
  * failure signal (reference `task.ts:238-242`, SURVEY.md §2.12 E1).
  *
  * The transport is an injected function (zero-egress harness). The
  * reference materializes one in-memory FeatureCollection (task.ts:116-119)
  * — fine for one agency batch, a driver OOM at corpus scale. Here each
  * batch or micro-batch is ONE Spark job: each task streams its partition
  * through [[CloudTakDataWriter]] and posts every full collection of
  * [[maxFeaturesPerPost]] features itself, so memory is O(chunk) per
  * task; it returns only its last, partial chunk. The driver packs those
  * tails into collections of at most the cap and posts them, so a result
  * of n features still takes ceil(n / cap) POSTs, as one driver-side
  * chunker would send, and the driver holds fewer than the cap features
  * per task. The downstream CoT upsert is idempotent by feature id, so
  * splitting one logical collection into several POSTs is
  * semantics-preserving.
  *
  * Delivery is AT-LEAST-ONCE, as in [[CloudTakDataSource]]: a retried
  * task posts its full chunks again. The transport must therefore be
  * Serializable (it ships inside the job's closure) and safe to call
  * from several tasks at once.
  */
class CloudTakSink(post: String => Unit, maxFeaturesPerPost: Int = 10000)
    extends Serializable {

  /** One job: each task posts its partition's full chunks and returns the
    * partial one; the driver posts the tails, packed to the cap. An empty
    * result still posts one empty collection (the reference always
    * submits what it has). Each row is serialized by `to_json` inside
    * the stage; the Dataset's `toJSON` would round-trip every row
    * through an external `Row` and generate its serializer in every
    * task.
    */
  private def postChunked(features: DataFrame): Unit = {
    val (send, cap) = (post, maxFeaturesPerPost)
    val rows = features.select(to_json(struct(col("*")))).queryExecution.toRdd
    val parts = rows.sparkContext.runJob(rows, (part: Iterator[InternalRow]) => {
      val writer = new CloudTakDataWriter(send, cap)
      part.foreach(writer.write)
      writer.partialChunk()
    })
    val tails = parts.toSeq.flatMap(_._2).grouped(cap).toSeq
    tails.foreach(chunk => send(CloudTakDataSource.toFeatureCollection(chunk)))
    if (tails.isEmpty && parts.forall(_._1 == 0))
      send(CloudTakDataSource.toFeatureCollection(Nil))
  }

  /** Submit-then-fail: the reference always delivers what it has, and
    * only afterwards throws the accumulated error report (as a JSON
    * array of messages, task.ts:240-242).
    */
  def submit(features: DataFrame, errors: Seq[String]): Unit = {
    postChunked(features)
    if (errors.nonEmpty) {
      val body = errors.map(m => "\"" + Graft.jsonEscape(m) + "\"")
        .mkString("[", ",", "]")
      throw new RuntimeException(body)
    }
  }

  /** Streaming form: per-micro-batch FeatureCollection POSTs (idempotent
    * downstream by feature id — the CoT upsert absorbs at-least-once
    * redelivery, SURVEY.md T5). Each micro-batch is one job, chunked per
    * task, so a catch-up batch after downtime cannot blow the driver.
    */
  def foreachBatchSink: (DataFrame, Long) => Unit =
    (df, _) => postChunked(df)
}
