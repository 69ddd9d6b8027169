package graft.sinks

import org.apache.spark.sql.DataFrame

import graft.Graft

/** The submit sink (reference `submit(fc)`, task.ts:238; behavior from
  * `@tak-ps/etl`): POST the FeatureCollection, THEN fail the run if any
  * errors accumulated — delivery of good data strictly precedes the
  * failure signal (reference `task.ts:238-242`, SURVEY.md §2.12 E1).
  *
  * The transport is an injected function (zero-egress harness). The
  * reference materializes one in-memory FeatureCollection (task.ts:116-119)
  * — fine for one agency batch, a driver OOM at corpus scale. Here the
  * batch path streams partitions to the driver one at a time
  * (`toLocalIterator` — driver holds ONE partition, never the corpus)
  * and posts size-capped collections of at most [[maxFeaturesPerPost]]
  * features; the downstream CoT upsert is idempotent by feature id, so
  * splitting one logical collection into several POSTs is
  * semantics-preserving.
  */
class CloudTakSink(post: String => Unit, maxFeaturesPerPost: Int = 10000)
    extends Serializable {

  /** Wrap already-serialized feature rows into a FeatureCollection JSON
    * document (reference `task.ts:116-119`). Null struct fields are
    * omitted upstream by `toJSON`, matching the JS `undefined`
    * serialization of absent `production_time`. Bounded input only —
    * callers chunk to [[maxFeaturesPerPost]].
    */
  def toFeatureCollection(featureJson: Seq[String]): String =
    featureJson.mkString(
      """{"type":"FeatureCollection","features":[""", ",", "]}")

  /** Stream the features to the transport as size-capped collections.
    * `toLocalIterator` fetches one partition at a time, so driver memory
    * is O(partition), not O(result); an empty result still posts one
    * empty collection (the reference always submits what it has).
    */
  private def postChunked(features: DataFrame): Unit = {
    import scala.jdk.CollectionConverters._
    val rows = features.toJSON.toLocalIterator().asScala
    var any = false
    rows.grouped(maxFeaturesPerPost).foreach { chunk =>
      post(toFeatureCollection(chunk))
      any = true
    }
    if (!any) post(toFeatureCollection(Nil))
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
    * redelivery, SURVEY.md T5). Each micro-batch is itself chunked, so a
    * catch-up batch after downtime cannot blow the driver either.
    */
  def foreachBatchSink: (DataFrame, Long) => Unit =
    (df, _) => postChunked(df)
}
