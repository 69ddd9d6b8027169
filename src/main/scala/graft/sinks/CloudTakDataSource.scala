package graft.sinks

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 WRITE side of the CloudTak submit sink — the
  * `DataFrameWriter` form of [[CloudTakSink]] (reference `submit(fc)`,
  * task.ts:238): feature rows POST from the EXECUTORS, each task
  * streaming its partition as size-capped FeatureCollections through
  * [[CloudTakDataWriter]], the chunker both sinks share.
  * This is the shape an HTTP sink needs at fleet scale — N tasks post N
  * chunk streams in parallel; the driver only coordinates commit.
  *
  * {{{
  * featuresDf.select(to_json(struct(...)).as("feature"))
  *   .write.format("graft.sinks.CloudTakDataSource")
  *   .option("maxFeaturesPerPost", "10000").mode("append").save()
  * }}}
  *
  * Delivery semantics are AT-LEAST-ONCE by construction: a task retry
  * re-posts its partition, and HTTP offers no transactional abort —
  * exactly what the reference relies on too (the downstream CoT upsert
  * is idempotent by feature id, task.ts:116-119 / SURVEY.md T5), so
  * retries converge. `abort()` is documented a no-op for the same
  * reason: chunks already posted cannot be unposted, and the idempotent
  * upsert makes re-runs safe. Note this covers more than failure
  * retries: with `spark.speculation=true`, duplicate CONCURRENT
  * attempts of the same partition both post their chunks before commit
  * arbitration picks a winner, so duplicates occur even on healthy
  * runs — downstream idempotency is the only dedup. If the endpoint's
  * upsert were ever non-idempotent, disable speculation for jobs
  * writing through this sink.
  *
  * The transport is injected via the [[CloudTakDataSource.post]]
  * process-wide registry (the [[graft.sources.Active911DataSource]]
  * pattern — DSv2 instantiates providers reflectively, so a live
  * function cannot ride in string options). It must be Serializable:
  * it ships inside the writer factory to executors.
  */
object CloudTakDataSource {
  // must be Serializable in practice (Scala 2.12+ lambdas are; a
  // custom class transport should extend Serializable) — it ships
  // inside the writer factory to executors
  @volatile var post: String => Unit = _

  val SCHEMA: StructType = StructType(Seq(
    StructField("feature", StringType, nullable = false)))

  /** Wrap already-serialized feature rows into a FeatureCollection JSON
    * document (reference `task.ts:116-119`). Null struct fields are
    * omitted upstream by `to_json`, matching the JS `undefined`
    * serialization of absent `production_time`. Bounded input only —
    * callers chunk to the per-POST cap.
    */
  def toFeatureCollection(featureJson: Seq[String]): String =
    featureJson.mkString(
      """{"type":"FeatureCollection","features":[""", ",", "]}")
}

class CloudTakDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CloudTakDataSource.SCHEMA

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new CloudTakTable
}

class CloudTakTable extends Table with SupportsWrite {
  override def name(): String = "cloudtak"
  override def schema(): StructType = CloudTakDataSource.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val maxPer = Option(info.options.get("maxFeaturesPerPost"))
      .map(_.toInt).getOrElse(10000)
    require(maxPer > 0, "maxFeaturesPerPost must be positive")
    new WriteBuilder {
      override def build(): Write = new CloudTakWrite(maxPer)
    }
  }
}

class CloudTakWrite(maxPer: Int) extends Write with BatchWrite {
  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val p = CloudTakDataSource.post
    require(p != null,
      "CloudTakDataSource.post not set (assign the HTTP transport at boot)")
    new CloudTakWriterFactory(p, maxPer)
  }

  // chunks are posted by the tasks; commit only records the run —
  // see the at-least-once note on the provider
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class CloudTakWriterFactory(post: String => Unit, maxPer: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CloudTakDataWriter(post, maxPer)
}

case class CloudTakCommit(nFeatures: Long, nPosts: Long)
    extends WriterCommitMessage

/** Buffers up to `maxPer` serialized features, POSTing a
  * FeatureCollection per full chunk; `commit()` flushes the remainder,
  * [[partialChunk]] hands it back unposted. Memory is O(maxPer),
  * independent of partition size.
  */
class CloudTakDataWriter(post: String => Unit, maxPer: Int)
    extends DataWriter[InternalRow] {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[String]
  private var nFeatures = 0L
  private var nPosts = 0L

  override def write(row: InternalRow): Unit = {
    buf += row.getUTF8String(0).toString
    nFeatures += 1
    if (buf.length >= maxPer) flush()
  }

  private def flush(): Unit = {
    if (buf.nonEmpty) {
      post(CloudTakDataSource.toFeatureCollection(buf.toSeq))
      nPosts += 1
      buf.clear()
    }
  }

  override def commit(): WriterCommitMessage = {
    flush()
    CloudTakCommit(nFeatures, nPosts)
  }

  /** End the partition without posting its last, partial chunk: the
    * number of full chunks posted, and the fewer than `maxPer` features
    * left over.
    */
  def partialChunk(): (Long, Seq[String]) = {
    val rest = buf.toVector
    buf.clear()
    (nPosts, rest)
  }

  override def abort(): Unit = buf.clear() // posted chunks stay (see provider note)
  override def close(): Unit = ()
}
