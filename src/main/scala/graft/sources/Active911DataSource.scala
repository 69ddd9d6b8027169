package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 wrapper over the Active911 connector ring (SURVEY.md
  * §7.4 stretch; reference wire surface task.ts:98-152): the wire source
  * participates in Catalyst like every other scan —
  *
  * {{{
  * spark.read.format("graft.sources.Active911DataSource")
  *   .option("username", ...).option("password", ...)
  *   .option("agencies", "101,102")   // optional; empty = all accessible
  *   .option("nowMs", "1765200000000")
  *   .load()
  * }}}
  *
  * Planning (driver): ONE login (token reuse, reference CHANGELOG
  * v2.5.0), agency validation (J1 throw on inaccessible), then the
  * agencies packed into one [[InputPartition]] per task slot:
  * `min(#agencies, slots)` partitions, agency `i` in partition
  * `i mod n`, where `slots` is Spark's leaf-scan parallelism
  * (`spark.sql.leafNodeDefaultParallelism`, else the context's default
  * parallelism), as the file sources pack small files. Execution
  * (executors): each partition fetches its agencies' 6-hour envelopes
  * one after the other, one row per agency — the fan-out runs in
  * parallel across the slots instead of sequentially on the driver like
  * the reference (task.ts:128 loop).
  *
  * Why packed, not one partition per agency: every task pays a fixed
  * cost (deserializing the task binary, generating the scan's and the
  * stage's projections) whatever its agency's size. For 24 agencies of
  * ~25 alerts on 3 slots (4-core host), 24 tasks took ~500 ms of task
  * time per cycle and 3 packed tasks ~170–260 ms for the same rows.
  * Round-robin rather than contiguous ranges keeps the largest envelopes
  * apart when the agencies come sorted by size. With no more agencies
  * than slots, every agency still gets its own partition.
  *
  * Error channel (E1): a transport failure becomes a DATA row
  * `(agency_id, raw=null, fetch_error=msg)` instead of driver-side
  * mutable state — the accumulate-then-throw contract is then a plain
  * filter over the scan output (errors-as-data is the only shape that
  * survives distribution; a driver-side `errs` list cannot). Rows with
  * `fetch_error IS NULL` feed [[graft.ops.Active911.pipeline]]
  * unchanged; API-error envelopes still route via
  * [[graft.ops.Active911.envelopeErrors]] downstream.
  *
  * The transport is injected through [[Active911DataSource.transport]]
  * (a process-wide registry): DSv2 instantiates providers reflectively
  * from the format string, so a live object cannot arrive via string
  * options. Production assigns the real HTTP transport at boot; specs
  * assign mocks. The transport must be [[Serializable]] — it ships
  * inside the reader factory to executors.
  */
object Active911DataSource {
  @volatile var transport: Active911Transport = _

  val SCHEMA: StructType = StructType(Seq(
    StructField("agency_id", IntegerType, nullable = false),
    StructField("raw", StringType, nullable = true),
    StructField("fetch_error", StringType, nullable = true)))
}

class Active911DataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Active911DataSource.SCHEMA

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new Active911Table
}

class Active911Table extends Table with SupportsRead {
  override def name(): String = "active911"
  override def schema(): StructType = Active911DataSource.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new Active911ScanBuilder(options)
}

class Active911ScanBuilder(options: CaseInsensitiveStringMap) extends ScanBuilder {
  override def build(): Scan = new Active911Scan(options)
}

/** One fetch assignment: everything an executor needs, nothing mutable.
  * The agencies are fetched in this order, one row each.
  */
case class Active911InputPartition(agencyIds: Seq[Int], token: String,
                                   fromMs: Long, toMs: Long) extends InputPartition

class Active911Scan(options: CaseInsensitiveStringMap) extends Scan with Batch {
  override def readSchema(): StructType = Active911DataSource.SCHEMA
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val t = Active911DataSource.transport
    require(t != null,
      "Active911DataSource.transport not set (assign the HTTP transport at boot)")
    val conn = new Active911Connector(t)
    val requested = Option(options.get("agencies")).map(_.trim)
      .filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)
    val cfg = Active911Config(options.get("username"), options.get("password"),
      requested)
    val (token, accessible) = conn.login(cfg)
    val agencies = conn.validateAgencies(cfg.agencies, accessible).toIndexedSeq
    val (fromMs, toMs) = conn.window(options.get("nowMs").toLong)
    val slots = SQLConf.get.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
      .getOrElse(SparkSession.active.sparkContext.defaultParallelism)
    val n = math.min(agencies.size, slots)
    Array.tabulate[InputPartition](n)(k =>
      Active911InputPartition((k until agencies.size by n).map(agencies), token, fromMs, toMs))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // the registry read happens HERE (driver) so the factory carries the
    // serialized transport — executors never touch the registry
    new Active911ReaderFactory(Active911DataSource.transport)
}

class Active911ReaderFactory(transport: Active911Transport)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[Active911InputPartition]
    new Active911PartitionReader(transport, p)
  }
}

class Active911PartitionReader(transport: Active911Transport,
                               p: Active911InputPartition)
    extends PartitionReader[InternalRow] {
  private val agencies = p.agencyIds.iterator
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (!agencies.hasNext) return false
    val id = agencies.next()
    row =
      try {
        val raw = transport.fetchAlerts(p.token, id, p.fromMs, p.toMs)
        InternalRow(id, UTF8String.fromString(raw), null)
      } catch {
        case e: Exception =>
          InternalRow(id, null, UTF8String.fromString(e.getMessage))
      }
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}
