package graft.gateway

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The gateway's observability views (`running_jobs`, `cluster_nodes`,
  * `grid_decisions`, `store_occupancy`) as one refresh-on-scan DataSource
  * V2 table.
  *
  * The reference's `RunningJobsTable.scan` re-reads the job registry on
  * EVERY scan (`integration-tests/app/src/table.rs:43-60`: `get_all_jobs`
  * inside `scan`, then a throwaway MemTable). Here the options `runtimeId`
  * and `view` name a live [[JobRuntime]] and one of its
  * [[JobRuntime.views]], a schema plus a producer of external rows. The
  * refresh point is `planInputPartitions`, which Spark calls while planning
  * each query execution: the producer runs there, its rows are converted
  * to `InternalRow`s once, and they ride in one partition to wherever the
  * task runs (the shape of Spark's own LocalTableScan, re-snapped per
  * scan). A registered view therefore never serves stale rows.
  *
  * The views die with their runtime: once [[JobRuntime.close]] has run, a
  * scan of any of them fails. Collect an observation before closing.
  */
final class SnapshotSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-snapshot"
  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotSource.view(options.get("runtimeId"), options.get("view"))._1

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new SnapshotSource.SnapshotTable(properties.get("runtimeId"), properties.get("view"),
      schema)
}

object SnapshotSource {
  /** Live runtimes by id — how a reflectively-instantiated provider finds
    * the driver-local state its views observe. Entries are added by
    * [[JobRuntime]] construction and removed on close. */
  private[gateway] val runtimes = new TrieMap[String, JobRuntime]()

  private def view(runtimeId: String, viewName: String): (StructType, () => Seq[Row]) = {
    val rt = runtimes.getOrElse(runtimeId, throw new IllegalStateException(
      s"gateway runtime $runtimeId is closed; its $viewName view is gone with it"))
    rt.views.getOrElse(viewName, throw new IllegalArgumentException(
      s"unknown snapshot view '$viewName' (one of ${rt.views.keys.toSeq.sorted.mkString(", ")})"))
  }

  private final class SnapshotTable(runtimeId: String, viewName: String,
      viewSchema: StructType)
    extends Table with SupportsRead with ScanBuilder with Scan with Batch {
    override def name(): String = s"$viewName($runtimeId)"
    override def schema(): StructType = viewSchema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = this
    override def build(): Scan = this
    override def readSchema(): StructType = viewSchema
    override def toBatch: Batch = this
    override def description(): String =
      s"graft $viewName refresh-on-scan (runtime $runtimeId)"

    /** Called per query execution — the refresh point. */
    override def planInputPartitions(): Array[InputPartition] = {
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(viewSchema)
      val rows = view(runtimeId, viewName)._2().map(r => toCatalyst(r).asInstanceOf[InternalRow])
      Array(SnapshotPartition(rows.toArray))
    }

    override def createReaderFactory(): PartitionReaderFactory = SnapshotReaders
  }

  /** One partition carrying the rows snapped on the driver. */
  private final case class SnapshotPartition(rows: Array[InternalRow]) extends InputPartition

  private object SnapshotReaders extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new PartitionReader[InternalRow] {
        private val it = p.asInstanceOf[SnapshotPartition].rows.iterator
        private var cur: InternalRow = _
        override def next(): Boolean = it.hasNext && { cur = it.next(); true }
        override def get(): InternalRow = cur
        override def close(): Unit = ()
      }
  }
}
