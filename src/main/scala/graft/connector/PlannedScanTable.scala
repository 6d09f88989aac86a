package graft.connector

import graft.format.{GraftTable, ScanPlan, TableScan, Types}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Read-only DSv2 table over one library [[TableScan]] and an explicit
  * [[ScanPlan]] — the relation `TableScan.toDF` / `lineageDF` / `dfFor`
  * return Datasets over. Its scan builder is the catalog path's
  * [[GraftScanBuilder]] seeded with the plan, so library and SQL reads
  * share one read implementation, and Spark's filter, column and
  * aggregate pushdown reach it the same way. `scanSchema` is the scan's
  * schema resolved when the Dataset was made; the builder reads the plan
  * under it however late the query runs. */
final class PlannedScanTable(table: GraftTable, scan: TableScan, plan: ScanPlan,
    scanSchema: StructType)
  extends Table with SupportsRead with SupportsMetadataColumns {

  override def name(): String = s"graft(${table.location})"

  override def schema(): StructType =
    Types.cleanType(scanSchema).asInstanceOf[StructType]

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def metadataColumns(): Array[MetadataColumn] =
    GraftSparkTable.MetadataColumns

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(table.spark, table, scan, options,
      explicit = Some(GraftScanBuilder.ExplicitRead(plan, scanSchema)))
}
