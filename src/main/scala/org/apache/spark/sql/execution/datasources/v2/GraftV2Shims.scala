package org.apache.spark.sql.execution.datasources.v2

import graft.connector.GraftSparkTable
import org.apache.spark.sql.catalyst.expressions.{Alias, CreateNamedStruct, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.classic.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.connector.catalog.Table

/** Build a DataFrame over a DSv2 [[Table]] that has no catalog entry (the
  * Dataset-from-LogicalPlan entry point is internal to Spark). The plan is
  * an ordinary DataSourceV2Relation, so the optimizer pushes filters,
  * required columns and aggregates into the table's scan builder exactly
  * as it does for a catalog relation.
  *
  * Besides the table's own metadata columns the DataFrame serves
  * `_metadata` (`file_path`, `row_index`), the file-source metadata struct,
  * built from `_file` / `_pos`. All of them stay hidden until selected, and
  * column pruning drops them — and the scan columns under them — when
  * unused. */
object GraftV2Shims {
  private val FileMetadataStruct = "_metadata"

  def tableToDF(spark: org.apache.spark.sql.SparkSession, table: Table): DataFrame = {
    val rel = DataSourceV2Relation.create(table, None, None)
    val withMeta = rel.withMetadataColumns()
    val metaCols = withMeta.output.drop(rel.output.size)
    val fileStruct = for {
      file <- metaCols.find(_.name == GraftSparkTable.FileColumn)
      pos <- metaCols.find(_.name == GraftSparkTable.PosColumn)
      if !rel.output.exists(_.name == FileMetadataStruct)
    } yield Alias(CreateNamedStruct(Seq(
      Literal("file_path"), file, Literal("row_index"), pos)), FileMetadataStruct)()
    val inner = Project(withMeta.output ++ fileStruct, withMeta)
    val plan = Project(rel.output, inner)
    plan.setTagValue(Project.hiddenOutputTag, inner.output.drop(rel.output.size))
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)
  }
}
