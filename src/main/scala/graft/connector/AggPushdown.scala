package graft.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expression => XExpr, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.types._
import graft.format._

/** Metadata-only aggregate pushdown: COUNT(*) / COUNT(col) / MIN / MAX
  * answered entirely from manifest file metrics — zero data-file I/O and
  * zero Spark jobs, because the result surfaces as a `LocalScan` that
  * Catalyst folds into a LocalRelation (the reference's
  * spark3/.../SparkScanBuilder.java pushAggregation → SparkLocalScan is the
  * same design; at 100 TB this turns a full-table `SELECT count(*)` into a
  * driver-side manifest walk it has already done for planning).
  *
  * GROUP BY is supported when every grouping column is an IDENTITY
  * partition source in the spec of every live file: files then group by
  * their partition tuple and each group aggregates its own metrics — the
  * classic "rows per partition" report without touching a data file.
  *
  * Every refusal below exists to make a wrong-but-fast answer impossible;
  * refusing is always safe because Spark falls back to the ordinary scan:
  *  - live delete files: file metrics still count deleted rows
  *  - DISTINCT, non-top-level column references, non-identity group-bys
  *  - MIN/MAX on float/double: no NaN counts in the model (NaN sorts above
  *    +Inf in Spark but parquet stats drop it — reference refuses too)
  *  - MIN/MAX on string/binary unless EVERY contributing file attests
  *    full-mode bounds (per-file fullBoundIds): truncate(N) bounds are
  *    range-safe but not value-exact, and the current table property can't
  *    speak for files written under an earlier mode
  *  - a file whose metrics lack the needed count/bound (unless the file's
  *    writer schema predates the column — then its rows are all-null and
  *    contribute nothing)
  */
object AggPushdown {

  final case class Pushed(schema: StructType, rows: Array[InternalRow],
      funcs: String)

  /** `schema` is the scan's schema (a time-travel read resolves column
    * names against its snapshot's schema, not the current one). */
  def tryPush(table: GraftTable, plan: ScanPlan, agg: Aggregation,
      schema: StructType): Option[Pushed] = {
    if (plan.deleteFiles.nonEmpty) return None
    val m = table.metadata
    val nameToId = FieldIds.nameToId(schema)

    def colOf(e: XExpr): Option[(Int, StructField)] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        for {
          id <- nameToId.get(nr.fieldNames()(0))
          f <- FieldIds.findById(schema, id)
        } yield (id, f)
      case _ => None
    }

    // a file written before the column was added holds only nulls for it
    def fileHasColumn(file: DataFile, id: Int): Boolean =
      FieldIds.findById(m.schemas.getOrElse(file.schemaId, schema), id).isDefined

    // a file predating a column is treated as all-null below — correct for
    // plain added columns, WRONG once the column carries an initial
    // default (the scan backfills real values the manifests know nothing
    // about). Refuse the metadata answer whenever any live file predates a
    // defaulted aggregated column.
    val defaultBlindMemo = scala.collection.mutable.HashMap[Int, Boolean]()
    def defaultBlind(id: Int): Boolean =
      defaultBlindMemo.getOrElseUpdate(id,
        FieldIds.findById(schema, id).exists(f =>
          Defaults.of(f).isDefined &&
            plan.tasks.exists(t => !fileHasColumn(t.file, id))))

    // ---- group files by identity-partition tuple (empty GROUP BY = one
    // group over every task) --------------------------------------------
    val groupCols: Seq[(Int, StructField)] = {
      val resolved = agg.groupByExpressions.toSeq.map(colOf)
      if (resolved.exists(_.isEmpty)) return None
      resolved.flatten
    }
    if (groupCols.exists(c => Types.cleanType(c._2.dataType) == BinaryType))
      return None
    val groups: Seq[(Seq[Any], Seq[FileScanTask])] =
      if (groupCols.isEmpty) Seq((Nil, plan.tasks))
      else {
        val keyed = plan.tasks.map { t =>
          val spec = m.specs.getOrElse(t.file.specId, return None)
          val key = groupCols.map { case (id, _) =>
            spec.fields.find(pf =>
              pf.transform == Transforms.IdentityT && pf.sourceId == id) match {
              case Some(pf) => t.file.partition.getOrElse(pf.name, null)
              case None => return None // not identity-partitioned here
            }
          }
          (key, t)
        }
        keyed.groupBy(_._1).toSeq.map { case (k, ts) => (k, ts.map(_._2)) }
      }

    // ---- per-group aggregate evaluation --------------------------------
    def countStar(tasks: Seq[FileScanTask]): Option[(Any, DataType)] =
      Some((tasks.map(_.file.recordCount).sum, LongType))

    // value-counts include nulls (parquet chunk value count), so non-null
    // count = values - nulls; both must be present for every file that
    // physically carries the column
    def countCol(tasks: Seq[FileScanTask], id: Int): Option[(Any, DataType)] = {
      if (defaultBlind(id)) return None
      var total = 0L
      tasks.foreach { t =>
        if (fileHasColumn(t.file, id)) {
          (t.file.valueCounts.get(id), t.file.nullValueCounts.get(id)) match {
            case (Some(v), Some(n)) => total += v - n
            case _ => return None
          }
        }
      }
      Some((total, LongType))
    }

    def minMaxSafe(id: Int, dt: DataType): Boolean = dt match {
      case FloatType | DoubleType => false
      // string/binary also need the PER-FILE exact-bounds check in `bound`:
      // a file written while the column's metrics mode was truncate(N) keeps
      // truncated bounds forever, regardless of the CURRENT property value
      case StringType | BinaryType => true
      case IntegerType | LongType | DateType | TimestampType |
           TimestampNTZType | BooleanType | _: DecimalType | _: TimeType => true
      case _ => false
    }

    def bound(tasks: Seq[FileScanTask], id: Int, fld: StructField,
        lower: Boolean): Option[(Any, DataType)] = {
      val dt = Types.cleanType(fld.dataType)
      if (!minMaxSafe(id, dt) || defaultBlind(id)) return None
      val needExact = dt == StringType || dt == BinaryType
      val ord = Exprs.ordering(dt)
      var acc: Any = null
      tasks.foreach { t =>
        val f = t.file
        if (fileHasColumn(f, id)) {
          val allNull = (f.valueCounts.get(id), f.nullValueCounts.get(id)) match {
            case (Some(v), Some(n)) => v == n
            case _ => false
          }
          if (!allNull) {
            // truncated bounds are range-safe but not value-exact (the
            // upper bound's last char is even incremented) — every file
            // contributing a value must attest full-mode bounds
            if (needExact && !f.fullBoundIds.contains(id)) return None
            (if (lower) f.lowerBounds else f.upperBounds).get(id) match {
              case Some(v) =>
                if (acc == null || (lower && ord.lt(v, acc)) ||
                    (!lower && ord.gt(v, acc))) acc = v
              case None => return None
            }
          }
        }
      }
      Some((acc, dt))
    }

    // output types are static per aggregate function — they must not be
    // derived from evaluated groups, because a GROUP BY over zero live
    // files has zero groups yet still needs a (zero-row) typed schema
    val aggTypes: Seq[DataType] = {
      val resolved = agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(LongType)
        case c: Count if !c.isDistinct => colOf(c.column).map(_ => LongType)
        case mn: Min => colOf(mn.column).map(c => Types.cleanType(c._2.dataType))
        case mx: Max => colOf(mx.column).map(c => Types.cleanType(c._2.dataType))
        case _ => None
      }
      if (resolved.exists(_.isEmpty)) return None
      resolved.flatten
    }

    def evalGroup(tasks: Seq[FileScanTask]): Option[Seq[(Any, DataType)]] = {
      val vals = agg.aggregateExpressions.toSeq.map {
        case _: CountStar => countStar(tasks)
        case c: Count if !c.isDistinct =>
          colOf(c.column).flatMap { case (id, _) => countCol(tasks, id) }
        case mn: Min =>
          colOf(mn.column).flatMap { case (id, f) =>
            bound(tasks, id, f, lower = true) }
        case mx: Max =>
          colOf(mx.column).flatMap { case (id, f) =>
            bound(tasks, id, f, lower = false) }
        case _ => None
      }
      if (vals.exists(_.isEmpty)) None else Some(vals.map(_.get))
    }

    // canonical decimals must carry the column's exact scale for the row
    // layout Spark reads them back through
    def cell(v: Any, dt: DataType): Any = (v, dt) match {
      case (bd: java.math.BigDecimal, d: DecimalType) =>
        Values.toCatalyst(bd.setScale(d.scale), d)
      case _ => Values.toCatalyst(v, dt)
    }

    val results: Seq[(Seq[Any], Seq[(Any, DataType)])] =
      groups.map { case (key, tasks) =>
        evalGroup(tasks) match {
          case Some(vals) => (key, vals)
          case None => return None
        }
      }

    val keyFields = groupCols.map { case (_, f) =>
      StructField(f.name, Types.cleanType(f.dataType), nullable = true)
    }
    val aggFields = aggTypes.zipWithIndex.map { case (dt, i) =>
      StructField(s"agg_$i", dt, nullable = true)
    }
    val rows = results.map { case (key, vals) =>
      val keyCells = key.zip(groupCols).map { case (v, (_, f)) =>
        try cell(v, Types.cleanType(f.dataType))
        catch { case _: ArithmeticException => return None }
      }
      val aggCells = vals.map { case (v, dt) =>
        try cell(v, dt)
        catch { case _: ArithmeticException => return None }
      }
      new GenericInternalRow((keyCells ++ aggCells).toArray[Any]): InternalRow
    }.toArray
    val names = (agg.groupByExpressions.toSeq.map(_.toString) ++
      agg.aggregateExpressions.toSeq.map(_.toString)).mkString(", ")
    Some(Pushed(StructType(keyFields ++ aggFields), rows, names))
  }
}
