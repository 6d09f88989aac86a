package graft.format

import org.apache.spark.sql.types._

/** Field-id schema kernel.
  *
  * The reference resolves columns by integer field id, not name
  * (api/.../Schema.java:116-272; ids are assigned in
  * api/.../types/TypeUtil.java `assignFreshIds`) — that's what makes
  * rename/move metadata-only operations. Spark has no native field ids, so
  * we carry them in `StructField.metadata` under `FieldIds.Key`, exactly the
  * strategy the reference's own Spark bridge uses in reverse
  * (spark/.../SparkSchemaUtil.convert:95-124 materializes ids when going
  * Iceberg→Spark).
  *
  * Ids are carried at EVERY struct nesting level (StructField.metadata
  * survives inside nested StructTypes and round-trips through
  * StructType.json), which is what makes nested-field evolution —
  * addColumn(parent,…), nested rename/promote — metadata-only exactly like
  * the top level (reference api/.../UpdateSchema.java:63-129). Schemas
  * written before nested ids existed have id-less nested fields; read
  * alignment falls back to plain casts for those (structHasIds guards).
  */
object FieldIds {
  val Key = "graft.field-id"

  def idOf(f: StructField): Int = f.metadata.getLong(Key).toInt

  def withId(f: StructField, id: Int): StructField =
    f.copy(metadata = new MetadataBuilder()
      .withMetadata(f.metadata).putLong(Key, id.toLong).build())

  def hasIds(st: StructType): Boolean =
    st.fields.forall(_.metadata.contains(Key))

  /** True when every field of THIS struct level carries an id (used to
    * decide whether id-based nested alignment is possible). */
  def structHasIds(st: StructType): Boolean =
    st.fields.nonEmpty && st.fields.forall(_.metadata.contains(Key))

  /** Assign fresh ids depth-first to every struct field at every nesting
    * level (reference TypeUtil.assignFreshIds walks the full type tree). */
  def assignFresh(st: StructType): StructType = {
    var next = 0
    def walk(s: StructType): StructType =
      StructType(s.fields.map { f =>
        next += 1
        val id = next
        val dt = f.dataType match {
          case inner: StructType => walk(inner)
          case other => other
        }
        withId(f.copy(dataType = dt), id)
      })
    walk(st)
  }

  /** Max id across ALL nesting levels (nested levels only when id-bearing —
    * legacy schemas may carry id-less nested fields). */
  def maxId(st: StructType): Int =
    st.fields.foldLeft(0) { (acc, f) =>
      val nested = f.dataType match {
        case s: StructType if structHasIds(s) => maxId(s)
        case _ => 0
      }
      math.max(acc, math.max(idOf(f), nested))
    }

  def findById(st: StructType, id: Int): Option[StructField] =
    st.fields.find(f => idOf(f) == id)

  /** Every id across all id-bearing struct levels (nested evolution needs
    * "which fields does this file GENERATION know" at full depth). */
  def allIds(st: StructType): Set[Int] = {
    val b = Set.newBuilder[Int]
    def walk(s: StructType): Unit = s.fields.foreach { f =>
      if (f.metadata.contains(Key)) b += idOf(f)
      f.dataType match {
        case inner: StructType if structHasIds(inner) => walk(inner)
        case _ => ()
      }
    }
    walk(st)
    b.result()
  }

  def idToName(st: StructType): Map[Int, String] =
    st.fields.map(f => idOf(f) -> f.name).toMap

  def nameToId(st: StructType): Map[String, Int] =
    st.fields.map(f => f.name -> idOf(f)).toMap

  def typeById(st: StructType): Map[Int, DataType] =
    st.fields.map(f => idOf(f) -> f.dataType).toMap

  /** THE id-resolution schema manifest bytes round-trip through: widest id
    * coverage, LATEST schema on ties (a pure type promotion adds no ids),
    * each atomic field's type overlaid with its latest committed one (the
    * widest-id pick may predate a promotion when a later schema dropped
    * the max-id column). Every manifest decode/encode site must use THIS
    * helper — a stale local copy of the pick decoded post-promotion 8-byte
    * bounds through a 4-byte branch (silent truncation past 2^31), and
    * rewriteManifests then re-encoded the corrupted bounds permanently. */
  def idResolutionSchema(schemas: Map[Int, StructType]): StructType = {
    val base = schemas.toSeq.maxBy { case (sid, st) => (maxId(st), sid) }._2
    overlayLatestTypes(base, schemas.toSeq.sortBy(_._1).map(_._2))
  }

  /** Overlay each id-bearing ATOMIC field's latest committed type onto
    * `base` — decode-schema safety across type promotions: the schema
    * picked for id coverage may predate an int→long / float→double
    * promotion, and decoding post-promotion 8-byte bounds at the narrow
    * type reads only the LOW 4 BYTES (silent truncation past 2^31).
    * Structure and names stay `base`'s; only leaf types advance. Schema
    * evolution only changes an existing id's type via promotion
    * (SchemaUpdate.promotionAllowed), so "latest wins" is always the
    * widest. `schemas` must be in ascending schemaId order. */
  def overlayLatestTypes(base: StructType, schemas: Seq[StructType]): StructType = {
    def atomic(dt: DataType): Boolean = dt match {
      case _: StructType | _: ArrayType | _: MapType => false
      case _ => true
    }
    val latest = scala.collection.mutable.Map[Int, DataType]()
    def collect(s: StructType): Unit = s.fields.foreach { f =>
      f.dataType match {
        case inner: StructType if structHasIds(inner) => collect(inner)
        case dt if atomic(dt) && f.metadata.contains(Key) =>
          latest(idOf(f)) = dt
        case _ => ()
      }
    }
    schemas.foreach(collect) // ascending: later commits win
    def rewrite(s: StructType): StructType = StructType(s.fields.map { f =>
      f.dataType match {
        case inner: StructType if structHasIds(inner) =>
          f.copy(dataType = rewrite(inner))
        case dt if atomic(dt) && f.metadata.contains(Key) =>
          latest.get(idOf(f)).filterNot(_ == dt)
            .map(nt => f.copy(dataType = nt)).getOrElse(f)
        case _ => f
      }
    })
    rewrite(base)
  }

  /** Serialize with ids (StructType.json keeps metadata — nested included). */
  def toJson(st: StructType): String = st.json
  def fromJson(s: String): StructType =
    DataType.fromJson(s).asInstanceOf[StructType]
}

/** Type-tree helpers shared by the read and write paths. */
object Types {

  /** Strip graft metadata from every nesting level. */
  def cleanType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = cleanType(f.dataType), metadata = Metadata.empty)))
    case a: ArrayType => a.copy(elementType = cleanType(a.elementType))
    case m: MapType =>
      m.copy(keyType = cleanType(m.keyType), valueType = cleanType(m.valueType))
    case other => other
  }

  /** FILE-side spelling of a target type: struct levels with ids on both
    * sides take the file's field NAMES (matched by id) in TARGET order with
    * target leaf types — so nested renames resolve by id and promoted leaves
    * read widened; target fields absent from the file read by a name the
    * reader null-fills (see [[absentReadName]]). Id-less levels (legacy
    * schemas) fall back to the plain target type, i.e. name matching. */
  def fileSideType(targetDt: DataType, fileDt: DataType): DataType =
    (targetDt, fileDt) match {
      case (ts: StructType, fs: StructType)
          if FieldIds.structHasIds(ts) && FieldIds.structHasIds(fs) =>
        val byId = fs.fields.map(f => FieldIds.idOf(f) -> f).toMap
        StructType(ts.fields.map { tf =>
          byId.get(FieldIds.idOf(tf)) match {
            case Some(ff) =>
              StructField(ff.name, fileSideType(tf.dataType, ff.dataType), tf.nullable)
            case None => StructField(absentReadName(tf, fs),
              cleanType(tf.dataType), nullable = true)
          }
        })
      case _ => cleanType(targetDt)
    }

  /** True when the type holds a double/float leaf at any nesting depth —
    * the read-path gate for the ORC mixed-sign-zero scrub (orc-core's
    * `==`-based batch repetition detection only misfires on ±0.0, so scans
    * projecting no floating-point leaf keep Spark's vectorized reader). */
  def hasFloatLeaf(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case s: StructType => s.fields.exists(f => hasFloatLeaf(f.dataType))
    case a: ArrayType => hasFloatLeaf(a.elementType)
    case m: MapType => hasFloatLeaf(m.keyType) || hasFloatLeaf(m.valueType)
    case _ => false
  }

  /** Name to REQUEST from a file for a target field whose id is ABSENT from
    * that file's schema. Normally the target name — readers null-fill
    * requested-but-missing columns. But the file may still physically carry
    * a SAME-NAMED column from a DROPPED predecessor (drop + re-add assigns a
    * fresh id precisely so the old data stays dead); requesting the target
    * name would rebind to it by name and RESURRECT the dropped values
    * (round-20 fuzz findings in the DSv2 generation scan, then again in
    * compaction's rewrite reader). A guaranteed-absent name null-fills. */
  def absentReadName(target: StructField, fileSchema: StructType): String =
    if (fileSchema.fieldNames.contains(target.name))
      s"__graft_absent_${FieldIds.idOf(target)}"
    else target.name
}
