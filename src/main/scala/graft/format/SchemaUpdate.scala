package graft.format

import org.apache.spark.sql.types._

/** Schema evolution — id-based, metadata-only (reference
  * api/.../UpdateSchema.java:31-363, impl core/.../SchemaUpdate.java;
  * promotion rules api/.../types/TypeUtil.java:189 isPromotionAllowed:
  * int→long, float→double, decimal precision widen at same scale).
  *
  * Columns at ANY nesting depth are addressed by dot path (`"addr.zip"`),
  * matching the reference's nested evolution surface
  * (api/.../UpdateSchema.java:63-129: addColumn(parent, name, type), nested
  * rename/update/delete/move). Each commit adds a NEW schema id; existing
  * data files keep their schema-id and are re-mapped on read by field id at
  * every struct level (connector GraftScanBuilder, Types.fileSideType).
  */
final case class SchemaUpdate(table: GraftTable) {
  private var ops: Seq[StructType => StructType] = Nil
  // (parent path — Nil = top level, name, type, nullable, doc); ids are
  // assigned at commit so concurrent builders can't collide
  private var newColumns: Seq[(Seq[String], String, DataType, Boolean,
    Option[String], Option[Any])] = Nil
  private var incompatibleAllowed = false

  /** Opt in to changes that can break reads of OLDER data files — adding a
    * required column, making an optional column required (reference
    * api/.../UpdateSchema.java:47 allowIncompatibleChanges: the caller
    * asserts no existing file violates the new constraint). */
  def allowIncompatibleChanges(): SchemaUpdate = {
    incompatibleAllowed = true; this
  }

  private def split(path: String): Seq[String] = path.split('.').toSeq

  /** Apply `op` to the struct at `path` (Nil = the schema root); every
    * segment must name a struct-typed field. */
  private def atPath(st: StructType, path: Seq[String])
      (op: StructType => StructType): StructType =
    if (path.isEmpty) op(st)
    else {
      require(st.fieldNames.contains(path.head), s"no column ${path.head}")
      StructType(st.fields.map { f =>
        if (f.name != path.head) f
        else f.dataType match {
          case inner: StructType => f.copy(dataType = atPath(inner, path.tail)(op))
          case other => throw new IllegalArgumentException(
            s"${path.head} is not a struct (found $other)")
        }
      })
    }

  /** Add a column; a dotted `name` ("who.zip") adds inside that struct. */
  def addColumn(name: String, dt: DataType, nullable: Boolean = true,
      doc: Option[String] = None,
      initialDefault: Option[Any] = None): SchemaUpdate = {
    val path = split(name)
    initialDefault.foreach { _ =>
      // nested defaults are allowed — the dotted path can only descend
      // STRUCTS (atPath refuses arrays/maps), which is exactly the shape
      // where a per-row backfill is unambiguous
      require(!dt.isInstanceOf[StructType] &&
        !dt.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
        !dt.isInstanceOf[org.apache.spark.sql.types.MapType],
        "initial defaults are supported on atomic columns only")
      // the Values codec (and the manifest stats domain) has no byte/short
      // representation — refuse up front with a clear message rather than
      // failing inside serialization at commit
      require(dt != org.apache.spark.sql.types.ByteType &&
        dt != org.apache.spark.sql.types.ShortType,
        s"initial defaults are not supported for ${dt.sql}; use INT or BIGINT")
    }
    newColumns = newColumns :+
      ((path.init, path.last, dt, nullable, doc, initialDefault))
    this
  }

  /** Add a column INSIDE the struct at `parent` (dot path) — reference
    * UpdateSchema.addColumn(parent, name, type). */
  def addColumn(parent: String, name: String, dt: DataType): SchemaUpdate = {
    newColumns = newColumns :+ ((split(parent), name, dt, true, None, None))
    this
  }

  /** Rename the (possibly nested) column at `from`; `to` is the bare new
    * name — the field keeps its id, so data files never rewrite. */
  def renameColumn(from: String, to: String): SchemaUpdate = {
    val path = split(from)
    require(!to.contains("."), s"new name must be unqualified: $to")
    ops = ops :+ { st: StructType =>
      atPath(st, path.init) { s =>
        require(s.fieldNames.contains(path.last), s"no column $from")
        require(!s.fieldNames.contains(to), s"column $to exists")
        StructType(s.fields.map(f =>
          if (f.name == path.last) f.copy(name = to) else f))
      }
    }
    this
  }

  def updateColumnType(name: String, to: DataType): SchemaUpdate = {
    val path = split(name)
    ops = ops :+ { st: StructType =>
      atPath(st, path.init) { s =>
        require(s.fieldNames.contains(path.last), s"no column $name")
        StructType(s.fields.map { f =>
          if (f.name != path.last) f
          else {
            require(promotionAllowed(f.dataType, to),
              s"cannot promote ${f.dataType} to $to")
            f.copy(dataType = to)
          }
        })
      }
    }
    this
  }

  def makeColumnOptional(name: String): SchemaUpdate = {
    val path = split(name)
    ops = ops :+ { st: StructType =>
      atPath(st, path.init)(s => StructType(s.fields.map(f =>
        if (f.name == path.last) f.copy(nullable = true) else f)))
    }
    this
  }

  /** Make a column required (non-nullable) — an INCOMPATIBLE change: files
    * written before the column existed read it as null, so this needs
    * allowIncompatibleChanges (reference UpdateSchema.requireColumn). */
  def requireColumn(name: String): SchemaUpdate = {
    val path = split(name)
    ops = ops :+ { st: StructType =>
      require(incompatibleAllowed,
        s"cannot make column $name required: incompatible change — call " +
        "allowIncompatibleChanges() first")
      atPath(st, path.init) { s =>
        require(s.fieldNames.contains(path.last), s"no column $name")
        StructType(s.fields.map(f =>
          if (f.name == path.last) f.copy(nullable = false) else f))
      }
    }
    this
  }

  def deleteColumn(name: String): SchemaUpdate = {
    val path = split(name)
    deletedPaths = deletedPaths :+ path
    ops = ops :+ { st: StructType =>
      atPath(st, path.init) { s =>
        require(s.fieldNames.contains(path.last), s"no column $name")
        StructType(s.fields.filterNot(_.name == path.last))
      }
    }
    this
  }

  private var deletedPaths: Seq[Seq[String]] = Nil

  /** Field ids the queued deletes would remove (the named fields plus, for
    * struct columns, everything nested under them); paths that no longer
    * resolve are left to the ops' own "no column" error. */
  private def deletedIds(schema: StructType): Set[Int] =
    deletedPaths.flatMap { path =>
      def walk(st: StructType, p: Seq[String]): Option[StructField] =
        st.fields.find(_.name == p.head).flatMap { f =>
          if (p.tail.isEmpty) Some(f)
          else f.dataType match {
            case s: StructType => walk(s, p.tail)
            case _ => None
          }
        }
      walk(schema, path).toSeq.flatMap { f =>
        val nested = f.dataType match {
          case s: StructType => FieldIds.allIds(s)
          case _ => Set.empty[Int]
        }
        nested + FieldIds.idOf(f)
      }
    }.toSet

  def moveFirst(name: String): SchemaUpdate = move(name, _ => 0)
  def moveAfter(name: String, after: String): SchemaUpdate = {
    require(split(name).init == split(after).init,
      s"cannot move $name after $after: different parents")
    move(name, st => st.fieldNames.indexOf(split(after).last) + 1)
  }
  /** Move directly before a reference column in the same struct (reference
    * api/.../UpdateSchema.java:335-363 moveBefore). */
  def moveBefore(name: String, before: String): SchemaUpdate = {
    require(split(name).init == split(before).init,
      s"cannot move $name before $before: different parents")
    move(name, st => st.fieldNames.indexOf(split(before).last))
  }

  private def move(name: String, pos: StructType => Int): SchemaUpdate = {
    val path = split(name)
    ops = ops :+ { st: StructType =>
      atPath(st, path.init) { s =>
        val f = s.fields.find(_.name == path.last)
          .getOrElse(throw new IllegalArgumentException(s"no column $name"))
        val without = s.fields.filterNot(_.name == path.last)
        val at = pos(StructType(without))
        require(at >= 0, s"no reference column for move of $name")
        val i = math.min(at, without.length)
        StructType((without.take(i) :+ f) ++ without.drop(i))
      }
    }
    this
  }

  private def promotionAllowed(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (a, b) if a == b => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d1.scale == d2.scale && d2.precision >= d1.precision
      case _ => false
    }

  def commit(): TableMetadata = {
    // live equality deletes keyed on a to-be-deleted column would make the
    // scan unable to resolve the key against current rows — refuse up
    // front with an actionable message (one metadata read, outside the
    // retry loop; the rare concurrent-stage race still fails loudly at
    // scan time via the key-resolution guard)
    if (deletedPaths.nonEmpty) {
      val ids = deletedIds(table.metadata.schema)
      if (ids.nonEmpty) {
        val keyed = table.newScan().planFiles().deleteFiles
          .filter(_._1.content == FileContent.EqualityDeletes)
          .filter(_._1.equalityIds.exists(ids))
        require(keyed.isEmpty,
          s"cannot delete column(s): ${keyed.map(_._1.path).distinct.size} " +
          "live equality-delete files key on them — run " +
          "rewrite_equality_deletes (or compact) first")
      }
    }
    table.ops.commitTransaction { m =>
      // a field referenced by ANY registered partition spec cannot be
      // deleted (reference SchemaUpdate): partTypesOf resolves every
      // spec source on EVERY manifest read, so committing this would
      // make the table permanently unreadable
      val delIds = deletedIds(m.schema)
      if (delIds.nonEmpty) m.specs.values.foreach { sp =>
        sp.fields.find(pf => delIds(pf.sourceId)).foreach { pf =>
          throw new IllegalArgumentException(
            s"cannot delete column: partition field ${pf.name} of spec " +
            s"${sp.specId} derives from it (source field id ${pf.sourceId})")
        }
      }
      var st = m.schema
      ops.foreach(op => st = op(st))
      var lastId = math.max(m.lastColumnId, FieldIds.maxId(st))
      newColumns.find(c => !c._4 && !incompatibleAllowed).foreach { c =>
        throw new IllegalArgumentException(
          s"cannot add required column ${(c._1 :+ c._2).mkString(".")}: " +
          "older files lack it — call allowIncompatibleChanges() first")
      }
      // initial defaults are a v3 feature (like deletion vectors): a
      // spec-compliant v2 reader would ignore the metadata and read null
      // where this implementation backfills — silent interop divergence
      require(newColumns.forall(_._6.isEmpty) || m.formatVersion >= 3,
        "initial defaults require format-version 3 " +
        "(ALTER TABLE ... SET TBLPROPERTIES ('format-version'='3'))")
      newColumns.foreach { case (parent, name, dt0, nullable, doc, default) =>
        lastId += 1
        val fieldId = lastId
        // a struct-typed added column needs ids on ITS fields too
        def walk(x: StructType): StructType = StructType(x.fields.map { f =>
          lastId += 1
          val id = lastId
          val inner = f.dataType match { case i: StructType => walk(i); case o => o }
          FieldIds.withId(f.copy(dataType = inner), id)
        })
        val dt = dt0 match { case s: StructType => walk(s); case o => o }
        val base = StructField(name, dt, nullable)
        val withDoc = doc.map(d => base.copy(metadata =
          new MetadataBuilder().putString("comment", d).build())).getOrElse(base)
        val withDefault =
          default.map(Defaults.withDefault(withDoc, _)).getOrElse(withDoc)
        val field = FieldIds.withId(withDefault, fieldId)
        st = atPath(st, parent) { s =>
          require(!s.fieldNames.contains(name),
            s"column ${(parent :+ name).mkString(".")} exists")
          StructType(s.fields :+ field)
        }
      }
      val newSchemaId = m.schemas.keys.max + 1
      m.copy(
        lastColumnId = lastId,
        currentSchemaId = newSchemaId,
        schemas = m.schemas + (newSchemaId -> st),
        lastUpdatedMillis = System.currentTimeMillis())
    }
  }
}
