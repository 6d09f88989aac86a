package graft.format

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, max, struct}
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Library reads (`TableScan.toDF` / `lineageDF`) against the catalog's
  * `SELECT` over the same snapshot, row for row. One table of cases covers
  * file formats (parquet, ORC with a double column holding mixed-sign
  * zeros, Avro), row-level delete layouts (copy-on-write, merge-on-read
  * position deletes / v3 deletion vectors, equality deletes) at
  * format-version 2 and 3, time travel, branch reads after a schema change,
  * append ranges, the lineage surface, schema commits landing between
  * `toDF()` and the read, the `_metadata` struct, and imported tables whose
  * identity-partition column lives only in metadata. Rows compare through
  * `Row.toString`, which keeps the sign of a zero double. */
class ReadPathParitySpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val d = Files.createTempDirectory("graft-parity").toString
    spark.conf.set("spark.sql.catalog.rp", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rp.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rp.db")
    d
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  private def shape(df: DataFrame): Seq[(String, DataType)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType)

  private def assertSame(lib: DataFrame, sql: DataFrame, what: String): Unit = {
    assert(shape(lib) === shape(sql), s"$what: schemas differ")
    val (l, s) = (rows(lib), rows(sql))
    assert(s.nonEmpty, s"$what: the case reads no rows")
    assert(l === s, s"$what: library and catalog reads differ")
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("d", DoubleType),
    StructField("s", StringType), StructField("p", IntegerType)))

  /** Batch `b` of six rows; every batch carries a run of zeros of mixed
    * sign, so an ORC batch that collapses the sign shows up as a row
    * difference. */
  private def batch(b: Int): DataFrame = {
    val data = (0 until 6).map { i =>
      val id = b * 10L + i
      val d = if (i < 4) (if (i % 2 == 0) -0.0 else 0.0) else id * 1.5
      Row(id, d, s"s$id", (id % 2).toInt)
    }
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
  }

  private final case class Case(format: String, fv: Int, layout: String) {
    def name: String = s"${format}_v${fv}_$layout"
  }

  private val cases: Seq[Case] = for {
    format <- Seq("parquet", "orc", "avro")
    fv <- Seq(2, 3)
    layout <- Seq("cow", "mor", "eq")
  } yield Case(format, fv, layout)

  /** Builds the case's table: three appends, one delete of the case's
    * layout, one more append (newer than the delete). Returns the table
    * name and the snapshot id after the second append. */
  private def build(c: Case): (String, Long) = {
    val t = s"rp.db.${c.name}"
    val mode = if (c.layout == "mor") "merge-on-read" else "copy-on-write"
    spark.sql(s"""CREATE TABLE $t (id BIGINT, d DOUBLE, s STRING, p INT)
                  PARTITIONED BY (p)
                  TBLPROPERTIES ('format-version'='${c.fv}',
                    'write.format.default'='${c.format}',
                    'write.delete.mode'='$mode')""")
    batch(1).writeTo(t).append()
    batch(2).writeTo(t).append()
    val s2 = GraftTable.load(spark, s"$wh/db/${c.name}").currentSnapshot.get.snapshotId
    batch(3).writeTo(t).append()
    c.layout match {
      case "eq" =>
        Deletes.deleteByEquality(GraftTable.load(spark, s"$wh/db/${c.name}"),
          Seq(11L, 22L, 35L).toDF("id"))
      case _ => spark.sql(s"DELETE FROM $t WHERE id IN (11, 22, 35)")
    }
    batch(4).writeTo(t).append()
    (t, s2)
  }

  cases.foreach { c =>
    test(s"toDF matches SELECT *: ${c.name}") {
      wh
      val (t, s2) = build(c)
      val gt = GraftTable.load(spark, s"$wh/db/${c.name}")
      val files = gt.newScan().planFiles()
      assert(files.files.forall(_.fileFormat == c.format))
      if (c.layout != "cow") assert(files.deleteFiles.nonEmpty,
        s"${c.name}: expected live delete files")
      if (c.layout == "mor" && c.fv == 3)
        assert(files.deleteFiles.forall(_._1.fileFormat == FileFormats.Puffin))
      assertSame(gt.newScan().toDF(), spark.sql(s"SELECT * FROM $t"), c.name)
      assertSame(
        gt.newScan().filter(Exprs.gt("id", 15L)).select("d", "id").toDF(),
        spark.sql(s"SELECT d, id FROM $t WHERE id > 15"), s"${c.name} filtered")
      assertSame(gt.newScan().useSnapshot(s2).toDF(),
        spark.sql(s"SELECT * FROM $t VERSION AS OF $s2"), s"${c.name} @s2")
    }
  }

  test("useRef on a branch after a schema change reads the branch like SQL") {
    wh
    val t = "rp.db.branched"
    spark.sql(s"CREATE TABLE $t (id BIGINT, d DOUBLE, s STRING, p INT) PARTITIONED BY (p)")
    batch(1).writeTo(t).append()
    val gt = GraftTable.load(spark, s"$wh/db/branched")
    Commits.createBranch(gt, "b1")
    SchemaUpdate(GraftTable.load(spark, s"$wh/db/branched"))
      .renameColumn("s", "label").addColumn("extra", StringType).commit()
    GraftWrite.appendToBranch(GraftTable.load(spark, s"$wh/db/branched"), "b1",
      Seq((90L, 1.0, "x", 0, "e")).toDF("id", "d", "label", "p", "extra"))
    batch(2).toDF("id", "d", "label", "p")
      .withColumn("extra", lit("m"))
      .writeTo(t).append()
    val lib = GraftTable.load(spark, s"$wh/db/branched").newScan().useRef("b1").toDF()
    assert(lib.columns.toSeq === Seq("id", "d", "label", "p", "extra"))
    assertSame(lib, spark.sql("SELECT * FROM rp.db.`branched.branch_b1`"), "branch b1")
  }

  test("appendsBetween reads exactly the rows appended in the range") {
    wh
    val t = "rp.db.ranged"
    spark.sql(s"CREATE TABLE $t (id BIGINT, d DOUBLE, s STRING, p INT) PARTITIONED BY (p)")
    batch(1).writeTo(t).append()
    val gt = GraftTable.load(spark, s"$wh/db/ranged")
    val s1 = gt.currentSnapshot.get.snapshotId
    batch(2).writeTo(t).append()
    batch(3).writeTo(t).append()
    val s3 = GraftTable.load(spark, s"$wh/db/ranged").currentSnapshot.get.snapshotId
    batch(4).writeTo(t).append()
    assertSame(
      GraftTable.load(spark, s"$wh/db/ranged").newScan().appendsBetween(s1, s3).toDF(),
      // batches 2 and 3 (ids 20-35); a set operation would normalize the
      // sign of the zero doubles, so the range is selected by id instead
      spark.sql(s"SELECT * FROM $t VERSION AS OF $s3 WHERE id >= 20"),
      "appends (s1, s3]")
  }

  Seq("parquet", "orc", "avro").foreach { format =>
    test(s"lineageDF matches the metadata columns: $format") {
      wh
      val t = s"rp.db.lin_$format"
      spark.sql(s"""CREATE TABLE $t (id BIGINT, d DOUBLE, s STRING, p INT)
                    PARTITIONED BY (p)
                    TBLPROPERTIES ('format-version'='3',
                      'write.format.default'='$format',
                      'write.delete.mode'='merge-on-read')""")
      batch(1).writeTo(t).append()
      batch(2).writeTo(t).append()
      spark.sql(s"DELETE FROM $t WHERE id IN (11, 22)")
      Actions.forTable(GraftTable.load(spark, s"$wh/db/lin_$format"))
        .rewriteDataFiles(minInputFiles = 1, filter = Exprs.lt("id", 20L))
      batch(3).writeTo(t).append()
      assertSame(
        GraftTable.load(spark, s"$wh/db/lin_$format").newScan().lineageDF(),
        spark.sql(s"SELECT *, ${Lineage.RowIdColumn}, " +
          s"${Lineage.LastUpdatedColumn} FROM $t"), s"lineage $format")
    }
  }

  test("toDF plans manifests once: one ScanEvent with the plan's pruning counts") {
    wh
    val t = "rp.db.planned_once"
    spark.sql(s"CREATE TABLE $t (id BIGINT, d DOUBLE, s STRING, p INT) PARTITIONED BY (p)")
    (1 to 4).foreach(b => batch(b).writeTo(t).append())
    val gt = GraftTable.load(spark, s"$wh/db/planned_once")
    val scan = gt.newScan().filter(Exprs.equal("p", 1))
    val seen = scala.collection.mutable.ArrayBuffer.empty[ScanEvent]
    val l = Listeners.register(e =>
      if (e.tableLocation == gt.location) seen.synchronized { seen += e; () })
    val got = try {
      val df = scan.toDF()
      df.collect(); df.count()
    } finally Listeners.unregister(l)
    assert(got === 12L)
    val plan = scan.planFiles()
    assert(seen.map(e => (e.manifestsScanned, e.filesScanned)).toSeq ===
      Seq((plan.manifestsScanned, plan.filesScanned)))
  }

  test("time-travel aggregates resolve columns against the snapshot's schema") {
    // drop + re-add gives `w` a fresh field id; the snapshot before the
    // drop still reads the OLD column, which metadata-only aggregates must
    // resolve by the snapshot's schema, not the current one
    wh
    val t = "rp.db.tt_agg"
    spark.sql(s"CREATE TABLE $t (id BIGINT, w BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 85), (2, 94)")
    val gt = GraftTable.load(spark, s"$wh/db/tt_agg")
    val s1 = gt.currentSnapshot.get.snapshotId
    spark.sql(s"ALTER TABLE $t DROP COLUMN w")
    spark.sql(s"ALTER TABLE $t ADD COLUMN w BIGINT")
    spark.sql(s"INSERT INTO $t VALUES (3, 7)")
    val lib = GraftTable.load(spark, gt.location).newScan().useSnapshot(s1).toDF()
      .agg(max("w"), count("w"))
    assert(rows(lib) === Seq(Row(94L, 2L).toString))
    assert(rows(spark.sql(s"SELECT max(w), count(w) FROM $t VERSION AS OF $s1")) ===
      Seq(Row(94L, 2L).toString))
  }

  /** A table of four batches, its catalog rows and a library DataFrame
    * made before `change` commits; the DataFrame must still read the rows
    * and columns as of its creation. */
  private def readAfterCommit(name: String)(change: String => Unit): Unit = {
    wh
    val t = s"rp.db.$name"
    spark.sql(s"CREATE TABLE $t (id BIGINT, d DOUBLE, s STRING, p INT) PARTITIONED BY (p)")
    (1 to 4).foreach(b => batch(b).writeTo(t).append())
    val before = rows(spark.sql(s"SELECT * FROM $t"))
    val beforeSel = rows(spark.sql(s"SELECT s, id FROM $t WHERE id > 15"))
    val gt = GraftTable.load(spark, s"$wh/db/$name")
    val df = gt.newScan().toDF()
    val sel = gt.newScan().filter(Exprs.gt("id", 15L)).select("s", "id").toDF()
    change(t)
    assert(df.columns.toSeq === Seq("id", "d", "s", "p"))
    assert(rows(df) === before)
    assert(rows(sel) === beforeSel)
  }

  test("a rename committed after toDF leaves the planned read as it was") {
    readAfterCommit("late_rename")(t =>
      spark.sql(s"ALTER TABLE $t RENAME COLUMN s TO label"))
  }

  test("a drop and re-add committed after toDF leaves the planned read as it was") {
    readAfterCommit("late_readd") { t =>
      spark.sql(s"ALTER TABLE $t DROP COLUMN s")
      spark.sql(s"ALTER TABLE $t ADD COLUMN s STRING")
    }
  }

  test("_metadata.file_path / row_index name the same file and row as _file / _pos") {
    // the file source spells file_path as a qualified URI, `_file` as the
    // path the table records; both canonicalize to the same file
    wh
    val t = "rp.db.file_meta"
    spark.sql(s"CREATE TABLE $t (id BIGINT, d DOUBLE, s STRING, p INT)")
    batch(1).coalesce(1).writeTo(t).append()
    def canon(df: DataFrame): Seq[(Long, String, Long)] = df.collect().toSeq
      .map(r => (r.getLong(0), ParquetIO.canonPath(r.getString(1)), r.getLong(2)))
      .sortBy(_._1)
    val lib = canon(GraftTable.load(spark, s"$wh/db/file_meta").newScan().toDF()
      .select(col("id"), col("_metadata.file_path"), col("_metadata.row_index")))
    assert(lib.map(r => (r._1, r._3)) === (10L to 15L).map(i => (i, i - 10)))
    assert(lib === canon(spark.sql(s"SELECT id, _file, _pos FROM $t")))
  }

  /** Hive layout imported in place: `part` lives only in directory names. */
  private def imported(name: String): (GraftTable, String) = {
    val src = Files.createTempDirectory(s"graft-parity-$name").toString + "/src"
    (1L to 12L).map(i => (i, s"v$i", s"p${i % 3}")).toDF("id", "v", "part")
      .write.partitionBy("part").parquet(src)
    val t = GraftWrite.importParquet(spark, s"$wh/db/$name", src)
    (t, s"rp.db.$name")
  }

  private val importedExpected: Seq[String] =
    (1L to 12L).filterNot(Set(2L, 7L, 9L)).map(i => Row(i, s"v$i", s"p${i % 3}").toString)
      .sorted

  test("imported table with equality deletes: library and catalog reads agree") {
    wh
    val (gt, t) = imported("imp_eq")
    Deletes.deleteByEquality(gt, Seq(2L, 7L).toDF("id"))
    // a key on the metadata-only partition column
    Deletes.deleteByEquality(GraftTable.load(spark, gt.location),
      Seq(("p0", 9L)).toDF("part", "id"))
    val lib = GraftTable.load(spark, gt.location).newScan().toDF()
    assert(rows(lib) === importedExpected, "library read")
    assertSame(lib, spark.sql(s"SELECT * FROM $t"), "imported eq")
    assert(rows(spark.sql(s"SELECT id, part FROM $t WHERE part = 'p1'")) ===
      Seq(1L, 4L, 10L).map(i => Row(i, "p1").toString).sorted)
  }

  test("imported table with position deletes: library and catalog reads agree") {
    wh
    val (gt, t) = imported("imp_pos")
    Deletes.deletePositions(gt,
      spark.sql(s"SELECT _file, _pos FROM $t WHERE id IN (2, 7, 9)"))
    val after = GraftTable.load(spark, gt.location)
    assert(after.newScan().planFiles().deleteFiles.nonEmpty)
    val lib = after.newScan().toDF()
    assert(rows(lib) === importedExpected, "library read")
    assertSame(lib, spark.sql(s"SELECT * FROM $t"), "imported pos")
    assertSame(after.newScan().select("part", "id").toDF(),
      spark.sql(s"SELECT part, id FROM $t"), "imported pos projected")
  }

  test("imported table with initial defaults: the library read backfills them") {
    wh
    val src = Files.createTempDirectory("graft-parity-imp-def").toString + "/src"
    (1L to 6L).map(i => (i, s"v$i", s"p${i % 2}")).toDF("id", "v", "part")
      .withColumn("info", struct(col("v").as("tag")))
      .select("id", "info", "part")
      .write.partitionBy("part").parquet(src)
    val gt = GraftWrite.importParquet(spark, s"$wh/db/imp_def", src,
      properties = Map("format-version" -> "3"))
    SchemaUpdate(gt)
      .addColumn("info.pri", StringType, initialDefault = Some("std"))
      .addColumn("lvl", LongType, initialDefault = Some(5L))
      .commit()
    val lib = GraftTable.load(spark, gt.location).newScan().toDF()
    assert(lib.columns.toSeq === Seq("id", "info", "part", "lvl"))
    assert(rows(lib) === (1L to 6L).map(i =>
      Row(i, Row(s"v$i", "std"), s"p${i % 2}", 5L).toString).sorted)
    assertSame(
      GraftTable.load(spark, gt.location).newScan().select("id", "info", "lvl").toDF(),
      spark.sql("SELECT id, info, lvl FROM rp.db.imp_def"), "imported defaults")
  }
}
