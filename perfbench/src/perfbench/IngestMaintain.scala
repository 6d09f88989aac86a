package perfbench

import graft.format._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** ingest_maintain: Commits, Deletes, Streaming and Actions do most of the
  * work, on one events table partitioned by day(ts). Each cycle runs a
  * library append (`GraftWrite.writeFiles` then `Commits.mergeAppend`), SQL
  * INSERT INTO, merge-on-read MERGE INTO, copy-on-write DELETE, an equality
  * delete and a streaming epoch with its replay. A partition read and a
  * partition plan follow every write, so a write-side gain that costs
  * readers shows on the same workload. Then come a metadata-only aggregate
  * of the snapshot the cycle started from (`VERSION AS OF`), a `$files`
  * read and a full read-back. Each cycle ends with the nightly
  * maintenance loop and keeps only the current snapshot, so every cycle
  * starts from the same kind of state. Answers are checked against an
  * in-memory model of the table (event id → amount). */
final class IngestMaintain(spark: SparkSession, seed: Long, cat: String) extends Workload {
  import IngestMaintain._
  private val g = new Gen(seed)
  private var location: String = _
  private val table = s"$cat.db.events"
  private val model = mutable.LongMap.empty[Long]
  private var nextId = 0L

  private def day(id: Long) = (g.mix(1, id) % Days).toInt
  private def row(id: Long, amount: Long) = Row(id, g.mix(2, id) % 1000,
    java.sql.Timestamp.from(Base.plusSeconds(day(id) * 86400L + g.mix(3, id) % 86400)),
    Kinds((g.mix(4, id) % Kinds.size).toInt), amount)
  private def amountOf(id: Long) = g.mix(5, id) % 10000

  /** `n` new events with fresh ids; the model is updated once the caller
    * has committed them. */
  private def fresh(n: Int): Seq[(Long, Long)] = {
    val ids = nextId until nextId + n
    nextId += n
    ids.map(id => id -> amountOf(id))
  }

  private def df(rows: Seq[(Long, Long)]): DataFrame =
    spark.createDataFrame(rows.map { case (id, a) => row(id, a) }.asJava, Schema)

  /** Up to `n` distinct live ids, drawn with the cycle's generator. */
  private def liveIds(r: java.util.SplittableRandom, n: Int): Seq[Long] =
    Iterator.continually(r.nextLong(nextId)).take(20 * n).filter(model.contains).distinct.take(n).toSeq

  def setup(d: String): (Double, Double) = {
    location = s"$d/wh/db/events"
    Bench.catalog(spark, cat, s"$d/wh")
    val (rows, gen) = Bench.timed {
      val rows = fresh(InitialRows)
      df(rows).write.parquet(s"$d/staging/events")
      rows
    }
    val (_, build) = Bench.timed {
      val t = GraftTable.create(spark, location, Schema, _.day("ts"), Map(
        "write.merge.mode" -> "merge-on-read", "write.delete.mode" -> "copy-on-write",
        "write.distribution-mode" -> "hash"))
      GraftWrite.append(t, spark.read.parquet(s"$d/staging/events"))
    }
    model ++= rows
    (gen, build)
  }

  def inputs: Map[String, Any] = Workloads.CacheSizes ++
    Calls.cacheFacts("events_at_end", GraftTable.load(spark, location)) ++ Map(
      "initial_rows" -> InitialRows,
      "new_rows_per_cycle" -> (AppendRows + InsertRows + MergeInserts + EpochRows),
      "live_rows_at_end" -> model.size)

  def warmupCycles: Int = 1

  def cycle(i: Int): Seq[Op] = {
    val r = g.rng(3000 + i)
    val d = i % Days
    val writes = Seq(
      Op("lib_append", "commit", tr => {
        val rows = fresh(AppendRows)
        val n = Calls.append(tr, Calls.load(tr, location), df(rows))
        model ++= rows
        changed(tr, n)
      }),
      Op("sql_insert", "commit", tr => {
        val rows = fresh(InsertRows)
        df(rows).createOrReplaceTempView("insert_src")
        tr.command(s"INSERT INTO $table SELECT * FROM insert_src")
        model ++= rows
        changed(tr, rows.size)
      }),
      Op("sql_merge", "commit", tr => {
        val updates = liveIds(r, MergeUpdates).map(id => id -> (model(id) + 1 + r.nextInt(100)))
        val rows = updates ++ fresh(MergeInserts)
        df(rows).createOrReplaceTempView("merge_src")
        tr.command(s"MERGE INTO $table t USING merge_src s ON t.event_id = s.event_id " +
          "WHEN MATCHED THEN UPDATE SET amount = s.amount WHEN NOT MATCHED THEN INSERT *")
        model ++= rows
        changed(tr, rows.size)
      }),
      Op("sql_delete", "commit", tr => {
        val from = liveIds(r, 1).head
        tr.command(s"DELETE FROM $table WHERE event_id BETWEEN $from AND ${from + DeleteRange - 1}")
        val gone = (from until from + DeleteRange).filter(model.contains)
        model --= gone
        changed(tr, gone.size)
        0L
      }),
      Op("eq_delete", "commit", tr => {
        val ids = liveIds(r, EqDeleteKeys)
        val t = Calls.load(tr, location)
        val keys = spark.createDataFrame(ids.map(Row(_)).asJava, StructType(Seq(Schema("event_id"))))
        val m = tr.span("format.deletes")(Deletes.deleteByEquality(t, keys))
        tr.count("format.deletes.files_written",
          m.currentSnapshot.flatMap(_.summary.get("delete-files")).map(_.toDouble).getOrElse(0.0))
        model --= ids
        changed(tr, ids.size)
        0L
      }),
      Op("stream_epoch", "commit", tr => {
        val rows = fresh(EpochRows)
        val t = Calls.load(tr, location)
        val batch = df(rows)
        if (!tr.span("format.streaming.epoch_commit")(Streaming.commitEpoch(t, batch, i, QueryId)))
          throw new WrongAnswer(s"epoch $i was already committed")
        val snapshots = t.snapshots.size
        if (tr.span("format.streaming.replay")(Streaming.commitEpoch(t, batch, i, QueryId)))
          throw new WrongAnswer(s"replay of epoch $i committed again")
        Check.equal("snapshots after replay", GraftTable.load(spark, location).snapshots.size, snapshots)
        model ++= rows
        changed(tr, rows.size)
      }))
    val lo = Base.plusSeconds(d * 86400L)
    val hi = Base.plusSeconds((d + 1) * 86400L)
    val inDay = Exprs.and(Exprs.gtEq("ts", lo), Exprs.lt("ts", hi))
    // partition reads alternate between the SQL catalog route and the
    // library route (TableScan.toDF)
    def readDay(n: Int) = {
      val sql = (i + n) % 2 == 0
      Op(s"read_partition_${if (sql) "sql" else "lib"}", "read", tr => {
        val got =
          if (sql) tr.sql(s"SELECT count(*), coalesce(sum(amount), 0) FROM $table " +
            s"WHERE ts >= TIMESTAMP '${Utc.format(lo)}' AND ts < TIMESTAMP '${Utc.format(hi)}'")
          else {
            val t = Calls.load(tr, location)
            tr.library(t.newScan().filter(inDay).toDF()
              .filter(col("ts") >= lit(java.sql.Timestamp.from(lo)) && col("ts") < lit(java.sql.Timestamp.from(hi)))
              .agg(count(lit(1)), coalesce(sum("amount"), lit(0L))))
          }
        val want = model.iterator.filter { case (id, _) => day(id) == d }.toSeq
        Check.rows("read_partition", got.toSeq, Seq(Row(want.size.toLong, want.map(_._2).sum)))
        0L
      })
    }
    val plan = Op("plan_partition", "plan", tr => {
      val t = Calls.load(tr, location)
      val p = Calls.plan(tr, t.newScan().filter(inDay))
      Check.atLeast("plan_partition records", p.tasks.map(_.file.recordCount).sum,
        model.keysIterator.count(day(_) == d).toLong)
      0L
    })
    // the snapshot the cycle starts from, and its rows' count and id range
    val start = GraftTable.load(spark, location).currentSnapshot.get.snapshotId
    val startRows = Row(model.size.toLong, model.keysIterator.min, model.keysIterator.max)
    val history = Seq(
      Op("metadata_agg", "read", tr => {
        Check.rows("metadata_agg",
          tr.sql(s"SELECT count(*), min(event_id), max(event_id) FROM $table VERSION AS OF $start").toSeq,
          Seq(startRows))
        0L
      }),
      Op("files_table", "read", tr => {
        val got = tr.sql(s"SELECT content, sum(record_count) FROM $cat.db.`events$$files` GROUP BY content")
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        // data files hold every live row, plus rows that delete files hide
        Check.atLeast("files_table data records", got.getOrElse(FileContent.Data, 0L), model.size.toLong)
        0L
      }))
    val readBack = Op("read_back", "read", tr => {
      val got = tr.sql(s"SELECT count(*), sum(event_id * 7 + amount) FROM $table")
      Check.rows("read_back", got.toSeq,
        Seq(Row(model.size.toLong, model.iterator.map { case (id, a) => id * 7 + a }.sum)))
      0L
    })
    val maintain = Op("maintenance", "maintenance", tr => {
      val actions = Actions.forTable(Calls.load(tr, location))
      val rw = tr.span("format.actions.rewrite_data_files")(actions.rewriteDataFiles())
      tr.count("format.actions.rewrite_data_files.files_in", rw.rewrittenFiles)
      tr.count("format.actions.rewrite_data_files.files_out", rw.addedFiles)
      val rp = tr.span("format.actions.rewrite_position_deletes")(actions.rewritePositionDeletes())
      tr.count("format.actions.rewrite_position_deletes.files_in", rp.rewrittenFiles)
      tr.count("format.actions.rewrite_position_deletes.files_out", rp.addedFiles)
      val mf = tr.span("format.actions.rewrite_manifests")(actions.rewriteManifests())
      tr.count("format.actions.rewrite_manifests.files_out", mf)
      val ex = tr.span("format.actions.expire_snapshots")(
        actions.expireSnapshots(System.currentTimeMillis(), retainLast = RetainSnapshots))
      tr.count("format.actions.expire_snapshots.files_in", ex.expiredSnapshots)
      tr.count("format.actions.expire_snapshots.files_out", ex.deletedFiles)
      val or = tr.span("format.actions.remove_orphan_files")(
        actions.removeOrphanFiles(System.currentTimeMillis()))
      tr.count("format.actions.remove_orphan_files.files_out", or.deletedOrphans.size)
      0L
    })
    writes.zipWithIndex.flatMap { case (w, n) => Seq(w, readDay(n), plan) } ++ history ++
      Seq(readBack, maintain)
  }

  /** Records the user rows an operation changed; returns them as the rows
    * it committed. */
  private def changed(tr: Tracing, n: Long): Long = {
    tr.count("format.commit.rows_changed", n.toDouble)
    n
  }

  def storage(): (Long, Long) = (Bench.treeBytes(location), model.size.toLong)

  override def finish(tr: Tracing): Unit = {
    val (referenced, onDisk) = Calls.metaFiles(GraftTable.load(spark, location))
    tr.count("format.commit.meta_files_referenced", referenced.toDouble)
    tr.count("format.commit.meta_files_on_disk", onDisk.toDouble)
  }
}

object IngestMaintain {
  val InitialRows = 20000
  val AppendRows = 1500
  val InsertRows = 500
  val MergeUpdates = 200
  val MergeInserts = 100
  val DeleteRange = 50
  val EqDeleteKeys = 30
  val EpochRows = 500
  val Days = 4
  val RetainSnapshots = 1
  val QueryId = "perfbench"
  val Base: java.time.Instant = java.time.Instant.parse("2024-01-01T00:00:00Z")
  val Utc: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  val Kinds = Seq("click", "view", "buy", "share")
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("ts", TimestampType), StructField("kind", StringType),
    StructField("amount", LongType)))
}
