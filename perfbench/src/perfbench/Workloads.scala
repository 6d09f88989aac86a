package perfbench

import graft.format._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

object Workloads {
  val byName: Map[String, (SparkSession, Long, String) => Workload] = Map(
    "ingest_maintain" -> ((s, seed, cat) => new IngestMaintain(s, seed, cat)),
    "dedup_store" -> ((s, seed, cat) => new DedupStore(s, seed, cat)))

  /** The program's cache sizes the inputs are measured against. They mirror
    * `TableScan.ManifestCache` (entries) and `DeleteKeyCache` /
    * `PosDeleteCache` (bytes), which are private to the program. */
  val ManifestCacheEntries = 200000L
  val DeleteCacheBytes = 512L * 1024 * 1024
  val CacheSizes: Map[String, Any] = Map(
    "manifest_cache_entries" -> ManifestCacheEntries, "delete_cache_bytes" -> DeleteCacheBytes)
}

/** The benchmark's calls into the graft layers, each wrapped in its span. */
object Calls {
  /** `GraftTable.load` + `TableOps.current` (format.meta). */
  def load(tr: Tracing, location: String): GraftTable = {
    val t = tr.span("format.meta") {
      val t = GraftTable.load(tr.spark, location)
      t.metadata
      t
    }
    if (tr.rec.on) {
      val m = t.metadata
      tr.count("format.meta.calls", 1)
      tr.count("format.meta.snapshots", m.snapshots.size)
      val json = java.nio.file.Paths.get(
        s"${t.location}/metadata/v${t.ops.currentVersion()}.metadata.json")
      tr.count("format.meta.json_bytes", java.nio.file.Files.size(json).toDouble)
    }
    t
  }

  /** `TableScan.planFiles` (format.plan). */
  def plan(tr: Tracing, scan: TableScan): ScanPlan = {
    val p = tr.span("format.plan")(scan.planFiles())
    tr.count("format.plan.calls", 1)
    tr.count("format.plan.delete_files_scoped", p.deleteFiles.size)
    p
  }

  /** `GraftWrite.writeFiles` (format.write). */
  def write(tr: Tracing, t: GraftTable, df: DataFrame): Seq[DataFile] = {
    val files = tr.span("format.write")(GraftWrite.writeFiles(t, df))
    tr.count("format.write.data_files", files.size)
    tr.count("format.write.bytes", files.map(_.fileSizeInBytes).sum.toDouble)
    tr.count("format.write.rows", files.map(_.recordCount).sum.toDouble)
    files
  }

  /** `GraftWrite.writeFiles` then `Commits.mergeAppend`: the calls
    * `GraftWrite.append` makes. Returns the rows committed. */
  def append(tr: Tracing, t: GraftTable, df: DataFrame): Long = {
    val files = write(tr, t, df)
    tr.span("format.commit")(Commits.mergeAppend(t, files))
    files.map(_.recordCount).sum
  }

  /** A table's current manifest entries and delete-file bytes, against the
    * program's cache sizes. */
  def cacheFacts(name: String, t: GraftTable): Map[String, Any] = {
    val p = t.newScan().planFiles()
    val entries = p.filesTotal + p.deleteFiles.size
    val deleteBytes = p.deleteFiles.map(_._1.fileSizeInBytes).sum
    Map(s"${name}_manifest_entries" -> entries,
      s"${name}_delete_file_bytes" -> deleteBytes,
      s"${name}_fits_manifest_cache" -> (entries <= Workloads.ManifestCacheEntries),
      s"${name}_fits_delete_caches" -> (deleteBytes <= Workloads.DeleteCacheBytes))
  }

  /** Metadata files (manifests and manifest lists) referenced by the
    * retained snapshots, and those on disk. */
  def metaFiles(t: GraftTable): (Long, Long) = {
    val m = t.metadata
    val lists = m.snapshots.map(_.manifestList).toSet
    val manifests = MetaTables.allManifests(t).select("path").collect().map(_.getString(0)).toSet
    val dir = java.nio.file.Paths.get(s"${t.location}/metadata")
    val s = java.nio.file.Files.list(dir)
    val onDisk = try s.iterator().asScala.map(_.getFileName.toString)
      .count(n => n.startsWith("manifest-") || n.startsWith("snap-")) finally s.close()
    ((lists ++ manifests).size.toLong, onDisk.toLong)
  }
}
