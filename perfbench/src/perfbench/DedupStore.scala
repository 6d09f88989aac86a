package perfbench

import graft.format._
import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** dedup_store: graft.ops does the work; codegen and shuffle dominate.
  * A seeded corpus with planted near-duplicates: setup persists a
  * `Dedup.gramStore` table (bucket[16] on the gram hash) and a
  * `Dedup.minhashSignatures` table. Each increment runs the exact
  * store-backed Jaccard search and the MinHash LSH search, checks both
  * against the planted pairs, then appends the increment to both stores.
  * Every third increment both stores are compacted and their old
  * snapshots expired. */
final class DedupStore(spark: SparkSession, seed: Long, cat: String) extends Workload {
  import DedupStore._
  private val g = new Gen(seed)
  private var dir: String = _
  private def loc(n: String) = s"$dir/wh/db/$n"
  private def docs = spark.read.parquet(s"$dir/staging/docs")

  /** Corpus documents in the seeded order their copies are planted in. */
  private val origins = g.shuffle(5000, 0L until CorpusDocs)

  private def word(doc: Long, i: Int) = "w" + g.mix(10, doc * 64 + i) % Vocabulary

  /** Document `id`: random words, or, for the first Planted documents of
    * each increment, a copy of an unused corpus document with its middle
    * word replaced (word 3-gram Jaccard 25/31 with its origin). */
  def text(id: Long): String = planted(id) match {
    case Some(orig) => (0 until Words).map(i => if (i == Words / 2) s"x$id" else word(orig, i)).mkString(" ")
    case None => (0 until Words).map(word(id, _)).mkString(" ")
  }

  private def planted(id: Long): Option[Long] =
    if (id < CorpusDocs) None
    else {
      val inc = (id - CorpusDocs) / IncrementDocs
      val slot = (id - CorpusDocs) % IncrementDocs
      if (slot < Planted) Some(origins((inc * Planted + slot).toInt)) else None
    }

  /** The near-duplicate pairs increment `k` must find. */
  def plantedPairs(k: Int): Set[(Long, Long)] =
    (0 until Planted).map { s =>
      val id = CorpusDocs + k.toLong * IncrementDocs + s
      (planted(id).get, id)
    }.toSet

  private def incrementDocs(k: Int): DataFrame = {
    val from = CorpusDocs + k.toLong * IncrementDocs
    spark.createDataFrame((from until from + IncrementDocs).map(id => Row(id, text(id))).asJava, DocSchema)
  }

  def setup(d: String): (Double, Double) = {
    dir = d
    Bench.catalog(spark, cat, s"$d/wh")
    val (_, gen) = Bench.timed {
      val all = 0L until CorpusDocs + Increments.toLong * IncrementDocs
      spark.createDataFrame(all.map(id => Row(id, text(id))).asJava, DocSchema)
        .write.parquet(s"$d/staging/docs")
    }
    val (_, build) = Bench.timed {
      val corpus = docs.filter(s"doc_id < $CorpusDocs")
      val grams = Dedup.gramStore(corpus, N)
      GraftWrite.append(GraftTable.create(spark, loc("grams"), grams.schema, _.bucket("g", 16),
        Map("write.distribution-mode" -> "hash")), grams)
      val sigs = Dedup.minhashSignatures(corpus, N, Bands, Rows)
      GraftWrite.append(GraftTable.create(spark, loc("sigs"), sigs.schema), sigs)
    }
    (gen, build)
  }

  def inputs: Map[String, Any] = Workloads.CacheSizes ++
    Calls.cacheFacts("grams_at_end", GraftTable.load(spark, loc("grams"))) ++
    Calls.cacheFacts("sigs_at_end", GraftTable.load(spark, loc("sigs"))) ++ Map(
      "corpus_docs" -> CorpusDocs, "increment_docs" -> IncrementDocs,
      "planted_per_increment" -> Planted, "words_per_doc" -> Words,
      "compact_every_increments" -> CompactEvery)

  def warmupCycles: Int = 1

  /** A cycle is CompactEvery increments, then the compaction of both
    * stores, so every run ends on a compacted store. */
  def cycle(i: Int): Seq[Op] =
    (i * CompactEvery until (i + 1) * CompactEvery).flatMap(increment) :+ compact

  private def increment(k: Int): Seq[Op] = {
    require(k < Increments, s"increment $k was not generated")
    val fresh = incrementDocs(k)
    val want = plantedPairs(k)
    def search(kind: String, run: => DataFrame) = Op(kind, "read", tr => {
      val rows = tr.span("ops.dedup.pairs")(tr.collect(run))
      val found = rows.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
      tr.count("ops.dedup.pairs_found", found.size)
      tr.count("ops.dedup.planted", want.size)
      tr.count("ops.dedup.planted_found", (found & want).size)
      Check.pairs(kind, found, want)
      0L
    })
    def append(kind: String, table: String, rows: => DataFrame) = Op(kind, "commit", tr =>
      tr.span("ops.dedup.store_append")(Calls.append(tr, Calls.load(tr, loc(table)), rows)))
    val searches = Seq(
      search("jaccard_pairs", Dedup.incrementalJaccardPairsFromStore(
        spark.table(s"$cat.db.grams"), fresh, N, Threshold, maxDf = 0)),
      search("minhash_pairs", Dedup.minhashLshPairsFromStore(
        spark.table(s"$cat.db.sigs"), fresh, docs, N, Bands, Rows, Threshold)))
    def plan(kind: String, table: String)(check: Long => Unit) = Op(kind, "plan", tr => {
      check(Calls.plan(tr, Calls.load(tr, loc(table)).newScan()).tasks.map(_.file.recordCount).sum)
      0L
    })
    // every stored document has one signature and at least one gram
    val stored = CorpusDocs + (k + 1L) * IncrementDocs
    val appends = Seq(
      append("append_grams", "grams", Dedup.gramStore(fresh, N)),
      plan("plan_grams", "grams")(Check.atLeast("plan_grams records", _, stored)),
      append("append_sigs", "sigs", Dedup.minhashSignatures(fresh, N, Bands, Rows)),
      plan("plan_sigs", "sigs")(Check.equal("plan_sigs records", _, stored)))
    searches ++ appends
  }

  /** Compacts both stores and keeps only their current snapshots. */
  private def compact = Op("compact", "maintenance", tr => {
    for (table <- Seq("grams", "sigs")) {
      val actions = Actions.forTable(Calls.load(tr, loc(table)))
      val r = tr.span("format.actions.rewrite_data_files")(actions.rewriteDataFiles())
      tr.count("format.actions.rewrite_data_files.files_in", r.rewrittenFiles)
      tr.count("format.actions.rewrite_data_files.files_out", r.addedFiles)
      val ex = tr.span("format.actions.expire_snapshots")(
        actions.expireSnapshots(System.currentTimeMillis(), retainLast = 1))
      tr.count("format.actions.expire_snapshots.files_in", ex.expiredSnapshots)
      tr.count("format.actions.expire_snapshots.files_out", ex.deletedFiles)
    }
    0L
  })

  def storage(): (Long, Long) = {
    val rows = Seq("grams", "sigs").map(t =>
      GraftTable.load(spark, loc(t)).newScan().planFiles().tasks.map(_.file.recordCount).sum).sum
    (Bench.treeBytes(s"$dir/wh"), rows)
  }
}

object DedupStore {
  val CorpusDocs = 3000L
  val IncrementDocs = 100
  val Planted = 8
  /** Increments generated; a run stops at its time limit long before. */
  val Increments = 200
  val Words = 30
  val Vocabulary = 5000
  val N = 3
  val Bands = 32
  val Rows = 2
  val Threshold = 0.5
  val CompactEvery = 3
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
}
