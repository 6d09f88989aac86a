package perfbench

import org.apache.spark.sql.Row

/** Checks of the benchmark itself, run by tests/test_jvm.py:
  * `perfbench.SelfTest DIR`. Prints one `ok NAME` or `FAIL NAME: why` line
  * per check and exits 1 if any failed. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Bench.session(2, s"$dir/spark-local")
    spark.sparkContext.setLogLevel("ERROR")
    var failed = false
    def check(name: String)(f: => Unit): Unit =
      try { f; println(s"ok $name") }
      catch { case e: Throwable => failed = true; println(s"FAIL $name: $e") }
    def expect(cond: Boolean, why: => String): Unit = if (!cond) throw new AssertionError(why)

    check("same seed gives identical generated inputs") {
      def dedup(seed: Long) = {
        val w = new DedupStore(spark, seed, "x")
        ((0L until 3200L).map(w.text), (0 until 3).map(w.plantedPairs))
      }
      expect(dedup(7) == dedup(7), "dedup_store documents differ for one seed")
      expect(dedup(7) != dedup(8), "dedup_store documents equal for two seeds")
      expect(dedup(7)._2.forall(_.size == DedupStore.Planted), "planted pair count")
      expect(new Gen(7).shuffle(1, 0 until 50) == new Gen(7).shuffle(1, 0 until 50), "shuffle")
    }

    check("same seed gives identical workload inputs and counts") {
      def built(seed: Long) = {
        val w = new IngestMaintain(spark, seed, s"c$seed")
        val d = s"$dir/ingest-$seed-${System.nanoTime()}"
        w.setup(d)
        val r = (Gen.digest(spark.read.parquet(s"$d/staging/events")), w.storage()._2)
        Bench.deleteTree(d)
        r
      }
      expect(built(7) == built(7), "ingest_maintain inputs differ for one seed")
      expect(built(7) != built(8), "ingest_maintain inputs equal for two seeds")
    }

    val rec = new Recorder
    val tr = new Tracing(spark, rec)
    val rows = Seq(Row("a", 1L, 2.0), Row("b", 3L, 4.0))
    check("a dropped row is a failed operation") {
      val r = Main.runOp(tr, rec, 0, Op("drop", "read", _ => {
        Check.rows("drop", rows.tail, rows); 0L }), traced = false, start = 0L)
      expect(!r.ok && r.error.contains("WrongAnswer"), s"not counted as failed: $r")
    }
    check("a missing planted pair is a failed operation") {
      val r = Main.runOp(tr, rec, 1, Op("pairs", "read", _ => {
        Check.pairs("pairs", Set((1L, 2L)), Set((1L, 2L), (3L, 4L))); 0L }), traced = false, start = 0L)
      expect(!r.ok && r.error.contains("missed 1 of 2"), s"not counted as failed: $r")
    }
    check("an unplanted pair is a failed operation") {
      val r = Main.runOp(tr, rec, 2, Op("pairs", "read", _ => {
        Check.pairs("pairs", Set((1L, 2L), (5L, 6L)), Set((1L, 2L))); 0L }), traced = false, start = 0L)
      expect(!r.ok, s"not counted as failed: $r")
    }
    check("a correct answer passes, doubles compared with tolerance") {
      val r = Main.runOp(tr, rec, 3, Op("same", "read", _ => {
        Check.rows("same", Seq(Row("b", 3L, 4.0 + 1e-12), Row("a", 1L, 2.0)), rows); 0L }),
        traced = false, start = 0L)
      expect(r.ok, s"correct answer failed: $r")
    }
    check("an exception is a failed operation") {
      val r = Main.runOp(tr, rec, 4, Op("boom", "commit", _ => sys.error("boom")),
        traced = false, start = 0L)
      expect(!r.ok && r.error.contains("boom"), s"not counted as failed: $r")
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
