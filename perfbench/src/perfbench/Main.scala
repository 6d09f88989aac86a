package perfbench

import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One operation of a workload's fixed sequence. `run` returns the number
  * of user rows it committed and throws on an exception or a wrong answer. */
final case class Op(kind: String, cls: String, run: Tracing => Long)

/** A workload: seeded inputs, tables built from them, and a closed-loop
  * operation sequence fixed by the seed. */
trait Workload {
  /** Generate the inputs and build the tables under `dir`; returns
    * (generate seconds, table build seconds). */
  def setup(dir: String): (Double, Double)
  /** Input sizes, and their relation to the program's cache sizes. */
  def inputs: Map[String, Any]
  /** Cycles run, untraced, before timing starts: they fill caches, compile
    * code and compute the expected answers. */
  def warmupCycles: Int
  /** The operations of cycle `i`. */
  def cycle(i: Int): Seq[Op]
  /** Tables whose bytes and live rows make `stored_bytes_per_row`. */
  def storage(): (Long, Long)
  /** Counters taken once at the end of the run. */
  def finish(tr: Tracing): Unit = ()
}

/** Entry point of one benchmark run:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE`.
  * Writes every operation, span and counter as JSON to FILE; run.py turns
  * that into the metrics. Exits 3 if a warm-up operation fails. */
object Main {
  /** Set-up repetitions per run; `setup_s` reports their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val t0 = System.nanoTime()
    val spark = Bench.session(cores, s"$work/spark-local")
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1).count()
    val sparkStart = (System.nanoTime() - t0) / 1e9

    val factory = Workloads.byName(workload)
    val reps = (0 until SetupReps).map { rep =>
      val dir = s"$work/rep$rep"
      val w = factory(spark, seed, s"b$rep")
      val (gen, build) = w.setup(dir)
      (w, dir, gen, build)
    }
    // only the last set-up serves the measured loop
    reps.init.foreach { case (_, dir, _, _) => Bench.deleteTree(dir) }
    val w = reps.last._1

    val rec = new Recorder
    val tr = new Tracing(spark, rec)
    for (c <- 0 until w.warmupCycles; op <- w.cycle(c)) {
      try op.run(tr)
      catch {
        case e: Throwable =>
          System.err.println(s"warm-up operation ${op.kind} failed: $e")
          e.printStackTrace()
          sys.exit(3)
      }
    }

    if (trace) tr.install()
    val gcBefore = gcMillis()
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val start = System.nanoTime()
    rec.base = start
    val deadline = start + (seconds * 1e9).toLong
    var c = w.warmupCycles
    var id = 0
    // whole cycles only, so every run holds the workload's operation mix in
    // the same proportions: a run measures until the first cycle boundary
    // after the deadline
    while (System.nanoTime() < deadline) {
      for (op <- w.cycle(c)) {
        // a traced run alternates traced and untraced operations of each
        // kind, so their difference is the tracing overhead
        val traced = trace && seen(op.kind) % 2 == 0
        seen(op.kind) += 1
        val r = runOp(tr, rec, id, op, traced, start)
        if (!r.ok) System.err.println(s"operation $id ${op.kind} failed: ${r.error}")
        id += 1
      }
      c += 1
    }
    val gcLoop = gcMillis() - gcBefore

    if (trace) {
      tr.exec.drain(spark)
      execCounters(rec, tr.exec)
    }
    val (bytes, liveRows) = w.storage()
    rec.on = trace
    rec.op = -1
    w.finish(tr)
    rec.on = false
    val heapMb = heapAfterGc()

    val out = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "setup" -> Map(
        "spark_start_s" -> sparkStart,
        "generate_s" -> reps.map(_._3), "table_build_s" -> reps.map(_._4)),
      "inputs" -> w.inputs,
      "cycles" -> (c - w.warmupCycles),
      "stored_bytes" -> bytes, "live_rows" -> liveRows,
      "retained_heap_mb" -> heapMb, "driver_gc_ms" -> gcLoop,
      "ops" -> rec.ops, "spans" -> rec.spans, "counters" -> rec.counters)
    Files.writeString(Paths.get(opts("out")), Json.write(out))
    spark.stop()
  }

  /** Runs one measured operation. An exception or a wrong answer makes it
    * a failed operation; it is recorded, never swallowed. */
  def runOp(tr: Tracing, rec: Recorder, id: Int, op: Op, traced: Boolean, start: Long): OpRecord = {
    tr.begin(id, traced)
    val a = System.nanoTime()
    val (ok, err, rows) =
      try { val r = op.run(tr); (true, "", r) }
      catch { case e: Throwable => (false, e.toString, 0L) }
    val b = System.nanoTime()
    tr.end()
    val r = OpRecord(id, op.kind, op.cls, a - start, b - start, ok, err, traced, rows)
    rec.ops += r
    r
  }

  private def execCounters(rec: Recorder, l: ExecListener): Unit =
    for ((op, st) <- l.byOp) {
      def put(n: String, v: Double) = rec.counters += Counter(op, n, v)
      put("spark.exec.jobs", st.jobs)
      put("spark.exec.stages", st.stages.size)
      put("spark.exec.tasks", st.taskMs.size)
      put("spark.exec.task_ms", st.taskMs.sum)
      put("spark.exec.cpu_ms", st.cpuMs)
      put("spark.exec.gc_ms", st.gcMs)
      put("spark.exec.deser_ms", st.deserMs)
      put("spark.exec.input_rows", st.inputRows.toDouble)
      put("spark.exec.input_bytes", st.inputBytes.toDouble)
      put("spark.exec.shuffle_write_bytes", st.shuffleWrite.toDouble)
      put("spark.exec.shuffle_read_bytes", st.shuffleRead.toDouble)
      put("spark.exec.spill_bytes", st.spill.toDouble)
      put("spark.exec.peak_exec_mem_mb", st.peakExecMem / 1048576.0)
      if (st.taskMs.nonEmpty) {
        val sorted = st.taskMs.sorted
        val med = sorted(sorted.size / 2)
        put("spark.exec.task_max_over_median", if (med > 0) sorted.last / med else 1.0)
      }
    }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use after full collections. Spark's ContextCleaner drops
    * broadcast and shuffle blocks only after a collection finds them
    * unreachable, so collections alternate with pauses for it. */
  private def heapAfterGc(): Double = {
    (0 until 4).foreach { _ => System.gc(); Thread.sleep(250) }
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }
}

/** Session and file helpers shared by the workloads. */
object Bench {
  def session(cores: Int, localDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.connector.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      // Spark's status store keeps this much history of finished jobs; kept
      // small so the retained heap measures the program, not the history
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()

  def catalog(spark: SparkSession, name: String, warehouse: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", "graft.connector.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
  }
}
