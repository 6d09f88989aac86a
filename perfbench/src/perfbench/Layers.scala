package perfbench

import graft.format.{CommitEvent, Listeners, ScanEvent}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

/** Task metrics of one operation's Spark jobs. */
final class ExecStats {
  var jobs = 0
  val stages = mutable.Set.empty[Int]
  val taskMs = mutable.ArrayBuffer.empty[Double]
  var cpuMs, gcMs, deserMs = 0.0
  var inputRows, inputBytes, shuffleWrite, shuffleRead, spill = 0L
  var peakExecMem = 0L
}

/** Listens to Spark's scheduler events and attributes them to benchmark
  * operations through the job group the benchmark sets before each traced
  * operation. The bus is asynchronous, so results are read only after
  * [[drain]]. */
final class ExecListener extends SparkListener {
  private val stageOp = mutable.Map.empty[Int, Int]
  val byOp = mutable.Map.empty[Int, ExecStats]

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracing.GroupPrefix))
      .map(_.stripPrefix(Tracing.GroupPrefix).toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      val st = byOp.getOrElseUpdate(op, new ExecStats)
      st.jobs += 1
      e.stageIds.foreach(s => stageOp(s) = op)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val st = byOp(op)
      st.stages += e.stageId
      st.taskMs += m.executorRunTime.toDouble
      st.cpuMs += m.executorCpuTime / 1e6
      st.gcMs += m.jvmGCTime.toDouble
      st.deserMs += m.executorDeserializeTime.toDouble
      st.inputRows += m.inputMetrics.recordsRead
      st.inputBytes += m.inputMetrics.bytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.peakExecMem = math.max(st.peakExecMem, m.peakExecutionMemory)
    }
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfBenchShim.waitForListeners(spark.sparkContext)
}

/** The benchmark's side of every layer boundary: spans around its calls
  * into the program, plus counts from ScanEvent, CommitEvent, Spark's
  * scheduler listener and codegen counters. With tracing off every helper
  * is a plain call. */
final class Tracing(val spark: SparkSession, val rec: Recorder) {
  val exec = new ExecListener
  private val scanEvents = mutable.ArrayBuffer.empty[ScanEvent]
  private val commitEvents = mutable.ArrayBuffer.empty[CommitEvent]
  private val onScan: ScanEvent => Unit = e => scanEvents.synchronized(scanEvents += e)
  private val onCommit: CommitEvent => Unit = e => commitEvents.synchronized(commitEvents += e)
  private var codegenAt = (0L, 0L)
  private var beganMillis = 0L

  def install(): Unit = spark.sparkContext.addSparkListener(exec)

  def span[A](name: String)(f: => A): A = rec.span(name)(f)
  def count(name: String, v: Double): Unit = rec.count(name, v)

  /** Start attributing events to operation `op`. */
  def begin(op: Int, traced: Boolean): Unit = {
    rec.op = op
    rec.on = traced
    if (traced) {
      spark.sparkContext.setJobGroup(Tracing.GroupPrefix + op, "perfbench", false)
      scanEvents.clear(); commitEvents.clear()
      Listeners.register(onScan)
      Listeners.registerCommit(onCommit)
      codegenAt = Tracing.codegenNow
      beganMillis = System.currentTimeMillis()
    }
  }

  /** Stop attributing; turn the operation's events into counters. */
  def end(): Unit = {
    if (rec.on) {
      Listeners.unregister(onScan)
      Listeners.unregisterCommit(onCommit)
      spark.sparkContext.clearJobGroup()
      val (c1, t1) = Tracing.codegenNow
      count("spark.codegen.classes", (c1 - codegenAt._1).toDouble)
      count("spark.codegen.compile_ms", (t1 - codegenAt._2) / 1e6)
      val scans = scanEvents.synchronized(scanEvents.toList)
      count("format.plan.scan_events", scans.size.toDouble)
      scans.foreach { e =>
        count("format.plan.manifests_total", e.manifestsTotal.toDouble)
        count("format.plan.manifests_scanned", e.manifestsScanned.toDouble)
        count("format.plan.files_total", e.filesTotal.toDouble)
        count("format.plan.files_scanned", e.filesScanned.toDouble)
      }
      val commits = commitEvents.synchronized(commitEvents.toList)
      count("format.commit.manifest_bytes",
        commits.map(_.tableLocation).distinct.map(manifestBytesSince).sum.toDouble)
      commits.foreach { e =>
        def n(k: String) = e.summary.get(k).map(_.toDouble).getOrElse(0.0)
        count("format.commit.snapshots", 1)
        count("format.commit.total_manifests", n("total-manifests"))
        count("format.commit.added_delete_files", n("delete-files"))
        count("format.commit.removed_data_files", n("rewritten-files"))
        count("format.commit.added_records", n("added-records"))
      }
    }
    rec.on = false
    rec.op = -1
  }

  /** Bytes of the manifests written under a table since the operation began. */
  private def manifestBytesSince(location: String): Long = {
    val dir = new java.io.File(new java.net.URI(
      if (location.contains(":")) location else "file:" + location).getPath, "metadata")
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("manifest-") && f.lastModified() >= beganMillis - 1)
      .map(_.length).sum
  }

  /** SQL text → rows. Tracing splits the Catalyst phases: parsing and
    * analysis (which loads the table through GraftCatalog) happen inside
    * `spark.sql`, then the optimized and physical plans are forced before
    * the collect. */
  def sql(text: String): Array[Row] =
    collect(span("connector.analyze")(spark.sql(text)))

  /** A SQL command (INSERT, MERGE, DELETE). Spark runs commands eagerly
    * inside `spark.sql`, so the whole statement is one execution span;
    * its commit is counted from the CommitEvent. */
  def command(text: String): Unit = span("spark.exec")(spark.sql(text).collect())

  /** A DataFrame built by the library route (`TableScan.toDF` plus the
    * DataFrame operators on top of it). */
  def library(build: => DataFrame): Array[Row] =
    collect(span("format.plan.to_df")(build))

  def collect(df: DataFrame): Array[Row] =
    if (!rec.on) df.collect()
    else {
      val qe = df.queryExecution
      span("connector.optimize")(qe.optimizedPlan)
      span("connector.physical_plan")(qe.executedPlan)
      val rows = span("spark.exec")(df.collect())
      count("spark.exec.rows_out", rows.length.toDouble)
      rows
    }
}

object Tracing {
  val GroupPrefix = "perfbench-op-"

  /** (classes compiled, nanoseconds compiling) by Spark's code generator
    * so far in this JVM. */
  def codegenNow: (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}
