package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one call into a layer, recorded from the benchmark's side of
  * the call. Spans of one iteration or query key share `group`. */
final case class Span(id: Long, parent: Long, group: String, name: String,
    startNs: Long, endNs: Long)

/** Spans and counters of one run. Everything is process-global because
  * the fetchers the benchmark hands the engine are serialized into
  * Spark tasks: in local mode the task copies run in this JVM and
  * report here through the object, not through a captured instance.
  *
  * With tracing off, only the counters the end-to-end metrics need are
  * kept; spans, listeners and the counting file system stay out. */
object Trace {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  /** Run `body` as a span named `name` in `group`, nested under the
    * calling thread's open span. */
  def span[T](name: String, group: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, group, name, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  /** A span whose interval was measured elsewhere (e.g. on a task thread). */
  def record(name: String, group: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), 0L, group, name, startNs, endNs))

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Write the spans as JSON lines. */
  def writeSpans(path: java.nio.file.Path, originNs: Long): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try allSpans.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"group":${Json.str(s.group)},""" +
        s""""name":${Json.str(s.name)},"start_s":${(s.startNs - originNs) / 1e9},""" +
        s""""end_s":${(s.endNs - originNs) / 1e9}}""")
      w.newLine()
    } finally w.close()
  }

  /** Busy seconds and call counts at the boundaries the benchmark owns. */
  final class Counter {
    val calls = new LongAdder
    val nanos = new LongAdder
    val failed = new LongAdder
    def add(ns: Long, ok: Boolean): Unit = {
      calls.increment(); nanos.add(ns); if (!ok) failed.increment()
    }
    def seconds: Double = nanos.sum() / 1e9
    def reset(): Unit = { calls.reset(); nanos.reset(); failed.reset() }
  }
}

/** Task-level executor time, task counts, and Spark jobs attributed to
  * the state table whose call started them (read from the job's call
  * site, which Spark records with the user frames that submitted it). */
final class TaskListener extends SparkListener {
  val tasks = new LongAdder
  val runMs = new LongAdder
  val cpuNs = new LongAdder
  val gcMs = new LongAdder
  val jobsByTable = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = ev.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime); cpuNs.add(m.executorCpuTime); gcMs.add(m.jvmGCTime)
    }
  }

  /** SQL executions keyed by id, with the table their call site names:
    * a query's jobs may be submitted from Spark's own threads (adaptive
    * stages, broadcasts), whose call sites carry no caller frames, but
    * they all carry the execution id. */
  private val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
    case e: SparkListenerSQLExecutionStart =>
      executions.put(e.executionId, TaskListener.tableOf(e.details)); ()
    case _ => ()
  }

  override def onJobStart(ev: SparkListenerJobStart): Unit = {
    val props = Option(ev.properties)
    val table = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executions.get(id.toLong)))
      .getOrElse(TaskListener.tableOf(ev.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")))
    jobsByTable.computeIfAbsent(table, _ => new LongAdder).increment()
  }

  def reset(): Unit = {
    tasks.reset(); runMs.reset(); cpuNs.reset(); gcMs.reset(); jobsByTable.clear()
  }
  def jobs(table: String): Long = Option(jobsByTable.get(table)).map(_.sum()).getOrElse(0L)
}

object TaskListener {
  /** The table a job works for, from its call site (innermost frame
    * first). The first pipeline frame names the stage; the state-table
    * call just inside it names the table:
    *  - harvest: `lastRun` and `update` touch the runs checkpoint,
    *    `merge` the headers queue, anything else is page parsing;
    *  - enrichment: `merge` writes reporting, `deleteWhereUnmodified`
    *    and the batch drain touch the headers queue, anything else is
    *    the METS fetch and its counts. */
  def tableOf(callSite: String): String = {
    val frames = callSite.split('\n').map(_.trim).filter(_.nonEmpty).toSeq
    val i = frames.indexWhere(f => f.contains("graft.pipeline.HarvestPipeline.") ||
      f.contains("graft.pipeline.EnrichmentPipeline."))
    if (i < 0) "other"
    else {
      val inner = frames.take(i)
      def calls(m: String) = inner.exists(f => f.contains("StateTable") && f.contains(m))
      val f = frames(i)
      if (f.contains("HarvestPipeline.")) {
        if (f.contains(".lastRun") || calls("update")) "runs"
        else if (calls("merge")) "headers"
        else "page"
      } else {
        if (calls("deleteWhereUnmodified") || f.contains("readBatchWithRetry")) "headers"
        else if (calls("merge")) "reporting"
        else "fetch"
      }
    }
  }
  val Tables: Seq[String] = Seq("headers", "runs", "reporting", "page", "fetch", "other")
}

/** Catalyst phase time of every action, from `tracker.phases`. */
final class PhaseListener extends QueryExecutionListener {
  val analysisMs = new LongAdder
  val optimizationMs = new LongAdder
  val planningMs = new LongAdder
  val actions = new LongAdder
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  private def add(qe: QueryExecution): Unit = {
    actions.increment()
    val ph = qe.tracker.phases
    ph.get("analysis").foreach(p => analysisMs.add(p.durationMs))
    ph.get("optimization").foreach(p => optimizationMs.add(p.durationMs))
    ph.get("planning").foreach(p => planningMs.add(p.durationMs))
  }
  def reset(): Unit = {
    analysisMs.reset(); optimizationMs.reset(); planningMs.reset(); actions.reset()
  }
}

/** The local file system with operation counts, installed as the
  * `file:` implementation for traced runs only. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.increment(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.increment()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writes.increment(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.increment()
    if (f.getParent != null && f.getParent.getName == "_commits" && WithdrawnManifest.matches(f.getName))
      publishRetries.increment()
    super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { writes.increment(); super.mkdirs(f, permission) }
  override def listStatus(f: Path): Array[FileStatus] = { lists.increment(); super.listStatus(f) }
}

object CountingLocalFileSystem {
  val reads = new LongAdder
  val writes = new LongAdder
  val lists = new LongAdder
  /** Manifest publishes a bucketed table refused or withdrawn because
    * another writer committed first: it deletes its staged
    * `_commits/.c<id>.txt.tmp`, or its just-renamed `c<id>.txt`, and then
    * rebases or retries the mutation. Pruning deletes manifests too, but
    * only once they are older than the table's retention floor (10 min),
    * which no run reaches. */
  val publishRetries = new LongAdder
  private val WithdrawnManifest = "\\.?c\\d+\\.txt(\\.tmp)?".r
  def reset(): Unit = { reads.reset(); writes.reset(); lists.reset(); publishRetries.reset() }
  /** Bytes written through Hadoop's `file:` statistics. */
  def bytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
}

/** Spark-, JVM- and file-system-level readings over the measured
  * window: `start()` after set-up, `stop()` before the output checks,
  * so the checks' own Spark jobs stay out. Only used when tracing. */
final class LayerProbe(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val bench: graft.BenchMetrics = graft.BenchMetrics.install(sc)
  private val tasks = new TaskListener
  private val phases = new PhaseListener
  sc.addSparkListener(tasks)
  spark.listenerManager.register(phases)

  private var gcMs0 = 0L
  private var compileNs0 = 0L
  private var compiles0 = 0L
  private var bytes0 = 0L
  private var frozen: Option[Map[String, Double]] = None

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** `BenchMetrics.snapshot` drains the listener bus first, so every
    * listener here has seen all events posted before it returns. */
  private def drain(): graft.BenchMetrics.Snapshot = bench.snapshot(sc)

  def start(): Unit = {
    drain()
    bench.reset(); tasks.reset(); phases.reset(); CountingLocalFileSystem.reset()
    gcMs0 = gcMs; compileNs0 = compileNs; compiles0 = compiles
    bytes0 = CountingLocalFileSystem.bytesWritten
    frozen = None
  }

  /** Codegen compiles and seconds since `start()`. */
  def codegen: (Long, Double) = (compiles - compiles0, (compileNs - compileNs0) / 1e9)

  /** Freeze the window's readings; later calls keep the first. */
  def stop(): Unit = if (frozen.isEmpty) {
    val snap = drain()
    val (nCompiles, compileS) = codegen
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    frozen = Some(Map(
      "spark.jobs" -> snap.jobs.toDouble,
      "spark.stages" -> snap.stages.toDouble,
      "spark.tasks" -> tasks.tasks.sum().toDouble,
      "exec.run_s" -> tasks.runMs.sum() / 1e3,
      "exec.cpu_s" -> tasks.cpuNs.sum() / 1e9,
      "exec.gc_s" -> tasks.gcMs.sum() / 1e3,
      "shuffle.bytes" -> (snap.shuffleReadBytes + snap.shuffleWriteBytes).toDouble,
      "spill.bytes" -> (snap.memorySpillBytes + snap.diskSpillBytes).toDouble,
      "input.bytes" -> snap.inputBytes.toDouble,
      "catalyst.analysis_s" -> phases.analysisMs.sum() / 1e3,
      "catalyst.optimization_s" -> phases.optimizationMs.sum() / 1e3,
      "catalyst.planning_s" -> phases.planningMs.sum() / 1e3,
      "codegen.compiles" -> nCompiles.toDouble,
      "codegen.compile_s" -> compileS,
      "fs.bytes_written" -> (CountingLocalFileSystem.bytesWritten - bytes0).toDouble,
      "fs.write_ops" -> CountingLocalFileSystem.writes.sum().toDouble,
      "fs.read_ops" -> CountingLocalFileSystem.reads.sum().toDouble,
      "fs.list_ops" -> CountingLocalFileSystem.lists.sum().toDouble,
      "state.publish_retries" -> CountingLocalFileSystem.publishRetries.sum().toDouble,
      "jvm.heap_peak_mb" -> heapPeak / 1048576.0,
      "jvm.gc_s" -> (gcMs - gcMs0) / 1e3) ++
      TaskListener.Tables.map(t => s"spark.jobs.$t" -> tasks.jobs(t).toDouble))
  }

  /** The frozen readings, with the ratios over the workload's own
    * counts of commits and documents. */
  def readings(commits: Long, docs: Long): Map[String, Double] = {
    stop()
    val r = frozen.get
    r ++ Map(
      "spark.jobs_per_commit" -> (if (commits > 0) r("spark.jobs") / commits else 0.0),
      "fs.bytes_written_per_doc" -> (if (docs > 0) r("fs.bytes_written") / docs else 0.0))
  }
}

/** Minimal JSON string quoting for the benchmark's own output. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}
