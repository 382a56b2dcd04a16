package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.pipeline.{BucketedStateTable, ParquetStateTable, StateTable}

/** What a workload run is given. `root` is the checkout the engine was
  * built from; `work` is this run's scratch directory inside it. */
final case class Ctx(spark: SparkSession, root: Path, work: Path, seed: Long,
    seconds: Int, cpus: Int)

/** What a workload run reports. `latencies` are the per-operation
  * samples behind the latency percentiles; `layers` are the per-layer
  * readings the workload itself takes (the rest come from [[LayerProbe]]);
  * `queryRows` are the row counts each query key returned. */
final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
    throughputPerS: Double, latencies: Seq[Double], layers: Seq[(String, Double)],
    queryRows: Map[String, Long] = Map.empty)

/** The edges of the measured window. A workload calls `start()` when
  * its set-up is over and `stop()` before its output checks; the layer
  * probe, when tracing, reads between the two. */
final class Window(onStart: () => Unit, onStop: () => Unit) {
  private var startNs = 0L
  private var stopNs = 0L
  def start(): Unit = { onStart(); startNs = System.nanoTime() }
  def stop(): Unit = if (stopNs == 0L) { stopNs = System.nanoTime(); onStop() }
  def seconds: Double = ((if (stopNs == 0L) System.nanoTime() else stopNs) - startNs) / 1e9
}

trait Workload {
  /** Everything that precedes the measured window. */
  def setup(): Unit
  /** Seconds of `setup()` spent preparing inputs rather than running the
    * engine; left out of `setup_s`. */
  def inputPrepS: Double = 0.0
  /** The measured window, then the output checks. */
  def run(window: Window): Outcome
  def close(): Unit
}

object Workload {
  private val t0 = System.nanoTime()
  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  /** Bytes under `dir`. */
  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** The newest commit id of a state table (0 before its first commit). */
  def commitId(t: StateTable): Long = t match {
    case b: BucketedStateTable => b.commits().lastOption.getOrElse(0L)
    case p: ParquetStateTable => p.latestVersion.getOrElse(0L)
    case _ => 0L
  }

  /** Buckets written by the commits of the bucketed table at `path`
    * after commit `fromId`. A commit wrote a bucket when its snapshot
    * points the bucket at another data directory than the snapshot
    * before it. Read from the manifests after the run: a table keeps
    * every manifest younger than its retention floor (10 minutes), so a
    * run's commits are all still there. */
  def bucketsWritten(spark: SparkSession, path: String, fromId: Long): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ids = BucketedStateTable.snapshotCommits(conf, path)
    def paths(id: Long) = BucketedStateTable.snapshotPaths(conf, path, Some(id)).toSet
    ids.filter(_ > fromId).foldLeft((if (ids.contains(fromId)) paths(fromId) else Set.empty[String], 0L)) {
      case ((prev, n), id) => val cur = paths(id); (cur, n + (cur -- prev).size)
    }._2
  }

  def delete(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
}
