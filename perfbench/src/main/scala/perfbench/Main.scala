package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.Tables

/** The benchmark's JVM entry point (`run.py` builds and launches it):
  *
  * {{{
  * perfbench.Main --workload backfill|steady|query_sweep --seed N
  *   --seconds S --trace 0|1 [--root DIR] [--bench DIR]
  * }}}
  *
  * Prints one JSON object as the last stdout line: the end-to-end
  * metrics with tracing off, the per-layer metrics with it on, by the
  * names and units `BENCHMARK.json` gives them. Exits 1
  * when any operation failed or an output check did not hold. */
object Main {

  /** (name, unit) of the end-to-end and the per-layer metrics, in the
    * order `BENCHMARK.json` at the checkout root lists them. */
  final case class Metrics(endToEnd: Seq[(String, String)], perLayer: Seq[(String, String)])

  def readMetrics(root: Path): Metrics = {
    val tree = new ObjectMapper().readTree(root.resolve("BENCHMARK.json").toFile)
    def list(key: String) = tree.get(key).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    Metrics(list("end_to_end"), list("per_layer"))
  }

  val Workloads = Seq("backfill", "steady", "query_sweep")

  private def fail(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", fail("--workload is required"))
    if (!Workloads.contains(workload)) fail(s"unknown workload '$workload' (${Workloads.mkString(", ")})")
    val seed = opts.get("seed").flatMap(_.toLongOption).getOrElse(fail("--seed N is required"))
    val seconds = opts.get("seconds").flatMap(_.toIntOption).filter(_ > 0).getOrElse(fail("--seconds S is required"))
    val trace = opts.get("trace") match {
      case Some("0") | None => false
      case Some("1") => true
      case Some(x) => fail(s"--trace must be 0 or 1, got $x")
    }
    val root = Paths.get(opts.getOrElse("root", ".")).toAbsolutePath.normalize
    val declared = try readMetrics(root) catch {
      case e: Exception => fail(s"cannot read the metric list from ${root.resolve("BENCHMARK.json")}: $e")
    }
    val benchDir = Paths.get(opts.getOrElse("bench", "perfbench"))
    val work = root.resolve(benchDir).resolve(s".work/run-${ProcessHandle.current().pid()}")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors

    Trace.enabled = trace
    // the JDK server writes headers and body separately; without
    // TCP_NODELAY every response waits out a delayed ACK (~40 ms)
    System.setProperty("sun.net.httpserver.nodelay", "true")
    if (trace) System.setProperty("spark.callstack.depth", "200")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.configure(spark)
    val probe = if (trace) Some(new LayerProbe(spark)) else None

    val ctx = Ctx(spark, root, work, seed, seconds, cpus)
    var exit = 1
    try {
      val w = workload match {
        case "backfill" => new Backfill(ctx)
        case "steady" => new Steady(ctx)
        case _ => new QuerySweep(ctx, benchDir, probe)
      }
      try {
        Workload.log(s"$workload: session up")
        w.setup()
        val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - w.inputPrepS
        Workload.log(f"$workload: set-up done ($setupS%.2f s since JVM start)")
        val t0 = System.nanoTime()
        val window = new Window(() => probe.foreach(_.start()), () => probe.foreach(_.stop()))
        val out = w.run(window)
        val p50 = Stats.percentile(out.latencies, 0.5)
        val p90 = Stats.percentile(out.latencies, 0.9)
        val unsupported = Seq(p50, p90).count(_.isEmpty)
        if (unsupported > 0)
          System.err.println(s"perfbench: ${out.latencies.size} latency samples do not support p50/p90")
        val failed = out.failed + unsupported
        val e2e = Map("setup_s" -> setupS, "throughput_per_s" -> out.throughputPerS,
          "latency_p50_s" -> p50.getOrElse(0.0), "latency_p90_s" -> p90.getOrElse(0.0))
        val undefined = declared.endToEnd.map(_._1).filterNot(e2e.contains)
        if (undefined.nonEmpty) throw new IllegalStateException(
          s"BENCHMARK.json names end-to-end metrics this benchmark does not measure: ${undefined.mkString(", ")}")
        val layers0 = out.layers.toMap
        val layers = layers0 ++
          probe.map(_.readings(layers0.getOrElse("state.commits", 0.0).toLong,
            layers0.getOrElse("workload.docs", 0.0).toLong)).getOrElse(Map.empty) +
          ("latency.samples" -> out.latencies.size.toDouble) + ("workload.window_s" -> window.seconds)
        val metrics =
          if (trace) declared.perLayer.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
          else declared.endToEnd.map { case (n, u) => (n, e2e(n), u) }
        val correct = out.correct && failed == 0

        val tag = s"$workload-s$seed-t${if (trace) 1 else 0}"
        val results = root.resolve(benchDir).resolve(".work/results")
        Files.createDirectories(results)
        Files.write(results.resolve(s"$tag.json"), (obj(Seq(
          "workload" -> Json.str(workload), "seed" -> seed.toString, "seconds" -> seconds.toString,
          "trace" -> trace.toString, "correct" -> correct.toString,
          "attempted" -> out.attempted.toString, "failed" -> failed.toString,
          "run_s" -> Json.num((System.nanoTime() - t0) / 1e9),
          "end_to_end" -> obj(e2e.toSeq.sortBy(_._1).map { case (n, v) => n -> Json.num(v) }),
          "layers" -> obj(layers.toSeq.sortBy(_._1).map { case (n, v) => n -> Json.num(v) }),
          "query_rows" -> obj(out.queryRows.toSeq.sortBy(_._1).map { case (k, n) => k -> n.toString }))) + "\n")
          .getBytes(StandardCharsets.UTF_8))
        if (trace) Trace.writeSpans(root.resolve(benchDir).resolve(s".work/traces/$tag.jsonl"), t0)

        println(obj(Seq("correct" -> correct.toString, "attempted" -> out.attempted.toString,
          "failed" -> failed.toString, "metrics" -> obj(metrics.map { case (n, v, u) =>
            n -> obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
          }))))
        exit = if (correct) 0 else 1
        Workload.log(s"$workload: measured and checked")
      } finally { w.close(); Workload.log("closed") }
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: $workload failed: $e")
        e.printStackTrace()
    } finally {
      spark.stop()
      // the run's state stays under `work` for inspection: deleting a
      // steady run's ~1,300 files costs about 9 s on a disk mounted with
      // `discard`, a fifth of the run
      Workload.log(s"$workload: stopped")
    }
    System.out.flush()
    sys.exit(exit)
  }

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
}
