package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.pipeline.{DocumentFetcher, OaiHeaderFilters, PageFetcher, ReportingConfig, ReportingRunner}

/** `steady`: open loop. A publisher thread releases records upstream on
  * a seeded schedule while `ReportingRunner.start()` runs both loops as
  * deployed at the 1 s poll floors, over a reporting table pre-seeded
  * far larger than the arrivals, in the bucketed layout. A publish's
  * freshness runs from when it was due to the end of the enrichment
  * commit that served its METS version (observed at the sleeper the
  * loop enters right after `runOnce`). After the arrival window the run
  * drains until every publish is visible, or until [[DrainTimeoutS]]. */
final class Steady(ctx: Ctx) extends Workload {
  import Steady._

  private val templates = new MetsTemplates(ctx.root.resolve("src/test/resources/mets"))
  private val repo = new Repository(templates, pageSize = 100)
  private val server = new UpstreamServer(repo, ctx.cpus)
  private val rnd = new scala.util.Random(ctx.seed)
  private val stateRoot = ctx.work.resolve("state-steady")
  private val config = ReportingConfig.fromMap(Map(
    "oai.url" -> server.oaiUrl, "mets.url" -> server.metsUrl,
    "oai.pollseconds" -> "1", "mets.pollseconds" -> "1",
    "mets.interrequestmillis" -> "0", "state.bucketed" -> "true",
    "state.buckets" -> StateBuckets.toString))
  private val pages: PageFetcher = new TimedPageFetcher(PageFetcher.http())
  private val docs: DocumentFetcher = new TimedDocFetcher(DocumentFetcher.mets(server.metsUrl))
  private val runner = new ReportingRunner(ctx.spark, config, stateRoot.toString, pages, docs,
    headerFilter = OaiHeaderFilters("qucosa"), batchSize = 100, sleeper = LoopSeams.sleeper)

  /** Rows pre-seeded into the reporting table, by record id. */
  private val seeded = mutable.LinkedHashMap.empty[String, ExpectedRow]

  private val waiting = new ConcurrentHashMap[String, Vector[Publish]]()
  private val freshness = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())
  @volatile private var lateMaxMs = 0L
  private var threads: (Thread, Thread) = _
  private var nextId = 0

  @volatile private var tally: FetchTally = _

  /** One enrichment commit ended: the METS versions it fetched are now
    * visible, and with them every publish of those records up to the
    * version served. A failed cycle made nothing visible. */
  private def enrichEnded(ok: Boolean, endMs: Long): Unit = {
    val fetched = Seams.takeFetched()
    Option(tally).foreach { s =>
      fetched.foreach { case (local, v) =>
        s.fetched(local, v, repo.byLocalId(local).exists(_.kind == Kind.Incomplete))
      }
    }
    if (ok) fetched.foreach { case (local, served) =>
      waiting.computeIfPresent(local, (_, ps) => {
        val (done, rest) = ps.partition(_.v.n <= served)
        done.foreach(p => freshness.add((endMs - p.v.due) / 1e3))
        if (rest.isEmpty) null else rest
      })
      ()
    }
  }

  private def publish(rec: Record, due: Long, r: scala.util.Random): Unit = {
    val at = System.currentTimeMillis()
    lateMaxMs = math.max(lateMaxMs, at - due)
    val v = Repository.version(r, templates, rec.versions.size + 1, due, at)
    if (rec.kind == Kind.Valid)
      waiting.merge(rec.localId, Vector(Publish(rec, v)), (a, b) => a ++ b)
    repo.publish(rec, v)
  }

  private def newRecord(kind: Kind): Record = {
    nextId += 1
    val id =
      if (kind == Kind.NonQucosa) s"oai:example.org:fedora-system:new-$nextId"
      else s"oai:example.org:qucosa:$nextId"
    new Record(id, kind)
  }

  /** An existing valid record: a pre-seeded row or an earlier arrival. */
  private def existing(r: scala.util.Random): Record = {
    val arrived = repo.all.filter(x => x.kind == Kind.Valid && x.versions.nonEmpty)
    if (arrived.nonEmpty && r.nextBoolean()) arrived(r.nextInt(arrived.size))
    else {
      val id = seededIds(r.nextInt(seededIds.size))
      repo.get(id).getOrElse(new Record(id, Kind.Valid))
    }
  }
  private lazy val seededIds = seeded.keys.toVector

  /** Publish `n` records over `windowMs` on a seeded schedule: one slot
    * per record, each at a seeded offset inside its slot. A fixed share
    * re-publishes existing records, at seeded slots after the first; the
    * new records' kinds have fixed shares in a seeded order. */
  private def schedule(n: Int, windowMs: Long, r: scala.util.Random): Unit = {
    val updates = r.shuffle((1 until n).toVector).take(math.round(UpdateShare * n).toInt).toSet
    val kinds = Repository.kinds(r, n - updates.size,
      Seq(Kind.NonQucosa, Kind.Deleted, Kind.Incomplete, Kind.Missing).map(_ -> RejectShare)).iterator
    val start = System.currentTimeMillis()
    val slot = windowMs.toDouble / n
    (0 until n).foreach { i =>
      val due = start + ((i + r.nextDouble()) * slot).toLong
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      publish(if (updates(i)) existing(r) else newRecord(kinds.next()), due, r)
    }
  }

  private def awaitVisible(timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!waiting.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    waiting.isEmpty
  }

  def setup(): Unit = {
    val sr = new scala.util.Random(ctx.seed ^ 0x5eedL)
    val base = java.time.Instant.parse("2019-01-01T00:00:00Z").toEpochMilli
    val rows = (1 to SeedRows).map { i =>
      val v = Repository.version(sr, templates, 0, base, base + i * 1000L)
      val id = s"oai:example.org:qucosa:${SeedIdBase + i}"
      seeded(id) = ExpectedRow(v.mandator, v.docType, v.expectedDate, new Timestamp(v.datestampMs))
      (id, v.mandator, v.docType, v.expectedDate, new Timestamp(v.datestampMs))
    }
    val spark = ctx.spark
    import spark.implicits._
    runner.reportingTable.merge(rows.toDF("record_identifier", "mandator", "document_type",
      "distribution_date", "header_last_modified"), keys = Seq("record_identifier"))

    LoopSeams.onEnrichEnd = enrichEnded
    LoopSeams.start(System.nanoTime())
    threads = runner.start()
    // warm-up: a short burst through both loops, so the measured window
    // starts with caches filled and both loops cycling
    schedule(WarmPublishes, WarmMillis, new scala.util.Random(ctx.seed ^ 0xa11L))
    if (!awaitVisible(DrainTimeoutS * 1000L))
      System.err.println(s"[steady] warm-up left ${waiting.size} records invisible")
    freshness.clear()
    lateMaxMs = 0L
  }

  def run(window: Window): Outcome = {
    window.start()
    Seams.reset()
    val t0 = System.nanoTime()
    LoopSeams.start(t0)
    val commits0 = tableCommits()
    tally = new FetchTally

    schedule(Publishes, ctx.seconds * 1000L, rnd)
    val backlog = waiting.values.asScala.map(_.size).sum
    val lastPublishSec = repo.all.flatMap(_.versions.lastOption).map(_.datestampMs).max
    Workload.log(s"steady: window over, $backlog publishes not yet visible")
    val drained = awaitVisible(DrainTimeoutS * 1000L)
    Workload.log(s"steady: drained=$drained")
    val visibleEnd = System.nanoTime()
    val invisible = waiting.values.asScala.map(_.size).sum
    val quiet = drained && awaitQuiet(lastPublishSec)
    val busyH = LoopSeams.busySeconds(LoopSeams.harvest, System.nanoTime())
    val busyE = LoopSeams.busySeconds(LoopSeams.enrich, System.nanoTime())
    Workload.log(s"steady: quiet=$quiet")
    stopLoops()
    Workload.log("steady: loops stopped")
    window.stop()
    val commits = tableCommits().map { case (k, v) => k -> (v - commits0(k)) }
    val bucketsWritten = Seq("headers", "reporting").map(t =>
      Workload.bucketsWritten(ctx.spark, stateRoot.resolve(t).toString, commits0(t))).sum

    val expected = seeded.toMap ++ repo.all.flatMap(r => repo.expected(r).map(r.oaiId -> _))
    val rows = Checker.compare(Checker.readReporting(runner.reportingTable), expected)
    val state = (if (quiet) Nil else Seq("loops did not reach a quiet point")) ++
      Checker.queueEmpty(runner.headersTable).toSeq ++
      Checker.checkpointAtEnd(runner.harvest.lastRun(), lastPublishSec).toSeq
    val check = rows.copy(state = state)
    if (!check.ok) System.err.println(s"[steady] check: ${check.describe}")

    val harvestRuns = Seams.oai.calls.sum() + LoopSeams.harvest.failed.sum()
    val attempted = harvestRuns + LoopSeams.enrich.cycles.sum() + Publishes + 3
    val failed = Seams.oai.failed.sum() + LoopSeams.harvest.failed.sum() +
      LoopSeams.enrich.failed.sum() + invisible + check.failures
    val samples = freshness.asScala.toSeq
    val visibleSpan = (visibleEnd - t0) / 1e9
    val layers = Seq(
      ("sources.oai_pages", Seams.oai.calls.sum().toDouble),
      ("sources.oai_fetch_s", Seams.oai.seconds),
      ("sources.oai_failed", Seams.oai.failed.sum().toDouble),
      ("sources.mets_fetches", Seams.mets.calls.sum().toDouble),
      ("sources.mets_fetch_s", Seams.mets.seconds),
      ("sources.mets_misses", Seams.metsMisses.sum().toDouble),
      ("harvest.runs", harvestRuns.toDouble),
      ("harvest.busy_s", busyH),
      ("harvest.failed", (Seams.oai.failed.sum() + LoopSeams.harvest.failed.sum()).toDouble),
      ("harvest.headers", Seams.headers.sum().toDouble),
      ("harvest.headers_kept", Seams.headersKept.sum().toDouble),
      ("enrich.runs", LoopSeams.enrich.cycles.sum().toDouble),
      ("enrich.busy_s", busyE),
      ("enrich.processed", Seams.mets.calls.sum().toDouble),
      ("enrich.rejected", (Seams.metsMisses.sum() + tally.incomplete).toDouble),
      ("enrich.not_removed", tally.refetches.toDouble),
      ("state.commits", commits.values.sum.toDouble),
      ("state.buckets_written", bucketsWritten.toDouble),
      ("state.bytes_on_disk", Workload.bytesUnder(stateRoot).toDouble),
      ("gen.late_s_max", lateMaxMs / 1e3),
      ("gen.backlog_end", backlog.toDouble),
      ("workload.docs", samples.size.toDouble)) ++
      Seq("headers", "runs", "reporting").map(t => (s"state.commits.$t", commits(t).toDouble))
    Outcome(attempted, failed, failed == 0,
      if (visibleSpan > 0) samples.size / visibleSpan else 0.0, samples, layers)
  }

  private def tableCommits(): Map[String, Long] = Map(
    "headers" -> Workload.commitId(runner.headersTable),
    "runs" -> Workload.commitId(runner.runsTable),
    "reporting" -> Workload.commitId(runner.reportingTable))

  /** Wait for a quiet point: a harvest poll from past `lastDatestampMs`
    * came back empty, and an enrichment cycle that started after it has
    * ended, so that cycle read a queue no later harvest can add to. */
  private def awaitQuiet(lastDatestampMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + QuietTimeoutS * 1000L
    val emptyAtNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val prev = LoopSeams.onEnrichEnd
    LoopSeams.onEnrichEnd = (ok, end) => {
      prev(ok, end)
      val e = emptyAtNs.get()
      // called before the sleep: lastExitNs is still this cycle's start
      if (ok && e > 0 && LoopSeams.enrich.lastExitNs > e) done.set(true)
    }
    while (!done.get() && System.currentTimeMillis() < deadline) {
      val (from, atNs) = Seams.lastEmptyPoll.get()
      if (emptyAtNs.get() == 0 && from > lastDatestampMs) emptyAtNs.set(atNs)
      Thread.sleep(20)
    }
    LoopSeams.onEnrichEnd = prev
    done.get()
  }

  /** Stop both loops between cycles: park them in the sleeper, then
    * let the runner's stop interrupt the sleep. */
  private def stopLoops(): Unit = if (threads != null) {
    LoopSeams.park = true
    val deadline = System.currentTimeMillis() + 30000L
    while (LoopSeams.parked.get() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(10)
    if (!runner.stopAndAwait(threads, 60000L)) System.err.println("[steady] loops did not stop")
    LoopSeams.park = false
    threads = null
  }

  def close(): Unit = { stopLoops(); server.stop() }
}

/** METS bodies the enrichment loop fetched in the window: those the F2
  * check rejects, and refetches, a record fetched again at a version
  * already served, which from outside the loops covers both ST5
  * survivors and records a later inclusive `from` window queued again. */
private final class FetchTally {
  private val served = mutable.HashSet.empty[(String, Int)]
  var refetches = 0L
  var incomplete = 0L
  def fetched(local: String, version: Int, rejected: Boolean): Unit = synchronized {
    if (!served.add((local, version))) refetches += 1
    if (rejected) incomplete += 1
  }
}

object Steady {
  /** A publish still waiting to become visible. */
  private final case class Publish(rec: Record, v: Version)

  // The reference publishes no figures on its arrival rate or on how
  // arrivals split into updates and rejects (BASELINE.md), so each
  // number below follows a stated rule or is marked as an assumption.

  /** Publishes in the measured window, spread over the run's seconds:
    * 35 updates and 105 new records, 12 of them rejects, so every run
    * yields 128 freshness samples, a margin over the 100 a p90 with ten
    * samples beyond it needs. At the 18 s `BENCHMARK.json` sets, this
    * offers about 8 records/s, a ninth of the docs/s `backfill` measures
    * on the same host, so the loops keep up and the run measures
    * freshness, not a backlog. */
  val Publishes = 140
  /** Assumption: a quarter of the arrivals re-publish an existing
    * record, so about 35 samples per run take the update path. */
  val UpdateShare = 0.25
  /** Share of each reject kind among new records, a coverage rule:
    * every reject path is taken three times per run. */
  val RejectShare = 0.03
  /** The warm-up burst, 9 records/s for 4 s: enough enrichment cycles
    * to compile the bucketed commit path before the window opens. The
    * count is an assumption. */
  val WarmPublishes = 36
  val WarmMillis = 4000L
  /** Rows pre-seeded into the reporting table: 140 times a run's
    * publishes, so arrivals touch few buckets of a table far larger
    * than they are. The size itself is an assumption, held down by the
    * seeding cost that `setup_s` carries. */
  val SeedRows = 20000
  /** ~300 seeded rows per bucket. The shipped default (1024) sizes
    * buckets for tables of terabytes; on a 20k-row table it would make
    * every bucket a handful of rows and the run a file-count test. */
  val StateBuckets = 64
  val SeedIdBase = 1000000
  val DrainTimeoutS = 60
  val QuietTimeoutS = 30
}
