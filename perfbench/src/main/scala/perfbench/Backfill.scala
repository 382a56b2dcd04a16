package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import graft.pipeline.{DocumentFetcher, OaiHeaderFilters, PageFetcher, ReportingConfig, ReportingRunner}

/** `backfill`: closed loop, one driver thread, from an empty state root.
  * The harvest walks the whole token chain (`HarvestPipeline.runOnce`
  * until the checkpoint carries no token, as `runToCompletion` does with
  * no inter-page delay), then enrichment drains the queue
  * (`EnrichmentPipeline.runOnce` until a batch comes back empty, as
  * `runToCompletion` does). Each `runOnce` is called and timed here so a
  * record's visibility can be pinned to the commit that made it visible.
  * Backfills of the same repository into fresh state roots repeat until
  * the run's seconds are spent; throughput is the median backfill's. */
final class Backfill(ctx: Ctx) extends Workload {
  import Backfill._

  private val templates = new MetsTemplates(ctx.root.resolve("src/test/resources/mets"))
  private val repo = repository(templates, ctx.seed, Records)
  private val warmRepo = repository(templates, ctx.seed ^ 0x5eed, WarmRecords)
  private val server = new UpstreamServer(repo, ctx.cpus)
  private val warmServer = new UpstreamServer(warmRepo, ctx.cpus)
  private val expected = repo.all.flatMap(r => repo.expected(r).map(r.oaiId -> _)).toMap
  private val warmExpected = warmRepo.all.flatMap(r => warmRepo.expected(r).map(r.oaiId -> _)).toMap

  private def config(s: UpstreamServer) = ReportingConfig.fromMap(Map(
    "oai.url" -> s.oaiUrl, "mets.url" -> s.metsUrl,
    "mets.interrequestmillis" -> "0", "state.bucketed" -> "false"))

  private final class Rep {
    var docs = 0L
    var wallNs = 0L
    val latencies = mutable.ArrayBuffer.empty[Double]
    var harvestRuns = 0L; var harvestFailed = 0L; var harvestNs = 0L; var kept = 0L
    var enrichRuns = 0L; var enrichFailed = 0L; var enrichNs = 0L
    var processed = 0L; var rejected = 0L; var notRemoved = 0L
    var commits = Map.empty[String, Long]
    var bytesOnDisk = 0L
    var check = CheckResult(Nil, Nil, Nil, Nil)
    var verify: () => CheckResult = () => check
  }

  private def once(s: UpstreamServer, exp: Map[String, ExpectedRow], tag: String): Rep = {
    val rep = new Rep
    val stateRoot = ctx.work.resolve(s"state-$tag")
    val pages: PageFetcher = new TimedPageFetcher(PageFetcher.http())
    val docs: DocumentFetcher = new TimedDocFetcher(DocumentFetcher.mets(s.metsUrl))
    val runner = new ReportingRunner(ctx.spark, config(s), stateRoot.toString, pages, docs,
      headerFilter = OaiHeaderFilters("qucosa"), batchSize = 100)
    Seams.takeFetched()
    val visibleAt = mutable.HashMap.empty[String, Long]
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()

    var more = true
    while (more && rep.harvestRuns < MaxCalls) {
      Seams.group = s"$tag-h${rep.harvestRuns}"
      val c0 = System.nanoTime()
      val summary =
        try Some(Trace.span("harvest.runOnce", Seams.group) {
          runner.harvest.runOnce(pages, new Timestamp(System.currentTimeMillis()))
        })
        catch { case e: Exception => System.err.println(s"[backfill] harvest failed: $e"); None }
      rep.harvestNs += System.nanoTime() - c0
      rep.harvestRuns += 1
      summary match {
        case Some(sm) if sm.succeeded =>
          rep.kept += sm.harvestedHeaders
          more = sm.checkpoint.exists(_.hasResumptionToken)
        case _ => rep.harvestFailed += 1; more = false
      }
    }

    more = rep.harvestFailed == 0
    while (more && rep.enrichRuns < MaxCalls) {
      Seams.group = s"$tag-e${rep.enrichRuns}"
      val c0 = System.nanoTime()
      val summary =
        try Some(Trace.span("enrich.runOnce", Seams.group)(runner.enrichment.runOnce(docs)))
        catch { case e: Exception => System.err.println(s"[backfill] enrichment failed: $e"); None }
      val end = System.nanoTime()
      rep.enrichNs += end - c0
      rep.enrichRuns += 1
      val fetched = Seams.takeFetched()
      summary match {
        case Some(sm) =>
          fetched.foreach { case (local, _) => visibleAt.getOrElseUpdate(local, end) }
          rep.docs += sm.reported; rep.processed += sm.processed
          rep.rejected += sm.rejected; rep.notRemoved += sm.notRemoved
          more = sm.processed > 0
        case None => rep.enrichFailed += 1; more = false
      }
    }
    rep.wallNs = System.nanoTime() - t0

    val byLocal = exp.keys.map(id => id.substring(id.indexOf(':', 4) + 1) -> id).toMap
    byLocal.foreach { case (local, _) =>
      visibleAt.get(local).foreach(t => rep.latencies += (t - t0) / 1e9)
    }
    rep.commits = Map(
      "headers" -> Workload.commitId(runner.headersTable),
      "runs" -> Workload.commitId(runner.runsTable),
      "reporting" -> Workload.commitId(runner.reportingTable))
    rep.bytesOnDisk = Workload.bytesUnder(stateRoot)
    rep.verify = () => {
      val rows = Checker.compare(Checker.readReporting(runner.reportingTable), exp)
      val state = Checker.queueEmpty(runner.headersTable).toSeq ++
        Checker.checkpointAtEnd(runner.harvest.lastRun(), startMs / 1000L * 1000L).toSeq
      rep.check = rows.copy(state = state)
      rep.check
    }
    rep
  }

  def setup(): Unit = {
    val w = once(warmServer, warmExpected, "warm")
    val check = w.verify()
    if (!check.ok || w.harvestFailed + w.enrichFailed > 0)
      System.err.println(s"[backfill] warm-up check: ${check.describe}")
  }

  def run(window: Window): Outcome = {
    window.start()
    Seams.reset()
    val reps = mutable.ArrayBuffer.empty[Rep]
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    while (reps.isEmpty || System.nanoTime() < deadline) reps += once(server, expected, s"r${reps.size}")
    window.stop()
    reps.foreach { r =>
      val c = r.verify()
      if (!c.ok) System.err.println(s"[backfill] check: ${c.describe}")
    }

    val docs = reps.map(_.docs).sum
    val commits = reps.map(_.commits.values.sum).sum
    def sum(f: Rep => Long) = reps.map(f).sum.toDouble
    val attempted = reps.map(r => r.harvestRuns + r.enrichRuns + Records + 2).sum
    val failed = reps.map(r => r.harvestFailed + r.enrichFailed + r.check.failures).sum
    val layers = Seq(
      ("sources.oai_pages", Seams.oai.calls.sum().toDouble),
      ("sources.oai_fetch_s", Seams.oai.seconds),
      ("sources.oai_failed", Seams.oai.failed.sum().toDouble),
      ("sources.mets_fetches", Seams.mets.calls.sum().toDouble),
      ("sources.mets_fetch_s", Seams.mets.seconds),
      ("sources.mets_misses", Seams.metsMisses.sum().toDouble),
      ("harvest.runs", sum(_.harvestRuns)),
      ("harvest.busy_s", sum(_.harvestNs) / 1e9),
      ("harvest.failed", sum(_.harvestFailed)),
      ("harvest.headers", Seams.headers.sum().toDouble),
      ("harvest.headers_kept", sum(_.kept)),
      ("enrich.runs", sum(_.enrichRuns)),
      ("enrich.busy_s", sum(_.enrichNs) / 1e9),
      ("enrich.processed", sum(_.processed)),
      ("enrich.rejected", sum(_.rejected)),
      ("enrich.not_removed", sum(_.notRemoved)),
      ("state.commits", commits.toDouble),
      ("state.bytes_on_disk", reps.last.bytesOnDisk.toDouble),
      ("workload.reps", reps.size.toDouble),
      ("workload.docs", docs.toDouble)) ++
      Seq("headers", "runs", "reporting").map(t =>
        (s"state.commits.$t", reps.map(_.commits(t)).sum.toDouble))
    val perRep = reps.filter(_.wallNs > 0).map(r => r.docs / (r.wallNs / 1e9)).toSeq
    Outcome(attempted, failed, failed == 0, Stats.median(perRep),
      reps.flatMap(_.latencies).toSeq, layers)
  }

  def close(): Unit = { server.stop(); warmServer.stop() }
}

object Backfill {
  /** Records in the measured repository: three full pages and three
    * full enrichment batches of 100 (the reference's `LIMIT 100`), so the
    * token chain is followed twice per backfill. One backfill takes
    * about 4 s on a 4-core host, so a run holds several, and the run
    * reports the median backfill's figures. */
  val Records = 300
  val WarmRecords = 150
  private val MaxCalls = 10000

  /** Share of each reject kind. The reference publishes no figures on
    * how its records split into these kinds, so this is a coverage rule,
    * not a traffic statistic: every reject path (filter, deleted header,
    * F2 reject, 404) is taken 15 times per backfill, about five times in
    * each batch of 100, and 80% of the records are valid. */
  val RejectShare = 0.05

  /** A seeded repository of `n` records whose datestamps lie in the
    * past, with [[RejectShare]] of each reject kind and valid records
    * for the rest, in a seeded order. */
  def repository(templates: MetsTemplates, seed: Long, n: Int): Repository = {
    val rnd = new scala.util.Random(seed)
    val repo = new Repository(templates, pageSize = 100)
    val base = java.time.Instant.parse("2020-01-01T00:00:00Z").toEpochMilli
    val kinds = Repository.kinds(rnd, n,
      Seq(Kind.NonQucosa, Kind.Deleted, Kind.Incomplete, Kind.Missing).map(_ -> RejectShare))
    (1 to n).foreach { i =>
      val kind = kinds(i - 1)
      val id =
        if (kind == Kind.NonQucosa) s"oai:example.org:fedora-system:obj-$i"
        else s"oai:example.org:qucosa:$i"
      val at = base + i * 1000L + rnd.nextInt(1000)
      repo.publish(new Record(id, kind), Repository.version(rnd, templates, 1, at, at))
    }
    repo
  }
}
