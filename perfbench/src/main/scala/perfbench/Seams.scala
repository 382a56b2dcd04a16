package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference, LongAdder}

import graft.pipeline.{DocumentFetcher, PageFetcher}

/** The engine's injectable seams, wrapped from outside: the page and
  * document fetchers the pipelines call, and the sleeper the runner's
  * loops park in between cycles. Task copies of the fetchers run in this
  * JVM (local mode), so they report through this object. */
object Seams {
  val oai = new Trace.Counter
  val mets = new Trace.Counter
  val metsMisses = new LongAdder
  val headers = new LongAdder
  val headersKept = new LongAdder
  /** The group that METS-fetch spans on task threads belong to. */
  @volatile var group: String = ""

  /** (local id, version) of every METS body served since the last
    * [[takeFetched]]: what the next commit makes visible. */
  private val fetched = new ConcurrentLinkedQueue[(String, Int)]()
  def takeFetched(): Seq[(String, Int)] = {
    val b = Seq.newBuilder[(String, Int)]
    var x = fetched.poll()
    while (x != null) { b += x; x = fetched.poll() }
    b.result()
  }

  /** The newest `from` window a harvest request found empty, and the
    * `nanoTime` its answer came back (steady's quiet-point test). */
  val lastEmptyPoll = new AtomicReference[(Long, Long)]((Long.MinValue, 0L))

  private val HeaderTag = "<header[\\s>]".r
  private val KeptId = "<identifier>[^<]*qucosa:\\d+</identifier>".r
  private val FromParam = "[?&]from=([^&]+)".r

  def pageFetched(uri: String, r: Either[String, String], t0: Long, t1: Long): Unit = {
    oai.add(t1 - t0, r.isRight)
    val h = LoopSeams.harvest
    Trace.record("sources.oai_fetch",
      if (Thread.currentThread().getName == h.name) s"${h.name}-${h.cycles.sum()}" else group, t0, t1)
    r.foreach { body =>
      if (Trace.enabled) {
        headers.add(HeaderTag.findAllMatchIn(body).size.toLong)
        headersKept.add(KeptId.findAllMatchIn(body).size.toLong)
      }
      if (body.contains("code=\"noRecordsMatch\""))
        FromParam.findFirstMatchIn(uri).foreach { m =>
          val from = Repository.parseFrom(java.net.URLDecoder.decode(m.group(1), "UTF-8"))
          lastEmptyPoll.accumulateAndGet((from, System.nanoTime()),
            (a, b) => if (b._1 >= a._1) b else a)
        }
    }
  }

  def metsFetched(localId: String, r: Option[String], t0: Long, t1: Long): Unit = {
    mets.add(t1 - t0, ok = true)
    Trace.record("sources.mets_fetch", group, t0, t1)
    r match {
      case None => metsMisses.increment()
      case Some(body) => MetsTemplates.versionOf(body).foreach(v => fetched.add((localId, v)))
    }
  }

  def reset(): Unit = {
    oai.reset(); mets.reset(); metsMisses.reset(); headers.reset(); headersKept.reset()
    takeFetched(); lastEmptyPoll.set((Long.MinValue, 0L))
  }
}

final class TimedPageFetcher(inner: PageFetcher) extends PageFetcher {
  def apply(uri: String): Either[String, String] = {
    val t0 = System.nanoTime()
    val r = inner(uri)
    Seams.pageFetched(uri, r, t0, System.nanoTime())
    r
  }
}

final class TimedDocFetcher(inner: DocumentFetcher) extends DocumentFetcher {
  def apply(localId: String): Option[String] = {
    val t0 = System.nanoTime()
    val r = inner(localId)
    Seams.metsFetched(localId, r, t0, System.nanoTime())
    r
  }
}

/** The sleeper handed to `ReportingRunner`: sleeps as asked, and marks
  * the loop cycles around each sleep. The enrichment loop sleeps right
  * after `runOnce` returns, so entering the sleeper is the end of that
  * cycle's commit; a sleep entered from the loop's error handler (no
  * `enrichmentIteration` / `harvestIteration` frame on the stack) marks a
  * failed cycle. With `park` set, the sleeper holds its caller until
  * the runner's stop interrupts it, so the loops stop between cycles. */
object LoopSeams {
  final class Loop(val name: String) {
    val cycles = new LongAdder
    val failed = new LongAdder
    val busyNs = new LongAdder
    @volatile var lastExitNs = 0L
    @volatile var sleeping = false
  }
  val harvest = new Loop("graft-harvest")
  val enrich = new Loop("graft-enrichment")
  @volatile var park = false
  val parked = new AtomicInteger()
  /** Called on every enrichment cycle end with (ok, end time ms). */
  @volatile var onEnrichEnd: (Boolean, Long) => Unit = (_, _) => ()

  def start(nowNs: Long): Unit = Seq(harvest, enrich).foreach { l =>
    l.cycles.reset(); l.failed.reset(); l.busyNs.reset(); l.lastExitNs = nowNs; l.sleeping = false
  }

  /** Busy time of `l` up to `nowNs`, counting a cycle still running. */
  def busySeconds(l: Loop, nowNs: Long): Double =
    (l.busyNs.sum() + (if (l.sleeping) 0L else nowNs - l.lastExitNs)) / 1e9

  def sleep(ms: Long): Unit = {
    val t = Thread.currentThread()
    val loop = if (t.getName == harvest.name) Some(harvest)
      else if (t.getName == enrich.name) Some(enrich) else None
    loop match {
      case None => Thread.sleep(ms)
      case Some(l) =>
        val enter = System.nanoTime()
        val frame = if (l eq harvest) "harvestIteration" else "enrichmentIteration"
        val ok = t.getStackTrace.exists(_.getMethodName == frame)
        l.busyNs.add(enter - l.lastExitNs)
        Trace.record(s"${if (l eq harvest) "harvest" else "enrich"}.cycle",
          s"${l.name}-${l.cycles.sum()}", l.lastExitNs, enter)
        l.cycles.increment()
        if (!ok) l.failed.increment()
        if (l eq enrich) onEnrichEnd(ok, System.currentTimeMillis())
        l.sleeping = true
        try {
          if (park) {
            parked.incrementAndGet()
            try while (true) Thread.sleep(60000L) finally { parked.decrementAndGet(); () }
          } else Thread.sleep(ms)
        } finally {
          l.sleeping = false
          l.lastExitNs = System.nanoTime()
          // METS fetches run on task threads; tag them with this cycle
          if (l eq enrich) Seams.group = s"${l.name}-${l.cycles.sum()}"
        }
    }
  }

  /** The sleeper as the runner takes it; it refers to this object only,
    * so it serializes into task closures without capturing anything. */
  val sleeper: Long => Unit = (ms: Long) => LoopSeams.sleep(ms)
}
