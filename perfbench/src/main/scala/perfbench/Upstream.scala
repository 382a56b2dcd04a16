package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.{ConcurrentHashMap, Executors, ExecutorService}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** What the engine should make of a record. Only `Valid` records end up
  * in the reporting table; every other kind must stay absent. */
sealed trait Kind
object Kind {
  case object Valid extends Kind
  /** Not a qucosa id: the harvest's F1 filter drops it. */
  case object NonQucosa extends Kind
  /** A `status="deleted"` header: queued, but its METS is gone (404). */
  case object Deleted extends Kind
  /** METS without mandator and document type: the F2 check rejects it. */
  case object Incomplete extends Kind
  /** A live header whose METS request answers 404. */
  case object Missing extends Kind
}

/** One publish of a record. `due` is when the schedule wanted it out;
  * `at` is when it actually became visible upstream (its datestamp is
  * `at` floored to the second, the OAI datestamp granularity). */
final case class Version(
    n: Int, due: Long, at: Long, mandator: String, docType: String,
    template: Int, dateText: String, expectedDate: Timestamp) {
  def datestampMs: Long = at / 1000L * 1000L
}

final class Record(val oaiId: String, val kind: Kind) {
  @volatile var versions: Vector[Version] = Vector.empty
  def latest: Version = versions.last
  def localId: String = oaiId.substring(oaiId.indexOf(':', 4) + 1)
}

/** The reporting row the engine should hold for a record. */
final case class ExpectedRow(
    mandator: String, docType: String, distributionDate: Timestamp,
    headerLastModified: Timestamp)

/** METS bodies built from the engine's five METS fixtures. Four carry
  * every field the reporting row needs and get the record's mandator,
  * document type and distribution date substituted; `qucosa31789`
  * lacks mandator and type and is served as-is for incomplete records.
  * Each body carries a `<!--perfbench-version:N-->` marker so a fetch
  * can be matched to the publish it served. */
final class MetsTemplates(fixtureDir: Path) {
  private def load(name: String): String =
    new String(Files.readAllBytes(fixtureDir.resolve(name)), StandardCharsets.UTF_8)

  private val complete = Vector("qucosa13-mets.xml", "qucosa22-mets.xml",
    "qucosa31790-mets.xml", "qucosa7455-mets.xml").map(load)
  private val incomplete = load("qucosa31789-mets.xml")

  /** Templates 0 and 1 carry a date-only `dateIssued`, 2 and 3 a
    * datetime with a `+0200` offset, as in the fixtures. */
  def count: Int = complete.size
  def withOffset(template: Int): Boolean = template >= 2

  private val EditorName =
    "(?s)(<mets:agent ROLE=\"EDITOR\"[^>]*>\\s*<mets:name>)[^<]*(</mets:name>)".r
  private val LogicalType = "(<mets:div ID=\"LOG_001\" TYPE=\")[^\"]*(\")".r
  private val DistDate =
    "(?s)(eventType=\"distribution\">.*?<(?:v3|mods):dateIssued[^>]*>)[^<]*(<)".r

  def render(rec: Record, v: Version): String = {
    val marker = s"<!--perfbench-version:${v.n}-->"
    rec.kind match {
      case Kind.Incomplete => incomplete + marker
      case _ =>
        val t = complete(v.template)
        val a = EditorName.replaceFirstIn(t, "$1" + v.mandator + "$2")
        val b = LogicalType.replaceFirstIn(a, "$1" + v.docType + "$2")
        DistDate.replaceFirstIn(b, "$1" + v.dateText + "$2") + marker
    }
  }
}

object MetsTemplates {
  private val VersionMarker = "<!--perfbench-version:(\\d+)-->".r
  def versionOf(body: String): Option[Int] =
    VersionMarker.findFirstMatchIn(body).map(_.group(1).toInt)
}

/** The upstream repository: records and their publish history, listed
  * the way an OAI-PMH `ListIdentifiers` server lists them (latest
  * datestamp per record, `from` inclusive at second granularity, pages
  * of `pageSize` chained by resumption tokens over a snapshot taken at
  * the first request). Thread-safe: the steady workload's publisher
  * writes while the server threads read. */
final class Repository(val templates: MetsTemplates, pageSize: Int) {
  private val records = new ConcurrentHashMap[String, Record]()
  private val byLocal = new ConcurrentHashMap[String, Record]()
  private val tokens = new ConcurrentHashMap[String, (Vector[(String, Long, Boolean)], Int)]()
  private val tokenSeq = new AtomicLong()

  def add(rec: Record): Record = {
    records.put(rec.oaiId, rec); byLocal.put(rec.localId, rec); rec
  }
  def get(oaiId: String): Option[Record] = Option(records.get(oaiId))
  def byLocalId(localId: String): Option[Record] = Option(byLocal.get(localId))
  def all: Seq[Record] = { import scala.jdk.CollectionConverters._; records.values.asScala.toSeq }

  def publish(rec: Record, v: Version): Unit = synchronized {
    rec.versions = rec.versions :+ v
    add(rec)
  }

  /** The row the engine should hold for `rec`, if any. */
  def expected(rec: Record): Option[ExpectedRow] = rec.kind match {
    case Kind.Valid if rec.versions.nonEmpty =>
      val v = rec.latest
      Some(ExpectedRow(v.mandator, v.docType, v.expectedDate, new Timestamp(v.datestampMs)))
    case _ => None
  }

  /** One `ListIdentifiers` page, or an OAI error body. */
  def listIdentifiers(from: Option[Long], token: Option[String], nowMs: Long,
      requestUrl: String): String = {
    val (items, offset, tokenError) = token match {
      case Some(t) =>
        Option(tokens.remove(t)) match {
          case Some((snap, off)) => (snap, off, false)
          case None => (Vector.empty, 0, true)
        }
      case None =>
        val snap = synchronized {
          all.filter(_.versions.nonEmpty).map { r =>
            (r.oaiId, r.latest.datestampMs, r.kind == Kind.Deleted)
          }.filter { case (_, ds, _) => from.forall(ds >= _) }
            .sortBy { case (id, ds, _) => (ds, id) }.toVector
        }
        (snap, 0, false)
    }
    val b = new StringBuilder
    b.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    b.append("<OAI-PMH xmlns=\"http://www.openarchives.org/OAI/2.0/\" ")
    b.append("xmlns:xsi=\"http://www.w3.org/2001/XMLSchema-instance\">\n")
    b.append("  <responseDate>").append(Repository.fmt(nowMs)).append("</responseDate>\n")
    b.append("  <request verb=\"ListIdentifiers\">").append(requestUrl).append("</request>\n")
    if (tokenError)
      b.append("  <error code=\"badResumptionToken\">unknown token</error>\n")
    else if (items.isEmpty)
      b.append("  <error code=\"noRecordsMatch\">No records match the given criteria.</error>\n")
    else {
      b.append("  <ListIdentifiers>\n")
      val page = items.slice(offset, offset + pageSize)
      page.foreach { case (id, ds, deleted) =>
        b.append(if (deleted) "    <header status=\"deleted\">\n" else "    <header>\n")
        b.append("      <identifier>").append(id).append("</identifier>\n")
        b.append("      <datestamp>").append(Repository.fmt(ds)).append("</datestamp>\n")
        b.append("      <setSpec>perfbench</setSpec>\n")
        b.append("    </header>\n")
      }
      val next = offset + page.size
      if (next < items.size) {
        val t = f"pb${tokenSeq.incrementAndGet()}%012d"
        tokens.put(t, (items, next))
        b.append(s"""    <resumptionToken completeListSize="${items.size}" cursor="$offset">""")
          .append(t).append("</resumptionToken>\n")
      } else if (offset > 0)
        b.append(s"""    <resumptionToken completeListSize="${items.size}" cursor="$offset"/>\n""")
      b.append("  </ListIdentifiers>\n")
    }
    b.append("</OAI-PMH>\n")
    b.toString
  }

  /** The METS body for a local id, or None for a 404. */
  def mets(localId: String): Option[String] =
    Option(byLocal.get(localId)).flatMap { r =>
      val vs = r.versions
      if (vs.isEmpty) None
      else r.kind match {
        case Kind.Deleted | Kind.Missing | Kind.NonQucosa => None
        case _ => Some(templates.render(r, vs.last))
      }
    }
}

object Repository {
  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(ZoneOffset.UTC)
  def fmt(ms: Long): String = Iso.format(Instant.ofEpochMilli(ms))

  /** `from` as the engine sends it: FC3 form without `Z`, or with it. */
  def parseFrom(s: String): Long =
    LocalDateTime.parse(s.stripSuffix("Z"), DateTimeFormatter.ISO_LOCAL_DATE_TIME)
      .toInstant(ZoneOffset.UTC).toEpochMilli

  val Mandators: Vector[String] = Vector("SLUB", "TU Dresden", "Universitaet Leipzig",
    "TU Chemnitz", "HTWK Leipzig", "TU Bergakademie Freiberg", "Hochschule Mittweida")
  val DocTypes: Vector[String] = Vector("article", "issue", "in_book",
    "doctoral_thesis", "master_thesis", "book", "report")

  /** `n` record kinds in a seeded order. The shares of the non-valid
    * kinds are fixed (rounded), the rest are valid, so every seed
    * yields the same composition and only the arrangement varies. */
  def kinds(rnd: scala.util.Random, n: Int, shares: Seq[(Kind, Double)]): Vector[Kind] = {
    val rejects = shares.flatMap { case (k, s) => Vector.fill(math.round(s * n).toInt)(k) }
    rnd.shuffle(rejects ++ Vector.fill(n - rejects.size)(Kind.Valid)).toVector
  }

  /** A seeded version: fields drawn from `rnd`, published at `at`. */
  def version(rnd: scala.util.Random, templates: MetsTemplates, n: Int,
      due: Long, at: Long): Version = {
    val template = rnd.nextInt(templates.count)
    val day = java.time.LocalDate.of(1995, 1, 1).plusDays(rnd.nextInt(9000).toLong)
    val (text, expected) =
      if (templates.withOffset(template)) {
        val t = day.atTime(rnd.nextInt(24), rnd.nextInt(60), rnd.nextInt(60))
        (t.format(DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")) + "+0200",
          new Timestamp(t.toInstant(ZoneOffset.ofHours(2)).toEpochMilli))
      } else
        (day.toString, new Timestamp(day.atStartOfDay().toInstant(ZoneOffset.UTC).toEpochMilli))
    Version(n, due, at, Mandators(rnd.nextInt(Mandators.size)),
      DocTypes(rnd.nextInt(DocTypes.size)), template, text, expected)
  }
}

/** A localhost JDK `HttpServer` in front of a [[Repository]]:
  * `/oai?verb=ListIdentifiers...` and `/mets?pid=<local id>`. */
final class UpstreamServer(repo: Repository, threads: Int) {
  private val pool: ExecutorService = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "perfbench-upstream"); t.setDaemon(true); t
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/oai", (ex: HttpExchange) => handle(ex) {
    val q = params(ex)
    if (!q.get("verb").contains("ListIdentifiers")) (400, "bad verb")
    else (200, repo.listIdentifiers(q.get("from").map(Repository.parseFrom),
      q.get("resumptionToken"), System.currentTimeMillis(), oaiUrl))
  })
  server.createContext("/mets", (ex: HttpExchange) => handle(ex) {
    params(ex).get("pid").flatMap(repo.mets) match {
      case Some(body) => (200, body)
      case None => (404, "not found")
    }
  })
  server.start()

  def oaiUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}/oai"
  def metsUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}/mets"

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&').filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      def dec(s: String) = URLDecoder.decode(s, StandardCharsets.UTF_8)
      if (i < 0) dec(kv) -> "" else dec(kv.take(i)) -> dec(kv.drop(i + 1))
    }.toMap

  private def handle(ex: HttpExchange)(body: => (Int, String)): Unit =
    try {
      val (status, text) = body
      val bytes = text.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/xml; charset=UTF-8")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    } finally ex.close()

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    ()
  }
}
