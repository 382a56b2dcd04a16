package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.util.chaining._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{HarvestPipeline, OaiHeaderFilters, PageFetcher, ParquetStateTable}

/** The benchmark's own checks: the synthetic upstream speaks OAI-PMH the
  * way the harvest expects, percentiles are reported only where the
  * sample supports them, and the output checker catches planted errors. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("perfbench-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
    .tap(_.sparkContext.setLogLevel("ERROR"))

  private val fixtures = Paths.get("..").toAbsolutePath.normalize.resolve("src/test/resources/mets")
  private lazy val templates = new MetsTemplates(fixtures)

  override def afterAll(): Unit = spark.stop()

  test("synthetic OAI pages parse through HarvestPipeline.runOnce along the token chain") {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val repo = Backfill.repository(templates, seed = 7L, n = 250)
    val server = new UpstreamServer(repo, 2)
    val dir = Files.createTempDirectory("perfbench-spec")
    try {
      val headers = new ParquetStateTable(spark, dir.resolve("headers").toString)
      val runs = new ParquetStateTable(spark, dir.resolve("runs").toString)
      val harvest = new HarvestPipeline(spark, headers, runs, server.oaiUrl,
        headerFilter = OaiHeaderFilters("qucosa"))
      val fetch = PageFetcher.http()
      val qucosa = repo.all.count(_.kind != Kind.NonQucosa)

      // 250 records in pages of 100: two pages carry a token, the third
      // ends the chain with an empty one
      val now = () => new Timestamp(System.currentTimeMillis())
      val s1 = harvest.runOnce(fetch, now())
      assert(s1.succeeded && !s1.requestUri.contains("resumptionToken="))
      assert(s1.checkpoint.exists(_.hasResumptionToken))
      val s2 = harvest.runOnce(fetch, now())
      assert(s2.succeeded && s2.requestUri.contains("resumptionToken="))
      assert(s2.checkpoint.exists(_.hasResumptionToken))
      val end = now()
      val s3 = harvest.runOnce(fetch, end)
      assert(s3.succeeded && s3.requestUri.contains("resumptionToken="))
      assert(s3.checkpoint.exists(c => !c.hasResumptionToken && c.nextFromTimestamp.contains(end)))
      assert(Seq(s1, s2, s3).map(_.harvestedHeaders).sum == qucosa)
      assert(headers.read().get.count() == qucosa)
      assert(Checker.checkpointAtEnd(harvest.lastRun(), end.getTime).isEmpty)

      // the next request asks from the chain's end, inclusively: a record
      // stamped in that very second is listed, one a second older is not
      val fromSecond = end.getTime / 1000L * 1000L
      val rnd = new scala.util.Random(1)
      val same = new Record("oai:example.org:qucosa:900001", Kind.Valid)
      val older = new Record("oai:example.org:qucosa:900002", Kind.Valid)
      repo.publish(same, Repository.version(rnd, templates, 1, fromSecond, fromSecond))
      repo.publish(older, Repository.version(rnd, templates, 1, fromSecond - 1000L, fromSecond - 1000L))
      val s4 = harvest.runOnce(fetch, new Timestamp(end.getTime + 2000L))
      assert(s4.succeeded && s4.requestUri.contains("from="))
      assert(s4.harvestedHeaders == 1)
      val ids = headers.read().get.select("record_identifier").collect().map(_.getString(0)).toSet
      assert(ids.contains(same.oaiId) && !ids.contains(older.oaiId))

      // nothing new past the advanced window: the server answers
      // noRecordsMatch, which the harvest counts as a success
      val s5 = harvest.runOnce(fetch, new Timestamp(end.getTime + 4000L))
      assert(s5.succeeded && s5.errors.contains("noRecordsMatch"))
    } finally {
      server.stop()
      Workload.delete(dir)
    }
  }

  test("METS bodies carry the substituted fields and the incomplete fixture stays incomplete") {
    val rnd = new scala.util.Random(3)
    val rec = new Record("oai:example.org:qucosa:5", Kind.Valid)
    (0 until 8).foreach { i =>
      val v = Repository.version(rnd, templates, i + 1, 0L, 0L)
      val body = templates.render(rec, v)
      assert(body.contains(s"<mets:name>${v.mandator}</mets:name>"))
      assert(body.contains(s"""TYPE="${v.docType}""""))
      assert(body.contains(s">${v.dateText}<"))
      assert(MetsTemplates.versionOf(body).contains(i + 1))
    }
    val bad = templates.render(new Record("oai:example.org:qucosa:6", Kind.Incomplete),
      Repository.version(rnd, templates, 1, 0L, 0L))
    assert(!bad.contains("ROLE=\"EDITOR\""))
  }

  test("percentiles are reported only with at least ten samples beyond them") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9).contains(90.0))
    assert(Stats.percentile(xs.take(99), 0.9).isEmpty)
    assert(Stats.percentile(xs.take(20), 0.5).contains(10.0))
    assert(Stats.percentile(xs.take(19), 0.5).isEmpty)
    assert(Stats.percentile(Nil, 0.5).isEmpty)
    assert(Stats.percentile(xs.reverse, 0.5).contains(50.0))
  }

  test("the output checker flags a planted wrong row, a missing record and an extra one") {
    val spark = this.spark
    import spark.implicits._
    val ts = (s: String) => Timestamp.valueOf(s)
    val expected = Map(
      "oai:example.org:qucosa:1" -> ExpectedRow("SLUB", "article", ts("2001-02-03 00:00:00"), ts("2020-01-01 00:00:01")),
      "oai:example.org:qucosa:2" -> ExpectedRow("TU Dresden", "issue", ts("2002-02-03 00:00:00"), ts("2020-01-01 00:00:02")),
      "oai:example.org:qucosa:3" -> ExpectedRow("TU Chemnitz", "book", ts("2003-02-03 00:00:00"), ts("2020-01-01 00:00:03")))
    val dir = Files.createTempDirectory("perfbench-check")
    try {
      val table = new ParquetStateTable(spark, dir.resolve("reporting").toString)
      val rows = Seq(
        ("oai:example.org:qucosa:1", "SLUB", "article", ts("2001-02-03 00:00:00"), ts("2020-01-01 00:00:01")),
        ("oai:example.org:qucosa:2", "TU Dresden", "thesis", ts("2002-02-03 00:00:00"), ts("2020-01-01 00:00:02")),
        ("oai:example.org:qucosa:4", "SLUB", "book", ts("2004-02-03 00:00:00"), ts("2020-01-01 00:00:04")))
      table.merge(rows.toDF("record_identifier", "mandator", "document_type",
        "distribution_date", "header_last_modified"), keys = Seq("record_identifier"))
      val r = Checker.compare(Checker.readReporting(table), expected)
      assert(r.missing == Seq("oai:example.org:qucosa:3"))
      assert(r.wrong.size == 1 && r.wrong.head.startsWith("oai:example.org:qucosa:2"))
      assert(r.unexpected == Seq("oai:example.org:qucosa:4"))
      assert(r.failures == 3 && !r.ok)
      assert(Checker.compare(expected, expected).ok)
      assert(Checker.queueEmpty(table).nonEmpty)
    } finally Workload.delete(dir)
  }
}
