package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.Row

import graft.model.OaiRunResult
import graft.pipeline.StateTable

/** Outcome of comparing the engine's state with the generator's
  * expectations. Every entry is one failed operation. */
final case class CheckResult(missing: Seq[String], wrong: Seq[String],
    unexpected: Seq[String], state: Seq[String]) {
  def failures: Int = missing.size + wrong.size + unexpected.size + state.size
  def ok: Boolean = failures == 0
  def describe: String =
    Seq("missing" -> missing, "wrong" -> wrong, "unexpected" -> unexpected, "state" -> state)
      .filter(_._2.nonEmpty)
      .map { case (k, v) => s"$k=${v.size} (${v.take(3).mkString("; ")})" }.mkString(", ")
}

object Checker {

  /** Reporting rows keyed by record id, as the engine holds them. */
  def reportingRows(rows: Seq[Row]): Map[String, ExpectedRow] =
    rows.map { r =>
      r.getAs[String]("record_identifier") -> ExpectedRow(
        r.getAs[String]("mandator"), r.getAs[String]("document_type"),
        r.getAs[Timestamp]("distribution_date"), r.getAs[Timestamp]("header_last_modified"))
    }.toMap

  def readReporting(table: StateTable): Map[String, ExpectedRow] =
    table.read().map(df => reportingRows(df.select("record_identifier", "mandator",
      "document_type", "distribution_date", "header_last_modified").collect().toSeq))
      .getOrElse(Map.empty)

  /** Every expected row present with the fields of its latest publish,
    * and nothing else present. */
  def compare(actual: Map[String, ExpectedRow], expected: Map[String, ExpectedRow]): CheckResult = {
    val missing = expected.keys.filterNot(actual.contains).toSeq.sorted
    val wrong = expected.collect {
      case (id, e) if actual.get(id).exists(_ != e) => s"$id: got ${actual(id)} want $e"
    }.toSeq.sorted
    val unexpected = actual.keys.filterNot(expected.contains).toSeq.sorted
    CheckResult(missing, wrong, unexpected, Nil)
  }

  /** The headers queue must be drained. */
  def queueEmpty(headers: StateTable): Option[String] =
    headers.read().map(_.count()).filter(_ > 0).map(n => s"headers queue holds $n rows")

  /** The runs checkpoint must sit at the end of the token chain: no
    * pending token, and a `from` at or past `minFromMs`. */
  def checkpointAtEnd(last: OaiRunResult, minFromMs: Long): Option[String] =
    if (last.hasResumptionToken) Some(s"checkpoint still carries token ${last.resumptionToken}")
    else if (!last.nextFromTimestamp.exists(_.getTime >= minFromMs))
      Some(s"checkpoint from ${last.nextFromTimestamp} is before ${new Timestamp(minFromMs)}")
    else None
}
