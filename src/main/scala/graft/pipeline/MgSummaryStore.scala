package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.ops.Sketches.MgSummary

/** Tiny persistent store for one Misra-Gries summary — the state behind
  * a streaming vocabulary monitor. A summary is ≤ k (item, weight)
  * pairs plus a total, so it lives as ONE driver-written text file per
  * version (`s%012d.tsv`, newest wins — the same versioned-publish
  * crash-safety as the bucketed manifest: a torn write is an orphan tmp
  * file, never a corrupt current version). No Spark jobs are involved
  * in reading or writing state; the distributed work is producing the
  * BATCH summary, which the caller merges in.
  *
  * Sketch merges are NOT idempotent (re-merging a batch double-counts —
  * unlike the engine's keyed merges), so the replay guard must be
  * ATOMIC with the publish: the applied (streamScope, batchId) pairs
  * ride INSIDE the version file (`#applied` header lines) and the one
  * rename carries summary and marker together. A separate marker file
  * (the `BatchMarkers` discipline keyed state uses) would leave a crash
  * window between the summary rename and the marker create in which a
  * replay re-merges and permanently double-counts — harmless for
  * idempotent keyed merges, exactly wrong here. A replayed committed
  * batch is a no-op; a batch whose publish never landed reapplies
  * cleanly. Per-scope tracking, so several streams can share one store
  * without masking each other's replays. */
class MgSummaryStore(spark: SparkSession, rootDir: String) {

  private val root = new Path(rootDir)
  private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  // one key per directory however it is spelled (`/x`, `file:/x`,
  // `file:///x`): handles on one store must share the lock, or both
  // publish the same next version and one update is lost
  private val lockKey = "mgstore:" +
    fs.makeQualified(Path.getPathWithoutSchemeAndAuthority(root))

  private def versions(): Seq[(Long, Path)] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.getPath.getName.matches("s\\d{12}\\.tsv"))
      .map(s => (s.getPath.getName.drop(1).dropRight(4).toLong, s.getPath))
      .sortBy(_._1)

  private def newestText(): Option[String] =
    versions().lastOption.map { case (_, p) =>
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }

  /** Split a version file into (header lines, body lines). `#applied`
    * headers are written as a CONTIGUOUS prefix, so only that prefix is
    * stripped — summary items are arbitrary corpus tokens (`#include`,
    * `#hashtag`, even a literal `#applied\t...`), and a blanket
    * "drop lines starting with #" would silently lose a tracked item
    * from the body (and the next publish would republish without it —
    * permanent undercount). The body always starts at the total line,
    * which is numeric and can never match the header prefix. */
  private def splitHeader(text: String): (Seq[String], Seq[String]) = {
    val (hdr, body) =
      text.split("\n").toSeq.span(_.startsWith("#applied\t"))
    (hdr, body.filter(_.nonEmpty))
  }

  /** Newest stored summary, if any (`#applied` header prefix skipped). */
  def read(): Option[MgSummary] = newestText().map { text =>
    val lines = splitHeader(text)._2
    val total = lines.head.toLong
    val (items, weights) = lines.tail.toArray.map { l =>
      val i = l.lastIndexOf('\t')
      (l.substring(0, i), l.substring(i + 1).toLong)
    }.unzip
    MgSummary(total, items, weights)
  }

  /** (streamScope → applied batchIds, a trailing window), from the
    * newest version's `#applied` header lines — carried forward on
    * every publish. Bounded like `BatchMarkers`: ids more than 100
    * behind a scope's newest are dropped (batch ids are monotonic per
    * checkpoint; replays only ever reach back a few). */
  private def appliedMap(): Map[String, Set[Long]] =
    newestText().map { text =>
      splitHeader(text)._1.map { l =>
        val parts = l.split("\t", 3)
        parts(1) -> parts(2).split(",").filter(_.nonEmpty).map(_.toLong).toSet
      }.toMap
    }.getOrElse(Map.empty)

  /** Apply `update` to the stored summary and publish the result as the
    * next version — once per (batchId, streamScope); a replay returns
    * false and changes nothing. Serialized per store path in-JVM. */
  def updateOnceForBatch(batchId: Long, streamScope: String)(
      update: Option[MgSummary] => MgSummary): Boolean =
    MgSummaryStore.lockFor(lockKey).synchronized {
      require(!streamScope.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"streamScope must not contain tab/newline: '$streamScope'")
      val applied = appliedMap()
      if (applied.getOrElse(streamScope, Set.empty).contains(batchId)) false
      else {
        val next = update(read())
        // a newline inside an item would split the TSV row and make the
        // stored state permanently unreadable — refuse loudly (tabs are
        // fine: the read splits on the LAST tab)
        next.items.find(_.exists(c => c == '\n' || c == '\r')).foreach(i =>
          throw new IllegalArgumentException(
            s"summary item contains a newline/CR and cannot persist: '$i'"))
        val nextId = versions().lastOption.map(_._1 + 1).getOrElse(1L)
        val tmp = new Path(root, f".tmp-s$nextId%012d")
        fs.mkdirs(root)
        val out = fs.create(tmp, true)
        try {
          val sb = new StringBuilder
          val nextApplied = applied.updatedWith(streamScope) { cur =>
            val ids = cur.getOrElse(Set.empty) + batchId
            val floor = ids.max - 100
            Some(ids.filter(_ >= floor))
          }
          nextApplied.foreach { case (sc, ids) =>
            sb.append("#applied\t").append(sc).append('\t')
              .append(ids.toSeq.sorted.mkString(",")).append('\n')
          }
          sb.append(next.total).append('\n')
          next.items.indices.foreach { i =>
            sb.append(next.items(i)).append('\t')
              .append(next.weights(i)).append('\n')
          }
          out.write(sb.toString.getBytes("UTF-8"))
        } finally out.close()
        val dest = new Path(root, f"s$nextId%012d.tsv")
        if (!fs.rename(tmp, dest))
          throw new IllegalStateException(s"summary publish lost a race at $dest")
        // keep a short history (time travel is not the point here)
        versions().dropRight(3).foreach { case (_, p) => fs.delete(p, false) }
        true
      }
    }
}

object MgSummaryStore {
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(path: String): Object =
    locks.computeIfAbsent(path, _ => new Object)
}
