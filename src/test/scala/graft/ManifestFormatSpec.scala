package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.pipeline.BucketedStateTable

/** The bucketed-table manifest has one strict reader: every line the
  * writer always emits is required, and a manifest missing one fails
  * loudly — naming the manifest and the line — on the handle path and
  * the handle-less paths alike, instead of being read under a guessed
  * layout. */
class ManifestFormatSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-manifest").toString

  /** A committed 4-bucket table at `<dir>/state`. */
  private def seeded(dir: String): BucketedStateTable = {
    val s = spark
    import s.implicits._
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 0L)
    t.merge(Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"),
      keys = Seq("k"))
    t
  }

  /** Rewrites the newest manifest without its `<key>=` line, through
    * the Hadoop API so the checksum sidecar stays consistent. */
  private def stripLine(root: String, key: String): Path = {
    val commits = new Path(s"$root/_commits")
    val fs = commits.getFileSystem(spark.sessionState.newHadoopConf())
    val newest = fs.listStatus(commits).map(_.getPath)
      .filter(_.getName.matches("c\\d+\\.txt")).maxBy(_.getName)
    val in = fs.open(newest)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(text.linesIterator.exists(_.startsWith(s"$key=")))
    val out = fs.create(newest, true)
    try out.write(text.linesIterator.filterNot(_.startsWith(s"$key="))
      .map(_ + "\n").mkString.getBytes("UTF-8"))
    finally out.close()
    newest
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" | ")

  private def assertNames(e: Throwable, manifest: Path, key: String): Unit = {
    val m = messages(e)
    assert(m.contains(manifest.getName) && m.contains(s"'$key='"),
      s"the failure must name the manifest and the missing line: $m")
  }

  Seq("keyCols", "numBuckets").foreach { key =>
    test(s"a manifest missing its $key= line fails loudly on every read path") {
      val s = spark
      import s.implicits._
      val dir = tmp()
      val t = seeded(dir)
      val root = s"$dir/state"
      val manifest = stripLine(root, key)
      val conf = spark.sessionState.newHadoopConf()

      // the handle path
      assertNames(intercept[IllegalStateException](t.read()), manifest, key)
      assertNames(intercept[IllegalStateException](
        t.merge(Seq(("d", 4L)).toDF("k", "v"), keys = Seq("k"))),
        manifest, key)
      // the handle-less paths
      assertNames(intercept[IllegalStateException](
        BucketedStateTable.snapshotLayout(conf, root)), manifest, key)
      assertNames(intercept[Exception](
        spark.read.format("graft-state").load(root).collect()),
        manifest, key)
    }
  }

  test("the scale probe diffs bucket pointers through the table's own manifest reader") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = seeded(dir)
    val root = s"$dir/state"
    val conf = spark.sessionState.newHadoopConf()
    val c1 = t.commits().last
    t.merge(Seq(("a", 10L)).toDF("k", "v"), keys = Seq("k"))
    val c2 = t.commits().last
    // one key rewritten: exactly its bucket's pointer moved
    assert(StateScaleProbe.bucketsRewritten(conf, root, c1, c2) == 1)
    assert(StateScaleProbe.bucketsRewritten(conf, root, c2, c2) == 0)
    intercept[NoSuchElementException](
      StateScaleProbe.bucketsRewritten(conf, root, c1, c2 + 1))
  }
}
