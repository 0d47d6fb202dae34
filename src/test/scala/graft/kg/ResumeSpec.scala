package graft.kg

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils

/**
 * E8 crash recovery: every on-disk state a killed `Materialize.run` can
 * leave is recreated from a finished build, re-run, and must converge to
 * the tables of a clean build.
 */
class ResumeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Buckets = 8

  private lazy val corpus = Corpus.synthetic(spark, nDocs = 40, linesPerDoc = 25)
    .union(Seq(CorpusRow("r", "bad.nt", "c", TripleExtract.LangLenient,
      "<a:b> <c:d> <e:f> .\nnope\n<a:b> <c:d> \"x\" .")).toDS())
  private lazy val nDocs = corpus.count()

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  private def copyTree(from: String, to: String): Unit =
    FileUtils.copyDirectory(new File(from), new File(to))

  private def deleteTree(dir: String): Unit = FileUtils.deleteDirectory(new File(dir))

  /** nodes, edges and metrics on their data columns, as sorted row lists
    * (`run` names the run that wrote a metrics row, not data). */
  private def tables(dir: String): Seq[Seq[String]] =
    Seq(spark.read.parquet(s"$dir/nodes"), spark.read.parquet(s"$dir/edges"),
      spark.read.parquet(s"$dir/metrics").drop("run"))
      .map(df => df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).sorted.toSeq)

  /** Exactly one metrics row per committed document. */
  private def assertOneMetricsRowPerDoc(dir: String, docs: Long): Unit = {
    val m = spark.read.parquet(s"$dir/metrics")
    assert(m.count() == docs)
    assert(m.select("repo", "path", "commit").distinct().count() == docs)
    assert(spark.read.parquet(s"$dir/manifest").agg(sum("n_docs")).head().getLong(0) == docs)
  }

  /** The `run=*` directories under staging are exactly the committed runs:
    * no crashed run's staging survives the sweep. */
  private def assertStagingRunsCommitted(dir: String): Unit = {
    val staged = new File(s"$dir/staging").list().filter(_.startsWith("run="))
      .map(_.stripPrefix("run=").toLong).toSet
    assert(staged == spark.read.parquet(s"$dir/manifest").select("run").as[Long].collect().toSet)
  }

  private lazy val ref: String = {
    val dir = tmp("graft-ref")
    assert(Materialize.run(spark, corpus, dir, Buckets) > 0)
    dir
  }

  private def recover(dir: String, state: String): Unit = {
    assert(Materialize.run(spark, corpus, dir, Buckets) > 0, state)
    assert(tables(dir) == tables(ref), state)
    assertOneMetricsRowPerDoc(dir, nDocs)
    assertStagingRunsCommitted(dir)
    assert(Materialize.run(spark, corpus, dir, Buckets) == 0, state)
  }

  test("crash after the staging write: re-run rebuilds every table") {
    val dir = tmp("graft-crash-a")
    copyTree(s"$ref/staging", s"$dir/staging")
    recover(dir, "staging only")
  }

  test("crash before the manifest append: the orphan metrics are swept") {
    val dir = tmp("graft-crash-b")
    copyTree(ref, dir)
    deleteTree(s"$dir/manifest")
    // a re-run over the upper buckets names itself differently from the
    // crashed run; neither its metrics nor its nodes and edges may hold
    // the crashed run's rows
    val upper = corpus.filter(Materialize.bucketOf(Buckets) >= Buckets / 2)
    assert(Materialize.run(spark, upper, dir, Buckets) > 0)
    assertOneMetricsRowPerDoc(dir, upper.count())
    assertStagingRunsCommitted(dir)
    val upperRef = tmp("graft-crash-b-upper")
    assert(Materialize.run(spark, upper, upperRef, Buckets) > 0)
    assert(tables(dir) == tables(upperRef))
    recover(dir, "everything but the manifest")
  }

  test("crash in the second of two runs: only its buckets are redone") {
    val dir = tmp("graft-crash-c")
    val lower = corpus.filter(Materialize.bucketOf(Buckets) < Buckets / 2)
    val n1 = Materialize.run(spark, lower, dir, Buckets)
    assert(n1 > 0)
    val firstRun = tmp("graft-crash-c-run1")
    copyTree(s"$dir/manifest", s"$firstRun/manifest")
    val firstMetrics = new File(s"$dir/metrics").list().toSet
    val n2 = Materialize.run(spark, corpus, dir, Buckets)
    assert(n1 + n2 == spark.read.parquet(s"$ref/manifest").count())
    // keep the manifest and metrics of the first run only
    deleteTree(s"$dir/manifest")
    copyTree(s"$firstRun/manifest", s"$dir/manifest")
    new File(s"$dir/metrics").listFiles()
      .filterNot(f => firstMetrics(f.getName)).foreach(f => deleteTree(f.getPath))
    assert(Materialize.run(spark, corpus, dir, Buckets) == n2)
    assert(tables(dir) == tables(ref))
    assertOneMetricsRowPerDoc(dir, nDocs)
    assert(spark.read.parquet(s"$dir/manifest").select("run").distinct().count() == 2)
    assertStagingRunsCommitted(dir)
  }

  test("run leaves the session's partition overwrite mode alone") {
    // two runs into one directory: a static overwrite of staging or
    // metrics would drop the first run's rows
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      val dir = tmp("graft-static")
      assert(Materialize.run(spark, corpus.filter(Materialize.bucketOf(Buckets) < Buckets / 2),
        dir, Buckets) > 0)
      assert(Materialize.run(spark, corpus, dir, Buckets) > 0)
      assert(spark.conf.get(key) == "static")
      assert(tables(dir) == tables(ref))
      assertStagingRunsCommitted(dir)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("an unreadable manifest fails the run instead of rebuilding") {
    val dir = tmp("graft-bad-manifest")
    Files.createDirectories(Paths.get(s"$dir/manifest"))
    Files.write(Paths.get(s"$dir/manifest/part-00000.parquet"), "not parquet".getBytes("UTF-8"))
    intercept[Exception](Materialize.run(spark, corpus, dir, Buckets))
    assert(!Files.exists(Paths.get(s"$dir/staging")))
  }
}
