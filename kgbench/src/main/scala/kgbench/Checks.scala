package kgbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a correct build of one corpus must show, from generator truth. */
final case class Expected(statements: Long, distinctTerms: Long, errors: Long,
                          docs: Long, buckets: Long)

object Expected {
  def apply(t: Truth, buckets: Long): Expected =
    Expected(t.statements, t.distinctTerms, t.errors, t.docs.toLong, buckets)

  /** Work shards the corpus spans, computed with Spark built-ins over the
    * generated documents (the same hash the production path documents). */
  def buckets(corpus: DataFrame, n: Int): Long =
    corpus.select(pmod(xxhash64(col("repo"), col("path"), col("commit")), lit(n.toLong)))
      .distinct().count()
}

/** Output checks; each returns the list of mismatches, empty when correct. */
object Checks {

  private def expect(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")

  /** A finished `Materialize.run` into a fresh `outDir`. `processed` is
    * what the run returned: a reused outDir processes fewer buckets than
    * the corpus spans and fails here instead of reporting a fast build. */
  def build(spark: SparkSession, outDir: String, processed: Int, want: Expected): Seq[String] = {
    val metrics = spark.read.parquet(s"$outDir/metrics")
      .agg(count(lit(1)), sum("n_triples"), sum("n_errors")).head()
    val manifest = spark.read.parquet(s"$outDir/manifest").agg(count(lit(1)), sum("n_docs")).head()
    Seq(
      expect("buckets processed", processed.toLong, want.buckets),
      expect("edges rows", spark.read.parquet(s"$outDir/edges").count(), want.statements),
      expect("nodes rows", spark.read.parquet(s"$outDir/nodes").count(), want.distinctTerms),
      expect("metrics rows", metrics.getLong(0), want.docs),
      expect("metrics n_triples", metrics.getLong(1), want.statements),
      expect("metrics n_errors", metrics.getLong(2), want.errors),
      expect("manifest buckets", manifest.getLong(0), want.buckets),
      expect("manifest n_docs", manifest.getLong(1), want.docs)).flatten
  }

  /** One parse+link pass: triples out and lenient error rows. */
  def parse(triples: Long, errors: Long, want: Expected): Seq[String] =
    Seq(expect("edges rows", triples, want.statements), expect("error rows", errors, want.errors)).flatten

  /** A single-thread kernel pass over physical lines. */
  def kernel(name: String, triples: Long, errors: Long, t: Truth): Seq[String] =
    Seq(expect(s"$name triples", triples, t.lineTriples),
      expect(s"$name errors", errors, t.lineErrors)).flatten

  /** Bytes of the data files under `dir` (checksum and marker files skipped). */
  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else if (dir.isFile) { if (dir.getName.startsWith(".") || dir.getName.startsWith("_")) Nil else Seq(dir) }
    else Option(dir.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(dataFiles)

  def bytes(dir: File): Long = dataFiles(dir).map(_.length).sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
