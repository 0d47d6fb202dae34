package kgbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

import graft.kg._
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

final case class Ctx(spark: SparkSession, seed: Long, cores: Int)

/** One timed operation and the output-check mismatches it produced. */
final case class OpResult(seconds: Double, errors: Seq[String])

/**
 * A benchmark workload. `setup` generates the inputs under `dir` from the
 * seed, `warmUp` runs the code paths once untimed, and `op` runs one
 * checked operation on the inputs: one build, or one pass.
 */
abstract class Workload(ctx: Ctx) {
  import ctx._
  def name: String
  /** Operations a run measures at least, whatever `--seconds` says. */
  def minOps: Int
  def shape: Gen.Shape
  /** Parse mode of the generated documents. */
  def lenient: Boolean = shape.dense

  protected var dir: File = _
  var corpus: Gen.Corpus = _
  def truth: Truth = corpus.truth

  def setup(dir: File): Unit
  def warmUp(scratch: File): Unit
  def op(i: Int): OpResult
  def storedBytesPerInputByte: Double
  /** The generated documents as the production path reads them. */
  def source: Dataset[CorpusRow]
  /** The generated documents as `.nt` files, for NtFileSource. */
  def filesGlob: String
  def inputFiles: Seq[File]

  def inputs: Map[String, Any] = Map(
    "docs" -> corpus.docs.length, "statements" -> truth.statements,
    "physical_lines" -> truth.lines, "injected_errors" -> truth.errors,
    "distinct_terms" -> truth.distinctTerms, "content_bytes" -> corpus.contentBytes,
    "files" -> inputFiles.length, "file_bytes" -> inputFiles.map(_.length).sum)

  protected def generate(): Unit = corpus = Gen.generate(seed, shape)

  def lang: String = if (lenient) TripleExtract.LangLenient else TripleExtract.LangStrict

  protected def writeCorpus(docs: Seq[Gen.Doc], path: File): Unit = {
    import spark.implicits._
    spark.createDataset(docs.map(d => CorpusRow(d.repo, d.path, Gen.Commit, lang, d.content)))
      .repartition(16).write.parquet(path.getPath)
  }

  protected def readCorpus(path: File): Dataset[CorpusRow] = {
    import spark.implicits._
    spark.read.parquet(path.getPath).as[CorpusRow]
  }

  /** Writes each document as a file, every other one gzip-compressed
    * when `gz`; returns the files. */
  protected def writeFiles(docs: Seq[Gen.Doc], to: File, gz: Boolean): Seq[File] = {
    to.mkdirs()
    docs.zipWithIndex.map { case (d, i) =>
      val zip = gz && (i & 1) == 1
      val f = new File(to, f"doc$i%05d.nt" + (if (zip) ".gz" else ""))
      val raw = new java.io.FileOutputStream(f)
      val out = if (zip) new java.util.zip.GZIPOutputStream(raw) else raw
      try out.write(d.content.getBytes(UTF_8)) finally out.close()
      f
    }
  }

  /** One checked `Materialize.run` into the fresh directory `out`. */
  def build(src: Dataset[CorpusRow], out: File, want: Expected, strict: Boolean): OpResult = {
    require(!out.exists, s"build output $out already exists")
    val (processed, s) = Stats.timed(Materialize.run(spark, src, out.getPath, Workload.Buckets, strict))
    OpResult(s, Checks.build(spark, out.getPath, processed, want))
  }

  def builtBytes(out: File): Long =
    Seq("staging", "nodes", "edges", "metrics").map(t => Checks.bytes(new File(out, t))).sum

  def expected(src: Dataset[CorpusRow]): Expected =
    Expected(truth, Expected.buckets(src.toDF(), Workload.Buckets))
}

object Workload {
  final val Buckets = 64
  val names = Seq("build_skewed", "parse_link")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "build_skewed" => new BuildSkewed(ctx)
    case "parse_link" => new ParseLink(ctx)
  }
}

/** Corpus -> staging, nodes, edges, metrics and manifest parquet: the
  * write- and shuffle-bound production path, strict mode, 64 buckets. */
final class BuildSkewed(ctx: Ctx, val shape: Gen.Shape = Gen.Shape(docs = 1000, stmtsPerDoc = 200, entities = 15000, dense = false))
    extends Workload(ctx) {
  import ctx._
  val name = "build_skewed"
  val minOps = 2
  private var want: Expected = _
  private val stored = mutable.ArrayBuffer.empty[Double]

  def source: Dataset[CorpusRow] = readCorpus(new File(dir, "corpus"))

  def setup(d: File): Unit = {
    dir = d
    generate()
    writeCorpus(corpus.docs, new File(d, "corpus"))
    want = expected(source)
  }

  /** Two unchecked builds of the same corpus. The JIT needs the full
    * volume and the repetition: after one small build the first measured
    * build is a third slower than the later ones, after one full build
    * still ~20%, after two within the run-to-run noise. */
  def warmUp(scratch: File): Unit = (1 to 2).foreach { _ =>
    Materialize.run(spark, source, scratch.getPath, Workload.Buckets, strict = true)
    Checks.delete(scratch)
  }

  def op(i: Int): OpResult = {
    val out = new File(dir, s"build-$i")
    try {
      val r = build(source, out, want, strict = true)
      stored += builtBytes(out).toDouble / corpus.contentBytes
      r
    } finally Checks.delete(out)
  }

  def storedBytesPerInputByte: Double = Stats.median(stored.toSeq)

  /** Exports the corpus on first use as 64 `.nt` files, the file count
    * of parse_link. */
  def filesGlob: String = {
    val exported = new File(dir, "export")
    val perFile = (corpus.docs.length + 63) / 64
    if (!exported.exists)
      writeFiles(corpus.docs.grouped(perFile).map(ds => ds.head.copy(content = ds.map(_.content).mkString)).toSeq,
        exported, gz = false)
    exported.getPath + "/*"
  }
  def inputFiles: Seq[File] = Checks.dataFiles(new File(dir, "corpus"))
}

/** `.nt`/`.nt.gz` files -> NtFileSource -> parse -> skolemize ->
  * canonicalize -> edges, evaluated into the noop sink: the kernel-bound
  * path, lenient mode, nothing written and almost no shuffle. */
final class ParseLink(ctx: Ctx, val shape: Gen.Shape = Gen.Shape(docs = 64, stmtsPerDoc = 3000, entities = 20000, dense = true))
    extends Workload(ctx) {
  import ctx._
  val name = "parse_link"
  val minOps = 3
  private var files: Seq[File] = Nil

  def filesGlob: String = new File(dir, "files").getPath + "/*"
  def inputFiles: Seq[File] = files
  def source: Dataset[CorpusRow] = NtFileSource.documents(spark, filesGlob, lang = lang)

  def setup(d: File): Unit = {
    dir = d
    generate()
    files = writeFiles(corpus.docs, new File(d, "files"), gz = true)
  }

  /** Three passes: the first compiles, the next two let the JIT settle. */
  def warmUp(scratch: File): Unit = (1 to 3).foreach(_ => ParseLink.pass(spark, filesGlob, lang))

  def op(i: Int): OpResult = {
    val ((triples, errors), s) = Stats.timed(ParseLink.pass(spark, filesGlob, lang))
    OpResult(s, Checks.parse(triples, errors, Expected(truth, buckets = 0L)))
  }

  /** On-disk bytes of the input files over their UTF-8 content bytes;
    * this workload writes no tables. */
  def storedBytesPerInputByte: Double = files.map(_.length).sum.toDouble / corpus.contentBytes
}

object ParseLink {
  /** One fully evaluated parse+link pass; returns (edges, error rows),
    * counted in the same pass by observations. */
  def pass(spark: SparkSession, glob: String, lang: String): (Long, Long) = {
    val parsedObs = Observation("parsed")
    val edgesObs = Observation("edges")
    val docs = NtFileSource.documents(spark, glob, lang = lang)
    val parsed = TripleExtract.parseExpr(docs.toDF())
      .observe(parsedObs, count(when(col("err"), 1)).as("errors"))
    Materialize.edges(Canonicalize(Skolemize(TripleExtract.assembleTriples(parsed))))
      .observe(edgesObs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    (edgesObs.get("rows").asInstanceOf[Long], parsedObs.get("errors").asInstanceOf[Long])
  }
}
