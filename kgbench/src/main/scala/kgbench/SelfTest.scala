package kgbench

import java.io.File
import scala.collection.mutable

import graft.kg._

/**
 * The benchmark's own tests: every output check accepts a correct output
 * and rejects the same output against a wrong count, and the build check
 * rejects a rebuild into a reused outDir (where `Materialize.run` skips
 * the buckets its manifest already lists).
 *
 *   kgbench.SelfTest --work <dir>      (exit 0 when every case holds)
 */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val work = new File(argv(argv.indexOf("--work") + 1))
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Pipeline.session("kgbench-selftest", master = Some(s"local[$cores]"))
    val failures = mutable.ArrayBuffer.empty[String]
    def accepts(name: String, errs: Seq[String]): Unit =
      if (errs.isEmpty) println(s"ok   $name: accepted")
      else failures += s"$name: rejected a correct output: ${errs.mkString("; ")}"
    def rejects(name: String, errs: Seq[String]): Unit =
      if (errs.nonEmpty) println(s"ok   $name: rejected (${errs.head})")
      else failures += s"$name: accepted a wrong output"

    try {
      val ctx = Ctx(spark, 7L, cores)
      val w = new BuildSkewed(ctx, Gen.Shape(docs = 48, stmtsPerDoc = 40, entities = 2000, dense = false))
      w.setup(new File(work, "build"))
      val src = w.source
      val want = w.expected(src)
      val out = new File(work, "build/out")
      val processed = Materialize.run(spark, src, out.getPath, Workload.Buckets, strict = true)
      accepts("build", Checks.build(spark, out.getPath, processed, want))
      val wrong = Seq(
        "statements" -> want.copy(statements = want.statements + 1),
        "distinct terms" -> want.copy(distinctTerms = want.distinctTerms - 1),
        "errors" -> want.copy(errors = want.errors + 1),
        "docs" -> want.copy(docs = want.docs + 1),
        "buckets" -> want.copy(buckets = want.buckets - 1))
      for ((what, bad) <- wrong) rejects(s"build with wrong $what", Checks.build(spark, out.getPath, processed, bad))

      // the same corpus grown by ~10% documents, built into the reused outDir
      val grown = new BuildSkewed(ctx, w.shape.copy(docs = 53))
      grown.setup(new File(work, "grown"))
      val reprocessed = Materialize.run(spark, grown.source, out.getPath, Workload.Buckets, strict = true)
      rejects("rebuild into a reused outDir",
        Checks.build(spark, out.getPath, reprocessed, grown.expected(grown.source)))
      rejects("build into an existing outDir",
        scala.util.Try(w.build(src, out, want, strict = true)).fold(e => Seq(e.getMessage), _.errors))

      val p = new ParseLink(ctx, Gen.Shape(docs = 4, stmtsPerDoc = 400, entities = 2000, dense = true))
      p.setup(new File(work, "parse"))
      val (triples, errors) = ParseLink.pass(spark, p.filesGlob, TripleExtract.LangLenient)
      val pWant = Expected(p.truth, 0L)
      accepts("parse_link pass", Checks.parse(triples, errors, pWant))
      rejects("parse_link pass with wrong triples", Checks.parse(triples, errors, pWant.copy(statements = triples + 1)))
      rejects("parse_link pass with wrong errors", Checks.parse(triples, errors, pWant.copy(errors = errors + 1)))
      val k = Layers.kernels(p.corpus.docs, lenient = true, p.truth, 0.05)
      accepts("single-thread kernels", k.errors)
      rejects("kernel with wrong triples", Checks.kernel("NtBytesParser", p.truth.lineTriples + 1, p.truth.lineErrors, p.truth))
      rejects("kernel with wrong errors", Checks.kernel("NtBytesParser", p.truth.lineTriples, p.truth.lineErrors - 1, p.truth))

      val graph = new File(work, "graph")
      accepts("graph build", w.build(src, graph, want, strict = true).errors)
      val edges = spark.read.parquet(new File(graph, "edges").getPath)
      val nodes = spark.read.parquet(new File(graph, "nodes").getPath)
      val mix = new QueryMix(w.truth, 7L)
      for (q <- mix.round(0) ++ mix.round(1)) {
        val rows = Sparql.run(edges, nodes, q.text).collect()
        accepts(s"query ${q.shape}", q.verify(rows).toSeq)
        rejects(s"query ${q.shape} with a wrong row count", q.copy(rows = q.rows + 1).verify(rows).toSeq)
        q.counts.foreach(c => rejects(s"query ${q.shape} with a wrong count",
          q.copy(counts = Some(c.updated(0, c.head + 1))).verify(rows).toSeq))
        q.ask.foreach(a => rejects(s"query ${q.shape} with the wrong answer", q.copy(ask = Some(!a)).verify(rows).toSeq))
      }
    } finally {
      spark.stop()
      Checks.delete(work)
    }
    failures.foreach(f => println(s"FAIL $f"))
    println(if (failures.isEmpty) "self-test passed" else s"self-test FAILED: ${failures.length} case(s)")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
