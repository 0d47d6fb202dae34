package kgbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import graft.kg._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

/** A layer measurement: its metrics and the output-check mismatches. */
final case class LayerResult(metrics: Map[String, M], errors: Seq[String])

/**
 * The traced run's per-layer measurements. Each one calls the layer's
 * public functions from outside the program, on the workload's own
 * generated inputs.
 */
object Layers {

  private def noop(df: DataFrame): Double =
    Stats.timed(df.write.format("noop").mode("overwrite").save())._2

  /** NtBytesParser and NtLineParser on one thread, no Spark, over every
    * physical line of the generated documents (a multi-line long literal
    * is one error per line here, as in a line-at-a-time reader). */
  def kernels(docs: Seq[Gen.Doc], lenient: Boolean, truth: Truth, budgetS: Double): LayerResult = {
    val bytes = docs.map(_.content.getBytes(UTF_8))
    val texts = docs.map(_.content)

    def bytesPass(): (Long, Long) = {
      val p = if (lenient) NtBytesParser.lenient else NtBytesParser.strict
      var triples, errors = 0L
      for (b <- bytes) {
        var from = 0; var ln = 0
        while (from < b.length) {
          var e = from
          while (e < b.length && b(e) != '\n') e += 1
          ln += 1
          try { if (p.parseSlice(b, from, e, ln)) triples += 1 }
          catch { case _: NtParseException => errors += 1 }
          from = e + 1
        }
      }
      (triples, errors)
    }

    def charsPass(): (Long, Long) = {
      val p = if (lenient) NtLineParser.lenient else NtLineParser.strict
      var triples, errors = 0L
      for (t <- texts) {
        var from = 0; var ln = 0
        while (from < t.length) {
          var e = t.indexOf('\n', from)
          if (e < 0) e = t.length
          ln += 1
          try { if (p.parseSlice(t, from, e, ln)) triples += 1 }
          catch { case _: NtParseException => errors += 1 }
          from = e + 1
        }
      }
      (triples, errors)
    }

    /** Lines/s after one untimed checked pass; at least one timed pass. */
    def rate(name: String, pass: () => (Long, Long)): (M, Seq[String]) = {
      val (triples, errors) = pass()
      val t0 = System.nanoTime()
      var passes = 0
      while (passes == 0 || Stats.secondsSince(t0) < budgetS) { pass(); passes += 1 }
      (M(passes * truth.lines / Stats.secondsSince(t0), "1/s"), Checks.kernel(name, triples, errors, truth))
    }

    val (b, be) = rate("NtBytesParser", () => bytesPass())
    val (c, ce) = rate("NtLineParser", () => charsPass())
    LayerResult(Map("NtBytesParser.lines_per_s_1t" -> b, "NtLineParser.lines_per_s_1t" -> c), be ++ ce)
  }

  /** `NtFileSource.documents` (file listing included) into the noop sink. */
  def fileRead(spark: SparkSession, glob: String, lang: String): LayerResult =
    LayerResult(Map("NtFileSource.read_s" ->
      M(Stats.timed(noop(NtFileSource.documents(spark, glob, lang = lang).toDF()))._2, "s")), Nil)

  /** The stage ladder: each prefix of parse -> skolemize -> canonicalize
    * -> edges / nodes evaluated into the noop sink; a layer's time is the
    * difference between its prefix and the one before. `Skolemize.s`
    * includes `assembleTriples`' struct assembly. */
  def ladder(src: DataFrame, truth: Truth): LayerResult = {
    val obs = Observation("ladder")
    val tParse = noop(TripleExtract.parseExpr(src)
      .observe(obs, count(lit(1)).as("rows"), count(when(col("err"), 1)).as("errors")))
    val rows = obs.get("rows").asInstanceOf[Long]
    val errors = obs.get("errors").asInstanceOf[Long]
    val skol = Skolemize(TripleExtract.assembleTriples(TripleExtract.parseExpr(src)))
    val tSkol = noop(skol)
    val canon = Canonicalize(skol)
    val tCanon = noop(canon)
    val tEdges = noop(Materialize.edges(canon))
    val tNodes = noop(Materialize.nodes(canon))
    LayerResult(Map(
      "TripleExtract.parse_s" -> M(tParse, "s"),
      "TripleExtract.rows_out" -> M(rows.toDouble, "count"),
      "TripleExtract.error_rows" -> M(errors.toDouble, "count"),
      "TripleExtract.triples_per_line" -> M((rows - errors).toDouble / truth.lines, "ratio"),
      "Skolemize.s" -> M(tSkol - tParse, "s"),
      "Canonicalize.s" -> M(tCanon - tSkol, "s"),
      "Materialize.edges_s" -> M(tEdges - tCanon, "s"),
      "Materialize.nodes_s" -> M(tNodes - tCanon, "s")),
      Checks.parse(rows - errors, errors, Expected(truth, 0L)))
  }

  final val Tables = Seq("staging", "nodes", "edges", "metrics", "manifest")

  /** One `Materialize.run` under the probe: per-write times, shuffle and
    * spill volume, plan exchanges, files and bytes per table, the id
    * columns' share of the edges bytes (parquet footers) and the task
    * skew of the edges write. */
  def materialize(spark: SparkSession, probe: Probe, src: Dataset[CorpusRow], out: File,
                  strict: Boolean, want: Expected): LayerResult = {
    probe.drain(); probe.reset()
    val processed = Materialize.run(spark, src, out.getPath, Workload.Buckets, strict)
    probe.drain()
    val actions = probe.synchronized(probe.actions.toVector)
    val tasks = probe.synchronized(probe.tasks.values.toVector)
    val writeS = Tables.map(t => s"Materialize.${t}_write_s" ->
      M(actions.filter(_.target.contains(t)).map(_.seconds).sum, "s"))
    val files = Tables.map(t => t -> Checks.dataFiles(new File(out, t))).toMap
    val bytes = Tables.take(4).map(t => s"Materialize.output_bytes.$t" -> M(files(t).map(_.length).sum.toDouble, "B"))
    val edgeStages = probe.tasksOf("edges").flatMap(_.runMsByStage.toSeq)
    val skew = if (edgeStages.isEmpty) 0.0 else {
      val last = edgeStages.maxBy(_._1)._2.map(_.toDouble).toSeq
      last.max / math.max(1.0, Stats.median(last))
    }
    val metrics = (writeS ++ bytes ++ Seq(
      "Materialize.shuffle_write_bytes" -> M(tasks.map(_.shuffleWrite).sum.toDouble, "B"),
      "Materialize.shuffle_read_bytes" -> M(tasks.map(_.shuffleRead).sum.toDouble, "B"),
      "Materialize.spill_bytes" -> M(tasks.map(_.spill).sum.toDouble, "B"),
      "Materialize.exchanges" -> M(actions.map(_.exchanges).sum.toDouble, "count"),
      "Materialize.output_files" -> M(files.values.map(_.length).sum.toDouble, "count"),
      "Materialize.edges_id_bytes_share" -> M(idShare(spark, files("edges")), "ratio"),
      "Materialize.edges_task_skew" -> M(skew, "ratio"))).toMap
    LayerResult(metrics, Checks.build(spark, out.getPath, processed, want))
  }

  /** subj_id + obj_id column-chunk bytes over all edges column-chunk bytes. */
  private def idShare(spark: SparkSession, files: Seq[File]): Double = {
    val conf = spark.sparkContext.hadoopConfiguration
    var ids, all = 0L
    for (f <- files if f.getName.endsWith(".parquet")) {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toURI), conf))
      try for (b <- r.getFooter.getBlocks.asScala; c <- b.getColumns.asScala) {
        all += c.getTotalSize
        if (Set("subj_id", "obj_id")(c.getPath.toDotString)) ids += c.getTotalSize
      } finally r.close()
    }
    if (all == 0) 0.0 else ids.toDouble / all
  }

  private final case class QueryStat(parseS: Double, planS: Double, execS: Double,
                                     exchanges: Int, broadcasts: Int, scanRows: Long,
                                     rows: Int, error: Option[String])

  /** Queries over built tables: parse, plan (DataFrame built and
    * executedPlan forced) and execution times per query; exchanges,
    * broadcasts and scanned rows from the final plans of its actions. */
  def queries(probe: Probe, tracer: Tracer, edges: DataFrame, nodes: DataFrame,
              qs: Seq[Query]): LayerResult = {
    val per = for (q <- qs) yield tracer(s"query.${q.shape}") {
      probe.drain()
      val before = probe.synchronized(probe.actions.length)
      val (_, parseS) = Stats.timed(Sparql.parse(q.text))
      val (df, planS) = Stats.timed { val df = Sparql.run(edges, nodes, q.text); df.queryExecution.executedPlan; df }
      val (rows, execS) = Stats.timed(df.collect())
      probe.drain()
      val acts = probe.synchronized(probe.actions.drop(before).toVector)
      QueryStat(parseS, planS, execS, acts.map(_.exchanges).sum, acts.map(_.broadcasts).sum,
        acts.map(_.scanRows).sum, rows.length, q.verify(rows))
    }
    val n = per.length.toDouble
    LayerResult(Map(
      "Sparql.parse_ms" -> M(Stats.median(per.map(_.parseS * 1000)), "ms"),
      "Sparql.plan_ms" -> M(Stats.median(per.map(_.planS * 1000)), "ms"),
      "Sparql.exec_ms" -> M(Stats.median(per.map(_.execS * 1000)), "ms"),
      "Bgp.exchanges" -> M(per.map(_.exchanges).sum / n, "count"),
      "Bgp.broadcasts" -> M(per.map(_.broadcasts).sum / n, "count"),
      "Sparql.scan_rows_per_result" ->
        M(per.map(_.scanRows).sum.toDouble / math.max(1, per.map(_.rows).sum), "ratio")),
      per.flatMap(_.error))
  }
}
