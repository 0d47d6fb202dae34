package kgbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.kg.Pipeline

/**
 * Benchmark entry point.
 *
 *   kgbench.Main --workload <build_skewed|parse_link|sparql_mix> --seed <n>
 *                --seconds <s> --trace <0|1> --work <dir> [--trace-out <file>]
 *
 * Prints an environment line, a detail line and, last, the result line
 * `{"correct", "attempted", "failed", "metrics"}`. `--trace 0` measures
 * the end-to-end metrics with no listener attached; `--trace 1` is the
 * separate traced run that reports the per-layer metrics.
 */
object Main {

  /** Set-up repetitions per run; setup_s reports their median. */
  final val SetupReps = 3
  /** A measured phase that overruns this is cut short, whatever minOps says. */
  final val MaxMeasureS = 100.0

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args.getOrElse("workload", "")
    if (!Workload.names.contains(workload)) {
      System.err.println(s"unknown workload '$workload'; expected one of ${Workload.names.mkString(", ")}")
      sys.exit(2)
    }
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = new File(args("work"))
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val spark = Pipeline.session("kgbench", master = Some(s"local[$cores]"))
    val sessionS = Stats.secondsSince(t0)
    val ctx = Ctx(spark, seed, cores)
    val w = Workload(workload, ctx)
    try {
      val (metrics, outcomes, detail) =
        if (trace) traced(w, ctx, work, new File(args("trace-out")))
        else measured(w, work, seconds, sessionS)
      val conf = spark.sparkContext.getConf.getAll.toMap ++
        spark.conf.getAll.filter(_._1.startsWith("spark.sql."))
      val rt = ManagementFactory.getRuntimeMXBean
      println(Json.obj("environment" -> Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "nproc" -> cores,
        "git_commit" -> sys.env.getOrElse("KGBENCH_GIT_COMMIT", "unknown"),
        "source_digest" -> sys.env.getOrElse("KGBENCH_SOURCE_DIGEST", "unknown"),
        "java" -> System.getProperty("java.version"),
        "jvm_args" -> rt.getInputArguments.asScala.toSeq,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
        "spark_version" -> spark.version,
        "spark_conf" -> conf,
        "inputs" -> w.inputs)))
      val failed = outcomes.count(_.nonEmpty)
      println(Json.obj("detail" -> (detail ++ Map(
        "failed_frac" -> failed.toDouble / outcomes.length,
        "errors" -> outcomes.flatten.take(20)))))
      println(Json.obj(
        "correct" -> (failed == 0),
        "attempted" -> outcomes.length,
        "failed" -> failed,
        "metrics" -> metrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) }))
    } finally {
      spark.stop()
      Checks.delete(work)
    }
  }

  /** What a run returns: its metrics, the check mismatches of each
    * operation attempted (empty when it passed) and the detail record. */
  type Outcome = (Map[String, M], Seq[Seq[String]], Map[String, Any])

  /** End-to-end run: set up SetupReps times, warm up, then run checked
    * operations for `seconds` (and at least the workload's minimum). */
  def measured(w: Workload, work: File, seconds: Double, sessionS: Double): Outcome = {
    val setups = (0 until SetupReps).map { k =>
      val s = Stats.timed(w.setup(new File(work, s"setup-$k")))._2
      if (k > 0) Checks.delete(new File(work, s"setup-${k - 1}"))
      s
    }
    val warmS = Stats.timed(w.warmUp(new File(work, "warm")))._2
    // every operation starts from a collected heap and flushed disks; the
    // live heap after each one is the heap metric
    val liveMb = mutable.ArrayBuffer(settle())
    val ops = mutable.ArrayBuffer.empty[OpResult]
    val t0 = System.nanoTime()
    while ((Stats.secondsSince(t0) < seconds || ops.length < w.minOps) &&
           Stats.secondsSince(t0) < MaxMeasureS) {
      val s0 = System.nanoTime()
      ops += (try w.op(ops.length)
              catch { case e: Exception => OpResult(Stats.secondsSince(s0), Seq(s"op ${ops.length} threw: $e")) })
      liveMb += settle()
    }
    val wall = Stats.median(ops.map(_.seconds).toSeq)
    val metrics = Map(
      "setup_s" -> M(sessionS + warmS + Stats.median(setups), "s"),
      "wall_s" -> M(wall, "s"),
      "triples_per_s" -> M(w.truth.statements / wall, "1/s"),
      "stored_bytes_per_input_byte" -> M(w.storedBytesPerInputByte, "ratio"),
      "heap_peak_mb" -> M(liveMb.max, "MB"))
    val detail = Map[String, Any](
      "session_s" -> sessionS, "setup_reps_s" -> setups, "warm_up_s" -> warmS,
      "ops" -> ops.length, "measured_s" -> Stats.secondsSince(t0), "op_s" -> ops.map(_.seconds).toSeq)
    (metrics, ops.toSeq.map(_.errors), detail)
  }

  private def settle(): Double = { Jvm.syncDisks(); Jvm.liveHeapMb() }

  /** The traced run: after the warm-up one operation untraced and one
    * with spans and listeners on (their difference is the tracing
    * overhead), then every layer measurement on the workload's own
    * inputs. */
  def traced(w: Workload, ctx: Ctx, work: File, traceOut: File): Outcome = {
    val spark = ctx.spark
    val tracer = new Tracer(traceOut.getName.stripSuffix(".json"))
    val probe = new Probe(spark, tracer)
    tracer("setup")(w.setup(new File(work, "setup")))
    tracer("warm_up")(w.warmUp(new File(work, "warm")))
    settle()
    val (op0, untracedS) = Stats.timed(w.op(0))
    settle()
    probe.attach()
    val gc0 = Jvm.gcSeconds
    val (op1, tracedS) = Stats.timed(tracer(s"${w.name}.op")(w.op(1)))
    probe.drain()
    val gcS = Jvm.gcSeconds - gc0
    val cpuRatio = probe.cpuSeconds / (tracedS * ctx.cores)

    val kernels = tracer("NtBytesParser+NtLineParser")(Layers.kernels(w.corpus.docs, w.lenient, w.truth, 0.5))
    val glob = tracer("export")(w.filesGlob)
    val read = tracer("NtFileSource")(Layers.fileRead(spark, glob, w.lang))
    val ladder = tracer("ladder")(Layers.ladder(w.source.toDF(), w.truth))
    val out = new File(work, "layer-build")
    val mat = tracer("Materialize")(Layers.materialize(spark, probe, w.source, out,
      strict = !w.lenient, w.expected(w.source)))
    val queries = tracer("Sparql")(Layers.queries(probe, tracer,
      spark.read.parquet(new File(out, "edges").getPath), spark.read.parquet(new File(out, "nodes").getPath),
      new QueryMix(w.truth, ctx.seed).round(0)))
    probe.detach()
    Checks.delete(out)

    val layers = Seq(kernels, read, ladder, mat, queries)
    val metrics = layers.flatMap(_.metrics).toMap ++ Map(
      "jvm.gc_s" -> M(gcS, "s"),
      "spark.cpu_busy_ratio" -> M(cpuRatio, "ratio"),
      "trace.wall_s" -> M(tracedS, "s"),
      "trace.untraced_wall_s" -> M(untracedS, "s"),
      "trace.overhead_s" -> M(tracedS - untracedS, "s"))
    tracer.write(traceOut)
    (metrics, Seq(op0, op1).map(_.errors) ++ layers.map(_.errors),
      Map("trace_file" -> traceOut.getPath, "spans" -> tracer.size))
  }
}
