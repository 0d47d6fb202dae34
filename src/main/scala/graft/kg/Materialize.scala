package graft.kg

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * E6-E9: graph materialization with skew handling, per-partition
 * checkpoint/resume and metrics.
 *
 * Output layout under `outDir` (parquet tables; the writer is kept behind
 * this one object so swapping in a real Iceberg catalog is a config
 * change — the sandbox ships no Iceberg jars, see SURVEY.md §7):
 *
 *   staging/   run=R/err=B/...      one pass of the parse kernel, one file
 *                                   set per run: each corpus scan task
 *                                   writes one file per err directory
 *   nodes/                          distinct terms: id, kind, value, lang, dt
 *   edges/                          subj_id, pred, obj_id + lineage
 *   metrics/   run=R/...            per-document lineage + counts + sha256
 *                                   + bucket, one file set per run
 *   manifest/                       checkpoint rows (bucket, n_docs, run),
 *                                   one appended file per run
 *
 * Resume contract (E8): work is sharded into `buckets` by a hash of the
 * document identity (repo, path, commit). A run's buckets appear in
 * `manifest` only after its staging, nodes, edges and metrics outputs are
 * fully written, so a crashed/killed job re-runs exactly the missing
 * buckets: the corpus is anti-joined against the manifest before any
 * parsing happens. A run is named by its smallest todo bucket R, unique
 * among committed runs because their bucket sets are disjoint, and never
 * a committed run id itself. Each run first deletes every `staging/run=R`
 * and `metrics/run=R` without a manifest row — all a crash can leave
 * behind — so a crashed run's rows never reach nodes or edges, and its
 * buckets are parsed again under the new run. Staging and metrics writes
 * use dynamic partition overwrite (a write option; the session's setting
 * is left alone), so a run replaces only its own `run=R`; nodes and edges
 * are rebuilt from all of staging on every run.
 */
object Materialize {

  /** Deterministic work-shard id for a document row. */
  def bucketOf(buckets: Int): Column =
    pmod(xxhash64(col("repo"), col("path"), col("commit")), lit(buckets.toLong))

  /**
   * Read the staging table back with `err` re-typed: partition-column
   * type inference has no boolean case, so `err=true/false` directory
   * values come back as strings.
   */
  def readStaging(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/staging")
      .withColumn("err", col("err").cast("boolean"))

  /**
   * E6: salted repartition to break hot-key skew. Hash-partitions on
   * (key, salt) so a hub key spreads over `salts` partitions instead of
   * one, while small keys keep near-locality. AQE skew-join handling is
   * also enabled session-wide (see Pipeline.session).
   *
   * The salt MUST be deterministic per row: deriving it from
   * spark_partition_id()/monotonically_increasing_id() means a task retry
   * after a shuffle fetch failure recomputes map output with a DIFFERENT
   * row-to-partition mapping (SPARK-23207 class), silently losing or
   * duplicating rows on a real cluster. `saltFrom` names row-identity
   * columns (e.g. lineage repo/path/commit/line) whose hash spreads a hot
   * `key` uniformly yet reproducibly across retries.
   */
  def saltedRepartition(df: DataFrame, key: Column, saltFrom: Seq[Column],
                        salts: Int, numPartitions: Int): DataFrame = {
    val salt = pmod(xxhash64(saltFrom: _*), lit(salts.toLong))
    df.withColumn("__salt", salt)
      .repartition(numPartitions, key, col("__salt"))
      .drop("__salt")
  }

  /** Distinct nodes table from a (skolemized, canonicalized) triples frame.
    *
    * r7: DISTINCT-BEFORE-HASH — the dedup runs on the raw term tuple and
    * the sha256 id is computed only for the SURVIVORS. The id is a pure
    * function of the tuple and n3 is unambiguous for parser-produced
    * terms (lang tags are charset-validated, datatype IRIs cannot contain
    * `<`/`>`, literals always carry a datatype), so distinct-on-term ==
    * distinct-on-id row for row. Saves one sha256 per DUPLICATE term
    * occurrence (the bulk of a real corpus) and drops the 64-hex id from
    * the dedup shuffle (guide §2.3: shuffle fewer bytes). The shuffle key
    * (term tuple) hashes as uniformly as the digest did. */
  def nodes(triples: DataFrame): DataFrame = {
    // ONE pass over the triples (r7): the old subj/obj/pred three-way
    // union scanned the triples relation three times — at materialization
    // scale that is three reads of the staged corpus. The explode emits
    // the same three terms per triple from a single scan; same multiset,
    // same distinct.
    val predTerm = struct(lit(RdfTerm.IRI).cast("byte").as("kind"),
      col("pred").as("value"),
      lit(null).cast("string").as("lang"), lit(null).cast("string").as("dt"))
    triples
      .select(explode(array(col("subj"), col("obj"), predTerm)).as("t"))
      .select(col("t.kind").as("kind"), col("t.value").as("value"),
        col("t.lang").as("lang"), col("t.dt").as("dt"))
      .dropDuplicates("kind", "value", "lang", "dt")
      .select(
        Canonicalize.nodeId(
          struct(col("kind"), col("value"), col("lang"), col("dt"))).as("id"),
        col("kind"), col("value"), col("lang"), col("dt"))
  }

  /** Edges table: (subj_id, pred, obj_id) + lineage. Narrow transform. */
  def edges(triples: DataFrame): DataFrame =
    triples.select(
      Canonicalize.nodeId(col("subj")).as("subj_id"),
      col("pred"),
      Canonicalize.nodeId(col("obj")).as("obj_id"),
      col("repo"), col("path"), col("commit"), col("line"))

  /** Quad view: [[edges]] plus a `graph` column — a RAW graph IRI
    * (`urn:graph:<repo>`) derived from the repo lineage, the column the
    * SPARQL `GRAPH` surface constrains/binds. Raw like the pred column
    * (the same IRI value space), never hashed, so a constant graph is a
    * pushed string-equality on the scan and `GRAPH ?g` bindings join/
    * compare consistently with predicate bindings. Narrow transform. */
  def quads(edgesDf: DataFrame): DataFrame =
    edgesDf.withColumn("graph", concat(lit("urn:graph:"), col("repo")))

  /**
   * Property-table pivot: the edges (subj_id, pred, obj_id) long format
   * -> ONE WIDE ROW PER SUBJECT with a column per requested predicate —
   * the "KG to ML feature table" step (and the physical layout RDF
   * stores call a property table). Multi-valued predicates keep the
   * MINIMUM object id: deterministic, engine-independent (a bare
   * `first()` would depend on partition order and could never be
   * hash-checked — same reasoning as the scaled-integer PageRank).
   *
   * Scale shape: predicates are projected to conditional-aggregate
   * columns BEFORE the aggregate, so the shuffle carries exactly one
   * (subj_id, k columns) row per input edge and combines map-side; one
   * shuffle total, keyed on the uniformly-distributed sha256 subject.
   * The predicate list is an explicit argument (vocabulary-sized, known
   * to the pipeline author) — never inferred with a driver-side
   * distinct-collect over the corpus.
   */
  def propertyTable(edgesDf: DataFrame, preds: Seq[String]): DataFrame = {
    require(preds.nonEmpty, "propertyTable: empty predicate list")
    val aggs = preds.map(p =>
      min(when(col("pred") === lit(p), col("obj_id"))).as(p))
    edgesDf.groupBy(col("subj_id")).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Multi-valued property-table pivot: like [[propertyTable]] but a
   * repeated predicate keeps ALL its objects as a SORTED-DISTINCT array
   * column — what real KG property tables need for genuinely repeated
   * predicates (rdf:type, skos:altLabel). sort_array(collect_set(...))
   * is the deterministic, engine-independent rendering (set semantics +
   * total order), for the same reason propertyTable takes min: a bare
   * collect_list would depend on partition order and could never be
   * hash-checked.
   *
   * Scale shape: same single shuffle on subj_id with map-side partial
   * aggregation (ObjectHashAggregate for collect_set); per-subject state
   * is O(distinct objects of the requested predicates) — bounded by the
   * real data multiplicity, which is exactly what the caller asked to
   * materialize. A subject with pathological fan-out (a hub literal)
   * belongs in [[propertyTable]] or behind a pre-filter, not here.
   */
  def propertyTableMulti(edgesDf: DataFrame, preds: Seq[String]): DataFrame = {
    require(preds.nonEmpty, "propertyTableMulti: empty predicate list")
    val aggs = preds.map(p =>
      sort_array(collect_set(when(col("pred") === lit(p), col("obj_id")))).as(p))
    edgesDf.groupBy(col("subj_id")).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * E7+: bucketed (hash-clustered, sorted) edges table in the session
   * catalog. Bucketing on subj_id means every downstream self-join /
   * graph-traversal join on subject is SHUFFLE-FREE (bucket pruning +
   * sort-merge without Exchange) — at 100 TB this converts the dominant
   * repeated traversal shuffles into one write-time clustering. With a
   * real Iceberg catalog this maps to `bucket(N, subj_id)` partition
   * transforms.
   */
  def saveBucketedEdges(edgesDf: DataFrame, table: String, buckets: Int = 64): Unit =
    edgesDf.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "subj_id").sortBy("subj_id")
      .format("parquet").saveAsTable(table)

  /**
   * Small-file compaction for an (unpartitioned) parquet table directory
   * — the Iceberg `rewrite_data_files` maintenance action, emulated on
   * the plain-parquet seam. Small files are the silent scan killer at
   * 100 TB (one footer read + one task per file, metadata pressure), and
   * resumable bucket-at-a-time jobs produce them by design; compaction
   * rewrites the table into ceil(totalBytes / targetFileBytes) files.
   * Crash safety: the rewrite lands in a temp dir first, then swaps via
   * rename — at every instant a complete copy of the data exists on
   * disk (a crash can leave a *.compact_tmp / *.compact_old dir to
   * sweep, never a half table). With a real Iceberg catalog this whole
   * method is `CALL rewrite_data_files(...)` and the swap is a snapshot
   * commit. Returns the new file count.
   */
  def compact(spark: SparkSession, tableDir: String,
              targetFileBytes: Long = 128L << 20): Int = {
    val path = new org.apache.hadoop.fs.Path(tableDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val total = fs.getContentSummary(path).getLength
    val nFiles = math.max(1, math.ceil(total.toDouble / targetFileBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(tableDir + ".compact_tmp")
    val old = new org.apache.hadoop.fs.Path(tableDir + ".compact_old")
    fs.delete(tmp, true)
    fs.delete(old, true)
    spark.read.parquet(tableDir).repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // Hadoop FileSystem.rename reports most failures by RETURNING FALSE
    // (it rarely throws); an unchecked false here would corrupt the swap
    // — the second rename would nest tmp INSIDE the still-present table
    // dir — while compact() reports success. Fail loudly instead; a crash
    // between the renames leaves the full copy at *.compact_old for a
    // manual sweep (documented above).
    if (!fs.rename(path, old))
      throw new java.io.IOException(s"compact: rename $path -> $old failed; table unchanged")
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(
        s"compact: rename $tmp -> $path failed; complete copy preserved at $old")
    fs.delete(old, true)
    nFiles
  }

  /**
   * E9: per-document metrics with lineage and the content sha256
   * invariant (BASELINE.json: per-row `sha256(content)` equality is
   * carried next to the counts so any downstream consumer can audit that
   * the bytes parsed are the bytes shipped).
   */
  def metrics(corpus: DataFrame, parsed: DataFrame): DataFrame = {
    val counts = parsed.groupBy("repo", "path", "commit").agg(
      sum(when(!col("err"), 1L).otherwise(0L)).as("n_triples"),
      sum(when(col("err"), 1L).otherwise(0L)).as("n_errors"))
    corpus
      .select(col("repo"), col("path"), col("commit"),
        sha2(col("content"), 256).as("content_sha256"))
      .join(counts, Seq("repo", "path", "commit"), "left")
      .na.fill(0L, Seq("n_triples", "n_errors"))
  }

  private val manifestSchema = "bucket BIGINT, n_docs BIGINT, run BIGINT"

  /**
   * Full materialization run with resume. Returns the number of buckets
   * actually processed in this invocation (0 == nothing left to do).
   */
  def run(spark: SparkSession, corpus: Dataset[CorpusRow], outDir: String,
          buckets: Int = 64, strict: Boolean = false): Int = {
    import spark.implicits._

    // ---- committed (bucket, run) pairs. A missing manifest means a fresh
    // build; any other read failure propagates rather than silently
    // re-parsing and overwriting every bucket
    val manifestPath = s"$outDir/manifest"
    val stagingDir = new Path(s"$outDir/staging")
    val metricsDir = new Path(s"$outDir/metrics")
    val fs = metricsDir.getFileSystem(spark.sessionState.newHadoopConf())
    val committed =
      if (!fs.exists(new Path(manifestPath))) Array.empty[(Long, Long)]
      else spark.read.schema(manifestSchema).parquet(manifestPath)
        .select("bucket", "run").as[(Long, Long)].collect()

    // ---- sweep staging and metrics of runs that crashed before their
    // manifest append
    val runs = committed.map(_._2).toSet
    for (dir <- Seq(stagingDir, metricsDir) if fs.exists(dir))
      fs.listStatus(dir).map(_.getPath)
        .filter(p => p.getName.startsWith("run=") && !runs(p.getName.stripPrefix("run=").toLong))
        .foreach(fs.delete(_, true))

    // ---- one probe of the todo corpus: its buckets, the run id R (the
    // smallest of them, never a committed run id) and the manifest rows
    val done = committed.map(_._1).distinct.toSeq.toDF("bucket")
    val todo = corpus.toDF().withColumn("bucket", bucketOf(buckets))
      .join(broadcast(done), Seq("bucket"), "left_anti")
    val todoCounts = todo.groupBy("bucket").agg(count(lit(1)))
      .as[(Long, Long)].collect().sorted
    if (todoCounts.isEmpty) return 0
    val run = todoCounts.head._1

    // ---- parse (single pass, as wide as the corpus scan) -> staging,
    // partitioned by (run, err): each scan task writes one file per err
    // native generator path: no object-serde boundary (see ParseNtLines)
    val parsed = TripleExtract.parseExpr(todo.drop("bucket")).withColumn("run", lit(run))
    val firstErr = Observation("firstErr")
    parsed
      .observe(firstErr, min(when(col("err"), struct(col("repo"), col("path"),
        col("commit"), col("line"), col("charPos"), col("message")))).as("e"))
      .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy("run", "err")
      .parquet(stagingDir.toString)

    // the smallest (repo, path, commit, line) error, seen by the write itself
    if (strict) {
      val e = firstErr.get("e").asInstanceOf[Row]
      if (e != null)
        throw new IllegalStateException(s"strict mode: ${e.mkString(" | ")}")
    }

    // ---- derive graph tables from ALL staged triples (cheap vs parse)
    val staged = readStaging(spark, outDir)
    val triplesDf = Canonicalize(Skolemize(TripleExtract.assembleTriples(staged)))
    nodes(triplesDf).write.mode(SaveMode.Overwrite).parquet(s"$outDir/nodes")
    saltedRepartition(edges(triplesDf), col("subj_id"),
      saltFrom = Seq(col("repo"), col("path"), col("commit"), col("line")),
      salts = 16,
      numPartitions = spark.sessionState.conf.numShufflePartitions)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/edges")

    // ---- metrics for the documents processed in THIS run: counted from
    // the STAGED rows, not the live parse plan — re-evaluating `parsed`
    // here would parse the whole todo corpus a second time
    metrics(todo.drop("bucket"), staged.filter(col("run") === run))
      .withColumn("bucket", bucketOf(buckets))
      .withColumn("run", lit(run))
      .repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy("run")
      .parquet(metricsDir.toString) // replaces run=R only

    // ---- commit the checkpoint LAST: one appended file of this run's rows
    todoCounts.toSeq.map { case (bucket, n) => (bucket, n, run) }
      .toDF("bucket", "n_docs", "run")
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(manifestPath)

    todoCounts.length
  }
}
