package kgbench

import java.util.SplittableRandom
import org.apache.spark.sql.Row

/** One query of the mix and the answer the generator knows for it. */
final case class Query(shape: String, text: String, rows: Long,
                       counts: Option[Seq[Long]] = None, ask: Option[Boolean] = None) {

  /** None when `result` is the known answer, else what differs. */
  def verify(result: Array[Row]): Option[String] = {
    def bad(what: String) = Some(s"$shape: $what for: $text")
    if (result.length.toLong != rows) bad(s"${result.length} rows, expected $rows")
    else ask match {
      case Some(want) =>
        val got = result(0).getBoolean(0)
        if (got != want) bad(s"ASK gave $got, expected $want") else None
      case None => counts match {
        case Some(want) =>
          val got = result.map(r => r.get(r.fieldIndex("n")).asInstanceOf[Number].longValue).toSeq.sorted
          if (got != want.sorted) bad(s"counts ${got.mkString(",")}, expected ${want.sorted.mkString(",")}")
          else None
        case None => None
      }
    }
  }
}

/**
 * The seeded SPARQL mix for a generated graph. A round is one query of
 * each of the eight shapes in a seeded order, so every seed runs the same
 * shape composition and only the constants change. Half of a round's
 * shapes take a scan-heavy constant and half a selective one, swapping
 * from one round to the next.
 */
final class QueryMix(truth: Truth, seed: Long) {
  import Gen._

  private val knows = truth.adjacency(truth.iri(Knows))
  private val knowsSubjects = knows.keys.toVector.sorted
  private val members = truth.adjacency(truth.iri(MemberOf))
  private val typeCount = truth.adjacency(truth.iri(RdfType)).view.mapValues(_.length.toLong).toMap
  private val labelCount = truth.adjacency(truth.iri(RdfsLabel)).view.mapValues(_.length.toLong).toMap
  private val p4Values = truth.intValues(truth.iri(P4)).sorted
  private val predCounts = truth.predCounts.values.toSeq
  private val hubIds = (0 until Hubs).map(h => truth.iri(hub(h)))
  private val membersOfHub: Map[Int, Vector[Int]] =
    members.toVector.flatMap { case (s, hs) => hs.map(_ -> s) }.groupMap(_._1)(_._2)
  private val iris: Map[Int, String] =
    truth.termIds.collect { case (k, v) if k.startsWith("I") => v -> k.substring(1) }

  val Shapes = Vector("hub_star", "two_hop", "path_plus", "group_count",
    "value_filter", "optional", "order_limit", "ask")

  def round(r: Int): Vector[Query] = {
    val rnd = new SplittableRandom(seed * 1000003L + r)
    val order = Shapes.indices.toArray
    for (i <- order.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    order.toVector.map(i => make(Shapes(i), rnd, broad = ((r + i) & 1) == 1))
  }

  private def closure(e: Int): Int = {
    val seen = scala.collection.mutable.HashSet.empty[Int]
    var frontier = knows.getOrElse(e, Vector.empty)
    while (frontier.nonEmpty) {
      frontier = frontier.filter(seen.add)
      frontier = frontier.flatMap(knows.getOrElse(_, Vector.empty))
    }
    seen.size
  }

  private def make(shape: String, rnd: SplittableRandom, broad: Boolean): Query = {
    val h = rnd.nextInt(Hubs)
    val hubIri = hub(h)
    val e = knowsSubjects(rnd.nextInt(knowsSubjects.length))
    val eIri = iris(e)
    shape match {
      case "hub_star" =>
        val n = membersOfHub.getOrElse(hubIds(h), Vector.empty).map(typeCount.getOrElse(_, 0L)).sum
        Query(shape, s"SELECT ?s ?t WHERE { ?s <$MemberOf> <$hubIri> . ?s <$RdfType> ?t }", n)
      case "two_hop" =>
        val n = knows(e).map(y => knows.getOrElse(y, Vector.empty).length.toLong).sum
        Query(shape, s"SELECT ?y ?z WHERE { <$eIri> <$Knows> ?y . ?y <$Knows> ?z }", n)
      case "path_plus" =>
        Query(shape, s"SELECT ?z WHERE { <$eIri> <$Knows>+ ?z }", closure(e).toLong)
      case "group_count" if broad =>
        Query(shape, s"SELECT ?p (COUNT(?o) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p",
          predCounts.length.toLong, counts = Some(predCounts))
      case "group_count" =>
        val c = truth.predCountsOf(hubIds(h)).values.toSeq
        Query(shape, s"SELECT ?p (COUNT(?o) AS ?n) WHERE { <$hubIri> ?p ?o } GROUP BY ?p",
          c.length.toLong, counts = Some(c))
      case "value_filter" =>
        val k = if (broad) rnd.nextInt(50000) else 97000 + rnd.nextInt(2900)
        val n = p4Values.length - upperBound(p4Values, k)
        Query(shape, s"SELECT ?s ?n WHERE { ?s <$P4> ?n . FILTER(?n > $k) }", n.toLong)
      case "optional" =>
        val n = membersOfHub.getOrElse(hubIds(h), Vector.empty).map(s => math.max(1L, labelCount.getOrElse(s, 0L))).sum
        Query(shape, s"SELECT ?s ?l WHERE { ?s <$MemberOf> <$hubIri> . OPTIONAL { ?s <$RdfsLabel> ?l } }", n)
      case "order_limit" =>
        val k = 5 + rnd.nextInt(46)
        Query(shape, s"SELECT ?s ?n WHERE { ?s <$P4> ?n } ORDER BY DESC(?n) LIMIT $k",
          math.min(k.toLong, p4Values.length.toLong))
      case "ask" =>
        // entities k with k % Block == Block - 1 never have knows edges
        val subject = if (broad) eIri else entity(rnd.nextInt(1000) * Block + Block - 1)
        Query(shape, s"ASK { <$subject> <$Knows> ?y }", 1L, ask = Some(broad))
    }
  }

  /** Index of the first value > k in sorted `v`. */
  private def upperBound(v: Vector[Long], k: Long): Int = {
    var lo = 0; var hi = v.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (v(m) <= k) lo = m + 1 else hi = m }
    lo
  }
}
