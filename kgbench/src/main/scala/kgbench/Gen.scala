package kgbench

import java.util.SplittableRandom
import scala.collection.mutable

/**
 * Seeded input generator. Everything the benchmark feeds the program is
 * made here from `seed`, and the generator keeps the truth the output
 * checks compare against: every emitted statement as canonical term ids
 * (after the escape decoding, bnode scoping and IRI canonicalization the
 * pipeline must apply), the malformed statements it injected, and the
 * physical-line outcome a single-line kernel must report.
 *
 * The vocabulary is the same for every workload:
 *  - 8 hub IRIs take ~10% of the subjects;
 *  - rdf:type and rdfs:label take ~30% of the predicates;
 *  - `rel/knows` links entities forward inside blocks of 64, so every
 *    `knows+` closure is bounded;
 *  - `rel/memberOf` links entities and bnodes to hubs;
 *  - `prop/p4` carries xsd:integer values for value-space filters.
 * All (s, p, o) triples are distinct after canonicalization, so bag and
 * set semantics give the same answer counts.
 */
object Gen {

  final val Rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  final val RdfType = Rdf + "type"
  final val RdfsLabel = "http://www.w3.org/2000/01/rdf-schema#label"
  final val XsdInteger = "http://www.w3.org/2001/XMLSchema#integer"
  final val XsdString = "http://www.w3.org/2001/XMLSchema#string"
  final val RdfLangString = Rdf + "langString"
  final val Ns = "http://kg.example/"
  final val Knows = Ns + "rel/knows"
  final val MemberOf = Ns + "rel/memberOf"
  final val P4 = Ns + "prop/p4"
  final val Comment = Ns + "prop/comment"
  final val Hubs = 8
  final val Classes = 40
  final val Block = 64
  final val Commit = "00000000000000000000000000000000000000be"

  def hub(h: Int): String = s"${Ns}hub/$h"
  def entity(k: Int): String = s"${Ns}entity/$k"

  /** Size and shape of one generated corpus. `dense` turns on the
    * parse-heavy features: `%XX`/`\U` escapes, multi-line `"""` long
    * literals and ~1% malformed lines, all of which need lenient mode. */
  final case class Shape(docs: Int, stmtsPerDoc: Int, entities: Int, dense: Boolean)

  final case class Doc(repo: String, path: String, content: String)

  final case class Corpus(docs: Vector[Doc], truth: Truth) {
    lazy val contentBytes: Long = docs.map(_.content.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
  }

  def generate(seed: Long, shape: Shape): Corpus = new Builder(seed, shape).run()

  private final class Builder(seed: Long, shape: Shape) {
    private val rnd = new SplittableRandom(seed)
    private val terms = new mutable.HashMap[String, Int]
    private val s, p, o = new mutable.ArrayBuilder.ofInt
    private val seen = new mutable.HashSet[Long]
    private val out = new java.lang.StringBuilder(1 << 16)
    private var errors = 0L
    private var lines = 0L
    private var lineTriples = 0L
    private var lineErrors = 0L

    private def id(key: String): Int = terms.getOrElseUpdate(key, terms.size)
    private def pack(a: Int, b: Int, c: Int): Long = (a.toLong << 40) ^ (b.toLong << 32) ^ c.toLong

    /** Records the triple unless it repeats one already emitted; terms of
      * a rejected draw never enter the dictionary. */
    private def add(sKey: String, pKey: String, oKey: String): Boolean = {
      val dup = (for (a <- terms.get(sKey); b <- terms.get(pKey); c <- terms.get(oKey))
        yield seen.contains(pack(a, b, c))).getOrElse(false)
      if (dup) return false
      val si = id(sKey); val pi = id(pKey); val oi = id(oKey)
      seen += pack(si, pi, oi)
      s += si; p += pi; o += oi
      true
    }
    private def iriKey(iri: String) = "I" + iri

    /** A rendering of `iri` that decodes to the same term: plain, a
      * non-canonical spelling (Canonicalize folds it), or escaped. */
    private def renderIri(iri: String): String = {
      val r = rnd.nextInt(100)
      if (r < 3 && iri.startsWith(Ns))
        "<HTTP://KG.EXAMPLE:80/" + iri.substring(Ns.length) + ">"
      else if (shape.dense && r < 30 && iri.startsWith(Ns)) {
        // %2F decodes to '/', e to 'e'
        val rest = iri.substring(Ns.length)
        val slash = rest.indexOf('/')
        val esc = if (slash < 0) rest else rest.substring(0, slash) + "%2F" + rest.substring(slash + 1)
        "<http://kg.\\u0065xample/" + esc + ">"
      } else "<" + iri + ">"
    }

    private def renderLiteral(value: String): String = {
      val sb = new java.lang.StringBuilder(value.length + 8)
      var i = 0
      while (i < value.length) {
        val c = value.charAt(i)
        if (c == '"') sb.append("\\\"")
        else if (c == '\\') sb.append("\\\\")
        else if (c == '\t') sb.append("\\t")
        else if (c == 'é') sb.append("\\u00E9")
        else if (Character.isHighSurrogate(c)) {
          sb.append("\\U%08X".format(Character.codePointAt(value, i))); i += 1
        } else sb.append(c)
        i += 1
      }
      sb.toString
    }

    private val Emoji = new String(Character.toChars(0x1F600))

    /** One statement: (key, rendering) per position. Returns false when
      * the draw repeats an existing triple (the caller draws again). */
    private def statement(docPath: String): Boolean = {
      val r = rnd.nextInt(100)
      // subject
      val (sKey, sText, sEntity) =
        if (r < 10) { val h = rnd.nextInt(Hubs); (iriKey(hub(h)), renderIri(hub(h)), -1) }
        else if (r < 15) {
          val l = s"b${rnd.nextInt(20)}"
          ("B" + docPath + "|" + l, "_:" + l, -1)
        } else {
          val k = rnd.nextInt(shape.entities)
          (iriKey(entity(k)), renderIri(entity(k)), k)
        }
      val isHub = r < 10
      val pr = rnd.nextInt(100)
      var pIri: String = null
      var oKey: String = null
      var oText: String = null
      if (pr < 20) {
        pIri = RdfType
        val c = s"${Ns}class/C${rnd.nextInt(Classes)}"
        oKey = iriKey(c); oText = renderIri(c)
      } else if (pr < 30) {
        pIri = RdfsLabel
        val n = rnd.nextInt(shape.entities)
        val (v, lang) = if ((n & 1) == 0) (s"name $n", "en") else (s"café $n", "fr")
        oKey = s"L$v\u0001$lang\u0001$RdfLangString"
        oText = "\"" + renderLiteral(v) + "\"@" + lang
      } else if (pr < 40 && sEntity >= 0 && sEntity % Block != Block - 1) {
        pIri = Knows
        val room = Block - 1 - sEntity % Block
        val k = sEntity + 1 + rnd.nextInt(math.min(room, 8))
        oKey = iriKey(entity(k)); oText = renderIri(entity(k))
      } else if (pr < 45 && !isHub) {
        pIri = MemberOf
        val h = rnd.nextInt(Hubs)
        oKey = iriKey(hub(h)); oText = renderIri(hub(h))
      } else if (pr < 55) {
        pIri = P4
        val n = rnd.nextInt(100000)
        oKey = s"L$n\u0001\u0001$XsdInteger"
        oText = "\"" + n + "\"^^<" + XsdInteger + ">"
      } else {
        pIri = s"${Ns}prop/p${5 + rnd.nextInt(16)}"
        rnd.nextInt(4) match {
          case 0 =>
            val k = rnd.nextInt(shape.entities)
            oKey = iriKey(entity(k)); oText = renderIri(entity(k))
          case 1 =>
            val l = s"v${rnd.nextInt(50)}"
            oKey = "B" + docPath + "|" + l; oText = "_:" + l
          case _ =>
            val n = rnd.nextInt(shape.entities)
            val v =
              if (!shape.dense) s"value $n"
              else rnd.nextInt(4) match {
                case 0 => "say \"hi\" " + n
                case 1 => s"tab\there $n \\ end"
                case 2 => s"smile $Emoji $n"
                case _ => s"café value $n"
              }
            oKey = s"L$v\u0001\u0001$XsdString"
            oText = "\"" + renderLiteral(v) + "\""
        }
      }
      if (!add(sKey, iriKey(pIri), oKey)) return false
      out.append(sText).append(' ').append(renderIri(pIri)).append(' ').append(oText).append(" .")
      if (rnd.nextInt(20) == 0) out.append(" # trailing comment")
      out.append('\n')
      lines += 1; lineTriples += 1
      true
    }

    /** A lenient-only `"""` literal over 2-4 physical lines. Every one of
      * its lines fails when parsed alone (the continuation lines start
      * with a letter). */
    private def longLiteral(docPath: String, k: Int): Unit = {
      val parts = 2 + rnd.nextInt(3)
      val body = (0 until parts).map(i => s"part$i of note $k " + "\"quoted\" " + rnd.nextInt(1000)).mkString("\n")
      if (!add(iriKey(entity(k)), iriKey(Comment), s"L$body\u0001\u0001$XsdString")) return
      out.append(renderIri(entity(k))).append(" <").append(Comment).append("> \"\"\"")
        .append(body).append("\"\"\" .\n")
      lines += parts; lineErrors += parts
    }

    private val Malformed = Array(
      (k: Int) => s"<${entity(k)}> <$P4> " + "\"" + k + "\"^^<" + XsdInteger + ">", // no final dot
      (k: Int) => s"<entity/$k> <$P4> <${entity(k)}> .",                   // relative IRI
      (k: Int) => s"<${entity(k)}> <$P4> .",                               // no object
      (k: Int) => s"<${entity(k)}> <$RdfsLabel> " + "\"bad \\q escape " + k + "\" .", // bad escape
      (k: Int) => s"<${entity(k)} <$P4> <${entity(k)}> .")               // unclosed IRI

    def run(): Corpus = {
      val docs = Vector.newBuilder[Doc]
      var d = 0
      while (d < shape.docs) {
        out.setLength(0)
        val repo = s"gen/r${d % 16}"
        val path = s"doc/$d.nt"
        val docPath = repo + "|" + Commit + "|" + path
        var j = 0
        while (j < shape.stmtsPerDoc) {
          val x = rnd.nextInt(1000)
          if (x < 5) { out.append("# comment line\n"); lines += 1 }
          else if (shape.dense && x < 15) {
            out.append(Malformed(rnd.nextInt(Malformed.length))(rnd.nextInt(shape.entities))).append('\n')
            errors += 1; lines += 1; lineErrors += 1
          } else if (shape.dense && x < 35) {
            longLiteral(docPath, rnd.nextInt(shape.entities)); j += 1
          } else {
            while (!statement(docPath)) {}
            j += 1
          }
        }
        docs += Doc(repo, path, out.toString)
        d += 1
      }
      val truth = new Truth(s.result(), p.result(), o.result(), terms.toMap, errors,
        lines, lineTriples, lineErrors, shape.docs)
      Corpus(docs.result(), truth)
    }
  }
}

/**
 * What a correct program must report for one generated corpus. Term ids
 * are dense ints over canonical keys (`I<iri>`, `B<doc>|<label>`,
 * `L<value>\u0001<lang>\u0001<datatype>`).
 */
final class Truth(val s: Array[Int], val p: Array[Int], val o: Array[Int],
                  val termIds: Map[String, Int], val errors: Long,
                  val lines: Long, val lineTriples: Long, val lineErrors: Long,
                  val docs: Int) {
  def statements: Long = s.length.toLong
  def distinctTerms: Long = termIds.size.toLong
  def iri(i: String): Int = termIds.getOrElse("I" + i, -1)

  private lazy val keyOf: Array[String] = {
    val a = new Array[String](termIds.size)
    termIds.foreach { case (k, v) => a(v) = k }
    a
  }

  /** Integer value of an xsd:integer literal term, else None. */
  def intValue(t: Int): Option[Long] = {
    val k = keyOf(t)
    if (k.startsWith("L") && k.endsWith("\u0001" + Gen.XsdInteger))
      Some(k.substring(1, k.indexOf('\u0001')).toLong)
    else None
  }

  private def byPred(pred: Int): Iterator[Int] = s.indices.iterator.filter(i => p(i) == pred)

  /** subject -> objects, for one predicate. */
  def adjacency(pred: Int): Map[Int, Vector[Int]] =
    byPred(pred).toVector.groupMap(s(_))(o(_))

  def predCounts: Map[Int, Long] = p.groupMapReduce(identity)(_ => 1L)(_ + _)

  def predCountsOf(subj: Int): Map[Int, Long] =
    s.indices.filter(s(_) == subj).groupMapReduce(p(_))(_ => 1L)(_ + _)

  def intValues(pred: Int): Vector[Long] = byPred(pred).flatMap(i => intValue(o(i))).toVector
}
