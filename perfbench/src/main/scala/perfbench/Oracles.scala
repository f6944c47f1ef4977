package perfbench

import graft.oracle.Reference
import org.apache.spark.sql.Row
import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** A directed multigraph relabelled onto dense ids 0..n-1 in ascending
 * vertex-id order — the form `oracle.Reference` takes. The order is kept,
 * so "smallest id" means the same thing on both sides. */
final class DenseGraph(edges: Array[(Long, Long)]) {
  val ids: Array[Long] = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
  def n: Int = ids.length
  def index(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
  val dense: Seq[(Long, Long)] =
    edges.map { case (s, d) => (index(s).toLong, index(d).toLong) }.toSeq

  /** Out-neighbours by dense id, multiplicity kept. */
  lazy val out: Array[Array[Int]] = {
    val b = Array.fill(n)(mutable.ArrayBuilder.make[Int])
    dense.foreach { case (s, d) => b(s.toInt) += d.toInt }
    b.map(_.result())
  }
}

/** Reference answers for one edge list, and the checks of engine output
 * against them. Rows are (vid, value) as the engine returns them. */
final class GraphAnswers(edgeList: Array[(Long, Long)], components: Boolean, triangles: Boolean) {
  private val g = new DenseGraph(edgeList)
  private val ranks: Array[Double] = Reference.pageRank(g.n, g.dense)
  private val comps: Array[Long] =
    if (components) Reference.wcc(g.n, g.dense).map(c => g.ids(c.toInt)) else Array.emptyLongArray
  private val triCounts: Array[Long] =
    if (triangles) Reference.triangles(g.n, g.dense) else Array.emptyLongArray

  /** Distinct unordered pairs without self-loops: the simple undirected graph. */
  lazy val canonicalEdges: Long =
    edgeList.iterator.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet.size.toLong
  /** Edges of `Graph.undirected`: both directions, deduplicated. */
  lazy val undirectedEdges: Long =
    edgeList.iterator.flatMap(e => Iterator(e, e.swap)).toSet.size.toLong
  def triangleTotal: Long = triCounts.sum / 3

  private def perVertex(rows: Array[Row], expected: Int => Boolean)(ok: (Row, Int) => Boolean): Boolean = {
    val seen = new java.util.BitSet(g.n)
    rows.length == (0 until g.n).count(expected) && rows.forall { r =>
      val i = g.index(r.getLong(0))
      val fresh = i >= 0 && !seen.get(i)
      if (fresh) seen.set(i)
      fresh && expected(i) && ok(r, i)
    }
  }

  /** PageRank allclose at 1e-6 (relative) to the reference. */
  def checkRanks(rows: Array[Row]): Boolean =
    perVertex(rows, _ => true) { (r, i) =>
      val a = r.getDouble(1); val b = ranks(i)
      math.abs(a - b) <= 1e-6 * math.abs(b) + 1e-15
    }

  def checkComponents(rows: Array[Row]): Boolean =
    perVertex(rows, _ => true)((r, i) => r.getLong(1) == comps(i))

  private lazy val inSimpleGraph: Array[Boolean] = {
    val b = new Array[Boolean](g.n)
    g.dense.foreach { case (s, d) => if (s != d) { b(s.toInt) = true; b(d.toInt) = true } }
    b
  }

  /** Per-vertex triangle counts, exact, over the vertices of the simple graph. */
  def checkTriangles(rows: Array[Row]): Boolean =
    perVertex(rows, inSimpleGraph(_))((r, i) => r.getLong(1) == triCounts(i))
}

object Extraction {

  private val Href = """<a\s+href="([^"]+)"""".r

  /** (src url, dst url) for every absolute http(s) anchor in the pages'
   * html, duplicates kept — what link extraction must find. */
  def expectedLinks(pages: Array[(String, String)]): Array[(String, String)] =
    pages.flatMap { case (url, html) =>
      Href.findAllMatchIn(html).map(_.group(1)).filter(_.startsWith("http")).map(url -> _)
    }

  /**
   * Id-free fingerprint of a directed multigraph: per vertex, its (out, in)
   * degree and the sorted degree pairs of its out-neighbours, compared as a
   * sorted multiset. Two edge lists that differ only in how vertices are
   * numbered have equal fingerprints, so link extraction is checked without
   * fixing how its url dictionary assigns ids.
   */
  def fingerprint[V](edges: Array[(V, V)]): Array[Int] = {
    val outDeg = mutable.HashMap[V, Int]().withDefaultValue(0)
    val inDeg = mutable.HashMap[V, Int]().withDefaultValue(0)
    val nbrs = mutable.HashMap[V, mutable.ArrayBuffer[V]]()
    edges.foreach { case (s, d) =>
      outDeg(s) += 1; inDeg(d) += 1
      nbrs.getOrElseUpdate(s, mutable.ArrayBuffer[V]()) += d
    }
    def code(v: V): Long = outDeg(v).toLong * 1000003L + inDeg(v)
    (outDeg.keySet ++ inDeg.keySet).iterator.map { v =>
      val around = nbrs.get(v).map(_.map(code).sorted.toSeq).getOrElse(Nil)
      MurmurHash3.orderedHash(code(v) +: around)
    }.toArray.sorted
  }

  /** Extracted id edges match the links in the html: same count, ids dense
   * over the url set, same structure up to renumbering. */
  def check(extracted: Array[(Long, Long)], expected: Array[(String, String)], urls: Int): Boolean =
    extracted.length == expected.length &&
      extracted.forall { case (s, d) => s >= 0 && s < urls && d >= 0 && d < urls } &&
      java.util.Arrays.equals(fingerprint(extracted), fingerprint(expected))
}

/**
 * Single-JVM sparse LabelRank with the rules of
 * `LabelPropagation.labelRank(pruneTopK = k)`: per superstep a vertex's
 * distribution is the sum of its neighbours' distributions over its degree;
 * with k > 0 only the k entries with the highest probability rounded to 12
 * decimals survive (ties to the lower label); the label is the surviving
 * entry with the highest rounded probability (ties to the lower label), or
 * 0 when none is positive. It stops once every label held for
 * `stableIterations` supersteps, or after `maxIterations`.
 */
object LabelRankOracle {

  final case class Answer(labels: Map[Long, Long], supersteps: Int)

  /** `edges` must hold both directions of every undirected edge. */
  def run(edges: Array[(Long, Long)], topK: Int,
          maxIterations: Int = 25, stableIterations: Int = 5): Answer = {
    val g = new DenseGraph(edges)
    val n = g.n
    val out = g.out
    // distribution per vertex: parallel arrays of dense labels and probabilities
    var labelsOf: Array[Array[Int]] = Array.tabulate(n) { v =>
      if (out(v).contains(v)) out(v).distinct else (out(v).distinct :+ v)
    }
    var probsOf: Array[Array[Double]] = Array.tabulate(n) { v =>
      labelsOf(v).map(l => if (l == v && !out(v).contains(v)) 1.0 else 1.0 / out(v).length)
    }
    val label = Array.tabulate(n)(v => g.ids(v))
    val stable = new Array[Int](n)
    val acc = new Array[Double](n)
    val touched = new Array[Boolean](n)
    var iter = 0
    var done = false
    while (!done) {
      iter += 1
      val nextLabels = new Array[Array[Int]](n)
      val nextProbs = new Array[Array[Double]](n)
      for (v <- 0 until n) {
        val seen = mutable.ArrayBuilder.make[Int]
        for (u <- out(v)) {
          val ls = labelsOf(u); val ps = probsOf(u)
          var j = 0
          while (j < ls.length) {
            val l = ls(j)
            if (!touched(l)) { touched(l) = true; seen += l }
            acc(l) += ps(j)
            j += 1
          }
        }
        val ls = seen.result()
        val deg = out(v).length
        val p = ls.map(l => acc(l) / deg)
        val r = p.map(round12)
        ls.foreach { l => acc(l) = 0.0; touched(l) = false }
        // (rounded p desc, label asc): dense ids keep the vertex-id order
        val order = ls.indices.sortWith((a, b) => r(a) > r(b) || (r(a) == r(b) && ls(a) < ls(b)))
        val kept = if (topK > 0) order.take(topK) else order
        nextLabels(v) = kept.map(ls(_)).toArray
        nextProbs(v) = kept.map(p(_)).toArray
        val newLabel =
          if (kept.nonEmpty && r(kept.head) > 0) g.ids(ls(kept.head)) else 0L
        stable(v) = if (newLabel == label(v)) stable(v) + 1 else 0
        label(v) = newLabel
      }
      labelsOf = nextLabels
      probsOf = nextProbs
      done = stable.forall(_ >= stableIterations) || iter >= maxIterations
    }
    Answer(g.ids.indices.map(i => g.ids(i) -> label(i)).toMap, iter)
  }

  /** Spark's `round(p, 12)` on a double: HALF_UP on the shortest decimal
   * form. The fast path is exact away from a half-way digit. */
  private def round12(p: Double): Double = {
    val x = p * 1e12
    val frac = x - math.floor(x)
    if (math.abs(frac - 0.5) < 1e-3)
      BigDecimal(p).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    else math.floor(x + 0.5) / 1e12
  }

  /** With pruning off the oracle must agree with `Reference.labelRank` (the
   * dense reference semantics) on a small graph: a ring with seeded chords
   * and two self-loops. */
  def selfTest(seed: Long): Boolean = {
    val n = 40
    val und = mutable.LinkedHashSet[(Long, Long)]()
    def add(a: Long, b: Long): Unit = { und += ((a, b)); und += ((b, a)) }
    for (i <- 0 until n) add(i, (i + 1) % n)
    for (k <- 0 until 30) {
      val a = java.lang.Long.remainderUnsigned(graft.gen.GraphGen.mix64(seed, k, 1L), n)
      val b = java.lang.Long.remainderUnsigned(graft.gen.GraphGen.mix64(seed, k, 2L), n)
      if (a != b) add(a, b)
    }
    add(3, 3); add(17, 17)
    val edges = und.toArray
    val expected = Reference.labelRank(n, edges.toSeq)
    val got = run(edges, topK = 0)
    (0 until n).forall(v => got.labels(v.toLong) == expected(v))
  }
}
