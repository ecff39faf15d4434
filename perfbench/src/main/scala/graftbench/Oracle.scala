package graftbench

import scala.math.BigDecimal.RoundingMode

/** Independent, slower driver-side evaluations the benchmark checks graft's
  * outputs against. None of them calls graft.
  */
object Oracle {
  def round6(x: Double): Double = BigDecimal(x).setScale(6, RoundingMode.HALF_UP).toDouble

  /** The paper's query (SURVEY §0.1, BookQuery.java) evaluated naively: for
    * every other doc D, t = sh(D) ∩ sh(q); a shared shingle counts only if
    * its document frequency over the whole corpus (query included) is below
    * the corpus size n; score = sum / (len + |Q| − sum), 1 when that
    * denominator would equal len + |Q|. Top `k` by score desc, doc_id asc.
    */
  def docTopK(docs: Seq[Doc], queryId: Long, k: Int = 10): Seq[(Long, Double)] = {
    val q = Gen.shingles(docs.find(_.id == queryId).get.text)
    val n = docs.length
    val inter = docs.iterator.filter(_.id != queryId)
      .map(d => d.id -> (Gen.shingles(d.text) & q)).filter(_._2.nonEmpty).toVector
    val dfNq = inter.flatMap(_._2).groupBy(identity).map { case (t, v) => t -> v.size }
    inter.flatMap { case (id, t) =>
      val sum = t.count(s => dfNq(s) <= n - 2)
      if (sum == 0) None
      else {
        val len = t.size
        val score = if (sum == len + q.size) 1.0 else sum.toDouble / (len + q.size - sum)
        Some(id -> round6(score))
      }
    }.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
  }

  /** Exact cosine top-k vec ids by brute force. */
  def exactKnn(vecs: Seq[Vec], q: Array[Float], k: Int = 10): Set[Long] =
    vecs.map(v => v.id -> cosine(v.v, q)).sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSet

  /** (groups with more than one copy, docs in those groups) by exact text. */
  def exactDupGroups(docs: Seq[Doc]): (Long, Long) = {
    val multi = docs.groupBy(_.text).values.filter(_.size > 1)
    (multi.size.toLong, multi.map(_.size.toLong).sum)
  }
}
