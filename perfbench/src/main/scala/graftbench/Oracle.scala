package graftbench

/** Driver-side answers the engine's outputs are checked against. */
object Oracle {
  final case class Hit(id: String, score: Double)

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Brute-force top-k by cosine, ties broken by id (string order, the
    * engine's `orderBy(score desc, id)`). */
  def topK(q: Array[Float], rows: collection.Map[String, Array[Float]], k: Int,
      keep: String => Boolean = _ => true): Seq[Hit] =
    rows.iterator.filter(r => keep(r._1)).map { case (id, v) => Hit(id, cosine(q, v)) }
      .toSeq.sortBy(h => (-h.score, h.id)).take(k)

  /** An exact answer matches when every position holds the expected id,
    * or an id whose score is within `tol` of the expected score there
    * (a near-tie the engine may order differently in the last ulp). */
  def sameRanking(got: Seq[Hit], want: Seq[Hit], tol: Double = 1e-6): Boolean =
    got.length == want.length && got.zip(want).forall { case (g, w) =>
      g.id == w.id || math.abs(g.score - w.score) <= tol }

  /** An approximate answer is well formed when it has no more than `k`
    * distinct rows, in descending score order, each scored as the true
    * cosine of its stored vector. */
  def wellFormed(got: Seq[Hit], q: Array[Float], rows: collection.Map[String, Array[Float]],
      k: Int, tol: Double = 1e-5): Boolean =
    got.length <= k && got.map(_.id).distinct.length == got.length &&
      got.zip(got.drop(1)).forall { case (a, b) => a.score >= b.score - 1e-12 } &&
      got.forall(h => rows.get(h.id).exists(v => math.abs(cosine(q, v) - h.score) <= tol))

  def recall(got: Seq[Hit], want: Seq[Hit]): Double =
    if (want.isEmpty) 1.0 else got.map(_.id).toSet.intersect(want.map(_.id).toSet).size.toDouble / want.length

  /** The engine's BM25 tokenizer: lowercase [a-z0-9]+ runs. */
  def tokens(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  /** BM25 (k1 1.2, b 0.75, Lucene idf) over `docs`, top-k by score
    * with ties broken by doc id. */
  final class Bm25(docs: Seq[(Long, String)]) {
    private val tf: Map[Long, Map[String, Int]] =
      docs.map { case (d, t) => d -> tokens(t).groupBy(identity).map { case (w, xs) => w -> xs.length } }.toMap
    private val dl: Map[Long, Int] = docs.map { case (d, t) => d -> tokens(t).length }.toMap
    private val n = docs.length.toDouble
    private val avgdl = dl.values.map(_.toLong).sum.toDouble / n
    private val df: Map[String, Int] =
      tf.values.flatMap(_.keys).groupBy(identity).map { case (w, xs) => w -> xs.size }

    def search(terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75): Seq[Hit] = {
      val scored = tf.iterator.flatMap { case (d, m) =>
        val parts = terms.flatMap(t => m.get(t).map { f =>
          val dft = df(t).toDouble
          val idf = math.log((n - dft + 0.5) / (dft + 0.5) + 1.0)
          idf * (f * (k1 + 1.0) / (f + k1 * (1.0 - b + b * dl(d) / avgdl)))
        })
        if (parts.isEmpty) None else Some(Hit(d.toString, parts.sum))
      }.toSeq
      scored.sortBy(h => (-h.score, h.id.toLong)).take(k)
    }
  }
}
