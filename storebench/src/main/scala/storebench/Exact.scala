package storebench

/** Brute-force cosine top-k on the driver — the reference every served
  * result is checked against. It shares no code with the engine's
  * kernels or operators. */
object Exact {
  def norm(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    math.sqrt(s)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { d += a(i).toDouble * b(i); i += 1 }
    d / (norm(a) * norm(b))
  }

  /** A corpus snapshot with precomputed norms. */
  final class Corpus(val ids: Array[Long], val vecs: Array[Array[Float]]) {
    private val norms = vecs.map(norm)
    private val index = ids.zipWithIndex.toMap

    def vector(id: Long): Option[Array[Float]] = index.get(id).map(vecs(_))

    /** Top-k (id, score) by cosine, best first. Scores below 0 drop out,
      * as they do from the arms, which run at threshold 0. */
    def topK(q: Array[Float], k: Int): Seq[(Long, Double)] = {
      val qn = norm(q)
      val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
        Ordering.by[(Double, Long), Double](-_._1))
      var i = 0
      while (i < ids.length) {
        val v = vecs(i)
        var d = 0.0; var j = 0
        while (j < v.length) { d += q(j).toDouble * v(j); j += 1 }
        val s = d / (qn * norms(i))
        if (s >= 0.0 && (heap.size < k || s > heap.head._1)) {
          heap.enqueue((s, ids(i)))
          if (heap.size > k) heap.dequeue()
        }
        i += 1
      }
      heap.toSeq.sortBy(-_._1).map { case (s, id) => (id, s) }
    }
  }
}
