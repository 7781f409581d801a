package perfbench

/**
 * Brute-force nearest neighbours written here, independent of the
 * engine's own exact search, so recall is judged against code that
 * shares nothing with the code under test.
 */
object Oracle {

  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** Ids of the `k` nearest of `ids`/`vecs` to `q` by squared L2, nearest
    * first; ties go to the smaller id. `keep` restricts the candidates. */
  def topK(q: Array[Float], ids: Array[Long], vecs: Array[Array[Float]], k: Int,
      keep: Long => Boolean = _ => true): Array[Long] = {
    // bounded max-heap on (distance, id): the root is the worst kept
    val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
      (x: (Double, Long), y: (Double, Long)) =>
        if (x._1 != y._1) java.lang.Double.compare(y._1, x._1) else java.lang.Long.compare(y._2, x._2))
    var i = 0
    while (i < ids.length) {
      if (keep(ids(i))) {
        val d = l2sq(q, vecs(i))
        if (heap.size < k) heap.add((d, ids(i)))
        else {
          val w = heap.peek()
          if (d < w._1 || (d == w._1 && ids(i) < w._2)) { heap.poll(); heap.add((d, ids(i))) }
        }
      }
      i += 1
    }
    val out = new Array[(Double, Long)](heap.size)
    var j = out.length - 1
    while (!heap.isEmpty) { out(j) = heap.poll(); j -= 1 }
    out.map(_._2)
  }

  /** [[topK]] for many queries, spread over the available cores. */
  def topKAll(qs: Array[Array[Float]], ids: Array[Long], vecs: Array[Array[Float]], k: Int,
      keep: Long => Boolean = _ => true): Array[Array[Long]] = {
    val out = new Array[Array[Long]](qs.length)
    java.util.stream.IntStream.range(0, qs.length).parallel()
      .forEach(i => out(i) = topK(qs(i), ids, vecs, k, keep))
    out
  }

  /** Share of `truth` found in `got`. */
  def recall(got: Seq[Long], truth: Array[Long]): Double =
    if (truth.isEmpty) 1.0 else truth.count(got.toSet).toDouble / truth.length
}
