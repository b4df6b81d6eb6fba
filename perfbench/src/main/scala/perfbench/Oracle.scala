package perfbench

/** In-process brute-force kNN in plain Scala: the reference every
  * search result is checked against. L2² is accumulated in double over
  * float components widened before subtracting; ranking is by
  * (distance, id), ids compared as the engine compares them.
  */
object Oracle {

  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** Top-k (id, L2²) over `vecs` with ids = positions, nearest first. */
  def topK(vecs: Array[Array[Float]], q: Array[Float], k: Int): Seq[(Long, Double)] =
    topKBy(vecs.indices.iterator.map(i => (i.toLong, vecs(i))), q, k)(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))

  /** `topK` of every query, computed on all cores. */
  def topKAll(vecs: Array[Array[Float]], qs: Seq[Array[Float]], k: Int): Array[Seq[(Long, Double)]] = {
    val out = new Array[Seq[(Long, Double)]](qs.length)
    val qa = qs.toArray
    java.util.stream.IntStream.range(0, qa.length).parallel().forEach(i => out(i) = topK(vecs, qa(i), k))
    out
  }

  /** Top-k over explicitly keyed vectors, ties broken by the key order. */
  def topKBy[K](rows: Iterator[(K, Array[Float])], q: Array[Float], k: Int)(
      implicit ord: Ordering[(Double, K)]): Seq[(K, Double)] = {
    // bounded max-heap on (dist, key): the root is the current k-th best
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, K)](ord)
    rows.foreach { case (key, v) =>
      val d = l2sq(q, v)
      if (heap.size < k) heap.enqueue((d, key))
      else if (ord.lt((d, key), heap.head)) { heap.dequeue(); heap.enqueue((d, key)) }
    }
    heap.toSeq.sorted(ord).map { case (d, key) => (key, d) }
  }

  /** |truth ∩ got| / |truth| — Recall@k with RecallAtK's denominator. */
  def recall(truth: Seq[Long], got: Seq[Long]): Double =
    if (truth.isEmpty || got.isEmpty) 0.0
    else truth.toSet.intersect(got.toSet).size.toDouble / truth.size
}
