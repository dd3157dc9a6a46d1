package perfbench

/** The benchmark's own reference answers. Nothing here calls the
  * program: exact top-k is a brute-force scan, Jaccard is set
  * arithmetic over a plain tokenizer. */
object Oracle {
  def dist2(q: Array[Float], v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < q.length) { val d = q(i).toDouble - v(i); s += d * d; i += 1 }
    s
  }

  /** Exact top-k ids of `q` over `(ids, vecs)`, ordered by (distance, id). */
  def topK(ids: Array[Long], vecs: Array[Array[Float]], q: Array[Float], k: Int): Array[Long] = {
    val bd = Array.fill(k)(Double.MaxValue)
    val bi = Array.fill(k)(Long.MaxValue)
    var r = 0
    while (r < ids.length) {
      val d = dist2(q, vecs(r))
      val id = ids(r)
      if (d < bd(k - 1) || (d == bd(k - 1) && id < bi(k - 1))) {
        var j = k - 1
        while (j > 0 && (d < bd(j - 1) || (d == bd(j - 1) && id < bi(j - 1)))) {
          bd(j) = bd(j - 1); bi(j) = bi(j - 1); j -= 1
        }
        bd(j) = d; bi(j) = id
      }
      r += 1
    }
    bi.filter(_ != Long.MaxValue)
  }

  /** [[topK]] for many queries, in parallel over queries. */
  def topKMany(ids: Array[Long], vecs: Array[Array[Float]], qs: IndexedSeq[Array[Float]], k: Int): IndexedSeq[Array[Long]] = {
    val out = new Array[Array[Long]](qs.length)
    java.util.stream.IntStream.range(0, qs.length).parallel().forEach(i => out(i) = topK(ids, vecs, qs(i), k))
    out.toIndexedSeq
  }

  /** |got ∩ exact| / min(k, |exact|). */
  def recall(got: Seq[Long], exact: Seq[Long], k: Int): Double =
    (got.take(k).toSet & exact.toSet).size.toDouble / math.max(1, math.min(k, exact.size))

  /** Distinct word n-gram shingles of whitespace-separated lowercase text. */
  def shingles(text: String, n: Int): Set[String] = {
    val w = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = (a & b).size
    if (a.isEmpty && b.isEmpty) 0.0 else i.toDouble / (a.size + b.size - i)
  }
}
