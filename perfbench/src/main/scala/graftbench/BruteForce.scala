package graftbench

/** Exact cosine top-k in plain Scala over the benchmark's own seeded
  * vectors — the ground truth ANN recall and cosines are graded against.
  * It regenerates the vectors from the seed and shares no code with the
  * program under test. Dot products accumulate float→double in array order,
  * the same arithmetic the program documents for graft_dot.
  */
final class BruteForce(seed: Long, sizes: Inputs.Sizes, k: Int) {
  private val corpus: Array[Array[Float]] = Array.tabulate(sizes.vectors)(i =>
    Inputs.vector(seed, 21, i.toLong, sizes.dim, sizes.clusters))
  private val queries: Array[Array[Float]] = Array.tabulate(sizes.queries)(i =>
    Inputs.vector(seed, 22, i.toLong, sizes.dim, sizes.clusters))
  private val corpusNorm = corpus.map(v => math.sqrt(BruteForce.dot(v, v)))

  def cosine(qid: Int, vecId: Int): Double = {
    val q = queries(qid)
    BruteForce.dot(q, corpus(vecId)) / (corpusNorm(vecId) * math.sqrt(BruteForce.dot(q, q)))
  }

  /** Exact top-k vector ids per query, by cosine descending then id. */
  val topK: Array[Array[Int]] = {
    val out = new Array[Array[Int]](queries.length)
    java.util.stream.IntStream.range(0, queries.length).parallel().forEach { qi =>
      val ids = Array.fill(k)(-1)
      val cs = Array.fill(k)(Double.NegativeInfinity)
      var i = 0
      while (i < corpus.length) {
        val c = cosine(qi, i)
        if (c > cs(k - 1)) { // ties keep the smaller id, which came first
          var j = k - 1
          while (j > 0 && c > cs(j - 1)) { cs(j) = cs(j - 1); ids(j) = ids(j - 1); j -= 1 }
          cs(j) = c
          ids(j) = i
        }
        i += 1
      }
      out(qi) = ids
    }
    out
  }
}

object BruteForce {
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
}
