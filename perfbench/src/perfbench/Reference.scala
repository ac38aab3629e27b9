package perfbench

/** Driver-side recomputations the workloads' outputs are checked against.
  * They share no code with the engine: plain collections over the
  * generated rows. */
object Reference {

  /** Spark's `round(x, 6)` on a double (HALF_UP over the decimal form). */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** 3-shingle set of a text: Java `split("\\W+")` tokens, consecutive
    * triples joined by one space (PAPER.md §0.1). */
  def shingles(text: String, k: Int = 3): Set[String] = {
    val t = text.split("\\W+")
    if (t.length < k) Set.empty
    else (0 to t.length - k).iterator.map(i => t.slice(i, i + k).mkString(" ")).toSet
  }

  /** The reference's score: sum / (len + qlen - sum), 1.0 when the
    * denominator would be zero. */
  def referenceScore(sum: Long, len: Long, qlen: Long): Double =
    if (sum == len + qlen) 1.0 else sum.toDouble / (len + qlen - sum).toDouble

  final case class RefRow(docId: Long, len: Long, sumShared: Long, score: Double)

  /** BookQuery reference semantics: per non-query doc the query-intersected
    * shingles t (len = |t|); terms kept when 2 <= df <= n-1 with df counted
    * over all n docs; sum_shared = kept terms in t; docs with none drop. */
  def referenceScores(sets: Map[Long, Set[String]], q: Long): Map[Long, RefRow] = {
    val qs = sets(q)
    val n = sets.size.toLong
    val inter = sets.iterator.collect {
      case (id, s) if id != q && (s exists qs) => id -> s.intersect(qs)
    }.toMap
    val dfNonQuery = inter.valuesIterator.flatten.toSeq.groupBy(identity).map {
      case (t, xs) => t -> xs.size.toLong
    }
    val kept = dfNonQuery.collect { case (t, d) if d + 1 >= 2 && d + 1 <= n - 1 => t }.toSet
    inter.iterator.flatMap { case (id, t) =>
      val sum = t.count(kept).toLong
      if (sum == 0) None
      else Some(id -> RefRow(id, t.size.toLong, sum,
        round6(referenceScore(sum, t.size.toLong, qs.size.toLong))))
    }.toMap
  }

  /** True Jaccard per non-query doc sharing a shingle: (inter, union, j). */
  def jaccardScores(sets: Map[Long, Set[String]], q: Long): Map[Long, (Long, Long, Double)] = {
    val qs = sets(q)
    sets.iterator.flatMap { case (id, s) =>
      if (id == q) None
      else {
        val i = s.count(qs).toLong
        val u = s.size + qs.size - i
        if (i == 0) None else Some(id -> ((i, u.toLong, round6(i.toDouble / u.toDouble))))
      }
    }.toMap
  }

  def topK(rows: Map[Long, RefRow], k: Int): Seq[(Long, Double)] =
    rows.values.toSeq.sortBy(r => (-r.score, r.docId)).take(k).map(r => (r.docId, r.score))

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact top-k ids by rounded cosine desc, id asc, skipping `self`. */
  def exactTopK(q: Array[Double], corpus: Array[(Long, Array[Double])], k: Int,
      self: Long = Long.MinValue): Seq[Long] =
    corpus.iterator.filter(_._1 != self)
      .map { case (id, v) => (round6(cosine(q, v)), id) }
      .toSeq.sortBy { case (c, id) => (-c, id) }.take(k).map(_._2)

  /** Connected-component minimum id per node over undirected pairs. */
  def componentMin(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }
}
