package perfbench

import scala.collection.mutable

/** Driver-side references the output checks compare the engine against.
  * Each mirrors the engine's arithmetic exactly (same accumulation order,
  * same rounding, same tie-breaks), so a correct result matches to the
  * last digit and any difference is a failed check. */
object Reference {

  /** Cosine in the engine's order: one sequential double-precision loop
    * (graft.plans.CosineSimExpr). */
  def cosine(x: Array[Float], y: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < x.length) {
      val xi = x(i).toDouble; val yi = y(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Spark's `round(x, 6)` on a double. */
  def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Exact top-k by rounded cosine, ties to the smaller id. */
  def topK(ids: Array[Long], vecs: Array[Array[Float]], q: Array[Double],
      k: Int): Seq[(Long, Double)] = {
    val scored = ids.indices.map(i => (ids(i), round6(cosine(vecs(i), q))))
    scored.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** Api.searchByTopic: score = occurrences of the terms among the
    * space-split tokens; positive scores, best first, ties to the smaller
    * id. */
  def topic(docs: Array[Gen.Doc], terms: Seq[String],
      n: Int): Seq[(Long, Int)] =
    docs.iterator.map { d =>
      val t = d.text.split(" ", -1)
      (d.id, terms.map(term => t.count(_ == term)).sum)
    }.filter(_._2 > 0).toSeq.sortBy { case (id, s) => (-s, id) }.take(n)

  /** IngestionPipeline.buildIndexFrom's chunks (size 3000, overlap 200)
    * of one document, as (chunk_idx, vec_uid). */
  def chunks(id: Long, text: String): Seq[(Int, Long)] = {
    val step = 3000 - 200
    val n = math.max(1, math.ceil((text.length - 200).toDouble / step).toInt)
    (0 until n).map { i =>
      val c = text.slice(i * step, i * step + 3000)
      (i, graft.functions.CrossHash.md5Hash60(s"${id}_${i}_$c"))
    }
  }

  /** Min-reachable-id component label of every vertex in `edges`. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** BfsHops.run with early exit, round for round: every round relaxes
    * each edge out of the current frontier once; the run stops after the
    * first round that improves no vertex. Returns (hops, rounds). */
  def bfs(edges: Seq[(Long, Long)], sources: Set[Long], nodes: Seq[Long],
      maxRounds: Int, inf: Int): (Map[Long, Int], Int) = {
    var dist = nodes.map(v => v -> (if (sources(v)) 0 else inf)).toMap
    val out = edges.groupBy(_._1)
    var rounds = 0
    var done = false
    while (rounds < maxRounds && !done) {
      val nd = mutable.Map.empty[Long, Int]
      dist.foreach { case (v, d) =>
        if (d < inf) out.getOrElse(v, Nil).foreach { case (_, w) =>
          nd(w) = math.min(nd.getOrElse(w, Int.MaxValue), d + 1)
        }
      }
      val next = dist.map { case (v, d) =>
        v -> math.min(d, nd.getOrElse(v, inf)) }
      done = next.forall { case (v, d) => d >= dist(v) }
      dist = next
      rounds += 1
    }
    (dist, rounds)
  }

  /** PageRank.ranksConverged in its integer arithmetic: 1e6-scaled
    * ranks, `r div deg` per edge, damping `(85 · Σ) div 100`, stop when no
    * rank moves by more than `tol`. Returns (ranks, rounds). */
  def pageRank(edges: Seq[(Long, Long)], maxIters: Int,
      tol: Long): (Map[Long, Long], Int) = {
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var r: Map[Long, Long] = deg.map { case (s, _) => s -> 1000000L }
    var rounds = 0
    var done = false
    while (rounds < maxIters && !done) {
      val sums = mutable.Map.empty[Long, Long]
      edges.foreach { case (s, d) =>
        r.get(s).foreach(rs => sums(d) = sums.getOrElse(d, 0L) + rs / deg(s))
      }
      val next = sums.map { case (d, sc) => d -> (150000L + 85 * sc / 100) }
        .toMap
      val moved = next.collect { case (v, x) if r.contains(v) =>
        math.abs(x - r(v)) }.maxOption.getOrElse(0L)
      r = next
      rounds += 1
      done = moved <= tol
    }
    (r, rounds)
  }
}
