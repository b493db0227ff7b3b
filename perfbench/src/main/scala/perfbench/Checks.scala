package perfbench

import graft.functions.Embedder

/** Output checks: each compares what the engine returned, collected to the
  * driver, with the [[Reference]] answer for the same inputs. */
object Checks {

  /** Api.ragSearch: (vec_id, sim) rows equal the exact top-k by rounded
    * cosine, in order. */
  def ragSearch(got: Seq[(Long, Double)], ids: Array[Long],
      vecs: Array[Array[Float]], query: String, k: Int): Boolean =
    got == Reference.topK(ids, vecs, Embedder.embedQuery(query, Gen.Dim), k)

  /** VersionedIvf.search: k rows ranked 1..k, each carrying the exact
    * rounded cosine of its vector, best first (ties to the smaller id). */
  def ivfSearch(got: Seq[(Int, Long, Double)], vecById: Long => Array[Float],
      q: Array[Double], k: Int): Boolean =
    got.map(_._1) == (1 to k) &&
      got.forall { case (_, id, sim) =>
        sim == Reference.round6(Reference.cosine(vecById(id), q)) } &&
      got.map { case (_, id, sim) => (-sim, id) }.sliding(2).forall {
        case Seq(a, b) => Ordering[(Double, Long)].lteq(a, b)
        case _ => true
      }

  /** SnapshotStore.readDocs: exactly the chunks (doc_id, chunk_idx,
    * vec_uid) of the requested ids that are live. */
  def readDocs(got: Set[(Long, Int, Long)], want: Seq[Long],
      live: Long => Option[String]): Boolean =
    got == want.distinct.flatMap(id => live(id).toSeq.flatMap(t =>
      Reference.chunks(id, t).map { case (c, u) => (id, c, u) })).toSet

  /** Api.searchByTopic: (doc_id, score) rows equal the reference top-n. */
  def topic(got: Seq[(Long, Int)], docs: Array[Gen.Doc], terms: Seq[String],
      n: Int): Boolean =
    got == Reference.topic(docs, terms, n)

  /** Api.assembleReport: the introduction, the keyword section and the
    * similarity section, row for row (in any order). */
  def report(got: Seq[(String, String)], docs: Array[Gen.Doc],
      ids: Array[Long], vecs: Array[Array[Float]], query: String,
      n: Int): Boolean = {
    val kw = Reference.topic(docs, query.split(" ").toSeq, n).map {
      case (id, s) => ("keyword_search", s"doc $id score $s") }
    val sim = Reference.topK(ids, vecs, Embedder.embedQuery(query, Gen.Dim),
      n).map { case (id, s) => ("similarity_search",
        s"vec $id sim_bp ${simBp(s)}") }
    got.sorted ==
      (("introduction", s"Research report for query: $query") +: (kw ++ sim))
        .sorted
  }

  /** The report's similarity in basis points: `round(sim * 10000)`. */
  def simBp(sim: Double): Long =
    BigDecimal(sim * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP)
      .toLong

  /** VersionedIvf.search with several queries: every query vector, itself
    * in the index, comes back first. */
  def selfFirst(got: Seq[(Long, Int, Long)], probes: Seq[(Long, Long)])
      : Boolean = {
    val first = got.collect { case (q, 1, id) => q -> id }.toMap
    probes.forall { case (q, id) => first.get(q).contains(id) }
  }

  /** Recall@k of each query's returned ids against its exact top-k. */
  def recallAtK(got: Seq[(Long, Int, Long)],
      truth: Map[Long, Seq[Long]]): Seq[Double] =
    truth.toSeq.map { case (q, t) =>
      got.count { case (gq, _, id) => gq == q && t.contains(id) }.toDouble /
        t.size
    }

  /** What one curation batch returned, collected. */
  final case class Curated(pairs: Seq[(Long, Long)], labels: Map[Long, Long],
      ranks: Map[Long, Long], prRounds: Int, hops: Map[Long, Int],
      bfsRounds: Int)

  /** curate_batch: every planted exact duplicate lands in its parent's
    * cluster; labels, BFS hops and rounds, and PageRank ranks and rounds
    * equal the references over the collected pair list. */
  def curation(o: Curated, cur: Gen.Curation, nDocs: Int, prMaxIters: Int,
      prTol: Long, bfsMaxRounds: Int, inf: Int): Boolean = {
    val label = (id: Long) => o.labels.getOrElse(id, Long.MinValue)
    val exactOk = cur.parentEdges.forall { case (p, c, exact) =>
      !exact || label(p) == label(c) }
    val comp = Reference.components(o.pairs)
    val labelsOk = o.labels.size == nDocs &&
      o.labels.forall { case (id, l) => l == comp.getOrElse(id, id) }
    val sym = symmetric(o.pairs)
    val (hops, bfsRounds) =
      Reference.bfs(sym, cur.family.values.toSet, nodes(o.pairs),
        bfsMaxRounds, inf)
    val (ranks, prRounds) = Reference.pageRank(sym, prMaxIters, prTol)
    exactOk && labelsOk && o.hops == hops && o.bfsRounds == bfsRounds &&
      o.ranks == ranks && o.prRounds == prRounds
  }

  /** Share of planted edits (parent, copy) whose two documents share a
    * cluster. */
  def dupRecall(labels: Map[Long, Long], cur: Gen.Curation): Double =
    cur.parentEdges.count { case (p, c, _) =>
      labels.get(p).exists(labels.get(c).contains) }.toDouble /
      cur.parentEdges.length

  /** Share of detected pairs whose two documents share a planted family. */
  def pairPrecision(pairs: Seq[(Long, Long)], cur: Gen.Curation): Double =
    pairs.count { case (a, b) =>
      cur.family.get(a).exists(cur.family.get(b).contains) }.toDouble /
      math.max(pairs.size, 1)

  def symmetric(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }

  def nodes(pairs: Seq[(Long, Long)]): Seq[Long] =
    pairs.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
}
