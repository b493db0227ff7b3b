package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark: seeded generation, the percentile rule,
  * span and job accounting, the output checks, and the metric catalogue
  * against BENCHMARK.json. None of them starts Spark. */
class BenchSelfSpec extends AnyFunSuite {
  import Gen.{Doc, IvfSearch}

  /** Canonical byte encoding of generated inputs (docs, vectors, and the
    * textual form of anything else): what "byte-identical" means. */
  private def encode(parts: Any*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val w = new java.io.DataOutputStream(out)
    def put(x: Any): Unit = x match {
      case d: Doc => w.writeLong(d.id); w.writeUTF(d.lang)
        w.writeUTF(d.source); w.write(d.text.getBytes("UTF-8"))
      case v: Array[Float] => v.foreach(w.writeFloat)
      case a: Array[_] => a.foreach(put)
      case s: Iterable[_] => s.foreach(put)
      case IvfSearch(q) => put(q)
      case p: Product => w.writeUTF(p.productPrefix)
        p.productIterator.foreach(put)
      case o => w.writeUTF(String.valueOf(o))
    }
    parts.foreach(put)
    w.flush()
    out.toByteArray
  }

  private def churnBytes(seed: Long): Array[Byte] = {
    val c = new Gen.Churn(seed, 200, 40, 1)
    encode(c.initial, c.initialVecs, (1 to 3).map(_ => c.next()))
  }

  private def inputs(seed: Long): Seq[Array[Byte]] = Seq(
    { val r = Gen.ragInputs(seed, 300, 2)
      encode(r.docs, r.vecs, r.requests, r.probes) },
    churnBytes(seed),
    { val c = Gen.curation(seed, 3000)
      encode(c.docs, c.family.toSeq.sorted, c.parentEdges) })

  test("the same seed generates byte-identical inputs") {
    inputs(7).zip(inputs(7)).foreach { case (a, b) =>
      assert(a.nonEmpty && java.util.Arrays.equals(a, b))
    }
  }

  test("another seed generates different inputs") {
    inputs(7).zip(inputs(8)).foreach { case (a, b) =>
      assert(!java.util.Arrays.equals(a, b))
    }
  }

  test("curation plants the scheduled families, exact copies included") {
    val c = Gen.curation(3, 3000)
    assert(c.family.size == Gen.FamilySizes.map { case (s, n) => s * n }.sum)
    assert(c.family.values.toSet.size == Gen.FamilySizes.map(_._2).sum)
    val text = c.docs.map(d => d.id -> d.text).toMap
    val exact = c.parentEdges.filter(_._3)
    assert(exact.nonEmpty && exact.forall { case (p, k, _) =>
      text(p) == text(k) })
    assert(c.parentEdges.filterNot(_._3).forall { case (p, k, _) =>
      text(p) != text(k) })
  }

  test("curate corpora: each part plants the scaled schedule, parts differ") {
    val fams = Gen.familySizes(3)
    assert(fams.map(_._1) == Gen.FamilySizes.map(_._1) && fams.forall(_._2 >= 1))
    val parts = (0 until 3).map(p => Gen.curation(4, 2000, fams, p))
    parts.foreach { c =>
      assert(c.docs.length == 2000 &&
        c.family.size == fams.map { case (s, n) => s * n }.sum &&
        c.family.values.toSet.size == fams.map(_._2).sum)
    }
    assert(parts.map(_.docs.map(_.text).toSeq).distinct.size == 3)
    assert(Gen.curation(4, 2000, fams, 1).docs.map(_.text).toSeq ==
      parts(1).docs.map(_.text).toSeq)
  }

  test("tail: highest percentile with ten samples beyond, and the count") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.tail(xs) == Stats.Tail(90.0, 90.0, 100))
    val t = Stats.tail((1 to 21).map(_.toDouble))
    assert(t.value == 11.0 && t.samples == 21)
    assert((21 - 10) * 100.0 / 21 == t.percentile)
    // with 20 or fewer samples the rule would sit at or below the median
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Stats.Tail(20.0, 100.0, 20))
    assert(Stats.tail(Seq(5.0)) == Stats.Tail(5.0, 100.0, 1))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("interval union clips and merges overlaps") {
    assert(Stats.unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 30.0)),
      0, 100) == 25.0)
    assert(Stats.unionLength(Seq((-5.0, 5.0), (95.0, 120.0)), 0, 100) == 10.0)
    assert(Stats.unionLength(Nil, 0, 100) == 0.0)
  }

  private def span(id: Int, parent: Option[Span], s: Double, e: Double) = {
    val x = new Span(id, s"s$id", parent, 0)
    x.start = s; x.end = e
    x
  }

  test("self time and driver gap with overlapping children and jobs") {
    val root = span(0, None, 0, 100)
    val a = span(1, Some(root), 10, 40)
    val b = span(2, Some(root), 30, 70) // overlaps a
    val jobs = Seq(
      JobRec(1, Set(a.tag, root.tag), 15, 35),
      // a broadcast future of the same call, overlapping the first job and
      // running past the span's end
      JobRec(2, Set(a.tag, root.tag), 20, 50),
      JobRec(3, Set(root.tag), 80, 90),
      JobRec(4, Set("another-tag"), 0, 1))
    val stages = Seq(
      StageRec(1, Set(a.tag, root.tag), 4, 12.5, 100, 0, 7),
      StageRec(2, Set(root.tag), 2, 1.5, 0, 0, 3),
      StageRec(3, Set.empty, 1, 1.0, 0, 0, 0))
    val (costs, loose, looseStages) =
      Tracer.charge(Seq(root, a, b), jobs, stages)
    val byId = costs.map(c => c.span.id -> c).toMap
    // root: 100 ms minus the union of its children [10, 70)
    assert(byId(0).selfMs == 40.0)
    assert(byId(1).selfMs == 30.0 && byId(2).selfMs == 40.0)
    // a: 30 ms minus jobs 1 and 2 clipped to [10, 40): [15, 40)
    assert(byId(1).jobs == 2 && byId(1).driverGapMs == 5.0)
    // root carries its children's jobs: [15, 50) and [80, 90)
    assert(byId(0).jobs == 3 && byId(0).driverGapMs == 55.0)
    assert(byId(2).jobs == 0 && byId(2).driverGapMs == 40.0)
    assert(byId(1).stages == 1 && byId(1).tasks == 4 &&
      byId(1).execCpuMs == 12.5 && byId(1).shuffleBytes == 100)
    assert(byId(0).stages == 2 && byId(0).inputRecords == 10)
    assert(loose.map(_.id) == Seq(4) && looseStages.map(_.id) == Seq(3))
  }

  test("aside work is charged to no span and counted nowhere") {
    val root = span(0, None, 0, 100)
    val a = span(1, Some(root), 10, 40)
    val jobs = Seq(JobRec(1, Set(a.tag, root.tag), 15, 35),
      JobRec(2, Set(Tracer.AsideTag), 50, 60))
    val stages = Seq(StageRec(1, Set(a.tag, root.tag), 4, 2.0, 0, 0, 0),
      StageRec(2, Set(Tracer.AsideTag), 2, 9.0, 0, 0, 0))
    val (costs, loose, looseStages) =
      Tracer.charge(Seq(root, a), jobs, stages)
    val byId = costs.map(c => c.span.id -> c).toMap
    assert(byId(0).jobs == 1 && byId(0).stages == 1 &&
      byId(0).execCpuMs == 2.0 && byId(0).driverGapMs == 80.0)
    assert(loose.isEmpty && looseStages.isEmpty)
  }

  // --- the output checks reject corrupted results ---

  private val docs = Array.tabulate(40)(i =>
    Gen.doc(Gen.rng(1, "t"), i + 1L, 0.2))
  private val ids = docs.map(_.id)
  private val vecs = {
    val r = Gen.rng(1, "v")
    val m = new Gen.Mixture(r, 3)
    Array.fill(ids.length)(m.sample(r))
  }

  test("ragSearch check rejects reordered, altered and short results") {
    val q = "alpha beta gamma"
    val good = Reference.topK(ids, vecs,
      graft.functions.Embedder.embedQuery(q, Gen.Dim), 5)
    assert(Checks.ragSearch(good, ids, vecs, q, 5))
    assert(!Checks.ragSearch(good.reverse, ids, vecs, q, 5))
    assert(!Checks.ragSearch(good.updated(2, (good(2)._1, good(2)._2 + 1e-6)),
      ids, vecs, q, 5))
    assert(!Checks.ragSearch(good.init, ids, vecs, q, 5))
  }

  test("IVF search check rejects wrong sims, ranks and order") {
    val q = vecs(3).map(_.toDouble)
    val byId = ids.zip(vecs).toMap
    val good = Reference.topK(ids, vecs, q, 4).zipWithIndex.map {
      case ((id, s), i) => (i + 1, id, s) }
    assert(Checks.ivfSearch(good, byId, q, 4))
    assert(!Checks.ivfSearch(good.updated(1, good(1).copy(_3 = 0.5)), byId,
      q, 4))
    assert(!Checks.ivfSearch(good.map(_.copy(_1 = 1)), byId, q, 4))
    val swapped = Seq(good(1).copy(_1 = 1), good(0).copy(_1 = 2)) ++
      good.drop(2)
    assert(!Checks.ivfSearch(swapped, byId, q, 4))
  }

  test("read-after-write search check rejects a query not found first") {
    val got = Seq((-1L, 1, 7L), (-1L, 2, 9L), (-2L, 1, 8L), (-2L, 2, 7L))
    assert(Checks.selfFirst(got, Seq(-1L -> 7L, -2L -> 8L)))
    assert(!Checks.selfFirst(got, Seq(-1L -> 7L, -2L -> 7L)))
    assert(!Checks.selfFirst(got.drop(2), Seq(-1L -> 7L, -2L -> 8L)))
    assert(Checks.recallAtK(got, Map(-1L -> Seq(7L, 5L))) == Seq(0.5))
  }

  test("readDocs check rejects missing, stale and deleted chunks") {
    val live = docs.take(30).map(d => d.id -> d.text).toMap
    val want = Seq(1L, 2L, 35L, 99L)
    val good = want.flatMap(id => live.get(id).toSeq.flatMap(t =>
      Reference.chunks(id, t).map { case (c, u) => (id, c, u) })).toSet
    assert(Checks.readDocs(good, want, live.get))
    assert(!Checks.readDocs(good - good.head, want, live.get))
    assert(!Checks.readDocs(good.map { case (i, c, u) => (i, c, u + 1) },
      want, live.get))
    val deleted = docs(34)
    assert(!Checks.readDocs(good + ((deleted.id, 0,
      Reference.chunks(deleted.id, deleted.text).head._2)), want, live.get))
  }

  test("topic and report checks reject altered rows") {
    val terms = docs(5).text.split(" ").take(2).toSeq
    val good = Reference.topic(docs, terms, 3)
    assert(Checks.topic(good, docs, terms, 3))
    assert(!Checks.topic(good.map { case (i, s) => (i, s + 1) }, docs,
      terms, 3))
    val q = terms.mkString(" ")
    val rows = Seq(("introduction", s"Research report for query: $q")) ++
      Reference.topic(docs, terms, 2).map { case (i, s) =>
        ("keyword_search", s"doc $i score $s") } ++
      Reference.topK(ids, vecs, graft.functions.Embedder.embedQuery(q,
        Gen.Dim), 2).map { case (i, s) => ("similarity_search",
        s"vec $i sim_bp ${Checks.simBp(s)}") }
    assert(Checks.report(rows.reverse, docs, ids, vecs, q, 2))
    assert(!Checks.report(rows.init, docs, ids, vecs, q, 2))
  }

  /** The batch output a correct engine would return for `pairs`. */
  private def consistent(cur: Gen.Curation,
      pairs: Seq[(Long, Long)]): Checks.Curated = {
    val comp = Reference.components(pairs)
    val labels = cur.docs.map(d => d.id -> comp.getOrElse(d.id, d.id)).toMap
    val sym = Checks.symmetric(pairs)
    val (hops, bfsRounds) = Reference.bfs(sym, cur.family.values.toSet,
      Checks.nodes(pairs), 40, 1000000)
    val (ranks, prRounds) = Reference.pageRank(sym, 6, 1000L)
    Checks.Curated(pairs, labels, ranks, prRounds, hops, bfsRounds)
  }

  test("curation check rejects split duplicates, wrong labels, hops, ranks") {
    val cur = Gen.curation(5, 2500)
    // a perfect detector: every planted edit is a pair
    val pairs = cur.parentEdges.map { case (p, c, _) =>
      (math.min(p, c), math.max(p, c)) }.distinct.sorted.toSeq
    val good = consistent(cur, pairs)
    import good.{labels, hops, bfsRounds, ranks}
    val copy = cur.parentEdges.head._2
    def ok(o: Checks.Curated) =
      Checks.curation(o, cur, 2500, 6, 1000L, 40, 1000000)
    assert(ok(good))
    assert(Checks.dupRecall(labels, cur) == 1.0)
    assert(Checks.pairPrecision(pairs, cur) == 1.0)
    // an exact copy in a two-member family, split off by a pair list that
    // lacks its only edge; everything else agrees with that pair list
    val sizes = cur.family.values.groupBy(identity).map { case (r, m) =>
      r -> m.size }
    val (p, c, _) = cur.parentEdges.find { case (p, _, e) =>
      e && sizes(cur.family(p)) == 2 }.get
    val split = pairs.filterNot(_ == ((math.min(p, c), math.max(p, c))))
    assert(ok(consistent(cur, pairs)))
    assert(!ok(consistent(cur, split)))
    assert(!ok(good.copy(labels = labels.updated(copy, copy + 1))))
    val someHop = hops.find(_._2 > 0).get
    assert(!ok(good.copy(hops = hops.updated(someHop._1, someHop._2 + 1))))
    assert(!ok(good.copy(bfsRounds = bfsRounds + 1)))
    assert(!ok(good.copy(ranks = ranks.updated(ranks.head._1,
      ranks.head._2 + 1))))
  }

  test("the metric catalogue matches BENCHMARK.json") {
    val src = scala.io.Source.fromFile("../BENCHMARK.json", "UTF-8")
    val json = try src.mkString finally src.close()
    def names(section: String): Seq[String] = {
      val body = json.split("\"" + section + "\"")(1).split("]")(0)
      "\"name\": \"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    assert(names("end_to_end") == Metrics.EndToEnd.map(_.name))
    assert(names("per_layer") == Metrics.PerLayer.map(_.name))
    Metrics.PerLayer.foreach { m =>
      assert(json.contains(s""""name": "${m.name}",\n      "unit": "${m.unit}",\n      "better": "${m.better}""""), m.name)
    }
  }
}
