package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{BfsHops, PageRank, WeightedSssp}

/** The graph operators on the shared superstep kernel: outputs and round
  * counts equal small driver-side replays of the operators' arithmetic on
  * random graphs, bad edge rows are named errors, and a run holds no more
  * than two rounds' state plus its edges. */
class SuperstepSpec extends SparkTestBase {

  import SuperstepSpec._

  /** Seeded property loop (ScalaCheck's Gen driven directly, as in
    * TextFunctionsSpec). */
  private def forAllSeeded[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  private def edgesDf(g: Graph): DataFrame = {
    val sp = spark
    import sp.implicits._
    g.edges.toDF("src", "dst", "w")
  }

  private def dist0Df(g: Graph, inf: Long): DataFrame = {
    val sp = spark
    import sp.implicits._
    g.vertices.map(v => (v, if (g.sources(v)) 0L else inf)).toDF("v", "dist")
  }

  private def longs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue))
      .toSeq.sorted

  test("parity: outputs and round counts equal driver replays on random " +
      "graphs") {
    forAllSeeded(graphs, 24) { g =>
      val edges = edgesDf(g)
      val plain = edges.select("src", "dst")
      val pairs = g.edges.map(e => (e._1, e._2))
      val clue = s"graph $g"

      // PageRank, fixed iterations and converged
      val iters = 1 + g.rounds % 4
      withClue(clue) {
        assert(longs(PageRank.ranks(plain, iters)) ===
          pageRank(pairs, iters, None)._1.toSeq.sorted)
        val (rc, n) = PageRank.ranksConverged(plain, g.rounds, g.tol)
        val (want, wantRounds) = pageRank(pairs, g.rounds, Some(g.tol))
        assert(n === wantRounds)
        assert(longs(rc) === want.toSeq.sorted)
      }

      // BFS and Bellman–Ford, with and without the early exit
      for (earlyExit <- Seq(false, true))
          withClue(s"$clue earlyExit=$earlyExit") {
        val bInf = BfsHops.Inf.toLong
        val (bd, bn) = BfsHops.run(plain, dist0Df(g, bInf), g.rounds,
          earlyExit)
        val (bWant, bWantN) = relax(g.edges.map(e => (e._1, e._2, 1L)),
          g.dist0(bInf), bInf, g.rounds, earlyExit)
        assert(bn === bWantN)
        assert(longs(bd) === bWant.toSeq.sorted)
        val sInf = WeightedSssp.Inf
        val (sd, sn) = WeightedSssp.run(edges, dist0Df(g, sInf), g.rounds,
          earlyExit)
        val (sWant, sWantN) = relax(g.edges, g.dist0(sInf), sInf, g.rounds,
          earlyExit)
        assert(sn === sWantN)
        assert(longs(sd) === sWant.toSeq.sorted)
      }
    }
  }

  test("PageRank: a null src or dst is a named error") {
    val sp = spark
    import sp.implicits._
    val edges = Seq((Option(1L), Option(2L)), (Option(2L), Option.empty[Long]))
      .toDF("src", "dst")
    for (run <- Seq(() => PageRank.ranks(edges, 2),
        () => PageRank.ranksConverged(edges, 5)._1)) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.startsWith("PageRank: "), e.getMessage)
      assert(e.getMessage.contains("null"))
    }
  }

  test("BfsHops: a null src or dst is a named error") {
    val sp = spark
    import sp.implicits._
    val edges = Seq((Option(0L), Option(1L)), (Option.empty[Long], Option(0L)))
      .toDF("src", "dst")
    val dist0 = Seq((0L, 0), (1L, BfsHops.Inf)).toDF("v", "dist")
    for (earlyExit <- Seq(false, true)) {
      val e = intercept[IllegalArgumentException](
        BfsHops.run(edges, dist0, 3, earlyExit))
      assert(e.getMessage.startsWith("BfsHops: "), e.getMessage)
      assert(e.getMessage.contains("null"))
    }
  }

  test("WeightedSssp: a null src, dst or weight is a named error") {
    val sp = spark
    import sp.implicits._
    val dist0 = Seq((0L, 0L), (1L, WeightedSssp.Inf)).toDF("v", "dist")
    val bad = Seq(
      Seq((Option(0L), Option.empty[Long], Option(1L))),
      Seq((Option(0L), Option(1L), Option.empty[Long])))
    for (rows <- bad; earlyExit <- Seq(false, true)) {
      val edges = rows.toDF("src", "dst", "w")
      val e = intercept[IllegalArgumentException](
        WeightedSssp.run(edges, dist0, 3, earlyExit))
      assert(e.getMessage.startsWith("WeightedSssp: "), e.getMessage)
      assert(e.getMessage.contains("null"))
    }
  }

  test("superseded rounds are released: a 20-round BFS holds at most two " +
      "rounds' state plus the edges") {
    val sp = spark
    import sp.implicits._
    val sc = spark.sparkContext
    val n = 30
    val path = (0 until n - 1).flatMap { i =>
      Seq((i.toLong, (i + 1).toLong), ((i + 1).toLong, i.toLong))
    }.toDF("src", "dst")
    val dist0 = (0 until n)
      .map(i => (i.toLong, if (i == 0) 0 else BfsHops.Inf)).toDF("v", "dist")
    for (earlyExit <- Seq(true, false)) {
      val base = sc.emptyRDD[Int].id
      def cached(): Int =
        sc.getRDDStorageInfo
          .count(i => i.id > base && i.numCachedPartitions > 0)
      val peak = new AtomicInteger
      val listener = new SparkListener {
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          peak.accumulateAndGet(cached(), math.max)
      }
      sc.addSparkListener(listener)
      val (dist, rounds) =
        try {
          val out = BfsHops.run(path, dist0, maxRounds = 20, earlyExit)
          org.apache.spark.graft.ListenerBusDrain.drain(sc)
          out
        } finally sc.removeSparkListener(listener)
      assert(rounds === 20)
      val after = cached()
      info(s"earlyExit=$earlyExit: $after RDDs cached after the run, " +
        s"peak at a job end $peak")
      assert(after <= 3, s"$after RDDs still cached after the run")
      if (earlyExit) assert(peak.get <= 3, s"$peak RDDs cached at a job end")
      assert(dist.filter($"dist" < BfsHops.Inf).count() === 21L)
    }
  }
}

object SuperstepSpec {

  /** A random directed graph: weighted edges (self-loops and duplicates
    * included), a vertex table that may miss edge endpoints and hold
    * vertices no edge touches, the sources among those vertices, a round
    * bound and a PageRank tolerance. */
  final case class Graph(edges: Seq[(Long, Long, Long)], vertices: Seq[Long],
      sources: Set[Long], rounds: Int, tol: Long) {
    def dist0(inf: Long): Map[Long, Long] =
      vertices.map(v => v -> (if (sources(v)) 0L else inf)).toMap
  }

  /** Weighted edges among `n` vertices 0 until n. */
  private def part(n: Int): Gen[Seq[(Long, Long, Long)]] =
    Gen.choose(0, 3 * n).flatMap(m => Gen.listOfN(m, for {
      a <- Gen.choose(0L, n - 1L)
      b <- Gen.choose(0L, n - 1L)
      w <- Gen.choose(0L, 5L)
    } yield (a, b, w)))

  val graphs: Gen[Graph] = for {
    n <- Gen.choose(1, 10)
    parts <- Gen.choose(1, 2)
    // two parts are shifted apart: a disconnected union
    es <- Gen.listOfN(parts, part(n)).map(ps =>
      ps.zipWithIndex.flatMap { case (p, i) =>
        p.map { case (a, b, w) => (a + i * n, b + i * n, w) } })
    empty <- Gen.oneOf(true, false, false, false, false)
    // the vertex table is a random subset of [0, parts·n + 3): some edge
    // endpoints are missing, some vertices are in no edge
    vs <- Gen.someOf(0L until (parts * n + 3).toLong)
    srcs <- Gen.someOf(vs)
    rounds <- Gen.choose(1, 9)
    tol <- Gen.oneOf(0L, 1000L, 50000L)
  } yield Graph(if (empty) Nil else es, vs.toSeq.sorted, srcs.toSet, rounds,
    tol)

  /** PageRank's integer power iteration, every ranked node sending every
    * round; with `tol`, stops after the first round in which no node
    * ranked in both rounds moved by more than it. */
  def pageRank(edges: Seq[(Long, Long)], maxIters: Int,
      tol: Option[Long]): (Map[Long, Long], Int) = {
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
      done = tol.exists(moved <= _)
    }
    (r, rounds)
  }

  /** Bellman–Ford over the vertex table: every vertex below `inf` offers
    * `dist + w` on each out-edge every round, a vertex keeps
    * `min(dist, coalesce(best offer, inf))`; with `earlyExit`, stops
    * after the first round that improves no vertex. Unit weights give
    * BFS. */
  def relax(edges: Seq[(Long, Long, Long)], dist0: Map[Long, Long],
      inf: Long, maxRounds: Int, earlyExit: Boolean): (Map[Long, Long], Int) = {
    var dist = dist0
    var rounds = 0
    var done = false
    while (rounds < maxRounds && !done) {
      val offers = mutable.Map.empty[Long, Long]
      edges.foreach { case (s, d, w) =>
        dist.get(s).filter(_ < inf).foreach(ds =>
          offers(d) = math.min(offers.getOrElse(d, Long.MaxValue), ds + w))
      }
      val next = dist.map { case (v, d) =>
        v -> math.min(d, offers.getOrElse(v, inf)) }
      done = earlyExit && next.forall { case (v, d) => d >= dist(v) }
      dist = next
      rounds += 1
    }
    (dist, rounds)
  }
}
