package graft

import org.apache.spark.sql.DataFrame

import graft.RequestFixtures.{Dim, vector}
import graft.operators.{BfsHops, PageRank, SnapshotStore, VersionedIvf,
  VersionedIvfAdc, WeightedSssp}

/** Job budgets of the request verbs — the first piece of the per-query
  * budget gate: each pinned count is the number of Spark jobs one WARM
  * call launches, its result's collect included, on a small fixture. A
  * count may go down (lower the budget in the same change); any increase
  * fails.
  *
  * Budgets (jobs per call, before → after driver-side evaluation of the
  * request inputs — dim check, probed cells, target buckets and inline
  * doc_id verdicts computed from what the driver already holds):
  *  - VersionedIvf.search, narrow probe:   7 → 4
  *  - VersionedIvf.search, full probe:     5 → 4
  *  - VersionedIvfAdc.search:             11 → 8
  *  - SnapshotStore.readDocs, inline meta: 7 → 1
  *  - SnapshotStore.readDocs, sidecar:     7 → 3
  *
  * Graph operators (jobs per call, before → after the shared superstep
  * kernel: one job per probed round, one per eight probe-free rounds,
  * plus the collect):
  *  - PageRank.ranksConverged, 6 rounds:  49 → 7
  *  - PageRank.ranks, 3 iterations:        9 → 2
  *  - BfsHops.run, earlyExit, 6 rounds:   54 → 7
  *  - BfsHops.run, 3 fixed rounds:        10 → 2
  *  - WeightedSssp.run, earlyExit, 6 rounds: 54 → 7
  */
class JobBudgetSpec extends SparkTestBase {

  private val Cells = 8

  private def cleanup(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) {
      import scala.reflect.io.Directory
      new Directory(f).deleteRecursively(): Unit
    }
  }

  private def vecs(rows: Seq[(Long, Seq[Float])]): DataFrame =
    RequestFixtures.vecs(spark, rows)

  private lazy val corpus = vecs((0L until 400L).map(i => (i, vector(i))))
  private lazy val query = vecs(Seq((-1L, vector(123L))))

  /** Jobs of one warm call: a first call warms the store's caches. */
  private def warmJobs(call: => DataFrame): Int = {
    call.collect()
    JobCounter(spark)(call.collect())._2
  }

  private def withThreshold[T](n: Int)(body: => T): T = {
    val saved = SnapshotStore.sidecarThreshold
    SnapshotStore.sidecarThreshold = n
    try body finally SnapshotStore.sidecarThreshold = saved
  }

  private def docStore(root: String): Unit = {
    cleanup(root)
    val sp = spark
    import sp.implicits._
    SnapshotStore.commit(
      (0L until 2000L).map(i => (i, s"text_$i")).toDF("doc_id", "text")
        .repartition(4),
      root, 8, meta = Seq(SnapshotStore.statsDeclaration(Seq("doc_id"))))
  }

  private val Want = Seq(3L, 250L, 999L, 1500L, 777777L)

  test("VersionedIvf.search: narrow and full probe stay within budget") {
    val root = "target/budget-vivf"
    cleanup(root)
    VersionedIvf.write(corpus, Cells, root)
    val narrow = warmJobs(VersionedIvf.search(spark, root, query, 2, 5))
    val full = warmJobs(VersionedIvf.search(spark, root, query, Cells, 5))
    info(s"narrow probe: $narrow jobs, full probe: $full jobs")
    assert(narrow <= 4, s"narrow-probe search launched $narrow jobs")
    assert(full <= 4, s"full-probe search launched $full jobs")
  }

  test("VersionedIvfAdc.search stays within budget") {
    val root = "target/budget-vadc"
    cleanup(root)
    VersionedIvfAdc.write(corpus, root, dim = Dim, m = 2, k = 8,
      nCells = Cells)
    val jobs = warmJobs(VersionedIvfAdc.search(spark, root, query, 2, 5))
    info(s"ADC search: $jobs jobs")
    assert(jobs <= 8, s"ADC search launched $jobs jobs")
  }

  test("readDocs stays within budget on inline and sidecar metadata") {
    val inline = "target/budget-docs-inline"
    docStore(inline)
    val sidecar = "target/budget-docs-sidecar"
    withThreshold(1)(docStore(sidecar))
    assert(new java.io.File(sidecar, "meta").exists(),
      "the sidecar fixture did not engage the sidecar")
    val i = warmJobs(SnapshotStore.readDocs(spark, inline, Want))
    val s = warmJobs(SnapshotStore.readDocs(spark, sidecar, Want))
    info(s"readDocs inline: $i jobs, sidecar: $s jobs")
    assert(i <= 1, s"inline-metadata readDocs launched $i jobs")
    assert(s <= 3, s"sidecar readDocs launched $s jobs")
  }

  /** Jobs and rounds of one warm graph-operator call, collect included. */
  private def warmRounds(call: => (DataFrame, Int)): (Int, Int) = {
    call._1.collect()
    val (rounds, jobs) = JobCounter(spark) {
      val (df, n) = call
      df.collect()
      n
    }
    (jobs, rounds)
  }

  test("graph operators stay within budget") {
    val sp = spark
    import sp.implicits._
    // ranks keep moving on this irregular graph, so a probed run goes to
    // its bound
    val irregular = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L),
      (4L, 3L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val path = (0L until 5L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("src", "dst")
    val hops0 = (0L to 5L).map(i => (i, if (i == 0L) 0 else BfsHops.Inf))
      .toDF("v", "dist")
    val weighted = (0L until 5L).flatMap(i =>
      Seq((i, i + 1, 2L), (i + 1, i, 2L))).toDF("src", "dst", "w")
    val cost0 = (0L to 5L)
      .map(i => (i, if (i == 0L) 0L else WeightedSssp.Inf)).toDF("v", "dist")

    val (pr, prRounds) = warmRounds(PageRank.ranksConverged(irregular, 6))
    val ranks = warmJobs(PageRank.ranks(irregular, 3))
    val (bfsEe, bfsRounds) =
      warmRounds(BfsHops.run(path, hops0, 20, earlyExit = true))
    val (bfsFixed, _) = warmRounds(BfsHops.run(path, hops0, 3))
    val (sssp, ssspRounds) =
      warmRounds(WeightedSssp.run(weighted, cost0, 20, earlyExit = true))
    info(s"ranksConverged ($prRounds rounds): $pr, ranks(3): $ranks, " +
      s"BFS earlyExit ($bfsRounds rounds): $bfsEe, BFS 3 rounds: " +
      s"$bfsFixed, SSSP earlyExit ($ssspRounds rounds): $sssp jobs")
    assert(prRounds === 6 && bfsRounds === 6 && ssspRounds === 6)
    assert(pr <= 7, s"ranksConverged launched $pr jobs")
    assert(ranks <= 2, s"ranks launched $ranks jobs")
    assert(bfsEe <= 7, s"BFS with earlyExit launched $bfsEe jobs")
    assert(bfsFixed <= 2, s"fixed-round BFS launched $bfsFixed jobs")
    assert(sssp <= 7, s"SSSP with earlyExit launched $sssp jobs")
  }
}
