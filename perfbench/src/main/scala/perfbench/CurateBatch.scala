package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{BfsHops, DupClusters, MinHashLSH, PageRank, SimHash}

/** Offline curation batches: near-duplicate detection (MinHash LSH and
  * SimHash), the union of their pairs closed into duplicate clusters,
  * then PageRank and multi-source BFS from each planted family root over
  * the symmetrized pair graph. One unit runs one batch over each of
  * [[Parts]] independent corpora of the seed, so a run has [[Parts]]
  * batch times and reports their median. Executor compute, shuffle and
  * the superstep loops dominate; `Api` and the store are not used. */
final class CurateBatch(spark: SparkSession, seed: Long) extends Workload {
  val name = "curate_batch"
  val unitKind = "batch"

  val Parts = 3
  val PartDocs = 2000
  val Bands = 4
  val RowsPerBand = 3
  val PrMaxIters = 6
  val PrTol = 1000L
  val BfsMaxRounds = 40

  private var curs: IndexedSeq[Gen.Curation] = IndexedSeq.empty
  private var paths: IndexedSeq[String] = IndexedSeq.empty
  private var batches = 0
  private val precisions = collection.mutable.ArrayBuffer.empty[Double]

  def sizes: Map[String, Any] = Map("corpora" -> Parts,
    "docs_per_corpus" -> PartDocs,
    "family_docs_per_corpus" -> curs.head.family.size,
    "families_per_corpus" -> curs.head.family.values.toSet.size,
    "text_mb" -> curs.flatMap(_.docs).map(_.text.length.toLong).sum / 1e6)

  def setup(base: java.io.File): Unit = {
    curs = phase("generate")((0 until Parts).map(p =>
      Gen.curation(seed, PartDocs, Gen.familySizes(Parts), p)))
    paths = (0 until Parts).map(p =>
      new java.io.File(base, s"docs-$p.parquet").getPath)
    phase("write_corpus")(curs.zip(paths).foreach { case (c, path) =>
      Frames.docs(spark, c.docs.toSeq).repartition(4).write.parquet(path)
    })
  }

  /** One unchecked batch over the first corpus: the batches of a unit
    * otherwise still get faster as the JIT warms, and their median would
    * sit on that slope. */
  def warmUp(): Unit = {
    val warm = new Run(spark, new Tracer(spark, enabled = false),
      checked = false)
    batch(warm, 0, spark.read.parquet(paths(0)))
  }

  def step(run: Run): Unit = (0 until Parts).foreach(p =>
    batch(run, p, spark.read.parquet(paths(p))))

  /** One batch over corpus `p`. */
  private def batch(run: Run, p: Int, docs: DataFrame): Unit = {
    val tr = run.tr
    val cur = curs(p)
    batches += 1
    run.op("batch", batches) {
      val mh = tr.span("MinHashLSH.nearDuplicates") {
        MinHashLSH.nearDuplicates(docs, Bands, RowsPerBand)
          .select("a_id", "b_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      tr.aside {
        val cand = MinHashLSH.candidatePairs(docs, Bands, RowsPerBand).count()
        tr.noteLast("pairs_per_candidate", mh.length / math.max(cand, 1L).toDouble)
        tr.noteLast("precision", Checks.pairPrecision(mh, cur))
      }
      val sh = tr.span("SimHash.nearPairs") {
        SimHash.nearPairs(docs).select("a_id", "b_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      tr.aside(tr.noteLast("precision", Checks.pairPrecision(sh, cur)))
      val pairs = (mh ++ sh).distinct.sorted
      val labels = tr.span("DupClusters.assign") {
        DupClusters.assign(docs.select(col("doc_id").as("id")),
          Frames.pairs(spark, pairs, "a_id", "b_id")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val edges = Frames.pairs(spark, Checks.symmetric(pairs), "src", "dst")
      val (ranks, prRounds) = tr.span("PageRank.ranksConverged") {
        val (r, n) = PageRank.ranksConverged(edges, PrMaxIters, PrTol)
        tr.note("rounds", n)
        (r.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap, n)
      }
      val (hops, bfsRounds) = tr.span("BfsHops.run") {
        val roots = cur.family.values.toSet
        val dist0 = Frames.pairs(spark, Checks.nodes(pairs).map(v =>
            (v, if (roots(v)) 0L else BfsHops.Inf.toLong)), "v", "dist")
          .select(col("v"), col("dist").cast("int"))
        val (d, n) = BfsHops.run(edges, dist0, BfsMaxRounds,
          earlyExit = true)
        tr.note("rounds", n)
        (d.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap, n)
      }
      Checks.Curated(pairs, labels, ranks, prRounds, hops, bfsRounds)
    } { o =>
      run.recall += Checks.dupRecall(o.labels, cur)
      precisions += Checks.pairPrecision(o.pairs, cur)
      Checks.curation(o, cur, PartDocs, PrMaxIters, PrTol, BfsMaxRounds,
        BfsHops.Inf)
    }
    run.docs += PartDocs
  }

  /** Detected pairs inside a planted family ÷ detected pairs, median
    * over the measured batches. */
  override def finish(run: Run): Unit =
    if (precisions.nonEmpty)
      run.details("dup_precision") = Stats.median(precisions.toSeq)
}
