package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, SnapshotStore, VersionedIvf, VersionedIvfAdc}

/** The IVF index: in-memory search, centroid training, and the stored
  * index ([[VersionedIvf]], flat and SQ8 tiers) — stored search ≡
  * in-memory search, keyed upsert and delete, hot-cell rebalance, and a
  * narrow probe that opens only the probed cells' files. Tests of the
  * stored index keep the names of the stored-layout verbs they were
  * first written for (searchIndexed, upsertIndexed, deleteFromIndex,
  * rebalance). */
class IvfIndexSpec extends SparkTestBase {

  /** An empty root at `path`. */
  private def fresh(path: String): String = {
    val f = new java.io.File(path)
    if (f.exists()) {
      import scala.reflect.io.Directory
      new Directory(f).deleteRecursively()
    }
    path
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("q_id", "rank").collect().map(_.toSeq).toSeq

  private def cellCounts(root: String): Map[Long, Long] =
    SnapshotStore.read(spark, root).groupBy("cent_id")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def centIds(root: String): Set[Long] =
    VersionedIvf.storedCentroids(spark, root).map(_._1).toSet

  test("searchIndexed over a written index equals in-memory search") {
    val root = fresh("target/ivf-index-spec")
    val emb = Tables.embeddings(spark, sf0001)
    VersionedIvf.write(emb, k = 16, root)

    val live = rows(IvfIndex
      .search(emb, col("vec_id") < 5, k = 16, nProbe = 2, topK = 3))
    val stored = rows(VersionedIvf.search(spark, root,
      emb.filter(col("vec_id") < 5).select("vec_id", "embedding"),
      nProbe = 2, topK = 3))

    assert(stored.nonEmpty, "stored-index search returned no rows")
    assert(stored === live)
  }

  test("stored SQ8 index: full-probe search ≡ symmetric-int8 brute force") {
    import graft.functions.VectorFunctions
    val root = fresh("target/ivf-sq-spec")
    val emb = Tables.embeddings(spark, sf0001)
    VersionedIvf.writeSq(emb, k = 16, root)
    // nProbe = k probes every cell ⇒ the stored compressed tier must
    // reproduce the exhaustive symmetric-int8 ranking exactly
    val got = VersionedIvf.searchSq(spark, root,
      emb.filter(col("vec_id") < 3).select("vec_id", "embedding"),
      nProbe = 16, topK = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val e8 = emb.select(col("vec_id"),
      VectorFunctions.quantizeInt8(col("embedding"))
        .cast("array<double>").as("q8"))
    val q = e8.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("q8").as("q_q8"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id"))
    val brute = e8.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(VectorFunctions.cosine(col("q8"), col("q_q8")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1),
        r.getDouble(2))).toSet
    assert(got.nonEmpty && got === brute)
    // the stored rows carry int8-range codes, not floats
    val stored = SnapshotStore.read(spark, root)
    assert(!stored.columns.contains("embedding"))
    val mx = stored
      .select(max(array_max(transform(col("q8"), x => abs(x)))))
      .collect()(0)
    assert(mx.getLong(0) <= 127L)
  }

  test("deleteFromIndex preserves the SQ8 tier's own payload columns") {
    val root = fresh("target/ivf-sq-del-spec")
    val emb = Tables.embeddings(spark, sf0001)
    VersionedIvf.writeSq(emb, k = 16, root)
    val before = SnapshotStore.read(spark, root)
    val cols = before.columns.sorted.toSeq
    val n = before.count()
    VersionedIvf.delete(spark, root,
      emb.filter(col("vec_id") % 10 === 3).select("vec_id"))
    val after = SnapshotStore.read(spark, root)
    // schema survives (q8 codes, not the flat tier's embedding column)
    assert(after.columns.sorted.toSeq === cols)
    assert(cols.contains("q8"))
    val nDel = emb.filter(col("vec_id") % 10 === 3).count()
    assert(after.count() === n - nDel)
    // the compressed tier still searches after the delete
    assert(VersionedIvf.searchSq(spark, root,
      emb.filter(col("vec_id") < 3).select("vec_id", "embedding"),
      nProbe = 16, topK = 5).count() === 15L)
  }

  test("upsertIndexed replaces re-embedded vectors, even across cells") {
    val root = fresh("target/ivf-upsert-spec")
    val emb = Tables.embeddings(spark, sf0001)
    VersionedIvf.write(emb, k = 16, root)
    val cents = VersionedIvf.storedCentroids(spark, root)

    // re-embed vectors 40-44 with vector 7's embedding: same ids, new
    // values — their home cells can change, old rows must vanish
    val donor = emb.filter(col("vec_id") === 7)
      .select(col("embedding").as("donor")).limit(1)
    val mutated = emb.filter(col("vec_id").between(40, 44))
      .crossJoin(broadcast(donor))
      .select(col("vec_id"), col("donor").as("embedding"))
    VersionedIvf.upsert(spark, root, mutated)

    val stored = SnapshotStore.read(spark, root)
    // no duplicate ids, corpus size unchanged
    assert(stored.count() === emb.count())
    assert(stored.select("doc_id").distinct().count() === emb.count())

    // equals a fresh assignment of the mutated corpus to the same cents
    val current = emb.filter(!col("vec_id").between(40, 44))
      .select("vec_id", "embedding")
      .unionByName(mutated)
    val got = stored.select("doc_id", "cent_id")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val want = IvfIndex.cellAssign(current, cents)
      .select("vec_id", "cent_id")
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(got === want)
  }

  test("deleteFromIndex removes exactly the given ids; an emptied cell " +
      "leaves no stale partition; absent ids are a no-op") {
    val root = fresh("target/ivf-delete-spec")
    val emb = Tables.embeddings(spark, sf0001)
    VersionedIvf.write(emb, k = 16, root)
    val cents = VersionedIvf.storedCentroids(spark, root)
    val before = SnapshotStore.read(spark, root).count()

    // pick one whole cell to empty out, plus a scattered handful
    val assign = IvfIndex.cellAssign(emb, cents).select("vec_id", "cent_id")
    val victimCell = assign.groupBy("cent_id")
      .agg(count(lit(1)).as("n")).orderBy("n", "cent_id")
      .limit(1).collect().head.getLong(0)
    val doomed = assign.filter(col("cent_id") === victimCell)
      .select("vec_id")
      .union(emb.filter(col("vec_id").between(100, 104))
        .select("vec_id"))
      .distinct()
    val nDoomed = doomed.count()
    VersionedIvf.delete(spark, root, doomed)

    val after = SnapshotStore.read(spark, root)
    assert(after.count() === before - nDoomed)
    assert(after.join(doomed.select(col("vec_id").as("doc_id")),
      Seq("doc_id"), "left_semi").count() === 0L)
    // the emptied cell holds no stale row, not even through a probe of it
    assert(after.filter(col("cent_id") === victimCell).count() === 0L)
    assert(SnapshotStore.readWhereIn(spark, root, "cent_id",
      Seq(victimCell)).filter(col("cent_id") === victimCell)
      .count() === 0L)
    // surviving cells still answer searches (full probe = brute force
    // over survivors)
    val q = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
    assert(VersionedIvf.search(spark, root, q,
      nProbe = 16, topK = 3).count() === 9L)
    // deleting ids that are not in the index changes nothing
    import spark.implicits._
    VersionedIvf.delete(spark, root, Seq(999999L, 999998L).toDF("vec_id"))
    assert(SnapshotStore.read(spark, root).count() === before - nDoomed)
  }

  test("rebalance splits hot cells, bounds the max cell, and leaves " +
      "full-probe search ≡ the pre-rebalance brute-force results") {
    val root = fresh("target/ivf-rebalance-spec")
    val emb = Tables.embeddings(spark, sf0001)
    // k = 4 seeded centroids over the fixture corpus are naturally
    // skewed (seeds are the 4 lowest vec_ids, not spread)
    VersionedIvf.write(emb, k = 4, root)
    val before = cellCounts(root)
    val maxBefore = before.values.max
    val total = before.values.sum
    val queries = emb.filter(col("vec_id") < 5).select("vec_id", "embedding")
    // full-probe truth BEFORE the rebalance: layout-independent
    val want = rows(VersionedIvf.search(spark, root, queries,
      nProbe = 4, topK = 3))

    val split = VersionedIvf.rebalance(spark, root, hotFactor = 1.0)
    assert(split >= 1, s"no cell exceeded mean population? $before")
    val after = cellCounts(root)
    assert(after.size === before.size + split)
    assert(after.values.sum === total, "rebalance lost or duplicated rows")
    assert(after.values.max < maxBefore,
      s"hottest cell did not shrink: ${after.values.max} vs $maxBefore")
    // the centroid table and the stored rows agree
    assert(after.keySet.subsetOf(centIds(root)),
      "a stored row sits in a cell the centroid table cannot rank")
    // full-probe search is STILL exactly brute force — no row lost to a
    // mis-assigned sub-cell, none double-counted
    assert(rows(VersionedIvf.search(spark, root, queries,
      nProbe = 64, topK = 3)) === want)
    // idempotence-ish: a second pass either splits further or no-ops,
    // but never corrupts (row count conserved)
    VersionedIvf.rebalance(spark, root, hotFactor = 2.0)
    assert(cellCounts(root).values.sum === total)
    // the SQ8 tier is refused by name (codes carry no geometry) by every
    // verb that assigns or splits from embeddings
    val sqRoot = fresh("target/ivf-rebalance-spec-sq")
    VersionedIvf.writeSq(emb, k = 4, sqRoot)
    val batch = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
    for (op <- Seq(
        () => VersionedIvf.rebalance(spark, sqRoot),
        () => VersionedIvf.upsert(spark, sqRoot, batch),
        () => VersionedIvf.upsertBatch(spark, sqRoot, batch, "s", 0L))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("flat") &&
        e.getMessage.contains("SQ8"), e.getMessage)
    }
    assert(SnapshotStore.currentVersion(spark, sqRoot) === Some(1L))
  }

  /** 10 well-separated 4-dim clusters: cluster 0 holds 640 vectors (≈8×
    * the mean), clusters 1-9 hold 20 each — a skew one binary split
    * cannot level (640 → ~320+320, both still >2× the new mean). Ids
    * interleave the clusters (`i * 10 + j`), so the 10 lowest ids — the
    * stored index's centroid seeds — are one per cluster. Jitter is
    * deterministic so the layout reproduces bit-for-bit. */
  private def skewedClusters: DataFrame = {
    import spark.implicits._
    val rows = (0 until 10).flatMap { j =>
      val n = if (j == 0) 640 else 20
      (0 until n).map { i =>
        val em = Array.tabulate(4)(d =>
          (j * 10 + (((i * 31 + d * 17) % 101) - 50) / 100.0).toFloat)
        (i * 10L + j, em.toSeq)
      }
    }
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"))
  }

  test("rebalanceUntil levels a 10x-hot cell one binary split per round " +
      "cannot, conserving rows and full-probe results") {
    val root = fresh("target/ivf-rebalance-until-spec")
    val emb = skewedClusters
    VersionedIvf.write(emb, k = 10, root)
    val before = cellCounts(root)
    assert(before.values.max === 640L, s"fixture cells moved: $before")
    val total = before.values.sum
    val queries = emb.filter(col("vec_id") < 3)
    val want = rows(VersionedIvf.search(spark, root, queries,
      nProbe = 10, topK = 3))
    def isLeveled(c: Map[Long, Long]) = {
      val mean = c.values.sum.toDouble / c.size
      c.values.max <= 2.0 * mean
    }
    val totalSplits = VersionedIvf.rebalanceUntil(spark, root,
      hotFactor = 2.0, maxRounds = 8)
    // one split of the 640-cell cannot reach ≤2× mean, so convergence
    // genuinely needed >1 round
    assert(totalSplits >= 2, s"expected a multi-round split cascade, " +
      s"got $totalSplits total splits")
    val after = cellCounts(root)
    assert(after.values.sum === total, "rebalanceUntil lost/duped rows")
    assert(isLeveled(after),
      s"still a >2x-mean cell after rebalanceUntil: $after")
    // every published centroid backs stored rows and vice versa — the
    // survivors-before-publish rule means no empty ranking slots
    assert(after.keySet === centIds(root),
      "centroid table and stored cells diverged")
    assert(rows(VersionedIvf.search(spark, root, queries,
      nProbe = 64, topK = 3)) === want)
  }

  test("rebalanceUntil's counts carry ≡ per-round fresh counts: " +
      "identical centroids and identical row placement") {
    // the same deterministic skewed fixture written to two roots
    val emb = skewedClusters
    val roots = Seq("target/ivf-carry-a-spec", "target/ivf-carry-b-spec")
      .map(fresh)
    roots.foreach(VersionedIvf.write(emb, k = 10, _))
    // A: the loop (counts carried from each round's split plan)
    val splitsA = VersionedIvf.rebalanceUntil(spark, roots(0),
      hotFactor = 2.0, maxRounds = 8)
    // B: manual per-round calls — every round re-scans for its counts
    var splitsB = 0
    var last = -1
    var rounds = 0
    while (rounds < 8 && last != 0) {
      last = VersionedIvf.rebalance(spark, roots(1), hotFactor = 2.0)
      splitsB += last
      rounds += 1
    }
    assert(splitsA >= 2 && splitsA === splitsB)
    def state(root: String) = (
      VersionedIvf.storedCentroids(spark, root)
        .map { case (i, q) => (i, q.toSeq) }.toSeq,
      SnapshotStore.read(spark, root).select("doc_id", "cent_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1).toSeq)
    assert(state(roots(0)) === state(roots(1)),
      "carried counts produced a different layout than fresh counts")
  }

  test("sub-centroid means round like Math.round — a negative .5 mean " +
      "rounds UP (toward +inf), not HALF_UP away from zero") {
    import spark.implicits._
    val root = fresh("target/ivf-neg-half-spec")
    // dim-1 fixture engineered so the hot cell's second sub-centroid is
    // the mean of quantized values {-2, -9} = -5.5: Math.round(-5.5) =
    // -5 (floor(x + 0.5)); BigDecimal HALF_UP would publish -6. The two
    // lowest ids seed the stored centroids (qe 1e8 and -1); the hot
    // cell's split seeds are its two lowest ids (qe -1 and -2); -9 is
    // nearer seed -2.
    val emb = Seq(
      (0L, Seq(100.0f)), (1L, Seq(-1e-6f)), (2L, Seq(-2e-6f)),
      (3L, Seq(-9e-6f))
    ).toDF("vec_id", "embedding")
    VersionedIvf.write(emb, k = 2, root)
    val split = VersionedIvf.rebalance(spark, root, hotFactor = 1.0)
    assert(split === 1, "fixture cell 1 (3 rows vs mean 2) must split")
    val got = VersionedIvf.storedCentroids(spark, root)
      .map { case (i, q) => (i, q.head) }.toMap
    assert(got(2L) === -5L,
      s"negative .5 sub-centroid mean must round to -5 (Math.round " +
        s"semantics), got ${got(2L)}")
  }

  test("search rejects a queryFilter over rank-side columns with a named error") {
    val emb = Tables.embeddings(spark, sf0001)
    val err = intercept[IllegalArgumentException] {
      IvfIndex.search(emb, col("rk") === 1, k = 16, nProbe = 2, topK = 3)
    }
    assert(err.getMessage.contains("rk"))
    assert(err.getMessage.contains("embeddings columns"))
    // embeddings-column filters still pass through unchanged
    assert(IvfIndex.search(emb, col("vec_id") < 2, 16, 2, 3).count() > 0)
  }

  test("metadata columns are valid queryFilters, not just vec_id/embedding") {
    // the guard's contract says ANY embeddings column selects queries —
    // label must work end to end (it rides through the cell ranking)
    val emb = Tables.embeddings(spark, sf0001)
    val byLabel = IvfIndex.search(emb,
      col("label") === 2 && col("vec_id") < 30, k = 16, nProbe = 2, topK = 3)
    val expectedQueries = emb
      .filter(col("label") === 2 && col("vec_id") < 30)
      .count()
    assert(byLabel.select("q_id").distinct().count() === expectedQueries)
  }

  test("Lloyd training lowers distortion, stays deterministic, and searches") {
    val emb = Tables.embeddings(spark, sf0001)
    val seeded = IvfIndex.centroids(emb, 16)
    val trained = IvfIndex.trainCentroids(emb, 16, iters = 3)
    val d0 = IvfIndex.distortion(emb, seeded)
    val d1 = IvfIndex.distortion(emb, trained)
    assert(d1 < d0, s"training did not lower distortion: $d0 -> $d1")
    // deterministic: re-training yields byte-identical centroids
    val again = IvfIndex.trainCentroids(emb, 16, iters = 3)
    assert(trained.map(_._2.toSeq).toSeq === again.map(_._2.toSeq).toSeq)
    // the trained layout serves queries through the same ranking path
    val ranks = IvfIndex.cellRanksWith(emb, trained)
    assert(ranks.filter(col("rk") === 1).count() === emb.count())
  }

  test("bounded-sample Lloyd training: deterministic, full-sample " +
      "equivalence, and a usable trained layout") {
    val emb = Tables.embeddings(spark, sf0001)
    val n = emb.count()
    // sample >= corpus: the band filter must be the identity
    val full = IvfIndex.trainCentroids(emb, 16, iters = 2)
    val capped = IvfIndex.trainCentroids(emb, 16, iters = 2,
      trainSample = n)
    assert(full.map(_._2.toSeq).toSeq === capped.map(_._2.toSeq).toSeq)
    // a genuine sub-sample: deterministic across calls, k cells, right
    // dim, and the trained geometry still serves every vector through
    // the assignment path
    val sampled = IvfIndex.trainCentroids(emb, 16, iters = 2,
      trainSample = n / 3)
    val again = IvfIndex.trainCentroids(emb, 16, iters = 2,
      trainSample = n / 3)
    assert(sampled.map(_._2.toSeq).toSeq === again.map(_._2.toSeq).toSeq)
    assert(sampled.length === 16)
    assert(sampled.forall(_._2.length === full.head._2.length))
    assert(IvfIndex.cellAssign(emb, sampled).count() === n)
    // sampled training still beats raw seeds on the FULL corpus for
    // this fixture (not a theorem - pinned as a quality regression
    // guard on the deterministic fixture)
    val d0 = IvfIndex.distortion(emb, IvfIndex.centroids(emb, 16))
    val dS = IvfIndex.distortion(emb, sampled)
    assert(dS < d0, s"sampled training did not help: $d0 -> $dS")
  }

  test("searchIndexed prunes the index scan to the probed cells") {
    val root = fresh("target/ivf-prune-spec")
    val emb = Tables.embeddings(spark, sf0001)
    VersionedIvf.write(emb, k = 16, root)
    val cents = VersionedIvf.storedCentroids(spark, root)
    for ((qs, nProbe) <- Seq((col("vec_id") < 1, 1), (col("vec_id") < 5, 2))) {
      val queries = emb.filter(qs).select("vec_id", "embedding")
      val cells = IvfIndex.cellRanksWith(queries, cents)
        .filter(col("rk") <= nProbe).select("cent_id").collect()
        .map(_.getLong(0)).toSet
      val stored = VersionedIvf.search(spark, root, queries, nProbe, 3)
      val (opened, total) = ProbeFiles.check(spark, root, stored, cells)
      info(s"${cells.size} probed cells opened $opened of $total files")
      if (nProbe == 1)
        assert(opened < total, "a one-cell probe opened every file")
    }
  }

  test("filtered search returns only matching corpus rows, at full topK") {
    val emb = Tables.embeddings(spark, sf0001)
    val res = IvfIndex.searchFiltered(emb,
      queryFilter = col("vec_id") < 5,
      corpusFilter = col("label").isin(1, 2, 3),
      k = 16, nProbe = 2, topK = 3)
    // every neighbour satisfies the metadata predicate
    val offLabel = res.join(emb.select(col("vec_id"), col("label")), "vec_id")
      .filter(!col("label").isin(1, 2, 3)).count()
    assert(offLabel === 0)
    // PRE-filtering keeps the top-k full: each query still gets 3
    // neighbours (post-filtering the unfiltered top-3 would starve —
    // only ~30% of its survivors carry these labels)
    val perQuery = res.groupBy("q_id").count().collect()
    assert(perQuery.length === 5 && perQuery.forall(_.getLong(1) === 3L),
      perQuery.mkString(", "))
    // and post-filtering WOULD have starved at least one query, so the
    // test distinguishes the two semantics rather than passing for both
    val postFiltered = IvfIndex.search(emb, col("vec_id") < 5,
        k = 16, nProbe = 2, topK = 3)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .filter(col("label").isin(1, 2, 3))
    assert(postFiltered.count() < 15, "fixture no longer discriminates " +
      "pre- from post-filtering; pick a rarer label set")
  }

  test("searchFiltered rejects a corpusFilter over non-embedding columns") {
    val e = intercept[IllegalArgumentException] {
      IvfIndex.searchFiltered(Tables.embeddings(spark, sf0001),
        queryFilter = col("vec_id") < 5,
        corpusFilter = col("cent_id") === 1,
        k = 16, nProbe = 2, topK = 3)
    }
    assert(e.getMessage.contains("corpusFilter"))
  }

  test("wrong-dim vectors against a stored index raise a named error") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_dim")
      .toString + "/index"
    VersionedIvf.write(emb, k = 16, root)
    val short = Seq((900001L, Seq.fill(8)(0.5))).toDF("vec_id", "embedding")
    for (op <- Seq(
        () => VersionedIvf.upsert(spark, root, short): Unit,
        () => VersionedIvf.upsertBatch(spark, root, short, "s", 0L): Unit,
        () => VersionedIvf.search(spark, root, short, nProbe = 2,
          topK = 3).collect(): Unit)) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("dim 8..8") &&
        e.getMessage.contains("centroid dim 64"), e.getMessage)
    }
    // the upserts' check rides the ids their id collect reads: nothing
    // was published, and a null vector fails it too
    assert(SnapshotStore.currentVersion(spark, root) === Some(1L))
    val none = Seq((900002L, null: Seq[Float]), (900003L, Seq.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      VersionedIvf.upsert(spark, root, none))
    assert(e.getMessage.contains("VersionedIvf.upsert: embedding dim -1..-1") &&
      e.getMessage.contains("centroid dim 64"), e.getMessage)
    assert(SnapshotStore.currentVersion(spark, root) === Some(1L))
    // the compressed index's upserts and retrain raise the same error
    val adc = root + "-adc"
    VersionedIvfAdc.write(emb, adc)
    val shortF = Seq((900001L, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding")
    for ((name, op) <- Seq(
        "upsert" -> (() => VersionedIvfAdc.upsert(spark, adc, shortF): Unit),
        "upsertBatch" -> (() =>
          VersionedIvfAdc.upsertBatch(spark, adc, shortF, "s", 0L): Unit),
        "retrain" -> (() =>
          VersionedIvfAdc.retrain(spark, adc,
            emb.select("vec_id", "embedding").union(shortF)): Unit))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains(s"VersionedIvfAdc.$name: embedding dim " +
        "8..8 does not match the stored index's centroid dim 64"),
        e.getMessage)
    }
    assert(SnapshotStore.currentVersion(spark, adc) === Some(1L))
  }
}
