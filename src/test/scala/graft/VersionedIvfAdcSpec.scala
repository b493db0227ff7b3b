package graft

import org.apache.spark.sql.functions._

import graft.operators.{PqIndex, SnapshotStore, VersionedIvfAdc}

/** The stored IVFADC (round-11 verdict item 7): the compressed cascade's
  * four parts (IVF cells, IVF centroids, PQ codes, PQ codebook) live in
  * one manifest — rows =
  * (doc_id, cent_id, codes[m]), both quantizers as manifest lines — so
  * maintenance is atomic, OCC-serialized, and time-travelable. */
class VersionedIvfAdcSpec extends SparkTestBase {

  private val Dim = 4
  private val M = 2
  private val K = 4
  private val Cells = 4

  private def cleanup(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) {
      import scala.reflect.io.Directory
      new Directory(f).deleteRecursively(): Unit
    }
  }

  /** Deterministic 60-vector corpus in 4 dims (the VersionedIvfSpec
    * shape): skewed cells, first-K ids present so quantizer seeds are
    * stable across subset builds. */
  private def corpus = {
    val sp = spark
    import sp.implicits._
    (0L until 60L).map { i =>
      val base = if (i < 40) 0L else i * 100L
      (i, Array(base + i, base + 2 * i, 1000000L - i, i % 7)
        .map(_.toFloat / 1e3f))
    }.toDF("vec_id", "embedding")
  }

  private def results(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("q_id", "rank").collect()
      .map(r => s"${r.get(0)}|${r.get(1)}|${r.get(2)}|${r.get(3)}").toSeq

  /** Corpus for the REBALANCE arms: the plain [[corpus]]' hot cell is a
    * tight hug around seed 0 whose members all encode to ONE code word
    * (k=4 book) — identical reconstructions are legitimately
    * unsplittable. Here ids spread across 8 value levels with a small
    * per-id jitter: coarse cells come from ids 0..3 (levels 0..300), so
    * levels 300..700 pile into coarse cell 3 (hot), while the k=8
    * codebook (ids 0..7 = the 8 exact levels) gives those rows DISTINCT
    * codes — decoded reconstructions spread and the cell splits. */
  private val RebalK = 8
  private def rebalCorpus = {
    val sp = spark
    import sp.implicits._
    (0L until 60L).map { i =>
      val x = 100L * (i % 8) + (if (i < 8) 0L else 1L + i / 8)
      (i, Array(x, 2 * x, 1000000L - x, x % 7).map(_.toFloat / 1e3f))
    }.toDF("vec_id", "embedding")
  }

  test("versioned cascade ≡ bare searchIvfIndexed; delete tracks the " +
      "bare layout; upsert of new ids ≡ a fresh full build; history " +
      "time-travels") {
    val root = "target/vadc-basic"
    cleanup(root)
    val emb = corpus
    val queries = emb.filter(col("vec_id") < 5)
    val base = emb.filter(col("vec_id") < 50)
    // the in-memory cascade over the same content: the quantizer seeds
    // (first K and first Cells ids) are in every content state below
    def cascade(content: org.apache.spark.sql.DataFrame, nProbe: Int) =
      results(PqIndex.searchIvf(content, col("vec_id") < 5, dim = Dim,
        m = M, k = K, nCells = Cells, nProbe = nProbe, topK = 3))

    VersionedIvfAdc.write(base, root, dim = Dim, m = M, k = K,
      nCells = Cells)
    val v1 = SnapshotStore.currentVersion(spark, root).get
    val r1 = results(VersionedIvfAdc.search(spark, root, queries,
      nProbe = 2, topK = 3))
    assert(r1 === cascade(base, 2))
    // full probe too (the one-snapshot-read path)
    assert(results(VersionedIvfAdc.search(spark, root, queries,
      nProbe = Cells, topK = 3)) === cascade(base, Cells))

    // delete: candidates vanish atomically
    val sp = spark
    import sp.implicits._
    VersionedIvfAdc.delete(spark, root, Seq(40L, 41L).toDF("vec_id"))
    val r2 = results(VersionedIvfAdc.search(spark, root, queries,
      nProbe = Cells, topK = 3))
    assert(r2 === cascade(base.filter(!col("vec_id").isin(40L, 41L)),
      Cells))

    // upsert restores the deleted ids and appends 50..59; because the
    // quantizer seeds (first K ids) are in `base`, the maintained index
    // must equal a FRESH full-corpus build exactly
    VersionedIvfAdc.upsert(spark, root,
      emb.filter(col("vec_id") >= 40))
    val fresh = "target/vadc-fresh"
    cleanup(fresh)
    VersionedIvfAdc.write(emb, fresh, dim = Dim, m = M, k = K,
      nCells = Cells)
    val r3 = results(VersionedIvfAdc.search(spark, root, queries,
      nProbe = Cells, topK = 3))
    assert(r3 === results(VersionedIvfAdc.search(spark, fresh, queries,
      nProbe = Cells, topK = 3)))
    assert(SnapshotStore.read(spark, root).groupBy("doc_id").count()
      .filter(col("count") > 1).count() === 0L)

    // time travel: the original version still serves the original index
    assert(results(VersionedIvfAdc.search(spark, root, queries,
      nProbe = 2, topK = 3, version = v1)) === r1)
    // geometry never moved across three verbs
    val (d, m, k) = VersionedIvfAdc.storedGeometry(spark, root)
    assert((d, m, k) === ((Dim, M, K)))
    assert(VersionedIvfAdc.storedCoarse(spark, root).map(_._1).toSeq ===
      VersionedIvfAdc.storedCoarse(spark, root, v1).map(_._1).toSeq)
  }

  test("a crash inside a verb publishes NOTHING — quantizers and codes " +
      "can never tear; retry heals") {
    val root = "target/vadc-crash"
    cleanup(root)
    val emb = corpus
    val queries = emb.filter(col("vec_id") < 5)
    VersionedIvfAdc.write(emb, root, dim = Dim, m = M, k = K,
      nCells = Cells)
    val v1 = SnapshotStore.currentVersion(spark, root).get
    val before = results(VersionedIvfAdc.search(spark, root, queries,
      nProbe = 2, topK = 3))
    val sp = spark
    import sp.implicits._
    SnapshotStore.FaultInjection.arm { p =>
      if (p == "manifest-tmp-written")
        throw new RuntimeException("injected crash: " + p)
    }
    try {
      intercept[RuntimeException] {
        VersionedIvfAdc.delete(spark, root, Seq(7L).toDF("vec_id"))
      }
      intercept[RuntimeException] {
        VersionedIvfAdc.upsert(spark, root,
          emb.filter(col("vec_id") === 7L))
      }
    } finally SnapshotStore.FaultInjection.disarm()
    assert(SnapshotStore.currentVersion(spark, root).get === v1)
    assert(results(VersionedIvfAdc.search(spark, root, queries,
      nProbe = 2, topK = 3)) === before)
    // retry heals atomically
    VersionedIvfAdc.delete(spark, root, Seq(7L).toDF("vec_id"))
    val after = VersionedIvfAdc.search(spark, root, queries,
      nProbe = Cells, topK = 3)
    assert(after.filter(col("vec_id") === 7L).count() === 0L)
    assert(after.count() === queries.count() * 3)
  }

  test("rebalance splits hot cells WITHOUT touching codes or codebook: " +
      "full-probe ranking is invariant, the split bounds probe work, " +
      "history time-travels") {
    val root = "target/vadc-rebal"
    cleanup(root)
    val emb = rebalCorpus
    val queries = emb.filter(col("vec_id") < 5)
    VersionedIvfAdc.write(emb, root, dim = Dim, m = M, k = RebalK,
      nCells = Cells)
    val v1 = SnapshotStore.currentVersion(spark, root).get
    val before = results(VersionedIvfAdc.search(spark, root, queries,
      nProbe = Cells, topK = 3))
    val bookBefore = VersionedIvfAdc.storedBook(spark, root)
      .map { case (i, q) => (i, q.toSeq) }.toSeq
    val codesBefore = SnapshotStore.read(spark, root)
      .select(col("doc_id"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val pops = SnapshotStore.read(spark, root).groupBy("cent_id").count()
      .collect().map(_.getLong(1))
    assert(pops.max > pops.sum.toDouble / pops.length,
      "fixture not skewed — rebalance arm inert")

    val split = VersionedIvfAdc.rebalance(spark, root, hotFactor = 1.0)
    assert(split >= 1)
    val coarse2 = VersionedIvfAdc.storedCoarse(spark, root)
    assert(coarse2.length > Cells, "split published no new coarse cells")
    // codes byte-identical per id; codebook verbatim
    val codesAfter = SnapshotStore.read(spark, root)
      .select(col("doc_id"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codesAfter === codesBefore,
      "rebalance re-encoded rows — codes are cell-independent and must " +
        "carry verbatim")
    assert(VersionedIvfAdc.storedBook(spark, root)
      .map { case (i, q) => (i, q.toSeq) }.toSeq === bookBefore)
    // full probe cancels cell structure: ranking identical
    assert(results(VersionedIvfAdc.search(spark, root, queries,
      nProbe = coarse2.length, topK = 3)) === before)
    // the split did its job: the hottest cell shrank
    val pops2 = SnapshotStore.read(spark, root).groupBy("cent_id").count()
      .collect().map(_.getLong(1))
    assert(pops2.max < pops.max,
      "splitting the hot cell must reduce the max cell population")
    // time travel: v1 still serves the pre-split index
    assert(results(VersionedIvfAdc.search(spark, root, queries,
      nProbe = Cells, topK = 3, version = v1)) === before)
  }

  test("retrain re-fits the book from the SOURCE corpus: idempotent on " +
      "an unchanged corpus, rejects a corpus missing stored ids, " +
      "carries coarse geometry") {
    val root = "target/vadc-retrain"
    cleanup(root)
    val emb = corpus
    val queries = emb.filter(col("vec_id") < 5)
    VersionedIvfAdc.write(emb, root, dim = Dim, m = M, k = K,
      nCells = Cells)
    val coarse1 = VersionedIvfAdc.storedCoarse(spark, root)
      .map { case (i, q) => (i, q.toSeq) }.toSeq
    val v2 = VersionedIvfAdc.retrain(spark, root, emb, iters = 1)
    assert(v2 === 2L)
    val book2 = VersionedIvfAdc.storedBook(spark, root)
      .map { case (i, q) => (i, q.toSeq) }.toSeq
    assert(book2.map(_._1) === (0L until K.toLong),
      "retrained book must be renumbered 0..k-1 (positional decode)")
    assert(VersionedIvfAdc.storedCoarse(spark, root)
      .map { case (i, q) => (i, q.toSeq) }.toSeq === coarse1,
      "retrain must carry coarse geometry verbatim")
    val r2 = results(VersionedIvfAdc.search(spark, root, queries,
      nProbe = Cells, topK = 3))
    // idempotence: the SAME corpus re-seeds the same Lloyd round —
    // book, rows, and ranking must all be fixed points
    VersionedIvfAdc.retrain(spark, root, emb, iters = 1)
    assert(VersionedIvfAdc.storedBook(spark, root)
      .map { case (i, q) => (i, q.toSeq) }.toSeq === book2)
    assert(results(VersionedIvfAdc.search(spark, root, queries,
      nProbe = Cells, topK = 3)) === r2)
    // a source corpus missing stored ids must fail loudly, publish
    // nothing (re-encode would silently drop vectors)
    val v3 = SnapshotStore.currentVersion(spark, root).get
    val err = intercept[IllegalArgumentException] {
      VersionedIvfAdc.retrain(spark, root,
        emb.filter(col("vec_id") =!= 30L), iters = 1)
    }
    assert(err.getMessage.contains("missing stored ids"))
    assert(SnapshotStore.currentVersion(spark, root).get === v3)
  }

  test("concurrent verbs serialize via OCC: an upsert racing a " +
      "rebalance retries against the POST-SPLIT geometry — outcome ≡ " +
      "the serialized schedule") {
    val root = "target/vadc-race"
    val serial = "target/vadc-race-serial"
    cleanup(root); cleanup(serial)
    val emb = rebalCorpus
    val queries = emb.filter(col("vec_id") < 5)
    val batch = emb.filter(col("vec_id") >= 55)

    VersionedIvfAdc.write(emb.filter(col("vec_id") < 55), root,
      dim = Dim, m = M, k = RebalK, nCells = Cells)
    var fired = false
    SnapshotStore.FaultInjection.arm { p =>
      if (p == "data-dir-written" && !fired) {
        fired = true
        SnapshotStore.FaultInjection.disarm()
        assert(VersionedIvfAdc.rebalance(spark, root,
          hotFactor = 1.0) >= 1)
      }
    }
    try VersionedIvfAdc.upsert(spark, root, batch)
    finally SnapshotStore.FaultInjection.disarm()
    assert(fired, "race never fired — spec inert")
    assert(SnapshotStore.currentVersion(spark, root).get === 3L)

    VersionedIvfAdc.write(emb.filter(col("vec_id") < 55), serial,
      dim = Dim, m = M, k = RebalK, nCells = Cells)
    assert(VersionedIvfAdc.rebalance(spark, serial, hotFactor = 1.0) >= 1)
    VersionedIvfAdc.upsert(spark, serial, batch)
    assert(VersionedIvfAdc.storedCoarse(spark, root)
      .map { case (i, q) => (i, q.toSeq) }.toSeq ===
      VersionedIvfAdc.storedCoarse(spark, serial)
        .map { case (i, q) => (i, q.toSeq) }.toSeq,
      "raced upsert republished stale pre-split geometry")
    val n = VersionedIvfAdc.storedCoarse(spark, root).length
    assert(results(VersionedIvfAdc.search(spark, root, queries,
      nProbe = n, topK = 3)) ===
      results(VersionedIvfAdc.search(spark, serial, queries,
        nProbe = n, topK = 3)))
  }

  test("driftReport on a LIVE store reproduces the s29 shape: planted " +
      "drift decays recall at the stale-book version, retrain recovers " +
      "it, and a source corpus missing slice ids is a named error") {
    import org.apache.spark.sql.functions.{lit, reverse, transform}
    val root = "target/vadc-drift"
    cleanup(root)
    // the s29 oracle fixture verbatim (Similarity.scala): 64-dim
    // embeddings, drifted region = dimensions REVERSED (a permutation —
    // intra-cluster distances preserved exactly) then translated +2.0,
    // k=64 book on the base region, queries = lowest ids per region
    val emb = Tables.embeddings(spark, sf0001)
    val toD = transform(col("embedding"),
      (x: org.apache.spark.sql.Column) => x.cast("double"))
    val base = emb
      .filter(col("vec_id") % 3 =!= 0 || col("vec_id") < 64)
      .select(col("vec_id"), toD.as("embedding"))
    val drifted = emb
      .filter(col("vec_id") % 3 === 0 && col("vec_id") >= 64)
      .select(col("vec_id"),
        transform(reverse(toD),
          (x: org.apache.spark.sql.Column) => x + lit(2.0d))
          .as("embedding"))
    val full = base.unionByName(drifted)
    def qs(src: org.apache.spark.sql.DataFrame) =
      src.filter(col("vec_id") >= 64).orderBy("vec_id").limit(5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    VersionedIvfAdc.write(base, root, dim = 64, m = 8, k = 64,
      nCells = 16)
    VersionedIvfAdc.upsert(spark, root, drifted)
    VersionedIvfAdc.retrain(spark, root, full, iters = 1)
    def recalls(queries: org.apache.spark.sql.DataFrame)
        : Map[Long, Long] =
      VersionedIvfAdc.driftReport(spark, root, full, queries, k = 10,
        evalMaxId = 512L)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val baseR = recalls(qs(base))
    val driftR = recalls(qs(drifted))
    // all retained versions reported, permille in range
    assert(baseR.keySet === Set(1L, 2L, 3L))
    assert((baseR.values ++ driftR.values).forall(r => r >= 0 && r <= 1000))
    // the monitor's reason to exist: drift decays, retrain recovers
    assert(driftR(2L) < baseR(2L),
      s"planted drift did not decay recall (base=${baseR(2L)} " +
        s"drift=${driftR(2L)} at v2)")
    assert(driftR(3L) > driftR(2L),
      s"retrain did not recover recall (v2=${driftR(2L)} " +
        s"v3=${driftR(3L)})")
    // explicit version subset honors the request
    assert(recalls(qs(drifted)).keySet === Set(1L, 2L, 3L))
    val only2 = VersionedIvfAdc.driftReport(spark, root, full,
      qs(drifted), k = 10, evalMaxId = 512L, versions = Seq(2L))
      .collect()
    assert(only2.length === 1 && only2(0).getLong(0) === 2L)
    // a source corpus missing slice ids must fail loudly, not shrink
    // the truth set
    val err = intercept[IllegalArgumentException] {
      VersionedIvfAdc.driftReport(spark, root,
        full.filter(col("vec_id") =!= 64L), qs(drifted), k = 10,
        evalMaxId = 512L, versions = Seq(3L)).collect()
    }
    assert(err.getMessage.contains("missing stored ids"))
  }

  test("optimize + vacuum on a VersionedIvfAdc root preserve geometry " +
      "lines and search results (maintenance composes with the " +
      "versioned-ANN layout)") {
    val root = "target/vadc-maint"
    cleanup(root)
    val emb = rebalCorpus
    val queries = emb.filter(col("vec_id") < 5)
    VersionedIvfAdc.write(emb, root, dim = Dim, m = M, k = RebalK,
      nCells = Cells)
    VersionedIvfAdc.rebalance(spark, root, hotFactor = 1.0)
    val coarse = VersionedIvfAdc.storedCoarse(spark, root)
      .map { case (i, q) => (i, q.toSeq) }.toSeq
    val book = VersionedIvfAdc.storedBook(spark, root)
      .map { case (i, q) => (i, q.toSeq) }.toSeq
    val before = results(VersionedIvfAdc.search(spark, root, queries,
      nProbe = 2, topK = 3))

    SnapshotStore.optimize(spark, root)
    SnapshotStore.vacuum(spark, root, keepVersions = 1)
    assert(VersionedIvfAdc.storedGeometry(spark, root) ===
      ((Dim, M, RebalK)))
    assert(VersionedIvfAdc.storedCoarse(spark, root)
      .map { case (i, q) => (i, q.toSeq) }.toSeq === coarse,
      "optimize/vacuum dropped or moved #ivfcent lines")
    assert(VersionedIvfAdc.storedBook(spark, root)
      .map { case (i, q) => (i, q.toSeq) }.toSeq === book,
      "optimize/vacuum dropped or moved #pqcent lines")
    assert(results(VersionedIvfAdc.search(spark, root, queries,
      nProbe = 2, topK = 3)) === before)
    // maintenance verbs still work on the compacted store
    val sp = spark
    import sp.implicits._
    VersionedIvfAdc.delete(spark, root, Seq(9L).toDF("vec_id"))
    assert(VersionedIvfAdc.search(spark, root, queries,
      nProbe = Cells + 1, topK = 3)
      .filter(col("vec_id") === 9L).count() === 0L)
  }
}
