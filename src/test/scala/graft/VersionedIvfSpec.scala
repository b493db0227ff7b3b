package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, SnapshotStore, VersionedIvf}

/** The stored IVF index (round-10 verdict item 4): every maintenance
  * verb is ONE atomic manifest publish carrying BOTH the vector rows and
  * the `#ivfcent` centroid geometry, so no crash can tear centroids from
  * cells, and the whole index time-travels. Test names that say "bare"
  * keep the stored-layout verbs they were first compared against; the
  * reference is now the in-memory search on the stored centroids. */
class VersionedIvfSpec extends SparkTestBase {

  private def cleanup(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) {
      import scala.reflect.io.Directory
      new Directory(f).deleteRecursively(): Unit
    }
  }

  /** Deterministic small corpus: 60 vectors in 4 dims, skewed so
    * rebalance always has a hot cell (ids cluster near the low-id
    * seeds). */
  private def corpus = {
    val sp = spark
    import sp.implicits._
    (0L until 60L).map { i =>
      val base = if (i < 40) 0L else i * 100L // 2/3 of rows hug seed 0
      (i, Array(base + i, base + 2 * i, 1000000L - i, i % 7).map(_.toFloat / 1e3f))
    }.toDF("vec_id", "embedding")
  }

  private def results(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("q_id", "rank").collect()
      .map(r => s"${r.get(0)}|${r.get(1)}|${r.get(2)}|${r.get(3)}").toSeq

  /** The in-memory search of `corpus` against `root`'s stored centroids
    * — what the stored index must return for the same content. */
  private def reference(root: String, corpus: DataFrame,
      nProbe: Int): Seq[String] =
    results(IvfIndex.searchWith(corpus, col("vec_id") < 5,
      VersionedIvf.storedCentroids(spark, root), nProbe, topK = 3))

  test("versioned index ≡ bare searchIndexed; delete + rebalance stay " +
      "exact; history time-travels") {
    val root = "target/vivf-basic"
    cleanup(root)
    val emb = corpus
    val queries = emb.filter(col("vec_id") < 5)

    VersionedIvf.write(emb, k = 4, root)
    // full probe: versioned search ≡ in-memory search on the stored
    // centroids, both ≡ truth
    val v1 = results(VersionedIvf.search(spark, root, queries,
      nProbe = 4, topK = 3))
    assert(v1 === reference(root, emb, 4))
    // narrow probe too (exercises the per-cell readWhere path)
    assert(results(VersionedIvf.search(spark, root, queries,
      nProbe = 1, topK = 3)) === reference(root, emb, 1))

    // delete: rows vanish atomically, geometry carried
    val sp = spark
    import sp.implicits._
    VersionedIvf.delete(spark, root, Seq(50L, 51L).toDF("vec_id"))
    val survivors = emb.filter(!col("vec_id").isin(50L, 51L))
    val v2 = results(VersionedIvf.search(spark, root, queries,
      nProbe = 4, topK = 3))
    assert(v2 === reference(root, survivors, 4))
    assert(results(VersionedIvf.search(spark, root, queries,
      nProbe = 1, topK = 3)) === reference(root, survivors, 1))

    // rebalance: each split adds one centroid, every stored row sits in
    // a published cell, and full-probe results are unchanged
    val split = VersionedIvf.rebalance(spark, root, hotFactor = 1.0)
    assert(split >= 1, "corpus not skewed enough to split — spec inert")
    val cents = VersionedIvf.storedCentroids(spark, root).map(_._1).toSet
    assert(cents.size === 4 + split)
    assert(SnapshotStore.read(spark, root).select("cent_id").distinct()
      .collect().map(_.getLong(0)).toSet === cents)
    val nCells = cents.size
    val v3 = results(VersionedIvf.search(spark, root, queries,
      nProbe = nCells, topK = 3))
    assert(v3 === reference(root, survivors, nCells))
    // rebalance moves rows between cells, never in/out: full-probe
    // results unchanged from the post-delete state
    assert(v3 === v2)

    // time travel: the pre-delete version still serves the old results
    // with the OLD geometry (version 1 = initial commit)
    assert(results(VersionedIvf.search(spark, root, queries,
      nProbe = 4, topK = 3, version = 1L)) === v1)
  }

  test("a crash inside delete/rebalance publishes NOTHING: geometry and " +
      "rows stay the old version's, search is unchanged, retry succeeds") {
    val root = "target/vivf-crash"
    cleanup(root)
    val emb = corpus
    val queries = emb.filter(col("vec_id") < 5)
    VersionedIvf.write(emb, k = 4, root)
    val before = results(VersionedIvf.search(spark, root, queries,
      nProbe = 4, topK = 3))
    val v1 = SnapshotStore.currentVersion(spark, root).get
    val sp = spark
    import sp.implicits._

    // kill the writer right before the manifest create-exclusive: data
    // files exist as unreferenced garbage, the version does not
    SnapshotStore.FaultInjection.arm { p =>
      if (p == "manifest-tmp-written")
        throw new RuntimeException("injected crash: " + p)
    }
    try {
      intercept[RuntimeException] {
        VersionedIvf.delete(spark, root, Seq(10L).toDF("vec_id"))
      }
      intercept[RuntimeException] {
        VersionedIvf.rebalance(spark, root, hotFactor = 1.0)
      }
    } finally SnapshotStore.FaultInjection.disarm()
    // nothing published: same head version, same geometry, same results
    assert(SnapshotStore.currentVersion(spark, root).get === v1)
    assert(results(VersionedIvf.search(spark, root, queries,
      nProbe = 4, topK = 3)) === before)
    assert(VersionedIvf.storedCentroids(spark, root).length === 4)

    // retry heals: the replayed verbs land atomically
    VersionedIvf.delete(spark, root, Seq(10L).toDF("vec_id"))
    assert(VersionedIvf.rebalance(spark, root, hotFactor = 1.0) >= 1)
    val after = VersionedIvf.search(spark, root, queries,
      nProbe = VersionedIvf.storedCentroids(spark, root).length, topK = 3)
    assert(after.filter(col("vec_id") === 10L).count() === 0L)
    assert(after.count() === queries.count() * 3)
  }

  test("upsert ≡ bare upsertIndexed: stored geometry unmoved, present " +
      "ids replaced, new ids assigned to nearest stored cell, one " +
      "atomic time-travelable version") {
    val root = "target/vivf-upsert"
    cleanup(root)
    val emb = corpus
    val queries = emb.filter(col("vec_id") < 5)
    val base = emb.filter(col("vec_id") < 45)
    // batch mixes NEW ids (45-59) with REPLACEMENTS of present ids
    // (40-44, re-embedded so their home cell can change)
    val sp = spark
    import sp.implicits._
    val batch = emb.filter(col("vec_id") >= 45)
      .unionByName((40L until 45L).map { i =>
        (i, Array(9f, 9f, 9f, i.toFloat / 1e3f))
      }.toDF("vec_id", "embedding"))

    VersionedIvf.write(base, k = 4, root)
    val centsBefore = VersionedIvf.storedCentroids(spark, root)
    val v1 = SnapshotStore.currentVersion(spark, root).get
    val preUpsert = results(VersionedIvf.search(spark, root, queries,
      nProbe = 4, topK = 3))

    VersionedIvf.upsert(spark, root, batch)

    // geometry carried verbatim; exactly one new version published
    val centsAfter = VersionedIvf.storedCentroids(spark, root)
    assert(centsAfter.map { case (i, q) => (i, q.toSeq) }.toSeq ===
      centsBefore.map { case (i, q) => (i, q.toSeq) }.toSeq)
    assert(SnapshotStore.currentVersion(spark, root).get === v1 + 1)
    // content ≡ the upserted corpus searched in memory against the
    // stored (unmoved) centroids, full AND narrow probe
    val current = emb.filter(col("vec_id") < 40).unionByName(batch)
    assert(results(VersionedIvf.search(spark, root, queries,
      nProbe = 4, topK = 3)) === reference(root, current, 4))
    assert(results(VersionedIvf.search(spark, root, queries,
      nProbe = 1, topK = 3)) === reference(root, current, 1))
    // replaced ids exist exactly once, with the NEW embedding's cell
    val rows = SnapshotStore.read(spark, root)
      .filter(col("doc_id") >= 40 && col("doc_id") < 45)
    assert(rows.count() === 5L)
    assert(rows.groupBy("doc_id").count()
      .filter(col("count") > 1).count() === 0L)
    assert(rows.select("doc_id", "cent_id").orderBy("doc_id").collect()
      .map(_.toSeq).toSeq === IvfIndex.cellAssign(
        batch.filter(col("vec_id") < 45), centsAfter)
      .select("vec_id", "cent_id").orderBy("vec_id").collect()
      .map(_.toSeq).toSeq)
    // the pre-upsert version still serves the pre-upsert index
    assert(results(VersionedIvf.search(spark, root, queries,
      nProbe = 4, topK = 3, version = v1)) === preUpsert)
  }

  test("concurrent verbs serialize via OCC: a rebalance that wins the " +
      "race forces the delete to retry against the NEW geometry — no " +
      "manifest ever carries stale #ivfcent lines") {
    val root = "target/vivf-race"
    val serial = "target/vivf-race-serial"
    cleanup(root); cleanup(serial)
    val emb = corpus
    val queries = emb.filter(col("vec_id") < 5)
    val sp = spark
    import sp.implicits._

    VersionedIvf.write(emb, k = 4, root)
    // the racing writer: after the delete's first attempt has read
    // geometry at v1 and staged its manifest (a delete writes no data
    // file), a rebalance publishes v2 (splitting cells and reassigning
    // rows) — the delete's publish must lose the v2 CAS, retry, and
    // re-read the POST-SPLIT geometry
    var fired = false
    SnapshotStore.FaultInjection.arm { p =>
      if (p == "manifest-tmp-written" && !fired) {
        fired = true
        SnapshotStore.FaultInjection.disarm()
        assert(VersionedIvf.rebalance(spark, root, hotFactor = 1.0) >= 1)
      }
    }
    try VersionedIvf.delete(spark, root, Seq(10L).toDF("vec_id"))
    finally SnapshotStore.FaultInjection.disarm()
    assert(fired, "race never fired — spec inert")
    // three versions: write, rebalance (winner), delete (retried)
    assert(SnapshotStore.currentVersion(spark, root).get === 3L)

    // the outcome must be EXACTLY the serialized rebalance-then-delete
    VersionedIvf.write(emb, k = 4, serial)
    assert(VersionedIvf.rebalance(spark, serial, hotFactor = 1.0) >= 1)
    VersionedIvf.delete(spark, serial, Seq(10L).toDF("vec_id"))
    val centsRaced = VersionedIvf.storedCentroids(spark, root)
      .map { case (i, q) => (i, q.toSeq) }.toSeq
    val centsSerial = VersionedIvf.storedCentroids(spark, serial)
      .map { case (i, q) => (i, q.toSeq) }.toSeq
    assert(centsRaced === centsSerial,
      "raced delete republished stale pre-split geometry")
    val n = centsSerial.size
    assert(results(VersionedIvf.search(spark, root, queries,
      nProbe = n, topK = 3)) ===
      results(VersionedIvf.search(spark, serial, queries,
        nProbe = n, topK = 3)))
  }

  test("optimize + vacuum on a VersionedIvf root preserve #ivfcent " +
      "lines and search results (maintenance composes with the " +
      "versioned-ANN layout)") {
    val root = "target/vivf-maint"
    cleanup(root)
    val emb = corpus
    val queries = emb.filter(col("vec_id") < 5)
    VersionedIvf.write(emb, k = 4, root)
    assert(VersionedIvf.rebalance(spark, root, hotFactor = 1.0) >= 1)
    val cents = VersionedIvf.storedCentroids(spark, root)
      .map { case (i, q) => (i, q.toSeq) }.toSeq
    val n = cents.size
    val before = results(VersionedIvf.search(spark, root, queries,
      nProbe = 2, topK = 3))
    val beforeFull = results(VersionedIvf.search(spark, root, queries,
      nProbe = n, topK = 3))

    SnapshotStore.optimize(spark, root)
    SnapshotStore.vacuum(spark, root, keepVersions = 1)
    assert(VersionedIvf.storedCentroids(spark, root)
      .map { case (i, q) => (i, q.toSeq) }.toSeq === cents,
      "optimize/vacuum dropped or moved #ivfcent lines")
    assert(results(VersionedIvf.search(spark, root, queries,
      nProbe = 2, topK = 3)) === before)
    assert(results(VersionedIvf.search(spark, root, queries,
      nProbe = n, topK = 3)) === beforeFull)
    // maintenance verbs still work on the compacted store
    val sp = spark
    import sp.implicits._
    VersionedIvf.delete(spark, root, Seq(9L).toDF("vec_id"))
    assert(VersionedIvf.search(spark, root, queries,
      nProbe = n, topK = 3).filter(col("vec_id") === 9L).count() === 0L)
  }
}
