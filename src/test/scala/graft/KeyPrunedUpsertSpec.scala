package graft

import org.apache.spark.sql.functions._

import graft.operators.SnapshotStore

/** Keyed upsert and key-pruned readDocs: under [[SnapshotStore.docIdPruneCap]]
  * ids an upsert is merge-on-read — it adds its fresh rows' files and a
  * delete entry of its ids, and carries every stored file into the new
  * manifest verbatim, so a point upsert against a store with thousands
  * of files per bucket rewrites nothing; past the cap it rewrites its
  * touched buckets whole. With a doc_id stats/bloom declaration a point
  * lookup opens only the files that CAN contain its keys (the
  * deletePoint candidate trick applied to the key column). Results must
  * stay EXACTLY upsert-equals-fresh-rebuild. */
class KeyPrunedUpsertSpec extends SparkTestBase {

  private def cleanup(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) {
      import scala.reflect.io.Directory
      new Directory(f).deleteRecursively()
    }
  }

  test("a 1-row upsert carries the touched bucket's clean files " +
      "verbatim; content stays upsert-equals-fresh-rebuild") {
    val root = "target/keypruned-upsert"
    cleanup(root)
    val sp = spark
    import sp.implicits._
    val df = (0L until 2000L).map(i => (i, i * 3)).toDF("doc_id", "n")
    SnapshotStore.commit(df, root, buckets = 2,
      meta = Seq(SnapshotStore.statsDeclaration(Seq("doc_id")),
        SnapshotStore.bloomDeclaration(Seq("doc_id"), bits = 4096)))
    // ~63 files per bucket, doc_id-sorted → tight per-file envelopes
    SnapshotStore.optimize(spark, root, maxRecordsPerFile = 16L)
    val before = SnapshotStore.read(spark, root).inputFiles.toSet
    assert(before.size >= 100, s"expected many files, got ${before.size}")

    // replace one existing doc
    val fresh = Seq((777L, -1L)).toDF("doc_id", "n")
    SnapshotStore.upsert(spark, fresh, fresh.select("doc_id"),
      root, buckets = 2)
    val snap = SnapshotStore.read(spark, root)
    val after = snap.inputFiles.toSet
    // merge-on-read: every stored file carries, one fresh file is added
    val carried = before.intersect(after).size
    assert(carried === before.size,
      s"the upsert rewrote stored files: carried $carried of ${before.size}")
    assert((after -- before).size === 1)
    assert(snap.count() === 2000L)
    assert(snap.filter(col("doc_id") === 777L)
      .select("n").collect().map(_.getLong(0)).toSeq === Seq(-1L))
    assert(snap.agg(sum("n")).collect()(0).getLong(0) ===
      (0L until 2000L).filter(_ != 777L).map(_ * 3).sum - 1L)

    // a brand-new doc admits NO existing file: everything carries
    val before2 = after
    val fresh2 = Seq((999999L, 5L)).toDF("doc_id", "n")
    SnapshotStore.upsert(spark, fresh2, fresh2.select("doc_id"),
      root, buckets = 2)
    val snap2 = SnapshotStore.read(spark, root)
    val after2 = snap2.inputFiles.toSet
    assert(before2.subsetOf(after2),
      "an insert-only upsert rewrote existing clean files")
    assert(snap2.count() === 2001L)

    // deleting via empty re-ingest still finds the row (bloom must
    // admit the file that really holds it — false negatives impossible)
    val none = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      fresh.schema)
    SnapshotStore.upsert(spark, none, Seq(777L).toDF("doc_id"),
      root, buckets = 2)
    assert(SnapshotStore.read(spark, root)
      .filter(col("doc_id") === 777L).count() === 0L)
  }

  test("readDocs opens only admitting files; doc_id probes work through " +
      "readPoint/readWhere/deletePoint") {
    val root = "target/keypruned-readdocs"
    cleanup(root)
    val sp = spark
    import sp.implicits._
    val df = (0L until 2000L).map(i => (i, s"t_$i")).toDF("doc_id", "t")
    SnapshotStore.commit(df, root, buckets = 2,
      meta = Seq(SnapshotStore.statsDeclaration(Seq("doc_id")),
        SnapshotStore.bloomDeclaration(Seq("doc_id"), bits = 4096)))
    SnapshotStore.optimize(spark, root, maxRecordsPerFile = 16L)
    val total = SnapshotStore.read(spark, root).inputFiles.length
    val lookup = SnapshotStore.readDocs(spark, root, Seq(123L, 1500L))
    assert(lookup.inputFiles.length <= 6,
      s"point lookup opened ${lookup.inputFiles.length} of $total files")
    assert(lookup.select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(123L, 1500L))
    // probe surface: doc_id types as bigint everywhere
    assert(SnapshotStore.readPoint(spark, root, "doc_id", 123L)
      .count() === 1L)
    val (kept, all) = SnapshotStore.bloomReport(spark, root,
      "doc_id", 123L)
    assert(kept < all / 4, s"doc_id bloom did not prune: $kept/$all")
    assert(SnapshotStore.readWhere(spark, root, "doc_id", 100L, 110L)
      .count() === 11L)
    val (keptR, _) = SnapshotStore.skippingReport(spark, root,
      "doc_id", 100L, 110L)
    assert(keptR < all / 4, s"doc_id stats did not prune: $keptR/$all")
    SnapshotStore.deletePoint(spark, root, "doc_id", 1500L)
    assert(SnapshotStore.read(spark, root).count() === 1999L)
    assert(SnapshotStore.readDocs(spark, root, Seq(1500L)).count() === 0L)
  }

  test("past docIdPruneCap the upsert skips key pruning (the sorted-id " +
      "broadcast row would be an OOM risk) and falls back to the " +
      "whole-bucket rewrite — content stays exact") {
    val root = "target/keypruned-cap"
    cleanup(root)
    val sp = spark
    import sp.implicits._
    val df = (0L until 2000L).map(i => (i, i * 3)).toDF("doc_id", "n")
    SnapshotStore.commit(df, root, buckets = 2,
      meta = Seq(SnapshotStore.statsDeclaration(Seq("doc_id")),
        SnapshotStore.bloomDeclaration(Seq("doc_id"), bits = 4096)))
    SnapshotStore.optimize(spark, root, maxRecordsPerFile = 16L)
    val before = SnapshotStore.read(spark, root).inputFiles.toSet
    assert(before.size >= 100, s"expected many files, got ${before.size}")

    // 5 distinct incoming ids, cap forced to 3 → pruning must NOT run
    val fresh = Seq(10L, 20L, 30L, 40L, 50L).map(i => (i, -i))
      .toDF("doc_id", "n")
    val savedCap = SnapshotStore.docIdPruneCap
    SnapshotStore.docIdPruneCap = 3
    try SnapshotStore.upsert(spark, fresh, fresh.select("doc_id"),
      root, buckets = 2)
    finally SnapshotStore.docIdPruneCap = savedCap

    val snap = SnapshotStore.read(spark, root)
    val after = snap.inputFiles.toSet
    // fallback engaged: each touched bucket (≥1 of 2) rewrote wholesale
    // (~half the files) instead of carrying all-but-the-admitting files
    // (pruning would carry ≥ size-4, as the first test pins)
    assert(before.intersect(after).size <= before.size - 20,
      "key pruning ran past the cardinality cap")
    // exactness is untouched by the fallback
    assert(snap.count() === 2000L)
    assert(snap.filter(col("doc_id").isin(10L, 20L, 30L, 40L, 50L))
      .select("n").collect().map(_.getLong(0)).toSet ===
      Set(-10L, -20L, -30L, -40L, -50L))

    // under the default cap the SAME shape carries files again
    val fresh2 = Seq((10L, 100L)).toDF("doc_id", "n")
    val b2 = after
    SnapshotStore.upsert(spark, fresh2, fresh2.select("doc_id"),
      root, buckets = 2)
    val a2 = SnapshotStore.read(spark, root).inputFiles.toSet
    assert(b2.intersect(a2).size >= b2.size - 4,
      "key pruning did not resume under the cap")
  }

  /** The buckets `ids` hash to in a `buckets`-way store (the store's own
    * bucketing expression). */
  private def bucketsOf(ids: Seq[Long], buckets: Int): Set[Long] = {
    val sp = spark
    import sp.implicits._
    ids.toDF("doc_id")
      .select(pmod(xxhash64(col("doc_id")), lit(buckets.toLong)))
      .collect().map(_.getLong(0)).toSet
  }

  test("an upsert adds at most one file per touched bucket for its new " +
      "rows, however many tasks produced them, and rewrites no stored " +
      "file") {
    // both write paths: one writer task (the default at this size) and
    // the bucket rebalance past singleWriterRows
    val default = SnapshotStore.singleWriterRows
    try for (writerRows <- Seq(default, 0L)) {
      SnapshotStore.singleWriterRows = writerRows
      val root = s"target/keypruned-layout-$writerRows"
      cleanup(root)
      val sp = spark
      import sp.implicits._
      val df = (0L until 2000L).map(i => (i, i * 3)).toDF("doc_id", "n")
      SnapshotStore.commit(df, root, buckets = 8,
        meta = Seq(SnapshotStore.statsDeclaration(Seq("doc_id"))))
      def upsert(ids: Seq[Long]): (Set[String], Set[String]) = {
        val before = SnapshotStore.read(spark, root).inputFiles.toSet
        // spread over 6 upstream tasks
        val fresh = ids.map(i => (i, -i)).toDF("doc_id", "n").repartition(6)
        SnapshotStore.upsert(spark, fresh, fresh.select("doc_id"), root,
          buckets = 8)
        val after = SnapshotStore.read(spark, root).inputFiles.toSet
        (after -- before, before -- after)
      }
      // 40 new ids past every file's doc_id envelope: a pure delta
      val newIds = (5000L until 5040L)
      val (added1, rewritten1) = upsert(newIds)
      assert(rewritten1.isEmpty, s"a pure delta rewrote $rewritten1")
      assert(added1.size <= bucketsOf(newIds, 8).size,
        s"${added1.size} files added for ${bucketsOf(newIds, 8).size} " +
          "touched buckets")
      // 60 replaced and 40 new ids: the replaced rows stay in their files,
      // masked by the version's delete entry
      val ids = (0L until 2000L by 33L).take(60) ++ (6000L until 6040L)
      val (added2, rewritten2) = upsert(ids)
      assert(rewritten2.isEmpty, s"a keyed upsert rewrote $rewritten2")
      assert(added2.size <= bucketsOf(ids, 8).size,
        s"${added2.size} files added for ${bucketsOf(ids, 8).size} touched " +
          "buckets")
      val snap = SnapshotStore.read(spark, root)
      assert(snap.count() === 2080L)
      assert(snap.filter(col("doc_id").isin(ids ++ newIds: _*)).select("n")
        .as[Long].collect().toSet === (ids ++ newIds).map(-_).toSet)
    } finally SnapshotStore.singleWriterRows = default
  }

  test("over docIdPruneCap the frame path reads as the driver path does; " +
      "the driver path carries every stored file, the frame path only " +
      "the untouched buckets' files") {
    val sp = spark
    import sp.implicits._
    val ids = Seq(10L, 20L, 30L, 40L, 50L, 7777L)
    val fresh = ids.map(i => (i, -i)).toDF("doc_id", "n")
    // reingested-only ids (no fresh rows) are deleted
    val gone = Seq(60L, 70L).toDF("doc_id")
    // both paths upsert from the SAME parent version: the driver path
    // publishes v2, a rollback republishes v1's files as v3, the frame
    // path publishes v4
    def bothPaths(root: String, meta: Seq[String]): Unit = {
      cleanup(root)
      SnapshotStore.commit(
        (0L until 2000L).map(i => (i, i * 3)).toDF("doc_id", "n"),
        root, buckets = 8, meta = meta)
      SnapshotStore.optimize(spark, root, maxRecordsPerFile = 64L)
      val parent = SnapshotStore.read(spark, root).inputFiles.toSet
      def upsert(): Set[String] = {
        SnapshotStore.upsert(spark, fresh,
          fresh.select("doc_id").union(gone), root, buckets = 8)
        SnapshotStore.read(spark, root).inputFiles.toSet
      }
      val v0 = SnapshotStore.currentVersion(spark, root).get
      val byDriver = upsert()
      val driverRows = SnapshotStore.read(spark, root)
        .drop("bucket").as[(Long, Long)].collect().sorted.toSeq
      SnapshotStore.rollback(spark, root, v0)
      val savedCap = SnapshotStore.docIdPruneCap
      SnapshotStore.docIdPruneCap = ids.size
      val byFrame = try upsert() finally SnapshotStore.docIdPruneCap = savedCap
      val frameRows = SnapshotStore.read(spark, root)
        .drop("bucket").as[(Long, Long)].collect().sorted.toSeq
      assert(frameRows === driverRows)
      assert(frameRows.length === 2000 - 2 + 1)
      val untouched = parent.filter { f =>
        !bucketsOf(ids ++ Seq(60L, 70L), 8)
          .exists(b => f.contains(s"/bucket=$b/"))
      }
      assert(untouched.nonEmpty, "every bucket was touched")
      // merge-on-read under the cap; the touched buckets rewritten whole
      // over it, whatever the store declares
      assert(parent.subsetOf(byDriver),
        "the driver path rewrote stored files")
      assert((byFrame & parent) === untouched,
        "the frame path did not rewrite exactly the touched buckets")
    }
    bothPaths("target/keypruned-paths-plain", Nil)
    bothPaths("target/keypruned-paths-stats",
      Seq(SnapshotStore.statsDeclaration(Seq("doc_id"))))
  }
}
