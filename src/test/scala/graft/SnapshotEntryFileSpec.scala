package graft

import org.apache.spark.sql.functions._

import graft.operators.SnapshotStore

/** Entry-list sidecar (`#entryfile` + parquet bucket/rel rows): past the
  * inline threshold the manifest's file-entry lines move into an
  * immutable parquet entryfile; the text manifest carries the pointer,
  * per-file `#dropfile` tombstones, and inline ADDED entries — so a
  * small upsert against a million-file store writes a delta-sized text
  * commit root, never the full list. These specs run the store
  * lifecycle in FORCED entryfile mode (tiny threshold): the storage
  * mode must be semantically invisible — every read, upsert, delete,
  * rollback, clone and vacuum behaves exactly as inline mode. */
class SnapshotEntryFileSpec extends SparkTestBase {

  private def cleanup(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) {
      import scala.reflect.io.Directory
      new Directory(f).deleteRecursively()
    }
  }

  private def manifestText(root: String): String = {
    val dir = new java.io.File(root, "_versions")
    val newest = dir.listFiles().filter(_.getName.endsWith(".manifest"))
      .maxBy(_.getName)
    new String(java.nio.file.Files.readAllBytes(newest.toPath), "UTF-8")
  }

  private def entryFileOf(text: String): Option[String] =
    text.linesIterator.collectFirst {
      case l if l.startsWith("#entryfile\t") => l.split("\t", 2)(1)
    }

  private def inlineEntryCount(text: String): Int =
    text.linesIterator.count(l => l.nonEmpty && !l.startsWith("#"))

  private def dropCount(text: String): Int =
    text.linesIterator.count(_.startsWith("#dropfile\t"))

  private def withEntryThreshold[T](n: Int)(body: => T): T = {
    val saved = SnapshotStore.entryThreshold
    SnapshotStore.entryThreshold = n
    try body finally SnapshotStore.entryThreshold = saved
  }

  test("entryfile engages past the threshold: tiny text manifest, " +
      "reads + point lookups + history exact, time travel intact") {
    withEntryThreshold(8) {
      val root = "target/entryfile-basic"
      cleanup(root)
      val sp = spark
      import sp.implicits._
      val df = (0L until 500L).map(i => (i, i * 2)).toDF("doc_id", "n")
      SnapshotStore.commit(df, root, buckets = 4)
      SnapshotStore.optimize(spark, root, sortByDocId = false,
        sortBy = Seq("n"), maxRecordsPerFile = 16L)
      val m = manifestText(root)
      assert(entryFileOf(m).nonEmpty, "entryfile did not engage")
      assert(inlineEntryCount(m) === 0,
        "entry lines leaked into an entryfile-mode manifest")
      // the full list still resolves: ~32 files, every row readable
      val snap = SnapshotStore.read(spark, root)
      assert(snap.inputFiles.length >= 30)
      assert(snap.count() === 500L)
      assert(snap.agg(sum("n")).collect()(0).getLong(0) ===
        (0L until 500L).map(_ * 2).sum)
      assert(SnapshotStore.readDocs(spark, root, Seq(7L, 123L))
        .select("doc_id").collect().map(_.getLong(0)).toSet ===
        Set(7L, 123L))
      // history counts through the entryfile
      val hist = SnapshotStore.history(spark, root)
        .select("version", "n_files").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hist(2L) >= 30L)
      // v1 (pre-entryfile) still time-travels
      assert(SnapshotStore.read(spark, root, 1L).count() === 500L)
    }
  }

  test("delta publishes stay delta-sized: inline adds + dropfile " +
      "tombstones against the carried pointer; compaction amortizes") {
    withEntryThreshold(24) {
      val root = "target/entryfile-delta"
      cleanup(root)
      val sp = spark
      import sp.implicits._
      val df = (0L until 500L).map(i => (i, i * 2)).toDF("doc_id", "n")
      SnapshotStore.commit(df, root, buckets = 4)
      SnapshotStore.optimize(spark, root, sortByDocId = false,
        maxRecordsPerFile = 16L)
      val ef0 = entryFileOf(manifestText(root))
      assert(ef0.nonEmpty)
      val total0 = SnapshotStore.read(spark, root).count()
      // one small upsert: the pointer CARRIES, the new file rides
      // inline, and no stored file drops (merge-on-read)
      val fresh = Seq((9001L, 42L)).toDF("doc_id", "n")
      SnapshotStore.upsert(spark, fresh, fresh.select("doc_id"),
        root, buckets = 4)
      val m0 = manifestText(root)
      assert(entryFileOf(m0) === ef0, "1-row upsert rewrote the entryfile")
      assert(dropCount(m0) === 0 && inlineEntryCount(m0) === 1,
        s"1-row upsert: ${dropCount(m0)} drops, " +
          s"${inlineEntryCount(m0)} adds")
      // an upsert over docIdPruneCap rewrites its touched bucket: the
      // replaced files become dropfile lines against the same pointer
      val savedCap = SnapshotStore.docIdPruneCap
      SnapshotStore.docIdPruneCap = 0
      try SnapshotStore.upsert(spark, Seq((7L, -7L)).toDF("doc_id", "n"),
        Seq(7L).toDF("doc_id"), root, buckets = 4)
      finally SnapshotStore.docIdPruneCap = savedCap
      val m1 = manifestText(root)
      assert(entryFileOf(m1) === ef0, "keyed rewrite rewrote the entryfile")
      assert(dropCount(m1) > 0, "no dropfile tombstones for the " +
        "touched bucket's replaced files")
      assert(inlineEntryCount(m1) > 1 && inlineEntryCount(m1) <= 8,
        s"inline adds not delta-sized: ${inlineEntryCount(m1)}")
      assert(SnapshotStore.read(spark, root).count() === total0 + 1)
      assert(SnapshotStore.readDocs(spark, root, Seq(7L, 9001L))
        .select("n").collect().map(_.getLong(0)).toSet === Set(-7L, 42L))
      // keep upserting: once inline + drops outgrow the threshold a
      // FRESH entryfile compacts them away
      var i = 0L
      while (entryFileOf(manifestText(root)) === ef0 && i < 30) {
        val f2 = Seq((9100L + i, i)).toDF("doc_id", "n")
        SnapshotStore.upsert(spark, f2, f2.select("doc_id"),
          root, buckets = 4)
        i += 1
      }
      val m2 = manifestText(root)
      assert(entryFileOf(m2).nonEmpty && entryFileOf(m2) != ef0,
        s"no compaction after $i delta publishes")
      assert(dropCount(m2) === 0 && inlineEntryCount(m2) === 0,
        "compacted manifest still carries delta lines")
      assert(SnapshotStore.read(spark, root).count() === total0 + 1 + i)
      // upsert ≡ fresh rebuild on the merged content
      assert(SnapshotStore.read(spark, root)
        .filter(col("doc_id") === 9001L).count() === 1L)
    }
  }

  test("both sidecars compose: stats + bloom pruning and pruned " +
      "deletes stay exact in forced entryfile mode") {
    withEntryThreshold(8) {
      val saved = SnapshotStore.sidecarThreshold
      SnapshotStore.sidecarThreshold = 8
      try {
        val root = "target/entryfile-pruned"
        cleanup(root)
        val sp = spark
        import sp.implicits._
        val df = (0L until 1000L).map(i => (i, i, s"key_$i"))
          .toDF("doc_id", "n", "k")
        SnapshotStore.commit(df, root, buckets = 4,
          meta = Seq(SnapshotStore.statsDeclaration(Seq("n")),
            SnapshotStore.bloomDeclaration(Seq("k"), bits = 2048)))
        SnapshotStore.optimize(spark, root, sortByDocId = false,
          zorderBy = Seq("n"), maxRecordsPerFile = 16L)
        val m = manifestText(root)
        assert(entryFileOf(m).nonEmpty && m.contains("#metafile\t"))
        val (kept, total) = SnapshotStore.skippingReport(spark, root,
          "n", 100L, 150L)
        assert(kept < total / 2, s"pruning did not bite: $kept/$total")
        val pruned = SnapshotStore.readWhere(spark, root, "n", 100L, 150L)
        assert(pruned.inputFiles.length === kept)
        assert(pruned.count() === 51L)
        assert(SnapshotStore.readPoint(spark, root, "k", "key_321")
          .select("doc_id").collect().map(_.getLong(0)).toSeq ===
          Seq(321L))
        SnapshotStore.deleteWhere(spark, root, "n", 200L, 299L)
        assert(SnapshotStore.read(spark, root).count() === 900L)
        SnapshotStore.deletePoint(spark, root, "k", "key_500")
        assert(SnapshotStore.read(spark, root).count() === 899L)
        assert(SnapshotStore.readPoint(spark, root, "k", "key_500")
          .count() === 0L)
      } finally SnapshotStore.sidecarThreshold = saved
    }
  }

  test("rollback re-adds dropped files through the delta bookkeeping; " +
      "clone and vacuum keep exactly the referenced entryfiles") {
    withEntryThreshold(8) {
      val root = "target/entryfile-rollback"
      val dst = "target/entryfile-clone"
      cleanup(root); cleanup(dst)
      val sp = spark
      import sp.implicits._
      val df = (0L until 300L).map(i => (i, i)).toDF("doc_id", "n")
      SnapshotStore.commit(df, root, buckets = 4)
      SnapshotStore.optimize(spark, root, sortByDocId = false,
        maxRecordsPerFile = 16L) // v2: entryfile engages
      val v2 = SnapshotStore.currentVersion(spark, root).get
      val v2Rows = SnapshotStore.read(spark, root)
        .select("doc_id", "n").collect().map(_.toSeq).toSet
      SnapshotStore.deleteWhere(spark, root, "n", 0L, 99L) // v3
      assert(SnapshotStore.read(spark, root).count() === 200L)
      // rollback: v3 dropped files; v4 must resurrect them via the
      // recomputed set diff (drops vs parent, not carried tombstones)
      SnapshotStore.rollback(spark, root, v2)
      val back = SnapshotStore.read(spark, root)
      assert(back.count() === 300L)
      assert(back.select("doc_id", "n").collect()
        .map(_.toSeq).toSet === v2Rows)
      // clone initializes a FRESH store whose own entryfile engages
      SnapshotStore.cloneTo(spark, root, dst)
      val cloned = SnapshotStore.read(spark, dst)
      assert(cloned.count() === 300L)
      assert(entryFileOf(manifestText(dst)).nonEmpty,
        "clone of an at-scale store did not engage its own entryfile")
      // vacuum to 1 version: only the head's entryfile survives
      SnapshotStore.vacuum(spark, root, keepVersions = 1)
      val liveEf = entryFileOf(manifestText(root)).get
      val metaDir = new java.io.File(root, "meta")
      val efDirs = metaDir.listFiles()
        .filter(_.getName.startsWith("entries-")).map(_.getName).toSet
      assert(efDirs === Set(liveEf.stripPrefix("meta/")),
        s"vacuum kept the wrong entryfiles: $efDirs vs $liveEf")
      assert(SnapshotStore.read(spark, root).count() === 300L)
    }
  }

  test("empty-store edge: an upsert that deletes the last rows still " +
      "publishes and reads back empty with the declared schema") {
    withEntryThreshold(4) {
      val root = "target/entryfile-empty"
      cleanup(root)
      val sp = spark
      import sp.implicits._
      val df = (0L until 100L).map(i => (i, i)).toDF("doc_id", "n")
      SnapshotStore.commit(df, root, buckets = 4)
      SnapshotStore.optimize(spark, root, sortByDocId = false,
        maxRecordsPerFile = 8L) // entryfile engages
      assert(entryFileOf(manifestText(root)).nonEmpty)
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
      SnapshotStore.upsert(spark, empty,
        (0L until 100L).toDF("doc_id"), root, buckets = 4)
      val snap = SnapshotStore.read(spark, root)
      assert(snap.count() === 0L)
      assert(snap.columns.contains("n"))
    }
  }
}
