package graft

import org.apache.spark.sql.functions._

import graft.operators.SnapshotStore

/** Columnar metadata sidecar (`#metafile` + parquet rows): past the
  * inline-line threshold, per-file stats/bloom metadata moves out of the
  * text manifest into an immutable parquet sidecar, carried across
  * publishes and compacted when the inline delta grows. These specs run
  * the WHOLE store lifecycle in forced-sidecar mode (tiny threshold) —
  * the sidecar must be semantically invisible: every read, prune, probe,
  * delete, rollback, clone and vacuum behaves exactly as inline mode.
  */
class SnapshotSidecarSpec extends SparkTestBase {

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

  private def withThreshold[T](n: Int)(body: => T): T = {
    val saved = SnapshotStore.sidecarThreshold
    SnapshotStore.sidecarThreshold = n
    try body finally SnapshotStore.sidecarThreshold = saved
  }

  test("sidecar engages past the threshold: manifest holds ONE pointer, " +
      "skipping + point lookups + deletes stay exact") {
    withThreshold(64) {
      val root = "target/sidecar-basic"
      cleanup(root)
      val sp = spark
      import sp.implicits._
      val df = (0L until 2000L).map(i => (i, i, s"key_$i"))
        .toDF("doc_id", "n", "k")
      SnapshotStore.commit(df, root, buckets = 8,
        meta = Seq(SnapshotStore.statsDeclaration(Seq("n")),
          SnapshotStore.bloomDeclaration(Seq("k"), bits = 2048)))
      SnapshotStore.optimize(spark, root, sortByDocId = false,
        zorderBy = Seq("n"), maxRecordsPerFile = 16L)
      // ~125 files x 2 metadata kinds >> 64 → the manifest must carry a
      // single #metafile pointer and ZERO per-file lines
      val m = manifestText(root)
      assert(m.contains("#metafile\t"), "sidecar did not engage")
      assert(!m.contains("#stat\t") && !m.contains("#bloom\t"),
        "per-file lines leaked into a sidecar-mode manifest")
      // range skipping: exact + engaged
      val (kept, total) = SnapshotStore.skippingReport(spark, root,
        "n", 100L, 150L)
      assert(total >= 100, s"expected many files, got $total")
      assert(kept < total / 2, s"pruning did not bite: $kept of $total")
      val pruned = SnapshotStore.readWhere(spark, root, "n", 100L, 150L)
      assert(pruned.inputFiles.length === kept)
      assert(pruned.count() === 51L)
      // collect-size discipline (round 10): the stats probe brings back
      // only the ADMITTED entries — the files the bounded read will
      // actually scan — never the live list, the rejected set, or one
      // stats row per (file, bounded column). No inline #stat lines
      // exist in sidecar mode, so admitted == kept exactly.
      assert(SnapshotStore.lastStatsCollectSize === kept,
        s"stats probe collected ${SnapshotStore.lastStatsCollectSize} " +
          s"entries; expected only the $kept admitted files")
      // bloom probes: exact + engaged, evaluated off the sidecar
      val (kb, tb) = SnapshotStore.bloomReport(spark, root, "k", "key_777")
      assert(kb < tb, s"bloom did not prune: $kb of $tb")
      assert(SnapshotStore.readPoint(spark, root, "k", "key_777")
        .select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(777L))
      assert(SnapshotStore.readPoint(spark, root, "k", "key_nope")
        .count() === 0L)
      // pruned deletes still carry untouched files verbatim
      val before = SnapshotStore.read(spark, root).inputFiles.toSet
      SnapshotStore.deleteWhere(spark, root, "n", 200L, 299L)
      val afterRange = SnapshotStore.read(spark, root)
      assert(afterRange.count() === 1900L)
      assert(before.intersect(afterRange.inputFiles.toSet).nonEmpty)
      SnapshotStore.deletePoint(spark, root, "k", "key_1500")
      assert(SnapshotStore.read(spark, root).count() === 1899L)
      assert(SnapshotStore.readPoint(spark, root, "k", "key_1500")
        .count() === 0L)
    }
  }

  test("inline deltas carry between compactions; upserts stay exact; " +
      "time travel and rollback resolve the right sidecar") {
    withThreshold(64) {
      val root = "target/sidecar-carry"
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
      val vOpt = SnapshotStore.currentVersion(spark, root).get
      assert(manifestText(root).contains("#metafile\t"))
      // a small upsert: its few new files' lines ride INLINE next to the
      // carried pointer (no sidecar rewrite for a 1-file delta)
      val fresh = Seq((5000L, 5000L, "key_brand_new"))
        .toDF("doc_id", "n", "k")
      SnapshotStore.upsert(spark, fresh, fresh.select("doc_id"),
        root, buckets = 4)
      val m2 = manifestText(root)
      assert(m2.contains("#metafile\t"))
      assert(m2.contains("#stat\t"),
        "small delta should stay inline beside the carried pointer")
      assert(SnapshotStore.readPoint(spark, root, "k", "key_brand_new")
        .count() === 1L)
      assert(SnapshotStore.readPoint(spark, root, "k", "key_500")
        .count() === 1L)
      assert(SnapshotStore.readWhere(spark, root, "n", 4999L, 5001L)
        .count() === 1L)
      // time travel: the PRE-upsert version still prunes via ITS sidecar
      val (kOld, tOld) = SnapshotStore.skippingReport(spark, root,
        "n", 100L, 120L, version = vOpt)
      assert(kOld < tOld)
      // rollback restores the optimized state with its metadata
      SnapshotStore.rollback(spark, root, vOpt)
      assert(SnapshotStore.readWhere(spark, root, "n", 4999L, 5001L)
        .count() === 0L)
      val (kR, tR) = SnapshotStore.skippingReport(spark, root,
        "n", 100L, 120L)
      assert(kR < tR)
    }
  }

  test("re-compaction merges carried rows + inline deltas; vacuum keeps " +
      "referenced sidecars and sweeps orphaned ones") {
    withThreshold(16) {
      val root = "target/sidecar-compact"
      cleanup(root)
      val sp = spark
      import sp.implicits._
      val df = (0L until 500L).map(i => (i, i, s"key_$i"))
        .toDF("doc_id", "n", "k")
      SnapshotStore.commit(df, root, buckets = 4,
        meta = Seq(SnapshotStore.statsDeclaration(Seq("n")),
          SnapshotStore.bloomDeclaration(Seq("k"), bits = 2048)))
      SnapshotStore.optimize(spark, root, sortByDocId = false,
        zorderBy = Seq("n"), maxRecordsPerFile = 16L)
      // inline deltas past the threshold force a re-compaction: new
      // sidecar = old rows ∪ delta. Each upsert adds one file per
      // bucket (8 stat + bloom lines); the third outgrows 16
      (10000L until 10200L).grouped(70).foreach { ids =>
        val fresh = ids.map(i => (i, i, s"key_$i")).toDF("doc_id", "n", "k")
        SnapshotStore.upsert(spark, fresh, fresh.select("doc_id"),
          root, buckets = 4)
      }
      val m = manifestText(root)
      assert(m.contains("#metafile\t") && !m.contains("#stat\t"),
        "large delta should have re-compacted into a fresh sidecar")
      assert(SnapshotStore.readWhere(spark, root, "n", 10100L, 10110L)
        .count() === 11L)
      assert(SnapshotStore.readPoint(spark, root, "k", "key_10150")
        .count() === 1L)
      assert(SnapshotStore.readPoint(spark, root, "k", "key_42")
        .count() === 1L)
      // several sidecars exist now; vacuum to 1 version must keep the
      // referenced one and sweep the rest
      val metaDir = new java.io.File(root, "meta")
      assert(metaDir.listFiles().length >= 2)
      val deleted = SnapshotStore.vacuum(spark, root, keepVersions = 1)
      assert(deleted.exists(_.startsWith("meta/")),
        s"vacuum swept no sidecar: $deleted")
      assert(metaDir.listFiles().length === 1,
        "exactly the referenced sidecar should survive")
      // store still fully functional after the sweep
      assert(SnapshotStore.readPoint(spark, root, "k", "key_10150")
        .count() === 1L)
      val (k2, t2) = SnapshotStore.skippingReport(spark, root,
        "n", 0L, 20L)
      assert(k2 < t2)
    }
  }

  test("conjunctive multi-column bounds prune through the sidecar and " +
      "stay exact") {
    withThreshold(32) {
      val root = "target/sidecar-multicol"
      cleanup(root)
      val sp = spark
      import sp.implicits._
      val df = (0L until 1000L).map(i => (i, i, (i * 37L) % 1000L))
        .toDF("doc_id", "n", "m")
      SnapshotStore.commit(df, root, buckets = 4,
        meta = Seq(SnapshotStore.statsDeclaration(Seq("n", "m"))))
      SnapshotStore.optimize(spark, root, sortByDocId = false,
        zorderBy = Seq("n", "m"), maxRecordsPerFile = 16L)
      assert(manifestText(root).contains("#metafile\t"))
      val bounds = Map("n" -> ((100L: Any, 400L: Any)),
        "m" -> ((100L: Any, 400L: Any)))
      val (kBoth, total) = SnapshotStore.skippingReportAll(spark, root,
        bounds)
      val (kN, _) = SnapshotStore.skippingReport(spark, root,
        "n", 100L, 400L)
      assert(kBoth < kN && kN < total,
        s"conjunction did not add pruning: both=$kBoth n=$kN/$total")
      val got = SnapshotStore.readWhereAll(spark, root, bounds)
        .select("doc_id", "n", "m").collect().map(_.toSeq).toSeq
        .sortBy(_.head.asInstanceOf[Long])
      val want = SnapshotStore.read(spark, root)
        .filter(col("n").between(100L, 400L) &&
          col("m").between(100L, 400L))
        .select("doc_id", "n", "m").collect().map(_.toSeq).toSeq
        .sortBy(_.head.asInstanceOf[Long])
      assert(got === want && got.nonEmpty)
    }
  }

  test("exactly-once txn markers and the sidecar compose: watermark, " +
      "replay no-op, and skipping all survive optimize + vacuum") {
    withThreshold(16) {
      val root = "target/sidecar-txn"
      cleanup(root)
      val sp = spark
      import sp.implicits._
      val b0 = (0L until 500L).map(i => (i, i, s"key_$i"))
        .toDF("doc_id", "n", "k")
      SnapshotStore.commitBatch(b0, root, buckets = 4,
        streamId = "sc_stream", batchId = 0L)
      SnapshotStore.declareStats(spark, root, Seq("n"))
      SnapshotStore.declareBloom(spark, root, Seq("k"), bits = 2048)
      SnapshotStore.optimize(spark, root, sortByDocId = false,
        zorderBy = Seq("n"), maxRecordsPerFile = 16L)
      assert(manifestText(root).contains("#metafile\t"))
      // a later micro-batch publishes THROUGH the sidecar-mode manifest:
      // watermark advances, its new files' metadata lands inline
      val b1 = (1000L until 1010L).map(i => (i, i, s"key_$i"))
        .toDF("doc_id", "n", "k")
      val v1 = SnapshotStore.commitBatch(b1, root, buckets = 4,
        streamId = "sc_stream", batchId = 1L)
      assert(SnapshotStore.lastCommittedBatch(spark, root, "sc_stream")
        === Some(1L))
      // exactly-once: a replayed delivery of batch 1 must no-op
      assert(SnapshotStore.commitBatch(b1, root, buckets = 4,
        streamId = "sc_stream", batchId = 1L) === v1)
      assert(SnapshotStore.currentVersion(spark, root) === Some(v1))
      // maintenance keeps watermark, declarations, and skipping alive
      SnapshotStore.optimize(spark, root)
      SnapshotStore.vacuum(spark, root, keepVersions = 1)
      assert(SnapshotStore.lastCommittedBatch(spark, root, "sc_stream")
        === Some(1L))
      assert(SnapshotStore.readWhere(spark, root, "n", 1000L, 1005L)
        .count() === 6L)
      assert(SnapshotStore.readPoint(spark, root, "k", "key_1007")
        .count() === 1L)
      assert(SnapshotStore.readPoint(spark, root, "k", "key_42")
        .count() === 1L)
    }
  }

  test("dropStats gates pruning despite live sidecar rows; re-declare " +
      "resumes WITHOUT a backfill re-scan; clone carries the sidecar") {
    withThreshold(32) {
      val root = "target/sidecar-drop"
      val dst = "target/sidecar-clone-dst"
      cleanup(root); cleanup(dst)
      val sp = spark
      import sp.implicits._
      val df = (0L until 500L).map(i => (i, i, s"key_$i"))
        .toDF("doc_id", "n", "k")
      SnapshotStore.commit(df, root, buckets = 4,
        meta = Seq(SnapshotStore.statsDeclaration(Seq("n")),
          SnapshotStore.bloomDeclaration(Seq("k"), bits = 2048)))
      SnapshotStore.optimize(spark, root, sortByDocId = false,
        zorderBy = Seq("n"), maxRecordsPerFile = 16L)
      val (k1, t1) = SnapshotStore.skippingReport(spark, root, "n", 0L, 20L)
      assert(k1 < t1)
      // dropStats: the sidecar still HOLDS stat rows (compaction is
      // lazy), but the declaration gate must stop pruning NOW
      SnapshotStore.dropStats(spark, root)
      val (k2, t2) = SnapshotStore.skippingReport(spark, root, "n", 0L, 20L)
      assert(k2 === t2, "pruning must stop at dropStats, sidecar or not")
      assert(SnapshotStore.readWhere(spark, root, "n", 0L, 20L)
        .count() === 21L)
      // re-declare: sidecar rows are still valid (files immutable), so
      // pruning resumes and the publish is metadata-only — no re-scan
      SnapshotStore.declareStats(spark, root, Seq("n"))
      val (k3, t3) = SnapshotStore.skippingReport(spark, root, "n", 0L, 20L)
      assert(k3 < t3)
      // blooms were never dropped and must have kept working throughout
      assert(SnapshotStore.readPoint(spark, root, "k", "key_77")
        .count() === 1L)
      // clone: data files AND sidecar rows follow the relpath rewrite
      SnapshotStore.cloneTo(spark, root, dst)
      assert(manifestText(dst).contains("#metafile\t"))
      val (kc, tc) = SnapshotStore.skippingReport(spark, dst, "n", 0L, 20L)
      assert(kc < tc, "clone lost sidecar stats pruning")
      assert(SnapshotStore.readWhere(spark, dst, "n", 0L, 20L)
        .count() === 21L)
      assert(SnapshotStore.readPoint(spark, dst, "k", "key_77")
        .count() === 1L)
    }
  }
}
