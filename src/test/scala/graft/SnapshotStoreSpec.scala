package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IngestionPipeline, SnapshotStore}

/** Manifest-committed versioned index: atomic publish, time travel,
  * file-reusing keyed upsert, crash invisibility, vacuum. */
class SnapshotStoreSpec extends SparkTestBase {

  private def cleanup(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) {
      import scala.reflect.io.Directory
      new Directory(f).deleteRecursively()
    }
  }

  private def index(docs: DataFrame): DataFrame =
    IngestionPipeline.buildIndexFrom(docs, 120, 20, 8)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.select("doc_id", "chunk_idx", "vec_key", "vec_uid", "title", "content")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)

  test("commit → read round-trips; versions are monotonic") {
    val root = "target/snap-roundtrip"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    assert(SnapshotStore.currentVersion(spark, root).isEmpty)
    val v1 = SnapshotStore.commit(index(docs), root, buckets = 4)
    assert(v1 === 1L)
    assert(SnapshotStore.currentVersion(spark, root) === Some(1L))
    assert(rows(SnapshotStore.read(spark, root)) === rows(index(docs)))
  }

  test("upsert ≡ fresh rebuild; prior version stays readable (time travel)") {
    val root = "target/snap-upsert"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    val mutated = docs.withColumn("text",
      when(col("doc_id") === 3, concat(col("text"), lit(" amended")))
        .otherwise(col("text")))
    val before = rows(index(docs))
    SnapshotStore.commit(index(docs), root, buckets = 4)
    val v2 = SnapshotStore.upsert(spark,
      index(mutated.filter(col("doc_id") === 3)),
      mutated.filter(col("doc_id") === 3).select("doc_id"),
      root, buckets = 4)
    assert(v2 === 2L)
    assert(rows(SnapshotStore.read(spark, root)) === rows(index(mutated)))
    // the superseded snapshot is still exactly what was committed
    assert(rows(SnapshotStore.read(spark, root, version = 1L)) === before)
  }

  test("upsert reuses untouched buckets' files from the previous version") {
    val root = "target/snap-reuse"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    SnapshotStore.upsert(spark,
      index(docs.filter(col("doc_id") === 3)),
      docs.filter(col("doc_id") === 3).select("doc_id"),
      root, buckets = 4)
    val manifest = scala.io.Source.fromFile(
      s"$root/_versions/v00002.manifest").mkString
    assert(manifest.contains("data/v00001-"),
      "untouched buckets must carry the old version's files forward")
    assert(manifest.contains("data/v00002-"))
  }

  test("a re-ingest that yields zero rows deletes the document's vectors") {
    val root = "target/snap-delete"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    import spark.implicits._
    SnapshotStore.upsert(spark,
      index(docs).filter(lit(false)), // empty replacement set
      Seq(3L).toDF("doc_id"), root, buckets = 4)
    assert(rows(SnapshotStore.read(spark, root)) ===
      rows(index(docs.filter(col("doc_id") =!= 3))))
  }

  test("data files without a published manifest are invisible; vacuum reaps them") {
    val root = "target/snap-crash"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    val wanted = rows(SnapshotStore.read(spark, root))
    // simulate a SAME-VERSION race loser: data files written into an
    // attempt-unique v00001 dir whose manifest never published (the only
    // version a real writer ever attempts is head+1, so crashed/lost
    // artifacts always sit AT or BELOW a later head — reapable as soon
    // as the version counter passes them)
    index(docs).limit(5)
      .withColumn("bucket", lit(0L))
      .write.partitionBy("bucket").parquet(s"$root/data/v00001-deadbeef")
    assert(SnapshotStore.currentVersion(spark, root) === Some(1L))
    assert(rows(SnapshotStore.read(spark, root)) === wanted)
    val deleted = SnapshotStore.vacuum(spark, root, keepVersions = 2)
    assert(deleted.exists(_.startsWith("data/v00001-deadbeef/")),
      s"orphaned files must be reaped, got $deleted")
    assert(rows(SnapshotStore.read(spark, root)) === wanted)
  }

  test("optimize compacts accumulated small files to one per bucket") {
    val root = "target/snap-optimize"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    // three single-doc upserts: each touched bucket gains another file
    for (id <- Seq(1L, 2L, 3L)) {
      val doc = docs.filter(col("doc_id") === id)
        .withColumn("text", concat(col("text"), lit(s" upd$id")))
      SnapshotStore.upsert(spark, index(doc), doc.select("doc_id"), root, 4)
    }
    val before = rows(SnapshotStore.read(spark, root))
    val preVersion = SnapshotStore.currentVersion(spark, root).get
    def manifestFiles(v: Long): Seq[String] = {
      val src = scala.io.Source.fromFile(
        f"$root/_versions/v$v%05d.manifest")
      // skip '#' metadata (txn markers, declared-schema lines) — only
      // data-file entries count
      try src.getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#")).toList
      finally src.close()
    }
    assert(manifestFiles(preVersion).length > 4,
      "upserts should have accumulated more than one file per bucket")

    val v = SnapshotStore.optimize(spark, root)
    assert(v === preVersion + 1)
    // data identical, exactly one file per non-empty bucket
    assert(rows(SnapshotStore.read(spark, root)) === before)
    val files = manifestFiles(v)
    val perBucket = files.groupBy(_.split("\t")(0)).values.map(_.size)
    assert(perBucket.forall(_ === 1), s"not compacted: $files")
    // time travel: the pre-optimize version still reads identically
    assert(rows(SnapshotStore.read(spark, root, preVersion)) === before)
    // the small files are now garbage vacuum can reap
    val deleted = SnapshotStore.vacuum(spark, root, keepVersions = 1)
    assert(deleted.nonEmpty)
    assert(rows(SnapshotStore.read(spark, root)) === before)
  }

  test("bucket-scoped optimize rewrites ONLY the named buckets, carries " +
      "the rest verbatim, and retries as a bounded unit under a racing " +
      "writer") {
    val root = "target/snap-scoped-opt"
    cleanup(root)
    val sp = spark
    import sp.implicits._
    val df = (0L until 2000L).map(i => (i, i, s"v_$i"))
      .toDF("doc_id", "n", "s")
    SnapshotStore.commit(df, root, buckets = 8)
    // fragment every bucket so compaction has something to collapse
    val fresh = (0L until 2000L by 100L).map(i => (i, i + 1000000L,
      s"v2_$i")).toDF("doc_id", "n", "s")
    SnapshotStore.upsert(spark, fresh, fresh.select("doc_id"),
      root, buckets = 8)
    val before = SnapshotStore.read(spark, root)
    val rowsBefore = before.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val filesBefore = before.inputFiles.toSet

    // scoped compaction of buckets 0..2 under a RACING writer: the first
    // attempt bases on a version the racer immediately supersedes, so the
    // scoped optimize must detect the conflict and redo ONLY its unit
    var raced = false
    SnapshotStore.withConflictRetry(spark, root) { observed =>
      if (!raced) {
        raced = true
        val d = Seq((999999L, 1L, "racer")).toDF("doc_id", "n", "s")
        SnapshotStore.upsert(spark, d, d.select("doc_id"), root,
          buckets = 8)
      }
      SnapshotStore.optimize(spark, root, expectedVersion = Some(observed),
        sortByDocId = false, sortBy = Seq("n"), onlyBuckets = Seq(0L, 1L, 2L))
    }
    val after = SnapshotStore.read(spark, root)
    // content = pre-race content + the racer's row (nothing lost/dupped)
    val racerRow = after.filter(col("doc_id") === 999999L)
    assert(racerRow.count() === 1L, "the racing writer's row must survive")
    assert(after.count() === rowsBefore.size + 1L)
    assert(after.filter(col("doc_id") =!= 999999L).collect()
      .map(_.toSeq).toSeq.sortBy(_.toString) === rowsBefore)
    // out-of-scope buckets' files carried VERBATIM (same physical paths)
    val carried = after.inputFiles.toSet.intersect(filesBefore)
    assert(carried.exists(_.contains("bucket=5")),
      "bucket 5 was out of scope and must carry its old files")
    assert(!after.inputFiles.toSet.exists(p =>
      filesBefore.contains(p) && p.contains("bucket=1/")),
      "bucket 1 was in scope and must have been rewritten")
    // a scope matching no files is a version-free no-op
    val vNow = SnapshotStore.currentVersion(spark, root).get
    assert(SnapshotStore.optimize(spark, root,
      onlyBuckets = Seq(999L)) === vNow)
  }

  test("additive schema evolution: new column null-fills older files") {
    val root = "target/snap-evolve"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    val doc2 = docs.filter(col("doc_id") === 2)
    SnapshotStore.upsert(spark,
      index(doc2).withColumn("quality", lit(0.9)),
      doc2.select("doc_id"), root, 4)
    val out = SnapshotStore.read(spark, root)
    assert(out.columns.contains("quality"))
    val byDoc = out.select("doc_id", "quality").distinct().collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    assert(byDoc(2L).contains(0.9))
    assert(byDoc.filterNot(_._1 == 2L).values.forall(_.isEmpty),
      "old rows must null-fill the evolved column")
    // the pre-evolution version still reads with its own schema
    assert(!SnapshotStore.read(spark, root, 1L).columns.contains("quality"))
  }

  test("a crashed commit's orphan version dir does not wedge the retry") {
    val root = "target/snap-crash-retry"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    // simulate a crash AFTER the v2 data write, BEFORE the manifest
    // publish: data/v00002 exists, _versions/v00002.manifest does not
    val idx2 = index(docs.filter(col("doc_id") < 5))
    SnapshotStore.commit(idx2, root, buckets = 4)
    new java.io.File(s"$root/_versions/v00002.manifest").delete()
    assert(SnapshotStore.currentVersion(spark, root) === Some(1L))
    // the retried commit recomputes version 2 and must succeed, replacing
    // the orphan dir
    val v = SnapshotStore.commit(idx2, root, buckets = 4)
    assert(v === 2L)
    assert(rows(SnapshotStore.read(spark, root)) === rows(idx2))
  }

  test("upsert replaces a doc present in newRows but omitted from reingestedDocs") {
    val root = "target/snap-dup-guard"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    val doc3 = docs.filter(col("doc_id") === 3)
      .withColumn("text", concat(col("text"), lit(" v2")))
    // reingestedDocs deliberately EMPTY: doc 3's new rows must still
    // replace (not duplicate) its old vectors
    SnapshotStore.upsert(spark, index(doc3),
      docs.select("doc_id").filter(col("doc_id") < 0), root, 4)
    val expected = index(docs.filter(col("doc_id") =!= 3)
      .unionByName(doc3))
    assert(rows(SnapshotStore.read(spark, root)) === rows(expected))
  }

  test("vacuum keeps the newest versions readable, drops the rest") {
    val root = "target/snap-vacuum"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    val only3 = index(docs.filter(col("doc_id") === 3))
    SnapshotStore.upsert(spark, only3, only3.select("doc_id"),
      root, buckets = 4) // v2 (content unchanged: same rows re-ingested)
    import spark.implicits._
    SnapshotStore.upsert(spark, only3.filter(lit(false)),
      Seq(3L).toDF("doc_id"), root, buckets = 4) // v3 deletes doc 3
    val v3Rows = rows(SnapshotStore.read(spark, root, version = 3L))
    val deleted = SnapshotStore.vacuum(spark, root, keepVersions = 2)
    assert(deleted.contains("_versions/v00001.manifest"))
    assert(rows(SnapshotStore.read(spark, root, version = 2L)) ===
      rows(index(docs)))
    assert(rows(SnapshotStore.read(spark, root, version = 3L)) === v3Rows)
    intercept[Exception] {
      SnapshotStore.read(spark, root, version = 1L).collect()
    }
  }

  test("optimize writes each bucket sorted by doc_id (row-group skipping)") {
    val root = "target/snap-optimize-sort"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    val doc2 = docs.filter(col("doc_id") === 2)
    SnapshotStore.upsert(spark, index(doc2), doc2.select("doc_id"), root, 4)
    val before = rows(SnapshotStore.read(spark, root))
    val v = SnapshotStore.optimize(spark, root)
    assert(rows(SnapshotStore.read(spark, root, v)) === before)
    // every compacted file carries its rows in doc_id order — monotone
    // row-group min/max, so a pushed In(doc_id) can skip inside the file
    // (the compacted version's attempt dir is vNNNNN-<uuid>)
    val dataDir = Option(new java.io.File(s"$root/data").listFiles())
      .getOrElse(Array.empty)
      .find(_.getName.startsWith(f"v$v%05d-"))
      .getOrElse(fail(s"no attempt dir for version $v"))
    val files = Option(dataDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("bucket="))
      .flatMap(b => b.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty)
    files.foreach { f =>
      val ids = spark.read.parquet(f.getPath)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(ids === ids.sorted, s"${f.getName} not doc_id-sorted")
    }
  }

  test("timestamp time travel: readAsOf resolves the version current at ts") {
    val root = "target/snap-asof"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    val doc3 = docs.filter(col("doc_id") === 3)
      .withColumn("text", concat(col("text"), lit(" v2")))
    SnapshotStore.upsert(spark, index(doc3), doc3.select("doc_id"), root, 4)
    // pin publish times explicitly — the spec controls the clock
    val t1 = 1700000000000L; val t2 = t1 + 60000
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$root/_versions/v00001.manifest"),
      java.nio.file.attribute.FileTime.fromMillis(t1))
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$root/_versions/v00002.manifest"),
      java.nio.file.attribute.FileTime.fromMillis(t2))
    assert(SnapshotStore.versionAsOf(spark, root, t1 - 1).isEmpty)
    intercept[IllegalArgumentException] {
      SnapshotStore.readAsOf(spark, root, t1 - 1)
    }
    // between the two commits → v1's rows; at/after the second → v2's
    assert(rows(SnapshotStore.readAsOf(spark, root, t1 + 30000))
      === rows(index(docs)))
    assert(rows(SnapshotStore.readAsOf(spark, root, t2))
      === rows(SnapshotStore.read(spark, root, 2L)))
    assert(SnapshotStore.versionAsOf(spark, root, t2 + 1) === Some(2L))
  }

  test("upsert with a mismatched bucket count is a named error, not corruption") {
    val root = "target/snap-bucket-guard"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    val doc3 = docs.filter(col("doc_id") === 3)
    val ex = intercept[IllegalArgumentException] {
      SnapshotStore.upsert(spark, index(doc3), doc3.select("doc_id"),
        root, buckets = 8) // wrong modulus — would miss stale rows
    }
    assert(ex.getMessage.contains("bucketed 4") &&
      ex.getMessage.contains("buckets = 8"), ex.getMessage)
    assert(SnapshotStore.currentVersion(spark, root) === Some(1L))
  }

  test("readDocs fetches by id scanning only the target buckets' files") {
    val root = "target/snap-readdocs"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 8)
    // an upsert so the manifest spans two version dirs
    val doc3 = docs.filter(col("doc_id") === 3)
      .withColumn("text", concat(col("text"), lit(" v2")))
    SnapshotStore.upsert(spark, index(doc3), doc3.select("doc_id"), root, 8)
    val ids = Seq(3L, 7L)
    val got = SnapshotStore.readDocs(spark, root, ids)
    val full = SnapshotStore.read(spark, root)
    assert(rows(got) === rows(full.filter(col("doc_id").isin(ids: _*))))
    // bucket pruning is real: the lookup's scan reads strictly fewer
    // files than the full snapshot's
    assert(got.inputFiles.length > 0 &&
      got.inputFiles.length < full.inputFiles.length,
      s"no pruning: ${got.inputFiles.length} vs ${full.inputFiles.length}")
    // ...and only files under the ids' bucket partitions
    val okBuckets = full.filter(col("doc_id").isin(ids: _*))
      .select("bucket").distinct().collect().map(_.getLong(0)).toSet
    assert(got.inputFiles.forall(f =>
      okBuckets.exists(b => f.contains(s"bucket=$b/"))),
      s"scanned outside target buckets: ${got.inputFiles.mkString(", ")}")
    // absent ids return empty, with the snapshot schema
    assert(SnapshotStore.readDocs(spark, root, Seq(999999L)).count() === 0)
  }

  test("a fully-emptied store stays readable (empty frame, declared schema)") {
    import spark.implicits._
    val root = "target/snap-empty"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001).filter(col("doc_id") < 3)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    // delete EVERY document via empty re-ingest → a published empty
    // snapshot, which must read as empty — not brick the store
    SnapshotStore.upsert(spark,
      index(docs).filter(lit(false)),
      docs.select("doc_id"), root, 4)
    val empty = SnapshotStore.read(spark, root)
    assert(empty.count() === 0)
    assert(empty.columns.contains("vec_key") &&
      empty.columns.contains("doc_id"))
    assert(SnapshotStore.readDocs(spark, root, Seq(1L)).count() === 0)
    // and the store keeps working: a later upsert re-populates it
    SnapshotStore.upsert(spark, index(docs), docs.select("doc_id"), root, 4)
    assert(rows(SnapshotStore.read(spark, root)) === rows(index(docs)))
  }

  test("a column name containing tab or newline is rejected at commit") {
    val root = "target/snap-badcol"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001).filter(col("doc_id") < 3)
    val bad = index(docs).withColumn("a\tb", lit(1))
    val ex = intercept[IllegalArgumentException] {
      SnapshotStore.commit(bad, root, buckets = 4)
    }
    assert(ex.getMessage.contains("tab/newline"), ex.getMessage)
  }

  test("vacuum never touches the in-flight version's dir or staging") {
    val root = "target/snap-vacuum-inflight"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001).filter(col("doc_id") < 5)
    SnapshotStore.commit(index(docs), root, buckets = 4) // newest = 1
    // simulate a LIVE writer mid-commit of version 2: its staging dir
    // and (renamed) version dir exist, the manifest does not yet
    val probe = index(docs).limit(2).withColumn("bucket", lit(0L))
    probe.write.parquet(s"$root/data/.staging-v00002-deadbeef")
    probe.write.partitionBy("bucket").parquet(s"$root/data/v00002")
    // a FUTURE-versioned dir is indistinguishable from a writer that
    // published past this vacuum's manifest listing and is already
    // writing the next version — never touched (round-10 hardening:
    // everything >= the listing snapshot's in-flight version is
    // protected, not just == )
    probe.write.parquet(s"$root/data/.staging-v00009-cafe")
    // a crashed/lost attempt AT OR BELOW the head is provably stale
    // (writers only ever attempt head+1): reaped
    probe.write.parquet(s"$root/data/.staging-v00001-cafe")
    val deleted = SnapshotStore.vacuum(spark, root, keepVersions = 2)
    assert(new java.io.File(s"$root/data/.staging-v00002-deadbeef").exists,
      "vacuum deleted a possibly-in-flight staging dir")
    assert(new java.io.File(s"$root/data/v00002").exists,
      "vacuum deleted a possibly-in-flight version dir")
    assert(new java.io.File(s"$root/data/.staging-v00009-cafe").exists,
      "vacuum deleted a future-versioned dir a concurrent writer " +
        "could own")
    assert(!new java.io.File(s"$root/data/.staging-v00001-cafe").exists,
      "vacuum left a provably-stale crashed staging dir")
    assert(deleted.exists(_.startsWith("data/.staging-v00001")))
    // the store itself is untouched
    assert(rows(SnapshotStore.read(spark, root)) === rows(index(docs)))
  }

  // --- optimistic concurrency ----------------------------------------

  test("two writers from the same base: one wins, the stale one raises") {
    val root = "target/snap-conflict"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    val base = SnapshotStore.currentVersion(spark, root).get // both read v1
    // writer A commits its upsert first and wins
    val docA = docs.filter(col("doc_id") === 2)
      .withColumn("text", concat(col("text"), lit(" by-A")))
    val vA = SnapshotStore.upsert(spark, index(docA), docA.select("doc_id"),
      root, 4, expectedVersion = Some(base))
    assert(vA === 2L)
    val winner = rows(SnapshotStore.read(spark, root))
    // writer B, still holding base v1, must fail UP FRONT — before any
    // data write, so nothing of A's version dir is disturbed
    val docB = docs.filter(col("doc_id") === 3)
      .withColumn("text", concat(col("text"), lit(" by-B")))
    val ex = intercept[graft.operators.SnapshotConflictException] {
      SnapshotStore.upsert(spark, index(docB), docB.select("doc_id"),
        root, 4, expectedVersion = Some(base))
    }
    assert(ex.getMessage.contains("read version 1") &&
      ex.getMessage.contains("now at 2"))
    // the store is exactly the winner's state, still at the winner's version
    assert(SnapshotStore.currentVersion(spark, root) === Some(2L))
    assert(rows(SnapshotStore.read(spark, root)) === winner)
    // B retries the optimistic loop: re-read, re-derive, re-commit — fine
    val vB = SnapshotStore.upsert(spark, index(docB), docB.select("doc_id"),
      root, 4, expectedVersion = Some(2L))
    assert(vB === 3L)
  }

  test("withConflictRetry: a raced writer retries and both deltas land") {
    val root = "target/snap-retry"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)

    // writer B's attempt closure; an external writer (A) sneaks a commit
    // in AFTER B observes the version but BEFORE B's own upsert — the
    // first attempt must conflict, the automatic retry must succeed
    val docA = docs.filter(col("doc_id") === 2)
      .withColumn("text", concat(col("text"), lit(" by-A")))
    val docB = docs.filter(col("doc_id") === 3)
      .withColumn("text", concat(col("text"), lit(" by-B")))
    var attempts = 0
    val vB = SnapshotStore.withConflictRetry(spark, root) { observed =>
      attempts += 1
      if (attempts == 1) // the interleaved competitor
        SnapshotStore.upsert(spark, index(docA), docA.select("doc_id"),
          root, 4)
      SnapshotStore.upsert(spark, index(docB), docB.select("doc_id"),
        root, 4, expectedVersion = Some(observed))
    }
    assert(attempts === 2)
    assert(vB === 3L)
    assert(SnapshotStore.currentVersion(spark, root) === Some(3L))
    // both writers' deltas are in the final state — nothing was lost
    val current = docs
      .filter(col("doc_id") =!= 2 && col("doc_id") =!= 3)
      .unionByName(docA).unionByName(docB)
    assert(rows(SnapshotStore.read(spark, root)) === rows(index(current)))

    // a conflict that never clears exhausts maxAttempts with a named error
    var calls = 0
    val ex = intercept[graft.operators.SnapshotConflictException] {
      SnapshotStore.withConflictRetry(spark, root, maxAttempts = 3) { _ =>
        calls += 1
        throw new graft.operators.SnapshotConflictException("synthetic")
      }
    }
    assert(calls === 3)
    assert(ex.getMessage.contains("after 3 attempts"))
  }

  test("publish-level CAS: a racing same-version publish raises, winner intact") {
    val root = "target/snap-publish-race"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    val winner = rows(SnapshotStore.read(spark, root))
    val manifest = scala.io.Source.fromFile(s"$root/_versions/v00001.manifest")
    val entries = try manifest.getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(b, p) = l.split("\t", 2); (b.toLong, p) }.toList
    finally manifest.close()
    // a second writer that somehow raced to the same version number must
    // be refused at the publish backstop, not silently overwrite
    intercept[graft.operators.SnapshotConflictException] {
      SnapshotStore.publish(spark, root, 1L, entries.take(1))
    }
    assert(rows(SnapshotStore.read(spark, root)) === winner)
    // conflicted/crashed attempts' data files are plain orphans for vacuum
    // (covered by the crash tests above — same unreferenced-file path)
  }

  test("stale-base commit and optimize raise the same named conflict") {
    val root = "target/snap-conflict-commit"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4,
      expectedVersion = Some(0L)) // empty store = version 0
    intercept[graft.operators.SnapshotConflictException] {
      SnapshotStore.commit(index(docs), root, buckets = 4,
        expectedVersion = Some(0L)) // stale: store moved to v1
    }
    intercept[graft.operators.SnapshotConflictException] {
      SnapshotStore.optimize(spark, root, expectedVersion = Some(0L))
    }
    assert(SnapshotStore.currentVersion(spark, root) === Some(1L))
  }

  test("random op sequences: store state always equals the driver-side model") {
    import spark.implicits._
    // the model: doc_id -> (tag, c). The first dir stores doc_id as int
    // and has no column c; an evolving upsert adds c, later ranges delete
    // on it, and older dirs read it null-filled
    type Model = Map[Long, (Long, Option[Long])]
    def tagged(m: Map[Long, Long]) =
      m.toSeq.sortBy(_._1).toDF("doc_id", "tag")
    def df(m: Model) = m.toSeq.sortBy(_._1)
      .map { case (k, (t, c)) => (k, t, c) }.toDF("doc_id", "tag", "c")
    def modelOf(frame: DataFrame): Model = {
      val withC =
        if (frame.columns.contains("c")) frame
        else frame.withColumn("c", lit(null).cast("long"))
      withC.select("doc_id", "tag", "c").as[(Long, Long, Option[Long])]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    }
    // the column order a per-dir unionByName(allowMissingColumns) read
    // gives, from the files' own schemas: the first dir's columns, then
    // bucket, then the columns later dirs add
    val dirCols = scala.collection.mutable.HashMap.empty[String, Seq[String]]
    def unionOrder(root: String, v: Long): Option[Seq[String]] = {
      val byDir = SnapshotStore.manifestEntries(spark, root, v)
        .groupBy(_._2.split("/").take(2).mkString("/")).toSeq.sortBy(_._1)
      if (byDir.isEmpty) None
      else {
        val cols = byDir.map { case (d, es) =>
          dirCols.getOrElseUpdate(s"$root/$d",
            spark.read.parquet(s"$root/${es.head._2}").columns.toSeq
              .filterNot(_ == "bucket"))
        }
        Some(cols.head ++ Seq("bucket") ++
          cols.tail.flatten.distinct.filterNot(cols.head.contains))
      }
    }
    // every keyed verb, maintenance verb, tag and rollback; after each
    // step EVERY retained version and every tag must read as the model
    // had it when that version was published, in the union's column
    // order. Returns the most delete entries kept in parquet files that
    // any version carried.
    def run(seed: Int, steps: Int): Long = {
      val root = "target/snap-model"
      cleanup(root)
      dirCols.clear()
      val rnd = new scala.util.Random(seed)
      var model: Model = (1L to 10L).map(i => i -> ((0L, None))).toMap
      SnapshotStore.commit(
        (1 to 10).map(i => (i, 0L)).toDF("doc_id", "tag"), root,
        buckets = 4,
        meta = Seq(SnapshotStore.statsDeclaration(Seq("doc_id", "tag"))))
      var history: Map[Long, Model] = Map(1L -> model)
      var deleteFiles = 0L
      for (step <- 1 to steps) {
        val tag = step.toLong
        val hasC = SnapshotStore.read(spark, root).columns.contains("c")
        rnd.nextInt(13) match {
          case 0 | 1 => // upsert: mutate existing docs / add new ones
            val ids = Seq.fill(1 + rnd.nextInt(4))(rnd.nextLong(20) + 1)
              .distinct
            model = model ++ ids.map(_ -> ((tag, None)))
            SnapshotStore.upsert(spark, tagged(ids.map(_ -> tag).toMap),
              ids.toDF("doc_id"), root, 4)
          case 2 if model.nonEmpty => // delete via empty re-ingest
            val ids = Seq(model.keys.toSeq(rnd.nextInt(model.size)))
            model = model -- ids
            SnapshotStore.upsert(spark,
              Seq.empty[(Long, Long)].toDF("doc_id", "tag"),
              ids.toDF("doc_id"), root, 4)
          case 3 => // range delete on the key or on the payload
            val lo = rnd.nextLong(20) + 1
            val hi = lo + rnd.nextLong(4)
            if (rnd.nextBoolean()) {
              model = model.filterNot { case (k, _) => k >= lo && k <= hi }
              SnapshotStore.deleteWhere(spark, root, "doc_id", lo, hi)
            } else {
              model = model.filterNot { case (_, (t, _)) =>
                t >= lo - 1 && t <= hi }
              SnapshotStore.deleteWhere(spark, root, "tag", lo - 1, hi)
            }
          case 4 => // point delete on the payload
            val t = rnd.nextLong(step + 1)
            model = model.filterNot(_._2._1 == t)
            SnapshotStore.deletePoint(spark, root, "tag", t)
          case 5 => SnapshotStore.optimize(spark, root): Unit
          case 6 => SnapshotStore.optimize(spark, root,
            onlyBuckets = Seq(rnd.nextLong(4))): Unit
          case 7 => SnapshotStore.vacuum(spark, root, keepVersions = 2): Unit
          case 8 => // restore any retained version
            val retained = history.keys.toSeq.sorted
            val to = retained(rnd.nextInt(retained.size))
            SnapshotStore.rollback(spark, root, to)
            model = history(to)
          case 9 => // pin the head; keep at most two tags
            SnapshotStore.listTags(spark, root).dropRight(1)
              .foreach(t => SnapshotStore.deleteTag(spark, root, t._1))
            SnapshotStore.tag(spark, root, f"t$step%03d"): Unit
          case 11 => // evolving upsert: its rows carry the added column c
            val ids = Seq.fill(1 + rnd.nextInt(4))(rnd.nextLong(20) + 1)
              .distinct
            val fresh = ids.map(_ -> ((tag, Some(tag)))).toMap
            model = model ++ fresh
            SnapshotStore.upsert(spark, df(fresh), ids.toDF("doc_id"), root,
              4)
          case 12 if hasC => // range delete on the added column
            val lo = rnd.nextLong(step + 1)
            val hi = lo + rnd.nextLong(4)
            model = model.filterNot { case (_, (_, c)) =>
              c.exists(x => x >= lo && x <= hi) }
            SnapshotStore.deleteWhere(spark, root, "c", lo, hi)
          case _ => // full-rewrite commit of the current model
            SnapshotStore.commit(df(model), root, buckets = 4): Unit
        }
        history += (SnapshotStore.currentVersion(spark, root).get -> model)
        val hist = SnapshotStore.history(spark, root)
          .select("version", "n_delete_files").as[(Long, Long)].collect()
        deleteFiles = (deleteFiles +: hist.map(_._2)).max
        val retained = hist.map(_._1).toSet
        history = history.filter(e => retained.contains(e._1))
        assert(history.keySet === retained, s"step $step: history lost")
        history.foreach { case (v, m) =>
          val read = SnapshotStore.read(spark, root, v)
          assert(modelOf(read) === m,
            s"seed $seed step $step: version $v diverged from the model")
          unionOrder(root, v).foreach { order =>
            assert(read.columns.toSeq === order,
              s"seed $seed step $step: version $v column order")
          }
        }
        SnapshotStore.listTags(spark, root).foreach { case (t, v) =>
          assert(modelOf(SnapshotStore.readTag(spark, root, t)) ===
            history(v), s"seed $seed step $step: tag $t diverged")
        }
      }
      deleteFiles
    }
    run(seed = 11, steps = 24)
    // the parquet delete-file regime: past entryThreshold ids an upsert's
    // delete entry is a file (and the entry list an entryfile)
    val saved = SnapshotStore.entryThreshold
    SnapshotStore.entryThreshold = 2
    val deleteFiles =
      try run(seed = 12, steps = 24)
      finally SnapshotStore.entryThreshold = saved
    assert(deleteFiles > 0, "the lowered threshold wrote no delete file")
  }

  test("kill-window over the merge-on-read verbs: a crashed upsert or " +
      "deleteWhere leaves the old version, the retry lands, vacuum reaps " +
      "the orphan") {
    import spark.implicits._
    val root = "target/snap-kill-mor"
    def df(m: Map[Long, Long]) = m.toSeq.sortBy(_._1).toDF("doc_id", "tag")
    def state(): Map[Long, Long] = SnapshotStore.read(spark, root)
      .select("doc_id", "tag").as[(Long, Long)].collect().toMap
    val base = (1L to 20L).map(i => i -> 0L).toMap
    val fresh = Map(3L -> 7L, 4L -> 7L, 5L -> 7L, 40L -> 7L)
    // crash point → what the crashed attempt left for vacuum
    val upsertPoints = Seq("data-dir-written" -> "data/v00002-",
      "delete-file-written" -> "meta/deletes-v00002-",
      "manifest-tmp-written" -> "_versions/.tmp-v00002-",
      "manifest-renamed" -> "")
    val verbs = Seq(
      ("upsert", () => SnapshotStore.upsert(spark, df(fresh),
        fresh.keys.toSeq.toDF("doc_id"), root, 4): Unit,
        base ++ fresh, upsertPoints),
      ("deleteWhere",
        () => SnapshotStore.deleteWhere(spark, root, "doc_id", 10L, 14L): Unit,
        base.filterNot(e => e._1 >= 10L && e._1 <= 14L),
        upsertPoints.drop(2)))
    val saved = SnapshotStore.entryThreshold
    // 4 upserted ids past the threshold: the delete entry is a file
    SnapshotStore.entryThreshold = 2
    try for ((verb, call, after, points) <- verbs;
        (point, orphan) <- points) {
      cleanup(root)
      SnapshotStore.commit(df(base), root, buckets = 4)
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      SnapshotStore.FaultInjection.arm { p =>
        seen += p
        if (p == point) throw new RuntimeException(s"injected crash at $p")
      }
      try intercept[RuntimeException](call())
      finally SnapshotStore.FaultInjection.disarm()
      assert(seen.last === point, s"$verb never reached $point: $seen")
      if (verb == "deleteWhere")
        assert(!seen.contains("data-dir-written") &&
          !seen.contains("delete-file-written"),
          s"deleteWhere wrote a data or delete file: $seen")
      // the store reads as either the old version or the new one
      val published = orphan.isEmpty
      assert(SnapshotStore.currentVersion(spark, root) ===
        Some(if (published) 2L else 1L), s"$verb at $point")
      assert(state() === (if (published) after else base),
        s"$verb at $point: torn state")
      if (!published) {
        call() // the retry publishes version 2 from a fresh attempt
        assert(state() === after, s"$verb retry after $point")
        val reaped = SnapshotStore.vacuum(spark, root, keepVersions = 1)
        assert(reaped.exists(_.startsWith(orphan)),
          s"vacuum left $verb's $orphan orphan: ${reaped.mkString(", ")}")
      }
      SnapshotStore.vacuum(spark, root, keepVersions = 1)
      assert(state() === after, s"$verb at $point: vacuum took a live file")
    } finally SnapshotStore.entryThreshold = saved
  }

  test("merge-on-read delete set: versioned entries, null semantics, time " +
      "travel, rollback, optimize folds, clone rewrites, history counts") {
    import spark.implicits._
    val root = "target/snap-mor"
    cleanup(root)
    def state(v: Long = -1L): Set[(Long, Option[Long])] =
      SnapshotStore.read(spark, root, v).select("doc_id", "tag")
        .as[(Long, Option[Long])].collect().toSet
    def deletes(): Map[Long, (Long, Long)] = SnapshotStore.history(spark, root)
      .select("version", "n_deletes", "n_delete_files")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val v1Rows = (1L to 12L).map(i => (i, if (i % 4 == 0) None else Some(i)))
    SnapshotStore.commit(v1Rows.toDF("doc_id", "tag"), root, buckets = 4)
    // v2 replaces 2 and 3 and adds 20; v3 deletes tag in [5, 7] (a NULL
    // tag is kept); v4 deletes tag = 9; v5 deletes doc 20 by id
    SnapshotStore.upsert(spark, Seq((2L, Some(50L)), (3L, None),
      (20L, Some(6L))).toDF("doc_id", "tag"), Seq(2L).toDF("doc_id"), root, 4)
    SnapshotStore.deleteWhere(spark, root, "tag", 5L, 7L)
    SnapshotStore.deletePoint(spark, root, "tag", 9L)
    SnapshotStore.upsert(spark, Seq.empty[(Long, Option[Long])]
      .toDF("doc_id", "tag"), Seq(20L).toDF("doc_id"), root, 4)
    val v2 = v1Rows.toSet -- Set((2L, Some(2L)), (3L, Some(3L))) ++
      Set((2L, Some(50L)), (3L, None), (20L, Some(6L)))
    // the range deletes v1's 5, 6, 7 and v2's 20 (tag 6), not the NULLs
    val v3 = v2.filterNot(r => r._2.exists(t => t >= 5L && t <= 7L))
    val v4 = v3.filterNot(_._2.contains(9L))
    val v5 = v4.filterNot(_._1 == 20L)
    Seq(1L -> v1Rows.toSet, 2L -> v2, 3L -> v3, 4L -> v4, 5L -> v5)
      .foreach { case (v, want) => assert(state(v) === want, s"v$v") }
    // keyed writes added no stored file beyond the fresh rows'
    val v1Files = SnapshotStore.manifestEntries(spark, root, 1L).toSet
    assert(v1Files.subsetOf(
      SnapshotStore.manifestEntries(spark, root, 5L).toSet))
    assert(SnapshotStore.manifestEntries(spark, root, 4L) ===
      SnapshotStore.manifestEntries(spark, root, 2L))
    assert(deletes().view.mapValues(_._1).toMap ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // a clone rewrites the filtered files and starts with no entry
    val dst = "target/snap-mor-clone"
    cleanup(dst)
    SnapshotStore.cloneTo(spark, root, dst)
    assert(SnapshotStore.read(spark, dst).select("doc_id", "tag")
      .as[(Long, Option[Long])].collect().toSet === v5)
    assert(SnapshotStore.history(spark, dst).select("n_deletes")
      .as[Long].collect().toSeq === Seq(0L))
    // rollback restores the target's delete set with its files
    assert(SnapshotStore.rollback(spark, root, 3L) === 6L)
    assert(state() === v3 && deletes()(6L) === ((2L, 0L)))
    // optimize rewrites every file, so the entries fold and drop
    SnapshotStore.optimize(spark, root)
    assert(state() === v3 && deletes()(7L) === ((0L, 0L)))
    // a range on a column older files lack matches only newer rows
    SnapshotStore.upsert(spark, Seq((30L, Some(1L), 5L), (31L, Some(1L), 50L))
      .toDF("doc_id", "tag", "extra"), Seq(30L).toDF("doc_id"), root, 4)
    SnapshotStore.deleteWhere(spark, root, "extra", 0L, 10L)
    assert(state() === v3 + ((31L, Some(1L))))
  }

  // --- non-additive schema evolution ----------------------------------

  test("commit that drops a column raises a named error; opt-in rewrites") {
    val root = "target/snap-schema-drop"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    val dropped = index(docs).drop("title")
    val ex = intercept[graft.operators.SnapshotSchemaException] {
      SnapshotStore.commit(dropped, root, buckets = 4)
    }
    assert(ex.getMessage.contains("'title'"),
      s"error must name the dropped column: ${ex.getMessage}")
    assert(SnapshotStore.currentVersion(spark, root) === Some(1L))
    // an INTENTIONAL rewrite is the documented escape hatch
    val v = SnapshotStore.commit(dropped, root, buckets = 4,
      allowSchemaChange = true)
    assert(v === 2L)
    assert(!SnapshotStore.read(spark, root).columns.contains("title"))
  }

  test("retyping a column raises a named error in commit AND upsert") {
    val root = "target/snap-schema-retype"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    val retypedFull = index(docs)
      .withColumn("chunk_idx", col("chunk_idx").cast("string"))
    val exCommit = intercept[graft.operators.SnapshotSchemaException] {
      SnapshotStore.commit(retypedFull, root, buckets = 4)
    }
    assert(exCommit.getMessage.contains("'chunk_idx'") &&
      exCommit.getMessage.contains("int") &&
      exCommit.getMessage.contains("string"), exCommit.getMessage)
    val doc3 = docs.filter(col("doc_id") === 3)
    val exUpsert = intercept[graft.operators.SnapshotSchemaException] {
      SnapshotStore.upsert(spark,
        index(doc3).withColumn("chunk_idx", col("chunk_idx").cast("string")),
        doc3.select("doc_id"), root, 4)
    }
    assert(exUpsert.getMessage.contains("'chunk_idx'"), exUpsert.getMessage)
    // the failed writes left the published store fully intact
    assert(SnapshotStore.currentVersion(spark, root) === Some(1L))
    assert(rows(SnapshotStore.read(spark, root)) === rows(index(docs)))
  }

  test("declared schema survives upsert/optimize; reads validate against it") {
    val root = "target/snap-schema-carry"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    val doc2 = docs.filter(col("doc_id") === 2)
    // an ADD rides through and extends the declaration
    SnapshotStore.upsert(spark, index(doc2).withColumn("quality", lit(0.9)),
      doc2.select("doc_id"), root, 4)
    SnapshotStore.optimize(spark, root)
    val out = SnapshotStore.read(spark, root)
    assert(out.columns.contains("quality"))
    // retype still refused AFTER the evolution + compaction
    intercept[graft.operators.SnapshotSchemaException] {
      SnapshotStore.upsert(spark,
        index(doc2).withColumn("quality", lit("high")),
        doc2.select("doc_id"), root, 4)
    }
  }

  test("a dir storing a declared column under another type fails the " +
      "one-scan read by the column's name") {
    import spark.implicits._
    val root = "target/snap-schema-read-retype"
    val other = "target/snap-schema-read-retype-src"
    cleanup(root)
    cleanup(other)
    SnapshotStore.commit(Seq((1L, 5L)).toDF("doc_id", "tag"), root,
      buckets = 1)
    SnapshotStore.upsert(spark, Seq((2L, 6L)).toDF("doc_id", "tag"),
      Seq(2L).toDF("doc_id"), root, 1)
    SnapshotStore.commit(Seq((2L, "six")).toDF("doc_id", "tag"), other,
      buckets = 1)
    // the upsert's dir gets a file that stores `tag` as string
    val target = (SnapshotStore.manifestEntries(spark, root, 2L).toSet --
      SnapshotStore.manifestEntries(spark, root, 1L)).head._2
    val src = SnapshotStore.manifestEntries(spark, other, 1L).head._2
    val dst = java.nio.file.Paths.get(s"$root/$target")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$other/$src"), dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.deleteIfExists(
      dst.resolveSibling(s".${dst.getFileName}.crc"))
    // vacuum drops the store's cached dir facts
    SnapshotStore.vacuum(spark, root, keepVersions = 10)
    val ex = intercept[graft.operators.SnapshotSchemaException] {
      SnapshotStore.read(spark, root).collect()
    }
    assert(ex.getMessage.contains("'tag'") &&
      ex.getMessage.contains("bigint") && ex.getMessage.contains("string"),
      ex.getMessage)
    // the version before it reads as it did
    assert(SnapshotStore.read(spark, root, 1L).select("doc_id", "tag")
      .as[(Long, Long)].collect().toSeq === Seq((1L, 5L)))
  }

  test("tags pin versions across vacuum; readTag time-travels by name") {
    val root = "target/snap-tags"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    val before = rows(index(docs))
    SnapshotStore.commit(index(docs), root, buckets = 4)
    assert(SnapshotStore.tag(spark, root, "release-1") === 1L)
    // two more versions push v1 out of the keepVersions=1 window
    val doc2 = docs.filter(col("doc_id") === 2)
    SnapshotStore.upsert(spark, index(doc2), doc2.select("doc_id"), root, 4)
    SnapshotStore.optimize(spark, root)
    SnapshotStore.vacuum(spark, root, keepVersions = 1)
    // the tagged snapshot survived, bit-exact; untagged v2 is gone
    assert(rows(SnapshotStore.readTag(spark, root, "release-1")) === before)
    assert(SnapshotStore.listTags(spark, root) === Seq(("release-1", 1L)))
    intercept[Exception] { SnapshotStore.read(spark, root, version = 2L) }
    // dropping the tag makes v1 collectable again
    assert(SnapshotStore.deleteTag(spark, root, "release-1"))
    SnapshotStore.vacuum(spark, root, keepVersions = 1)
    intercept[Exception] { SnapshotStore.read(spark, root, version = 1L) }
    assert(SnapshotStore.tagVersion(spark, root, "release-1").isEmpty)
  }

  test("re-pointing a tag needs force; bad tag names are named errors") {
    val root = "target/snap-tag-force"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    SnapshotStore.commit(index(docs), root, buckets = 4)
    val doc2 = docs.filter(col("doc_id") === 2)
    SnapshotStore.upsert(spark, index(doc2), doc2.select("doc_id"), root, 4)
    SnapshotStore.tag(spark, root, "eval", version = 1L)
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.tag(spark, root, "eval", version = 2L)
    }
    assert(e.getMessage.contains("force"))
    assert(SnapshotStore.tagVersion(spark, root, "eval") === Some(1L))
    assert(SnapshotStore.tag(spark, root, "eval", version = 2L,
      force = true) === 2L)
    assert(SnapshotStore.tagVersion(spark, root, "eval") === Some(2L))
    // traversal / separator names never reach the filesystem
    Seq("../evil", "a/b", "", ".hidden", "x" * 65).foreach { bad =>
      intercept[IllegalArgumentException] {
        SnapshotStore.tag(spark, root, bad)
      }
    }
    // tagging a never-published version is a named error
    intercept[IllegalArgumentException] {
      SnapshotStore.tag(spark, root, "future", version = 99L)
    }
  }

  test("rollback publishes a new head equal to the old version") {
    val root = "target/snap-rollback"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    val v1Rows = rows(index(docs))
    SnapshotStore.commit(index(docs), root, buckets = 4)
    // a "bad ingest": doc 2 re-ingested with amended text
    val bad = docs.filter(col("doc_id") === 2)
      .withColumn("text", concat(col("text"), lit(" CORRUPTED")))
    SnapshotStore.upsert(spark, index(bad), bad.select("doc_id"), root, 4)
    assert(rows(SnapshotStore.read(spark, root)) !== v1Rows)
    val v3 = SnapshotStore.rollback(spark, root, toVersion = 1L,
      expectedVersion = Some(2L))
    assert(v3 === 3L)
    // head restored bit-exact; the backed-out version stays readable
    assert(rows(SnapshotStore.read(spark, root)) === v1Rows)
    assert(rows(SnapshotStore.read(spark, root, version = 2L)) !==
      v1Rows)
    // restored head keeps working: vacuum to head-only, then upsert on top
    SnapshotStore.vacuum(spark, root, keepVersions = 1)
    assert(rows(SnapshotStore.read(spark, root)) === v1Rows)
    val doc3 = docs.filter(col("doc_id") === 3)
    SnapshotStore.upsert(spark, index(doc3), doc3.select("doc_id"), root, 4)
    assert(rows(SnapshotStore.read(spark, root)) === v1Rows)
    // stale-base rollback honors the CAS
    intercept[graft.operators.SnapshotConflictException] {
      SnapshotStore.rollback(spark, root, toVersion = 3L,
        expectedVersion = Some(1L))
    }
    // rolling back to a vacuumed version is a named error
    intercept[IllegalArgumentException] {
      SnapshotStore.rollback(spark, root, toVersion = 2L)
    }
  }

  test("foreign meta carries across publishes like a table property, " +
      "but rollback restores the TARGET version's meta exactly — no " +
      "resurrection, and rollback is the removal mechanism") {
    val root = "target/snap-foreignmeta"
    cleanup(root)
    val docs = Tables.documents(spark, sf0001)
    def fooLines(v: Long = -1L): Seq[String] =
      SnapshotStore.storedMetaLines(spark, root, "#foo\t", v)
    // v1: no foreign meta
    SnapshotStore.commit(index(docs), root, buckets = 4)
    assert(fooLines() === Nil)
    // v2: an upsert introduces a #foo group
    val d3 = docs.filter(col("doc_id") === 3)
    SnapshotStore.upsert(spark, index(d3), d3.select("doc_id"), root, 4,
      meta = Seq("#foo\tbar"))
    assert(fooLines() === Seq("#foo\tbar"))
    // v3: a meta-silent verb carries the group (table-property
    // semantics — the VersionedIvfAdcSpec maintenance arm's contract)
    SnapshotStore.upsert(spark, index(d3), d3.select("doc_id"), root, 4)
    assert(fooLines() === Seq("#foo\tbar"))
    // v4: rollback to v1 must NOT resurrect #foo from the head — the
    // restored state is exactly v1's, and this is also the only way to
    // REMOVE a foreign group
    SnapshotStore.rollback(spark, root, toVersion = 1L)
    assert(fooLines() === Nil,
      "rollback carried head-side foreign meta into the restored version")
    // v5: and a subsequent meta-silent publish keeps it removed
    SnapshotStore.upsert(spark, index(d3), d3.select("doc_id"), root, 4)
    assert(fooLines() === Nil)
    // rollback FORWARD to v3 restores the group verbatim
    SnapshotStore.rollback(spark, root, toVersion = 3L)
    assert(fooLines() === Seq("#foo\tbar"))
  }

  test("CHECK constraints: reject-before-write, carry, drop, rollback") {
    import spark.implicits._
    val root = "target/snap-checks"
    cleanup(root)
    def df(xs: (Long, Long)*) = xs.toDF("doc_id", "tag")
    SnapshotStore.commit(df(1L -> 5L, 2L -> 7L), root, buckets = 4)
    // current data must satisfy a new check
    intercept[graft.operators.SnapshotCheckException] {
      SnapshotStore.addCheck(spark, root, "big", "tag > 100")
    }
    val v2 = SnapshotStore.addCheck(spark, root, "nonneg", "tag >= 0")
    assert(v2 === 2L)
    // duplicate name is a named error
    intercept[IllegalArgumentException] {
      SnapshotStore.addCheck(spark, root, "nonneg", "tag >= 1")
    }
    // violating upsert rejects BEFORE writing: version and data unchanged
    intercept[graft.operators.SnapshotCheckException] {
      SnapshotStore.upsert(spark, df(3L -> -1L),
        Seq(3L).toDF("doc_id"), root, 4)
    }
    assert(SnapshotStore.currentVersion(spark, root) === Some(2L))
    // violating full commit rejects too
    intercept[graft.operators.SnapshotCheckException] {
      SnapshotStore.commit(df(1L -> -9L), root, buckets = 4)
    }
    // valid upsert passes and the check SURVIVES optimize
    SnapshotStore.upsert(spark, df(3L -> 9L), Seq(3L).toDF("doc_id"),
      root, 4)
    SnapshotStore.optimize(spark, root)
    assert(SnapshotStore.storedChecks(spark, root,
      SnapshotStore.currentVersion(spark, root).get) ===
      Seq("nonneg" -> "tag >= 0"))
    intercept[graft.operators.SnapshotCheckException] {
      SnapshotStore.upsert(spark, df(4L -> -2L),
        Seq(4L).toDF("doc_id"), root, 4)
    }
    // NULL passes (SQL CHECK): fresh rows omitting a checked column are
    // fine — the written rows null-fill it
    val v5 = SnapshotStore.upsert(spark,
      Seq(5L).toDF("doc_id"), Seq(5L).toDF("doc_id"), root, 4)
    assert(SnapshotStore.read(spark, root)
      .filter(col("doc_id") === 5L).count() === 1L)
    // rollback to BEFORE the check existed restores a check-free head
    SnapshotStore.rollback(spark, root, toVersion = 1L)
    assert(SnapshotStore.storedChecks(spark, root,
      SnapshotStore.currentVersion(spark, root).get).isEmpty)
    SnapshotStore.upsert(spark, df(6L -> -3L), Seq(6L).toDF("doc_id"),
      root, 4) // negative now fine
    // rolling FORWARD to v5 restores v5's metadata — including the
    // original 'nonneg' check
    SnapshotStore.rollback(spark, root, toVersion = v5)
    assert(SnapshotStore.storedChecks(spark, root,
      SnapshotStore.currentVersion(spark, root).get) ===
      Seq("nonneg" -> "tag >= 0"))
    SnapshotStore.addCheck(spark, root, "nonneg2", "tag >= 0")
    intercept[IllegalArgumentException] {
      SnapshotStore.dropCheck(spark, root, "no_such_check")
    }
    SnapshotStore.dropCheck(spark, root, "nonneg2")
    SnapshotStore.dropCheck(spark, root, "nonneg")
    SnapshotStore.upsert(spark, df(7L -> -4L), Seq(7L).toDF("doc_id"),
      root, 4)
    assert(SnapshotStore.read(spark, root)
      .filter(col("tag") < 0L).count() === 1L)
  }

  test("optimize(zorderBy) keeps data identical and writes the Morton order") {
    import spark.implicits._
    val root = "target/snap-zorder"
    cleanup(root)
    val n = 256
    val df = (0 until n).map(i =>
      (i.toLong, (i * 37 % 251).toLong, (i * 91 % 241).toLong, s"s$i"))
      .toDF("doc_id", "x", "y", "s")
    SnapshotStore.commit(df, root, buckets = 2)
    intercept[IllegalArgumentException] {
      SnapshotStore.optimize(spark, root, zorderBy = Seq("nope"))
    }
    // non-numeric clustering column is a named error, not a silent
    // insertion-order layout
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.optimize(spark, root, zorderBy = Seq("x", "s"))
    }
    assert(e.getMessage.contains("'s'") &&
      e.getMessage.contains("non-clusterable"))
    SnapshotStore.optimize(spark, root, zorderBy = Seq("x", "y"))
    val got = SnapshotStore.read(spark, root)
    assert(got.select("doc_id", "x", "y", "s")
      .as[(Long, Long, Long, String)].collect().toSet ===
      df.as[(Long, Long, Long, String)].collect().toSet)
    // physical row order of each compacted file follows the Morton curve
    val (loX, hiX, loY, hiY) = (0.0, 250.0, 0.0, 240.0)
    def bkt(v: Long, lo: Double, hi: Double): Long =
      math.min(255L, math.max(0L,
        math.floor((v - lo) / (hi - lo + 1e-9) * 256).toLong))
    def zv(x: Long, y: Long): Long =
      (0 until 8).map { i =>
        (((bkt(x, loX, hiX) >> i) & 1L) << (2 * i)) |
          (((bkt(y, loY, hiY) >> i) & 1L) << (2 * i + 1))
      }.reduce(_ | _)
    val files = got.select(org.apache.spark.sql.functions
      .input_file_name().as("f")).distinct().as[String].collect()
    assert(files.length === 2) // one compacted file per bucket
    files.foreach { f =>
      val seq = spark.read.parquet(f).select("x", "y")
        .as[(Long, Long)].collect().map { case (x, y) => zv(x, y) }
      assert(seq.zip(seq.tail).forall { case (a, b) => a <= b },
        s"file $f is not Morton-ordered")
    }
  }

  test("cloneTo replicates the head with metadata; clone is independent") {
    import spark.implicits._
    val src = "target/snap-clone-src"
    val dst = "target/snap-clone-dst"
    cleanup(src); cleanup(dst)
    def df(xs: (Long, Long)*) = xs.toDF("doc_id", "tag")
    SnapshotStore.commitBatch(df(1L -> 1L, 2L -> 2L), src, 4,
      "dr_stream", batchId = 0L)
    SnapshotStore.upsert(spark, df(3L -> 3L), Seq(3L).toDF("doc_id"),
      src, 4)
    SnapshotStore.addCheck(spark, src, "nonneg", "tag >= 0")
    val want = SnapshotStore.read(spark, src)
      .select("doc_id", "tag").as[(Long, Long)].collect().toSet

    assert(SnapshotStore.cloneTo(spark, src, dst) === 1L)
    assert(SnapshotStore.read(spark, dst)
      .select("doc_id", "tag").as[(Long, Long)].collect().toSet === want)
    // metadata carried: schema checks, bucket modulus, txn watermark
    assert(SnapshotStore.storedChecks(spark, dst, 1L) ===
      Seq("nonneg" -> "tag >= 0"))
    assert(SnapshotStore.lastCommittedBatch(spark, dst, "dr_stream")
      === Some(0L))
    // check ENFORCED on the clone; modulus carried (wrong one raises)
    intercept[graft.operators.SnapshotCheckException] {
      SnapshotStore.upsert(spark, df(9L -> -1L), Seq(9L).toDF("doc_id"),
        dst, 4)
    }
    intercept[IllegalArgumentException] {
      SnapshotStore.upsert(spark, df(9L -> 1L), Seq(9L).toDF("doc_id"),
        dst, 8)
    }
    assert(SnapshotStore.history(spark, dst)
      .select("op").as[String].collect().toSeq === Seq("clone"))
    // deep clone: DESTROY the source entirely — the clone still reads,
    // and keeps working through upserts up PAST the source's version
    // count (relpath rewrite: no collision with the copied dirs)
    cleanup(src)
    assert(SnapshotStore.read(spark, dst)
      .select("doc_id", "tag").as[(Long, Long)].collect().toSet === want)
    for (i <- 10L to 14L)
      SnapshotStore.upsert(spark, df(i -> i), Seq(i).toDF("doc_id"),
        dst, 4)
    assert(SnapshotStore.read(spark, dst).count() === want.size + 5L)
    // a clone may only initialize a fresh store
    intercept[IllegalArgumentException] {
      SnapshotStore.cloneTo(spark, dst, dst)
    }
    // point-in-time clone: version 1 of the clone (pre-upserts) into a
    // third store reads exactly that historical state
    val dst2 = "target/snap-clone-dst2"
    cleanup(dst2)
    SnapshotStore.cloneTo(spark, dst, dst2, version = 1L)
    assert(SnapshotStore.read(spark, dst2)
      .select("doc_id", "tag").as[(Long, Long)].collect().toSet === want)
    intercept[IllegalArgumentException] {
      SnapshotStore.cloneTo(spark, dst, "target/snap-clone-dst3",
        version = 99L)
    }
  }

  test("history reports per-version op, file count, and check count") {
    import spark.implicits._
    val root = "target/snap-history"
    cleanup(root)
    def df(xs: (Long, Long)*) = xs.toDF("doc_id", "tag")
    SnapshotStore.commit(df(1L -> 1L, 2L -> 2L), root, buckets = 4)
    SnapshotStore.upsert(spark, df(3L -> 3L), Seq(3L).toDF("doc_id"),
      root, 4)
    SnapshotStore.optimize(spark, root)
    SnapshotStore.addCheck(spark, root, "nonneg", "tag >= 0")
    SnapshotStore.rollback(spark, root, toVersion = 2L)
    val h = SnapshotStore.history(spark, root)
      .select("version", "op", "n_checks")
      .as[(Long, String, Long)].collect().toSeq
    assert(h === Seq(
      (5L, "rollback", 0L),   // restored v2's (check-free) metadata
      (4L, "add_check", 1L),
      (3L, "optimize", 0L),
      (2L, "upsert", 0L),
      (1L, "commit", 0L)))
    // history reads manifests only; file counts are positive and the
    // optimize version compacts to ≤ bucket-count files
    val nf = SnapshotStore.history(spark, root)
      .filter(col("version") === 3L)
      .select("n_files").as[Long].head()
    assert(nf >= 1L && nf <= 4L)
    // the upsert's delete entry: optimize folds it, the rollback to v2
    // restores it with v2's files
    assert(SnapshotStore.history(spark, root)
      .select("n_deletes", "n_delete_files").as[(Long, Long)].collect()
      .toSeq === Seq((1L, 0L), (0L, 0L), (0L, 0L), (1L, 0L), (0L, 0L)))
  }

  test("vacuum's tmp-manifest sweep never touches versions AT or ABOVE " +
      "in-flight: a writer that published during a slow vacuum keeps " +
      "the tmp of its NEXT publish") {
    val root = "target/snap-vacuum-tmp"
    cleanup(root)
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "t")
    SnapshotStore.commit(df, root, buckets = 2)
    SnapshotStore.upsert(spark, df, df.select("doc_id"), root, buckets = 2)
    // head = 2, so vacuum's in-flight = 3. Simulate: a crashed publish
    // of v2 (below in-flight → garbage), this vacuum's possibly-live
    // v3, and a racing writer that published v3 during the vacuum and
    // is already staging v4 — its tmp must survive or its publish CAS
    // turns into NoSuchFileException instead of a retryable conflict.
    val vdir = new java.io.File(root, "_versions")
    val stale = new java.io.File(vdir, ".tmp-v00002-deadbeef")
    val live = new java.io.File(vdir, ".tmp-v00003-cafebabe")
    val next = new java.io.File(vdir, ".tmp-v00004-12345678")
    Seq(stale, live, next).foreach { f =>
      val w = new java.io.FileWriter(f); w.write("x\n"); w.close()
    }
    SnapshotStore.vacuum(spark, root, keepVersions = 2)
    assert(!stale.exists(), "crashed below-in-flight tmp not swept")
    assert(live.exists(), "in-flight version's tmp was deleted")
    assert(next.exists(),
      "racing writer's above-in-flight tmp was deleted — its publish " +
        "would crash instead of retrying")
  }

  test("optimizeFragmented: metadata-only probe, compaction scoped to " +
      "the fragmented buckets, everything else carried verbatim") {
    val sp = spark
    import sp.implicits._
    val root = "target/snap-fragpolicy"
    cleanup(root)
    // absent store → None (a stream's first batch has nothing to probe)
    assert(SnapshotStore.optimizeFragmented(spark, root, 2).isEmpty)

    def df(xs: (Long, Long)*) = xs.toDF("doc_id", "tag")
    SnapshotStore.commit(df((1L to 8L).map(i => i -> i): _*), root,
      buckets = 4)
    // normalize to the compacted layout (a commit's task parallelism
    // can land several files in one bucket); from one file per bucket,
    // any cap ≥ 1 must be a no-op — and crucially NO new version (a
    // no-op that published would grow history once per micro-batch)
    SnapshotStore.optimize(spark, root)
    assert(SnapshotStore.optimizeFragmented(spark, root, 2).isEmpty)
    assert(SnapshotStore.currentVersion(spark, root) === Some(2L))

    // fragment ONE bucket: single-NEW-doc upserts are pure delta files
    // (no existing file contains the key, so nothing is rewritten) —
    // the micro-batch append pattern. Bucket placement is a pure
    // function of (doc_id, bucket count), so probe it on a throwaway
    // root and pick three fresh ids that land together.
    val probe = "target/snap-fragpolicy-probe"
    cleanup(probe)
    SnapshotStore.commit(df((101L to 140L).map(i => i -> i): _*), probe,
      buckets = 4)
    val byBucket = SnapshotStore.read(spark, probe)
      .select("doc_id", "bucket").as[(Long, Long)].collect()
      .groupBy(_._2)
    val (hotBucket, hotIds0) = byBucket.maxBy(_._2.length)
    val hotIds = hotIds0.map(_._1).sorted.take(3).toSeq
    assert(hotIds.size === 3, s"probe bucket too small: $byBucket")
    hotIds.foreach { id =>
      SnapshotStore.upsert(spark, df(id -> id),
        Seq(id).toDF("doc_id"), root, buckets = 4)
    }
    val before = SnapshotStore.manifestEntries(spark, root, 5L)
    val perBucket = before.groupMapReduce(_._1)(_ => 1)(_ + _)
    assert(perBucket(hotBucket) > 2,
      s"fixture failed to fragment bucket $hotBucket: $perBucket")
    val untouched = before.filterNot(_._1 == hotBucket).toSet
    val want = SnapshotStore.read(spark, root).collect()
      .map(_.toSeq).toSeq.sortBy(_.toString)

    val v = SnapshotStore.optimizeFragmented(spark, root, 2)
    assert(v === Some(6L))
    val after = SnapshotStore.manifestEntries(spark, root, 6L)
    val perBucketAfter = after.groupMapReduce(_._1)(_ => 1)(_ + _)
    assert(perBucketAfter(hotBucket) === 1,
      s"hot bucket not compacted: $perBucketAfter")
    // scoped carry: buckets within budget keep their EXACT entries —
    // the rewrite cost is O(fragmented data), never O(table)
    assert(after.filterNot(_._1 == hotBucket).toSet === untouched,
      "an in-budget bucket's files were rewritten by a scoped compaction")
    assert(SnapshotStore.history(spark, root)
      .filter(col("version") === 6L).select("op").as[String].head()
      === "optimize_scoped")
    // row-identical, and the pre-compaction version still time-travels
    assert(SnapshotStore.read(spark, root).collect()
      .map(_.toSeq).toSeq.sortBy(_.toString) === want)
    assert(SnapshotStore.read(spark, root, 5L).collect()
      .map(_.toSeq).toSeq.sortBy(_.toString) === want)
    // converged: the next probe is a no-op — the policy is stable
    assert(SnapshotStore.optimizeFragmented(spark, root, 2).isEmpty)
    assert(SnapshotStore.currentVersion(spark, root) === Some(6L))
  }
}
