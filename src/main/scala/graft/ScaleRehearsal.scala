package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Embedder
import graft.operators._

/** 10× scale rehearsal (round-6 verdict item 1): run the flagship
  * dedup / clustering / graph / ANN pipelines on a synthesized corpus
  * and graph LARGE enough to cross the adaptive tier gates at their REAL
  * defaults — `Triangles.BroadcastEdgeLimit` and
  * `DupClusters.DriverEdgeLimit` (both 2²² ≈ 4.19M edges) — converting
  * the "the plan reads scale-safe" claims into measurements. No DuckDB
  * oracle at this size; every check is an INVARIANCE the synthesis makes
  * exact:
  *
  *  - planted duplicates (1% of docs duplicate their predecessor) must
  *    all be recovered by MinHash-LSH and n-gram-Jaccard at jacc = 1;
  *  - chain components of known span must label to their known minimum
  *    through the DISTRIBUTED DupClusters tier (edge count above the
  *    driver gate), and the driver tier (gate raised) must agree on the
  *    identical graph — tier-pair agreement at real volume;
  *  - a disjoint-clique graph has closed-form triangle/wedge counts
  *    (K·C(c,3), K·c·C(c−1,2)) checked above the broadcast gate (shuffle
  *    tier) and across both tiers just below it;
  *  - a symmetric ring is an exact integer-PageRank fixpoint (every rank
  *    1e6) and the convergence probe must exit in ≤ 2 rounds; ring BFS
  *    hop histograms are closed-form;
  *  - a full-probe stored-IVF search is exhaustive, so it must equal
  *    brute-force cosine top-k exactly; the stored-index upsert loop
  *    must replace, not duplicate;
  *  - t23's curation pipeline must emit one verdict row per corpus doc.
  *
  * Modes: `full` (the rehearsal above; ~10× the sf0.1 fixture corpus,
  * graph sizes crossing the 4.19M-edge gates) and `pressure` (round-6
  * verdict item 7: a deliberately starved execution-memory budget —
  * `spark.memory.fraction = 0.2` under a small forked heap — over the
  * shuffle-heavy subset, with a listener recording spill volume, to
  * prove the operators degrade into spills, not OOM).
  *
  * Usage: `runMain graft.ScaleRehearsal full [outJson]`
  *        `java -Xmx3g … graft.ScaleRehearsal pressure`
  */
object ScaleRehearsal {

  /** Deterministic pseudo-corpus in the documents.parquet schema:
    * `words` hash-drawn tokens per doc from a 5000-word vocabulary; docs
    * with id ≡ 1 (mod 100) are EXACT duplicates of their predecessor —
    * the planted ground truth for the dedup recovery checks. */
  def synthDocs(spark: SparkSession, n: Long, words: Int = 60): DataFrame =
    spark.range(n).select(col("id").as("doc_id"))
      .withColumn("seed",
        when(col("doc_id") % 100 === 1, col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(1), lit(words)),
          i => concat(lit("w"), pmod(
            xxhash64(concat_ws("#", col("seed"), i)), lit(5000))))))
      .withColumn("lang", lit("en"))
      // the fixture's source domain (src0..src19) so mixture-weighted
      // queries (t09/t23) resolve their weights against the synth corpus
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("seed")

  /** Deterministic embeddings (vec_id, embedding float[dim], label). */
  def synthEmbeddings(spark: SparkSession, n: Long,
      dim: Int = 64): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      Embedder.embed(concat(lit("v"), col("id")), dim)
        .cast("array<float>").as("embedding"),
      pmod(col("id"), lit(10)).cast("int").as("label"))

  /** K disjoint cliques of `c` nodes as unordered pair rows — closed
    * form: K·C(c,2) edges, K·C(c,3) triangles, K·c·C(c−1,2) wedges. */
  def cliqueGraph(spark: SparkSession, k: Long, c: Int): DataFrame = {
    import spark.implicits._
    val pairs = (for { i <- 0 until c; j <- i + 1 until c } yield (i, j))
      .toDF("i", "j")
    spark.range(k).crossJoin(broadcast(pairs))
      .select((col("id") * c + col("i")).as("pa"),
        (col("id") * c + col("j")).as("pb"))
  }

  private def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    val s = (System.nanoTime() - t0) / 1e9
    println(f"REHEARSAL|$name|seconds=$s%.1f")
    (r, s)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("full")
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER",
        if (mode == "pressure") "local[8]" else "local[32]"))
      .config("spark.sql.shuffle.partitions",
        if (mode == "pressure") "8" else "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.memory.fraction",
        if (mode == "pressure") "0.2" else "0.6")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (mode == "pressure") pressure(spark)
      else if (mode == "manifest") manifest(spark, args)
      else if (mode == "entries") entriesMode(spark, args)
      else if (mode == "ivf") ivfMode(spark, args)
      else if (mode == "frag") fragMode(spark, args)
      else full(spark, args)
    } finally spark.stop()
  }

  /** STREAMED-FRAGMENTATION rehearsal: the micro-batch writer regime —
    * hundreds of tiny keyed upserts (one fresh document per batch, the
    * [[graft.streaming.IngestStream]] sink shape) — run twice, without
    * and with the [[SnapshotStore.optimizeFragmented]] policy armed, on
    * the SAME batch sequence. Measures what the policy is for: the
    * unmanaged store's live file count grows one file per batch forever
    * (at a minute cadence that is ~1.4k files/day/bucket and reads
    * degrade linearly in open()+footer cost), while the managed store's
    * count stays bounded at cap·buckets regardless of stream length,
    * for a maintenance spend of scoped compactions that each rewrite
    * O(one bucket), never the table. Checks: both stores read
    * row-identical, the managed file count honors the bound, and the
    * recorded seconds (full read at peak fragmentation vs compacted,
    * total policy overhead, vacuum of the compaction garbage) land in
    * the JSON artifact. Usage: `runMain graft.ScaleRehearsal frag
    * [batches] [outJson]`. */
  private def fragMode(spark: SparkSession, args: Array[String]): Unit = {
    import spark.implicits._
    val report = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val batches = args.lift(1).map(_.toInt).getOrElse(200)
    val buckets = 8
    val cap = 4
    // one fresh document's chunk rows per micro-batch (5 rows, ids
    // disjoint per batch so every publish is a pure delta file)
    def batchRows(b: Int): DataFrame =
      spark.range(5).select((lit((b.toLong + 1L) * 100L) + col("id"))
        .as("doc_id"), lit(b.toLong).as("batch"),
        concat(lit("payload_"), col("id")).as("k"))
    def liveFiles(root: String): Int =
      SnapshotStore.manifestEntries(spark, root,
        SnapshotStore.currentVersion(spark, root).get).size

    val unmanaged = Tables.freshRoot("rehearsal-frag-unmanaged")
    val (_, tUn) = timed("frag_unmanaged_ingest") {
      (0 until batches).foreach { b =>
        SnapshotStore.commitBatch(batchRows(b), unmanaged, buckets,
          "frag", b.toLong): Unit
      }
    }
    report += "frag_batches" -> batches.toDouble
    report += "frag_unmanaged_ingest_s" -> tUn
    report += "frag_unmanaged_files" -> liveFiles(unmanaged).toDouble
    val (nUn, tReadUn) = timed("frag_unmanaged_read") {
      SnapshotStore.read(spark, unmanaged).count()
    }
    report += "frag_unmanaged_read_s" -> tReadUn

    val managed = Tables.freshRoot("rehearsal-frag-managed")
    var compactions = 0
    val (_, tMan) = timed("frag_managed_ingest") {
      (0 until batches).foreach { b =>
        SnapshotStore.commitBatch(batchRows(b), managed, buckets,
          "frag", b.toLong): Unit
        if (SnapshotStore.optimizeFragmented(spark, managed, cap)
            .nonEmpty) compactions += 1
      }
    }
    report += "frag_managed_ingest_s" -> tMan
    report += "frag_managed_compactions" -> compactions.toDouble
    val managedFiles = liveFiles(managed)
    report += "frag_managed_files" -> managedFiles.toDouble
    require(managedFiles <= cap * buckets,
      s"policy failed to bound the live file count: $managedFiles > " +
        s"${cap * buckets}")
    val (nMan, tReadMan) = timed("frag_managed_read") {
      SnapshotStore.read(spark, managed).count()
    }
    report += "frag_managed_read_s" -> tReadMan
    require(nUn == nMan && nUn == batches.toLong * 5,
      s"managed/unmanaged row divergence: $nUn vs $nMan")
    // compaction garbage is ordinary vacuum food; the managed store
    // must sweep clean and still read exactly
    val (_, tVac) = timed("frag_managed_vacuum") {
      SnapshotStore.vacuum(spark, managed, keepVersions = 2)
    }
    report += "frag_managed_vacuum_s" -> tVac
    require(SnapshotStore.read(spark, managed).count() == nMan,
      "managed store diverged after vacuum")

    val json = report.map { case (k, vv) =>
      String.format(java.util.Locale.ROOT, "\"%s\": %.3f", k,
        Double.box(vv))
    }.mkString("{", ", ", "}")
    val out = args.lift(2)
      .getOrElse("target/scale_rehearsal_frag.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"FRAG_REHEARSAL_OK $json")
  }

  /** FILE-COUNT scale rehearsal (round-8 verdict item 1): a store with
    * ~10⁵ one-row files — the regime where inline manifest metadata
    * would hold GBs of base64 bitsets in driver memory — exercising the
    * columnar sidecar end to end with MEASURED costs: the 100k-file
    * OPTIMIZE + metadata backfill, full read, pruned range read, bloom
    * point read, a small upsert (publish must stay delta-bounded with
    * 100k carried files), and vacuum. Success = sidecar engaged (text
    * manifest stays entry-lines-only) + every operation exact + the
    * recorded seconds. */
  private def manifest(spark: SparkSession, args: Array[String]): Unit = {
    import spark.implicits._
    val report = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val rows = args.lift(1).map(_.toLong).getOrElse(100000L)
    val root = Tables.freshRoot("rehearsal-manifest")
    val df = spark.range(rows).select(col("id").as("doc_id"),
      col("id").as("n"), concat(lit("key_"), col("id")).as("k"))
    val (_, tCommit) = timed("manifest_commit") {
      // doc_id stats + bloom are what the KEY-PRUNED upsert/readDocs
      // paths probe (round-9: upsert cost ∝ admitting files)
      SnapshotStore.commit(df, root, buckets = 32,
        meta = Seq(SnapshotStore.statsDeclaration(Seq("n", "doc_id")),
          SnapshotStore.bloomDeclaration(Seq("k", "doc_id"), bits = 8192)))
    }
    report += "manifest_commit_s" -> tCommit
    // one row per file: the pathological file-count layout
    val (_, tOpt) = timed("manifest_optimize_1row_files") {
      SnapshotStore.optimize(spark, root, sortByDocId = false,
        zorderBy = Seq("n"), maxRecordsPerFile = 1L)
    }
    report += "manifest_optimize_s" -> tOpt
    val v = SnapshotStore.currentVersion(spark, root).get
    val manifestPath = new java.io.File(root,
      f"_versions/v$v%05d.manifest")
    val manifestMb = manifestPath.length() / 1e6
    val text = new String(
      java.nio.file.Files.readAllBytes(manifestPath.toPath), "UTF-8")
    require(text.contains("#metafile\t") && !text.contains("#bloom\t"),
      "manifest rehearsal: sidecar did not engage at file-count scale")
    // round-9: the ENTRY LIST moved out of the text manifest too — at
    // 10^5 files the commit root must be a pointer + deltas, never the
    // 10 MB line list round 8 measured
    require(text.contains("#entryfile\t"),
      "manifest rehearsal: entryfile did not engage at file-count scale")
    val nFiles = SnapshotStore.manifestEntries(spark, root, v).size
    require(nFiles >= rows * 9 / 10,
      s"expected ~$rows one-row files, got $nFiles")
    report += "manifest_files" -> nFiles.toDouble
    report += "manifest_text_mb" -> manifestMb
    def dirMb(f: java.io.File): Double = {
      def size(g: java.io.File): Long =
        if (g.isDirectory) g.listFiles().map(size).sum else g.length()
      if (f.exists()) size(f) / 1e6 else 0.0
    }
    val md = new java.io.File(root, "meta")
    val entriesMb =
      if (!md.exists()) 0.0
      else md.listFiles().filter(_.getName.startsWith("entries-"))
        .map(dirMb).sum
    report += "manifest_sidecar_mb" -> (dirMb(md) - entriesMb)
    report += "manifest_entryfile_mb" -> entriesMb
    val (cntAll, tRead) = timed("manifest_read_full") {
      SnapshotStore.read(spark, root).count()
    }
    require(cntAll == rows, s"full read lost rows: $cntAll of $rows")
    report += "manifest_read_full_s" -> tRead

    val (prune, tPrune) = timed("manifest_prune_range") {
      SnapshotStore.skippingReport(spark, root, "n", 1000L, 1200L)
    }
    require(prune._1 < prune._2 / 50,
      s"range pruning too weak at 1-row grain: ${prune._1}/${prune._2}")
    report += "manifest_prune_s" -> tPrune
    report += "manifest_prune_kept" -> prune._1.toDouble
    val (cntRange, tRange) = timed("manifest_readWhere") {
      SnapshotStore.readWhere(spark, root, "n", 1000L, 1200L).count()
    }
    require(cntRange == 201L, s"range read wrong: $cntRange")
    report += "manifest_readwhere_s" -> tRange

    val (point, tPointRep) = timed("manifest_bloom_report") {
      SnapshotStore.bloomReport(spark, root, "k", s"key_${rows / 2}")
    }
    require(point._1 < point._2 / 50,
      s"bloom pruning too weak: ${point._1}/${point._2}")
    report += "manifest_bloom_report_s" -> tPointRep
    report += "manifest_bloom_kept" -> point._1.toDouble
    val (hit, tPoint) = timed("manifest_readPoint") {
      SnapshotStore.readPoint(spark, root, "k", s"key_${rows / 2}")
        .collect()
    }
    require(hit.length == 1, s"point read wrong: ${hit.length} rows")
    report += "manifest_readpoint_s" -> tPoint

    // the delta-bounded maintenance claim, measured: a 10-row upsert
    // against 10^5 carried files must publish in seconds (its metadata
    // work = anti-join for misses + a 10-row scan + inline lines)
    val fresh = spark.range(rows, rows + 10).select(
      col("id").as("doc_id"), col("id").as("n"),
      concat(lit("key_"), col("id")).as("k"))
    val relsBefore = SnapshotStore.manifestEntries(spark, root, v)
      .map(_._2).toSet
    val (_, tUpsert) = timed("manifest_upsert_10rows") {
      SnapshotStore.upsert(spark, fresh, fresh.select("doc_id"),
        root, buckets = 32)
    }
    // the merge-on-read upsert's whole point: 10 fresh ids against 10^5
    // one-row files rewrite no carried file (a delete entry masks the
    // replaced rows), never the touched buckets wholesale (~3.1k files
    // per bucket at 32 buckets)
    val relsAfterUpsert = SnapshotStore.manifestEntries(spark, root,
      SnapshotStore.currentVersion(spark, root).get).map(_._2).toSet
    val rewritten = relsBefore.diff(relsAfterUpsert).size
    require(rewritten <= 64,
      s"upsert rewrote $rewritten carried files — merge-on-read off?")
    report += "manifest_upsert_files_rewritten" -> rewritten.toDouble
    require(SnapshotStore.readPoint(spark, root, "k", s"key_$rows")
      .count() == 1L, "upserted key not findable")
    report += "manifest_upsert_s" -> tUpsert
    // amortization observability: between compactions each publish
    // carries its delta INLINE — record the post-upsert delta line
    // counts and the thresholds that bound them (publishes per sidecar
    // compaction ~= sidecarThreshold / inline-lines-per-publish)
    val vU = SnapshotStore.currentVersion(spark, root).get
    val textU = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(root, f"_versions/v$vU%05d.manifest").toPath),
      "UTF-8")
    report += "manifest_upsert_inline_meta_lines" ->
      textU.linesIterator.count(l =>
        l.startsWith("#stat\t") || l.startsWith("#bloom\t")).toDouble
    report += "manifest_upsert_inline_entry_lines" ->
      textU.linesIterator.count(l =>
        l.nonEmpty && !l.startsWith("#")).toDouble
    report += "manifest_upsert_dropfile_lines" ->
      textU.linesIterator.count(_.startsWith("#dropfile\t")).toDouble
    report += "manifest_sidecar_threshold" ->
      SnapshotStore.sidecarThreshold.toDouble
    report += "manifest_entry_threshold" ->
      SnapshotStore.entryThreshold.toDouble

    val (swept, tVac) = timed("manifest_vacuum") {
      SnapshotStore.vacuum(spark, root, keepVersions = 1)
    }
    report += "manifest_vacuum_s" -> tVac
    report += "manifest_vacuum_swept" -> swept.size.toDouble

    val json = report.map { case (k, vv) => f""""$k": $vv%.2f""" }
      .mkString("{", ", ", "}")
    val out = args.lift(2)
      .getOrElse("target/scale_rehearsal_manifest.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"MANIFEST_REHEARSAL_OK $json")
  }

  /** VERSIONED-ANN scale rehearsal (rounds 10-11's transactional index
    * layer at a volume the sf fixtures never reach): a 10⁶-vector
    * corpus through every [[VersionedIvf]] / [[VersionedIvfAdc]]
    * maintenance verb, with MEASURED seconds and the invariants the
    * transactional claims rest on checked at that volume:
    *
    *  - write publishes exactly version 1 with every vector present;
    *  - probe search stays narrow (16 queries × nProbe 4 over k = 64
    *    cells must return exactly 16 × topK ranked rows);
    *  - a 10⁴-id INSERT upsert is append-shaped: the store's doc_id
    *    key pruning (the cardinality-guarded path — 10⁴ ids is under
    *    the 2×10⁵ cap, so pruning is ACTIVE) must carry every
    *    pre-existing file verbatim, rewriting ZERO of them;
    *  - a 10⁴-id REPLACE upsert keeps the corpus cardinality and never
    *    duplicates an id (max per-id multiplicity 1 across cells);
    *  - delete removes exactly its ids; rebalanceUntil conserves rows;
    *  - the initial version stays time-travelable after every verb.
    *
    * Usage: `runMain graft.ScaleRehearsal ivf [nVectors] [outJson]`. */
  private def ivfMode(spark: SparkSession, args: Array[String]): Unit = {
    val report = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val n = args.lift(1).map(_.toLong).getOrElse(1000000L)
    val dim = 64
    val emb = synthEmbeddings(spark, n, dim)
      .localCheckpoint(eager = true) // synth once; verbs time the verb
    val root = Tables.freshRoot("rehearsal-ivf")

    val (v1, tWrite) = timed("ivf_write") {
      VersionedIvf.write(emb, k = 64, root, buckets = 8)
    }
    require(v1 == 1L, s"write published version $v1, expected 1")
    report += "ivf_write_s" -> tWrite
    require(SnapshotStore.read(spark, root).count() == n,
      "write lost vectors")

    // 4 queries x nProbe 4 = <=16 distinct cells over k = 64: under the
    // half-the-cells heuristic, so this measures the stats-skipping
    // per-cell readWhere path; the 16-query batch crosses it and
    // measures the one-snapshot-read-and-filter path.
    val queries4 = emb.filter(col("vec_id") < 4)
    val (probeRows, tSearch) = timed("ivf_search_probe4") {
      VersionedIvf.search(spark, root, queries4,
        nProbe = 4, topK = 5).count()
    }
    require(probeRows == 4L * 5,
      s"probe search returned $probeRows rows, expected 20")
    report += "ivf_search_probe4_s" -> tSearch
    val queries16 = emb.filter(col("vec_id") < 16)
    val (batchRows, tBatch) = timed("ivf_search_batch16") {
      VersionedIvf.search(spark, root, queries16,
        nProbe = 4, topK = 5).count()
    }
    require(batchRows == 16L * 5,
      s"batch search returned $batchRows rows, expected 80")
    report += "ivf_search_batch16_s" -> tBatch

    // INSERT upsert: 10^4 ids the corpus has never seen. doc_id key
    // pruning must prove every existing file clean of these ids and
    // carry it verbatim — the O(delta) maintenance claim at 10^6 rows.
    val freshVecs = synthEmbeddings(spark, n + 10000L, dim)
      .filter(col("vec_id") >= n)
    val relsBefore = SnapshotStore
      .manifestEntries(spark, root, v1).map(_._2).toSet
    val (v2, tIns) = timed("ivf_upsert_insert") {
      VersionedIvf.upsert(spark, root, freshVecs)
    }
    val relsAfter = SnapshotStore
      .manifestEntries(spark, root, v2).map(_._2).toSet
    val rewritten = relsBefore.diff(relsAfter).size
    require(rewritten == 0,
      s"insert-only upsert rewrote $rewritten carried files")
    report += "ivf_upsert_insert_s" -> tIns
    report += "ivf_upsert_insert_rewritten" -> rewritten.toDouble
    require(SnapshotStore.read(spark, root).count() == n + 10000L,
      "insert upsert lost rows")

    // REPLACE upsert: the same 10^4 ids again — cardinality must hold
    // and no id may appear in two cells (replace, never duplicate).
    val (_, tRep) = timed("ivf_upsert_replace") {
      VersionedIvf.upsert(spark, root, freshVecs)
    }
    report += "ivf_upsert_replace_s" -> tRep
    val dup = SnapshotStore.read(spark, root)
      .groupBy("doc_id").count().filter(col("count") > 1).count()
    require(dup == 0, s"$dup ids duplicated after replace upsert")
    require(SnapshotStore.read(spark, root).count() == n + 10000L,
      "replace upsert changed cardinality")

    val (_, tDel) = timed("ivf_delete") {
      VersionedIvf.delete(spark, root,
        spark.range(n, n + 10000L).select(col("id").as("vec_id")))
    }
    report += "ivf_delete_s" -> tDel
    require(SnapshotStore.read(spark, root).count() == n,
      "delete removed the wrong row count")

    val (splits, tRebal) = timed("ivf_rebalance_until") {
      VersionedIvf.rebalanceUntil(spark, root,
        hotFactor = 2.0, maxRounds = 3)
    }
    report += "ivf_rebalance_until_s" -> tRebal
    report += "ivf_rebalance_splits" -> splits.toDouble
    require(SnapshotStore.read(spark, root).count() == n,
      "rebalance lost rows")
    require(SnapshotStore.read(spark, root, 1L).count() == n,
      "version 1 no longer time-travelable")

    // Lloyd training at corpus scale: full-corpus rounds vs the
    // bounded-sample (Faiss-style) discipline — same determinism, the
    // training pass shrinks from O(n) to O(sample)
    val (tcFull, tTrainFull) = timed("ivf_train_full") {
      IvfIndex.trainCentroids(emb, 64, iters = 2)
    }
    report += "ivf_train_full_s" -> tTrainFull
    val (tcSamp, tTrainSamp) = timed("ivf_train_sampled") {
      IvfIndex.trainCentroids(emb, 64, iters = 2, trainSample = 16384L)
    }
    report += "ivf_train_sampled_s" -> tTrainSamp
    require(tcFull.length == 64 && tcSamp.length == 64,
      "Lloyd training lost centroids")

    val adcRoot = Tables.freshRoot("rehearsal-ivfadc")
    val (av1, tAdcWrite) = timed("ivfadc_write") {
      VersionedIvfAdc.write(emb, adcRoot, dim = dim, m = 8, k = 16,
        nCells = 64, buckets = 8)
    }
    require(av1 == 1L, s"adc write published version $av1, expected 1")
    report += "ivfadc_write_s" -> tAdcWrite
    require(SnapshotStore.read(spark, adcRoot).count() == n,
      "adc write lost vectors")
    val (adcRows, tAdcSearch) = timed("ivfadc_search_probe") {
      VersionedIvfAdc.search(spark, adcRoot, queries16,
        nProbe = 4, topK = 5).count()
    }
    require(adcRows == 16L * 5,
      s"adc probe search returned $adcRows rows, expected 80")
    report += "ivfadc_search_probe_s" -> tAdcSearch
    val (_, tAdcUp) = timed("ivfadc_upsert_insert") {
      VersionedIvfAdc.upsert(spark, adcRoot, freshVecs)
    }
    report += "ivfadc_upsert_insert_s" -> tAdcUp
    require(SnapshotStore.read(spark, adcRoot).count() == n + 10000L,
      "adc insert upsert lost rows")
    val (_, tAdcDel) = timed("ivfadc_delete") {
      VersionedIvfAdc.delete(spark, adcRoot,
        spark.range(n, n + 10000L).select(col("id").as("vec_id")))
    }
    report += "ivfadc_delete_s" -> tAdcDel
    require(SnapshotStore.read(spark, adcRoot).count() == n,
      "adc delete removed the wrong row count")

    val json = report.map { case (k, vv) => f""""$k": $vv%.3f""" }
      .mkString("{", ", ", "}")
    val out = args.lift(2)
      .getOrElse("target/scale_rehearsal_ivf.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"IVF_REHEARSAL_OK $json")
  }

  /** ENTRY-LIST scale rehearsal (round-9 verdict item 1): the manifest's
    * file-entry layer measured at 10⁶ entries, BEFORE (inline text
    * lines, the round-8 format) vs AFTER (parquet entryfile + delta
    * lines). Entries are synthetic — no data files, no stat/bloom
    * declarations — so the numbers isolate exactly the commit-root
    * layer: full publish, manifest size, resolved-entry read, and the
    * steady-state DELTA publish (drop 5 files, add 10 — the
    * 10-row-upsert shape) that inline mode must pay a full text rewrite
    * for and entryfile mode must keep delta-sized. A 20k-file delta then
    * forces an entryfile COMPACTION (the amortized rewrite). Hard
    * requires: delta manifests stay tiny, resolved lists stay exact,
    * compaction re-points. Usage:
    * `runMain graft.ScaleRehearsal entries [nEntries] [outJson]`. */
  private def entriesMode(spark: SparkSession, args: Array[String]): Unit = {
    val report = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val n = args.lift(1).map(_.toLong).getOrElse(1000000L)
    def mkEntries(from: Long, until: Long, vTag: String): Seq[(Long, String)] =
      (from until until).map(i => (i % 1024L,
        f"data/$vTag/bucket=${i % 1024L}%d/part-$i%08d.parquet"))
    def run(tag: String, threshold: Int): String = {
      val root = Tables.freshRoot(s"rehearsal-entries-$tag")
      val saved = SnapshotStore.entryThreshold
      SnapshotStore.entryThreshold = threshold
      try {
        val base = mkEntries(0L, n, "v00001-aaaaaaaa")
        val (_, t1) = timed(s"entries_${tag}_publish_full") {
          SnapshotStore.publish(spark, root, 1L, base)
        }
        report += s"entries_${tag}_publish_full_s" -> t1
        report += s"entries_${tag}_manifest_mb" ->
          new java.io.File(root, "_versions/v00001.manifest").length / 1e6
        val (c1, tr1) = timed(s"entries_${tag}_read") {
          SnapshotStore.manifestEntries(spark, root, 1L).size
        }
        require(c1 == n, s"$tag v1 resolved $c1 of $n entries")
        report += s"entries_${tag}_read_s" -> tr1
        // steady-state delta: the 10-row-upsert shape at 10^6 carried
        // files — drop 5 entries, add 10. Entryfile mode goes through
        // publishDelta (the round-10 O(delta) path: the parent's list is
        // never resolved, one executor probe classifies the drops);
        // inline mode measures the full-rewrite BEFORE shape.
        val adds2 = mkEntries(n, n + 10L, "v00002-bbbbbbbb")
        val (_, t2) = timed(s"entries_${tag}_publish_delta") {
          if (tag == "entryfile")
            SnapshotStore.publishDelta(spark, root, 2L, adds2,
              base.take(5).map(_._2).toSet)
          else
            SnapshotStore.publish(spark, root, 2L, base.drop(5) ++ adds2)
        }
        report += s"entries_${tag}_publish_delta_s" -> t2
        report += s"entries_${tag}_delta_collect" ->
          SnapshotStore.lastEntryDiffCollectSize.toDouble
        report += s"entries_${tag}_delta_manifest_kb" ->
          new java.io.File(root, "_versions/v00002.manifest").length / 1e3
        val (c2, tr2) = timed(s"entries_${tag}_read_delta") {
          SnapshotStore.manifestEntries(spark, root, 2L).size
        }
        require(c2 == n + 5, s"$tag v2 resolved $c2 of ${n + 5} entries")
        report += s"entries_${tag}_read_delta_s" -> tr2
        root
      } finally SnapshotStore.entryThreshold = saved
    }
    run("inline", Int.MaxValue) // BEFORE: the round-8 text format
    val efRoot = run("entryfile", 16384) // AFTER
    // the delta commit root must be KBs, not the ~100 MB inline rewrite
    require(report("entries_entryfile_delta_manifest_kb") < 64.0,
      "entryfile delta manifest is not delta-sized")
    // the delta publish must collect only the DELTA (5 drop probes +
    // nothing else), never the 10⁶-entry resolved list
    require(report("entries_entryfile_delta_collect") <= 15.0,
      s"delta publish collected " +
        s"${report("entries_entryfile_delta_collect")} entry strings — " +
        "not O(delta)")
    // a 20k-file delta outgrows the threshold → fresh entryfile
    // compaction, written FROM FRAMES through publishDelta (the driver
    // never resolves the carried 10⁶ entries)
    val efBefore = {
      val t = new String(java.nio.file.Files.readAllBytes(new java.io.File(
        efRoot, "_versions/v00002.manifest").toPath), "UTF-8")
      t.linesIterator.find(_.startsWith("#entryfile\t")).get
    }
    val saved = SnapshotStore.entryThreshold
    SnapshotStore.entryThreshold = 16384
    val (_, t3) =
      try timed("entries_entryfile_publish_compact") {
        SnapshotStore.publishDelta(spark, efRoot, 3L,
          mkEntries(n + 10L, n + 10L + 20000L, "v00003-cccccccc"),
          Set.empty)
      } finally SnapshotStore.entryThreshold = saved
    report += "entries_entryfile_publish_compact_s" -> t3
    report += "entries_entryfile_compact_collect" ->
      SnapshotStore.lastEntryDiffCollectSize.toDouble
    val t3Text = new String(java.nio.file.Files.readAllBytes(new java.io.File(
      efRoot, "_versions/v00003.manifest").toPath), "UTF-8")
    val efAfter = t3Text.linesIterator.find(_.startsWith("#entryfile\t")).get
    require(efAfter != efBefore && !t3Text.contains("#dropfile\t"),
      "20k-file delta did not compact the entryfile")
    // v2 resolved to n + 5 entries (n − 5 dropped + 10 added); v3 adds
    // 20000 more
    require(SnapshotStore.manifestEntries(spark, efRoot, 3L).size ==
      n + 5L + 20000L, "compacted entry list lost entries")
    val json = report.map { case (k, vv) => f""""$k": $vv%.3f""" }
      .mkString("{", ", ", "}")
    val out = args.lift(2)
      .getOrElse("target/scale_rehearsal_entries.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"ENTRIES_REHEARSAL_OK $json")
  }

  /** Starved-memory run: the spill-heavy subset under an execution
    * budget ~1/3 of default, in a heap the caller shrank. Success =
    * completion with correct invariants; the listener reports how much
    * actually spilled (the degradation path engaging). */
  private def pressure(spark: SparkSession): Unit = {
    val spilledMem = new java.util.concurrent.atomic.AtomicLong()
    val spilledDisk = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach { m =>
            spilledMem.addAndGet(m.memoryBytesSpilled): Unit
            spilledDisk.addAndGet(m.diskBytesSpilled): Unit
          }
      })
    val docs = synthDocs(spark, 50000L).localCheckpoint(eager = true)

    // d07-shaped n-gram Jaccard near-dups: posting-list shuffles
    val (nd, _) = timed("pressure_d07") {
      NgramJaccard.nearDuplicates(docs, n = 3, maxDf = 100)
        .filter(col("jacc") >= 0.999).count()
    }
    require(nd >= 500, s"pressure d07: planted dups missing ($nd < 500)")

    // d08 distributed label propagation above the driver gate
    val (ok, _) = timed("pressure_d08") {
      val nComp = 55000L; val span = 41L
      val ids = spark.range(nComp * span).select(col("id"))
      val pairs = ids.filter((col("id") + 1) % span =!= 0)
        .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
      DupClusters.assign(ids.select(col("id")), pairs)
        .filter(col("cluster_id") =!= (col("id").cast("long") / span)
          .cast("long") * span)
        .count() == 0L
    }
    require(ok, "pressure d08: wrong labels under memory pressure")

    // t11-shaped heavy hitters over the token stream (wide agg shuffle).
    // The uniform synthetic vocabulary has no heavy hitters by design, so
    // skew it deterministically: half the vocabulary folds hash-wise onto
    // 8 "c<j>" tokens (~6% of token mass each — above the 1/k = 5%
    // admission threshold), the rest stays long-tail.
    val (hh, _) = timed("pressure_t11") {
      val terms = docs.select(explode(split(col("text"), " ")).as("term"))
        .withColumn("term",
          when(pmod(xxhash64(col("term")), lit(2)) === 0,
            concat(lit("c"), pmod(
              xxhash64(concat(lit("fold#"), col("term"))), lit(8))))
            .otherwise(col("term")))
      HeavyHitters.exact(terms, "term", k = 20).count()
    }
    require(hh >= 5L && hh <= 20L,
      s"pressure t11: expected the planted heavy hitters, got $hh")

    println(s"REHEARSAL|pressure|spilled_mem_bytes=${spilledMem.get}" +
      s"|spilled_disk_bytes=${spilledDisk.get}")
    println("PRESSURE_OK")
  }

  private def full(spark: SparkSession, args: Array[String]): Unit = {
    import spark.implicits._
    val report = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // ---- corpus: 50k docs (10× the sf0.1 fixture's 5000) ----
    val synthDir = "target/rehearsal-sf1"
    val docs = synthDocs(spark, 50000L).localCheckpoint(eager = true)
    docs.coalesce(8).write.mode("overwrite")
      .parquet(s"$synthDir/documents.parquet")
    synthEmbeddings(spark, 20000L).coalesce(4).write.mode("overwrite")
      .parquet(s"$synthDir/embeddings.parquet")
    val plantedPairs = docs.filter(col("doc_id") % 100 === 1).count()

    // ---- dedup recovery at 1× then 10× (the ~linear-scaling probe) ----
    def d02dups(d: DataFrame) = MinHashLSH
      .nearDuplicates(d, bands = 4, rowsPerBand = 3, threshold = 0.999)
    def d07dups(d: DataFrame) = NgramJaccard
      .nearDuplicates(d, n = 3, maxDf = 100).filter(col("jacc") >= 0.999)
    val docs1x = synthDocs(spark, 5000L).localCheckpoint(eager = true)
    val (_, tD02a) = timed("d02_minhash_1x")(d02dups(docs1x).count())
    val (nD02, tD02b) = timed("d02_minhash_10x")(d02dups(docs).count())
    val (_, tD07a) = timed("d07_ngram_1x")(d07dups(docs1x).count())
    val (nD07, tD07b) = timed("d07_ngram_10x")(d07dups(docs).count())
    // planted exact dups share every signature/shingle — they MUST all
    // surface as jacc-1 pairs (other jacc-1 pairs cannot exist: distinct
    // seeds collide on 60 independent 5000-ary draws with p ≈ 0)
    require(nD02 == plantedPairs,
      s"d02 recovered $nD02 of $plantedPairs planted duplicate pairs")
    require(nD07 == plantedPairs,
      s"d07 recovered $nD07 of $plantedPairs planted duplicate pairs")
    report ++= Seq("d02_1x_s" -> tD02a, "d02_10x_s" -> tD02b,
      "d07_1x_s" -> tD07a, "d07_10x_s" -> tD07b)
    require(tD02b / tD02a < 50 && tD07b / tD07a < 50,
      f"superlinear blowup: d02 ${tD02b / tD02a}%.1f×, " +
        f"d07 ${tD07b / tD07a}%.1f× for 10× data")

    // ---- d08 clustering ABOVE the real driver gate (distributed tier) ----
    val nComp = 55000L; val span = 41L
    val chainIds = spark.range(nComp * span).select(col("id"))
      .localCheckpoint(eager = true)
    val chainPairs = chainIds.filter((col("id") + 1) % span =!= 0)
      .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
      .localCheckpoint(eager = true)
    val directedEdges = 2L * chainPairs.count()
    require(directedEdges > DupClusters.DriverEdgeLimit,
      s"synthesis bug: $directedEdges edges does not cross the " +
        s"${DupClusters.DriverEdgeLimit} driver gate")
    val (wrongDistributed, tD08) = timed("d08_distributed_10x") {
      DupClusters.assign(chainIds, chainPairs)
        .filter(col("cluster_id") =!=
          (col("id").cast("long") / span).cast("long") * span)
        .count()
    }
    require(wrongDistributed == 0L,
      s"d08 distributed tier mislabeled $wrongDistributed vertices")
    report += "d08_distributed_s" -> tD08
    println(s"REHEARSAL|d08|edges=$directedEdges|" +
      s"gate=${DupClusters.DriverEdgeLimit}|tier=distributed")
    // tier-pair agreement on the SAME real-volume graph: gate raised →
    // driver union-find; labels must be identical
    val (wrongDriver, tD08d) = timed("d08_driver_tier_10x") {
      DupClusters.assign(chainIds, chainPairs,
        driverEdgeLimit = Long.MaxValue)
        .withColumnRenamed("cluster_id", "driver_cluster")
        .join(DupClusters.assign(chainIds, chainPairs), Seq("id"))
        .filter(col("driver_cluster") =!= col("cluster_id")).count()
    }
    require(wrongDriver == 0L,
      s"d08 tier disagreement on $wrongDriver vertices")
    report += "d08_driver_s" -> tD08d

    // ---- triangles ABOVE the broadcast gate (shuffle tier) ----
    val kBig = 5500L; val c = 40
    val bigCliques = cliqueGraph(spark, kBig, c)
      .localCheckpoint(eager = true)
    val orientedBig = bigCliques.count()
    require(orientedBig > Triangles.BroadcastEdgeLimit,
      s"synthesis bug: $orientedBig edges below the broadcast gate")
    val (triBig, tTriBig) = timed("q60_triangles_shuffle_10x") {
      Triangles.count(bigCliques).collect()(0)
    }
    def c3(n: Int): Long = n.toLong * (n - 1) * (n - 2) / 6
    def c2(n: Int): Long = n.toLong * (n - 1) / 2
    require(triBig.getLong(0) == kBig * c3(c),
      s"triangles: got ${triBig.getLong(0)}, want ${kBig * c3(c)}")
    require(triBig.getLong(1) == kBig * c * c2(c - 1),
      s"wedges: got ${triBig.getLong(1)}, want ${kBig * c * c2(c - 1)}")
    report += "q60_shuffle_s" -> tTriBig
    println(s"REHEARSAL|q60|edges=$orientedBig|" +
      s"gate=${Triangles.BroadcastEdgeLimit}|tier=shuffle")
    // tier agreement just BELOW the gate: natural broadcast tier vs
    // forced shuffle tier on the identical graph
    val kNear = 5300L
    val nearCliques = cliqueGraph(spark, kNear, c)
      .localCheckpoint(eager = true)
    require(nearCliques.count() <= Triangles.BroadcastEdgeLimit)
    val (triB, tB) = timed("q60_broadcast_tier") {
      Triangles.count(nearCliques).collect()(0)
    }
    val (triS, tS) = timed("q60_forced_shuffle_tier") {
      Triangles.count(nearCliques, broadcastEdgeLimit = 0L).collect()(0)
    }
    require(triB.getLong(0) == triS.getLong(0) &&
      triB.getLong(0) == kNear * c3(c),
      s"triangle tier disagreement: ${triB.getLong(0)} vs ${triS.getLong(0)}")
    report ++= Seq("q60_bcast_s" -> tB, "q60_forced_shuffle_s" -> tS)

    // ---- PageRank + BFS on a 5M-edge ring ----
    val ringN = 2500000L
    val fw = spark.range(ringN)
      .select(col("id").as("src"), ((col("id") + 1) % ringN).as("dst"))
    val ring = fw.unionByName(
      fw.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(eager = true)
    val ((ranks, rounds), tPr) = timed("q57_pagerank_ring_5m") {
      PageRank.ranksConverged(ring, maxIters = 5)
    }
    require(rounds <= 2, s"ring PageRank should converge in ≤2, ran $rounds")
    val offFix = ranks.filter(col("r") =!= 1000000L).count()
    require(offFix == 0L && ranks.count() == ringN,
      s"ring fixpoint violated on $offFix nodes")
    report += "q57_ring_s" -> tPr
    val dist0 = spark.range(ringN).select(col("id").as("v"),
      when(col("id") === 0, 0).otherwise(BfsHops.Inf).as("dist"))
    val ((dist, _), tBfs) = timed("q75_bfs_ring_5m") {
      BfsHops.run(ring, dist0, maxRounds = 4)
    }
    val hist = dist.filter(col("dist") < BfsHops.Inf)
      .groupBy("dist").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    require(hist == Map(0 -> 1L, 1 -> 2L, 2 -> 2L, 3 -> 2L, 4 -> 2L),
      s"ring BFS histogram wrong: $hist")
    report += "q75_ring_s" -> tBfs

    // ---- stored IVF: full-probe ≡ brute force; upsert replaces ----
    val emb = synthEmbeddings(spark, 20000L).localCheckpoint(eager = true)
    val ivfRoot = Tables.freshRoot("rehearsal-ivf-20k")
    val (_, tBuild) = timed("ivf_build_20k")(
      VersionedIvf.write(emb, k = 16, ivfRoot))
    val queries = emb.filter(col("vec_id") < 5)
    val (got, tSearch) = timed("ivf_fullprobe_search") {
      VersionedIvf.search(spark, ivfRoot, queries, nProbe = 16,
        topK = 10).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id"))
    val brute = emb.crossJoin(broadcast(queries
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(graft.functions.VectorFunctions
          .cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    require(got == brute,
      s"full-probe stored IVF ≠ brute force (${got.size} vs ${brute.size})")
    report ++= Seq("ivf_build_s" -> tBuild, "ivf_search_s" -> tSearch)
    val (_, tUp) = timed("ivf_upsert_loop") {
      // 100 new + 50 re-embedded ids in one keyed upsert
      val delta = spark.range(50).select(col("id").as("vec_id"),
        Embedder.embed(concat(lit("re"), col("id")), 64)
          .cast("array<float>").as("embedding"))
        .unionByName(spark.range(50000, 50100)
          .select(col("id").as("vec_id"),
            Embedder.embed(concat(lit("v"), col("id")), 64)
              .cast("array<float>").as("embedding")))
      VersionedIvf.upsert(spark, ivfRoot, delta)
    }
    val idx = SnapshotStore.read(spark, ivfRoot)
    require(idx.count() == 20100L &&
      idx.select("doc_id").distinct().count() == 20100L,
      "stored-IVF upsert duplicated or dropped rows")
    report += "ivf_upsert_s" -> tUp

    // ---- t23 curation pipeline over the 10× corpus dir ----
    val (t23n, tT23) = timed("t23_curation_10x") {
      SparkEntry.queries("t23_curation_pipeline")(spark, synthDir).count()
    }
    require(t23n == 50000L, s"t23 must verdict every doc, got $t23n")
    report += "t23_s" -> tT23

    // ---- file-stats data skipping at 1M rows: the scan-reduction
    // path measured, not asserted — a hash-valued payload column is
    // z-order-clustered into ~32 small files, and a 2%-selectivity
    // range must provably skip at least half the files while returning
    // exactly the full-scan filter's rows ----
    val statRoot = Tables.freshRoot("rehearsal-statstore")
    val statDf = spark.range(1000000L).select(col("id").as("doc_id"),
      pmod(xxhash64(col("id")), lit(1000000L)).as("v"))
    val (_, tStatBuild) = timed("stats_build_1m") {
      SnapshotStore.commit(statDf, statRoot, buckets = 8)
      SnapshotStore.declareStats(spark, statRoot, Seq("v"))
      SnapshotStore.optimize(spark, statRoot, sortByDocId = false,
        zorderBy = Seq("v"), maxRecordsPerFile = 32768L)
    }
    val (keptF, totalF) = SnapshotStore.skippingReport(spark, statRoot,
      "v", 100000L, 120000L)
    require(keptF * 2 <= totalF,
      s"stats pruning too weak at scale: kept $keptF of $totalF files")
    val (nPruned, tPruned) = timed("stats_pruned_read") {
      SnapshotStore.readWhere(spark, statRoot, "v", 100000L, 120000L)
        .count()
    }
    val (nFull, tFull) = timed("stats_full_filter") {
      SnapshotStore.read(spark, statRoot)
        .filter(col("v").between(100000L, 120000L)).count()
    }
    require(nPruned == nFull && nPruned > 0L,
      s"pruned read returned $nPruned rows, full filter $nFull")
    report ++= Seq("stats_build_s" -> tStatBuild,
      "stats_files_kept" -> keptF.toDouble,
      "stats_files_total" -> totalF.toDouble,
      "stats_pruned_read_s" -> tPruned, "stats_full_filter_s" -> tFull)
    println(s"REHEARSAL|skipping|kept=$keptF|total=$totalF")

    // ---- heap telemetry + report ----
    val peakHeap = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.stream()
      .filter(p => p.getType ==
        java.lang.management.MemoryType.HEAP)
      .mapToLong(p => p.getPeakUsage.getUsed).sum()
    println(f"REHEARSAL|heap|peak_heap_gb=${peakHeap / 1e9}%.2f")
    val json = report.map { case (k, v) => f""""$k": $v%.2f""" }
      .mkString("{", ", ", f""", "peak_heap_gb": ${peakHeap / 1e9}%.2f}""")
    val out = args.lift(1).getOrElse("target/scale_rehearsal.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"REHEARSAL_OK $json")
  }
}
