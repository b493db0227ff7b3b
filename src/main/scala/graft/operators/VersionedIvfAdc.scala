package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVFADC — the compressed production vector index (coarse IVF quantizer
  * to prune, PQ fine quantizer to score, Jégou et al. 2011) — routed
  * THROUGH [[SnapshotStore]], so the flagship index gets the same
  * atomicity / OCC / time-travel story [[VersionedIvf]] gives the
  * uncompressed layout. The bare cascade ([[PqIndex.searchIvfIndexed]],
  * oracle s14) persists FOUR artifacts with no transactional tie: IVF
  * cell partitions, IVF centroid sidecar, PQ codes, PQ codebook — a
  * crash between any two leaves quantizers and codes disagreeing. Here
  * the WHOLE index state is ONE manifest:
  *
  *  - rows are `(doc_id = vec_id, cent_id, codes)` — one row per vector,
  *    its m PQ codes as a single array cell (the 32×-compressed
  *    representation; raw embeddings are NOT stored, which is the point
  *    of serving ANN from codes at 100 TB) — written range-clustered by
  *    cent_id with doc_id + cent_id statistics declared, so probes read
  *    cells through stats skipping and keyed verbs prune by doc_id;
  *  - the coarse centroids ride as `#ivfcent` lines, the PQ codebook as
  *    `#pqcent` lines, and `(dim, m, k)` as a `#pqgeom` line — a few KB
  *    of geometry in the commit root, atomically consistent with the
  *    rows by construction (the create-exclusive publish);
  *  - every verb (upsert, delete) reads geometry AT the observed
  *    version and publishes with `expectedVersion = observed` inside
  *    [[SnapshotStore.withConflictRetry]] — racing verbs serialize,
  *    exactly the [[VersionedIvf]] discipline.
  *
  * Maintenance completes the verb set the flat layout has: [[rebalance]]
  * splits hot coarse cells from PQ-DECODED reconstructions (codes here
  * encode the full vector, not the residual, so a cell move never
  * re-encodes — only the split geometry needs vectors, and
  * [[PqIndex.decodedColumn]] is the faithful stand-in), and [[retrain]]
  * re-fits the codebook against the SOURCE corpus (codes are lossy — a
  * refit from decodes can only re-learn the old book) and re-encodes,
  * each as ONE OCC-serialized, time-travelable version.
  *
  * Reference anchor: the reference's Pinecone index is the compressed
  * serving tier its per-vector upserts mutate with no transactional
  * story (`airflow/dags/parser_pinecone_storage.py:154,172,183`); this
  * is that tier with lakehouse semantics.
  */
object VersionedIvfAdc {

  private val CoarsePrefix = "#ivfcent\t"
  private val BookPrefix = "#pqcent\t"
  private val GeomPrefix = "#pqgeom\t"

  private def geomLine(dim: Int, m: Int, k: Int): String =
    s"$GeomPrefix$dim\t$m\t$k"

  /** The `(dim, m, k)` the index was written with — stored in the
    * manifest so searches and upserts can never encode against the
    * wrong subspace split (the `_graft_pq` sidecar contract, manifested). */
  def storedGeometry(spark: SparkSession, root: String,
      version: Long = -1L): (Int, Int, Int) = {
    val lines =
      SnapshotStore.storedMetaLines(spark, root, GeomPrefix, version)
    require(lines.nonEmpty,
      s"no #pqgeom line at $root — not a VersionedIvfAdc store " +
        "(or a foreign verb dropped the lines)")
    val Array(d, m, k) = lines.head.stripPrefix(GeomPrefix).split("\t", 3)
    (d.toInt, m.toInt, k.toInt)
  }

  /** Coarse (IVF) centroids of a published version. */
  def storedCoarse(spark: SparkSession, root: String,
      version: Long = -1L): Array[(Long, Array[Long])] =
    VersionedIvf.storedVecLines(spark, root, CoarsePrefix, version,
      "VersionedIvfAdc")

  /** PQ codebook of a published version — the k quantized full-dim
    * vectors whose subspace slices are the per-subspace centroids. */
  def storedBook(spark: SparkSession, root: String,
      version: Long = -1L): Array[(Long, Array[Long])] =
    VersionedIvf.storedVecLines(spark, root, BookPrefix, version,
      "VersionedIvfAdc")

  private def metaLines(coarse: Array[(Long, Array[Long])],
      book: Array[(Long, Array[Long])], dim: Int, m: Int,
      k: Int): Seq[String] =
    VersionedIvf.vecLines(CoarsePrefix, coarse) ++
      VersionedIvf.vecLines(BookPrefix, book) :+ geomLine(dim, m, k)

  private def bucketsAt(spark: SparkSession, root: String,
      version: Long): Int =
    SnapshotStore.storedBuckets(spark, root, version).getOrElse(
      throw new IllegalArgumentException(
        s"store at $root records no bucket modulus"))

  private def requirePublished(observed: Long, root: String,
      verb: String): Unit =
    require(observed > 0,
      s"VersionedIvfAdc.$verb: no published version at $root — write() " +
        "an initial index first")

  /** Assign + encode in ONE scan: nearest coarse cell from the fused
    * cell-distance projection, m PQ codes from the fused code
    * projection — no join, no shuffle beyond the final range
    * clustering. */
  private def encodedRows(emb: DataFrame,
      coarse: Array[(Long, Array[Long])],
      book: Array[(Long, Array[Long])], dim: Int, m: Int): DataFrame =
    IvfIndex.cellAssign(emb, coarse)
      .select(col("vec_id").cast("long").as("doc_id"),
        col("cent_id"),
        PqIndex.codesColumn(book, dim, m).as("codes"))
      .repartitionByRange(math.max(4, coarse.length / 2), col("cent_id"))

  /** Build and publish version 1: both quantizers trained (the
    * deterministic first-k seeds [[IvfIndex.centroids]] /
    * [[PqIndex.collectCodebook]] use), every vector assigned + encoded,
    * rows and ALL geometry committed as one manifest. */
  def write(emb: DataFrame, root: String, dim: Int = 64, m: Int = 8,
      k: Int = 16, nCells: Int = 16, buckets: Int = 4): Long = {
    val coarse = IvfIndex.centroids(emb, nCells)
    val book = PqIndex.collectCodebook(emb, k)
    SnapshotStore.commit(encodedRows(emb, coarse, book, dim, m), root,
      buckets, meta = metaLines(coarse, book, dim, m, k) :+
        SnapshotStore.statsDeclaration(Seq("doc_id", "cent_id")))
  }

  /** Insert-or-replace a batch of vectors — the reference's per-vector
    * Pinecone upsert on the compressed layout: assignment AND codes
    * come from the STORED quantizers (appending never re-trains), ids
    * already present are replaced via the store's keyed upsert, and the
    * new rows + carried geometry publish as ONE atomic version under
    * the OCC retry loop. Returns the new version. */
  def upsert(spark: SparkSession, root: String, emb: DataFrame): Long =
    SnapshotStore.withConflictRetry(spark, root) { observed =>
      requirePublished(observed, root, "upsert")
      val (dim, m, k) = storedGeometry(spark, root, observed)
      val coarse = storedCoarse(spark, root, observed)
      val book = storedBook(spark, root, observed)
      IvfIndex.requireDim(emb, coarse, "VersionedIvfAdc.upsert")
      val rows = encodedRows(emb, coarse, book, dim, m)
      SnapshotStore.upsert(spark, rows, rows.select("doc_id"), root,
        bucketsAt(spark, root, observed),
        meta = metaLines(coarse, book, dim, m, k),
        expectedVersion = Some(observed))
    }

  /** Streamed-bootstrap codebook: the k LOWEST-vec_id vectors of the
    * first batch, renumbered 0..k-1 (the positional-decode contract the
    * retrained book also honors). [[PqIndex.collectCodebook]]'s
    * `vec_id < k` definition assumes a 0-based corpus — a streaming
    * sink's ids are positional hashes, where that filter would select
    * (nearly) nothing; lowest-k-by-id is the same deterministic seed
    * rule [[IvfIndex.centroids]] uses and coincides with
    * `collectCodebook` exactly on 0-based corpora (ids 0..k-1 ARE the
    * k lowest). */
  private def bootstrapBook(emb: DataFrame,
      k: Int): Array[(Long, Array[Long])] = {
    val seeds = IvfIndex.centroids(emb, k)
    require(seeds.length == k,
      s"VersionedIvfAdc.upsertBatch: first batch carries only " +
        s"${seeds.length} vectors — need at least k=$k to train the " +
        "PQ codebook; batch the stream's cold start larger or write() " +
        "an index first")
    seeds.sortBy(_._1).zipWithIndex.map { case ((_, q), i) =>
      (i.toLong, q) }
  }

  /** EXACTLY-ONCE micro-batch upsert into the COMPRESSED index —
    * [[VersionedIvf.upsertBatch]]'s txn-marker discipline on the IVFADC
    * layout, the verb a `foreachBatch` sink needs to stream the
    * reference's per-document vector upserts
    * (`parser_pinecone_storage.py:146-154`) into the production serving
    * tier end-to-end exactly-once: a REPLAYED batch (at-least-once
    * delivery) finds its marker already published and no-ops; a fresh
    * batch assigns AND encodes against the geometry observed inside the
    * OCC retry (so it serializes with concurrent delete / rebalance /
    * retrain — a retrain racing this batch forces a re-encode against
    * the winner's book on retry), and rows + carried quantizers + the
    * marker publish as ONE atomic version — the marker can never exist
    * without its encoded rows.
    *
    * Cold start: with `bootstrapCells = Some(n)` an EMPTY root trains
    * both quantizers from the first batch (the deterministic
    * [[IvfIndex.centroids]] / [[PqIndex.collectCodebook]] seeds, which
    * need ids 0..k-1 present) and publishes version 1 with the marker —
    * the reference's create-index-if-missing, transactionally; with
    * None an empty root is an error (silently training a codebook from
    * whatever batch arrives first is rarely what an operator wants —
    * the [[VersionedIvf.upsertBatch]] stance, with higher stakes here
    * because a PQ book trained on an unrepresentative batch degrades
    * every later encode until a [[retrain]]). Returns the head
    * version. */
  def upsertBatch(spark: SparkSession, root: String, emb: DataFrame,
      streamId: String, batchId: Long,
      bootstrapCells: Option[Int] = None, dim: Int = 64, m: Int = 8,
      k: Int = 16, buckets: Int = 4): Long =
    SnapshotStore.withConflictRetry(spark, root) { observed =>
      if (SnapshotStore.lastCommittedBatch(spark, root, streamId)
          .exists(_ >= batchId)) {
        observed // replayed batch: marker already published — no-op
      } else if (observed == 0) {
        val nCells = bootstrapCells.getOrElse(
          throw new IllegalArgumentException(
            s"VersionedIvfAdc.upsertBatch: no published version at " +
              s"$root — write() an index first, or pass bootstrapCells " +
              "to train both quantizers from the first batch"))
        val coarse = IvfIndex.centroids(emb, nCells)
        val book = bootstrapBook(emb, k)
        SnapshotStore.commit(encodedRows(emb, coarse, book, dim, m),
          root, buckets, meta = metaLines(coarse, book, dim, m, k) ++ Seq(
            SnapshotStore.statsDeclaration(Seq("doc_id", "cent_id")),
            SnapshotStore.txnMarker(streamId, batchId)),
          expectedVersion = Some(0L))
      } else {
        val (sDim, sM, sK) = storedGeometry(spark, root, observed)
        val coarse = storedCoarse(spark, root, observed)
        val book = storedBook(spark, root, observed)
        IvfIndex.requireDim(emb, coarse, "VersionedIvfAdc.upsertBatch")
        val rows = encodedRows(emb, coarse, book, sDim, sM)
        SnapshotStore.upsert(spark, rows, rows.select("doc_id"), root,
          bucketsAt(spark, root, observed),
          meta = metaLines(coarse, book, sDim, sM, sK) :+
            SnapshotStore.txnMarker(streamId, batchId),
          expectedVersion = Some(observed))
      }
    }

  /** Delete vectors by id — one atomic empty-re-ingest publish, geometry
    * carried, doc_id stats pruning the keyed read. */
  def delete(spark: SparkSession, root: String, ids: DataFrame): Long =
    SnapshotStore.withConflictRetry(spark, root) { observed =>
      requirePublished(observed, root, "delete")
      val (dim, m, k) = storedGeometry(spark, root, observed)
      val coarse = storedCoarse(spark, root, observed)
      val book = storedBook(spark, root, observed)
      val empty = SnapshotStore.read(spark, root, observed)
        .drop("bucket").limit(0)
      SnapshotStore.upsert(spark, empty,
        ids.select(col("vec_id").cast("long").as("doc_id")),
        root, bucketsAt(spark, root, observed),
        meta = metaLines(coarse, book, dim, m, k),
        expectedVersion = Some(observed))
    }

  /** Hot-cell split on the COMPRESSED layout — [[VersionedIvf.rebalance]]
    * with one twist: the split geometry (seeds, refinement, new
    * sub-centroids) is computed over [[PqIndex.withDecoded]]
    * reconstructions because raw embeddings are not stored, while the
    * rows keep their codes verbatim (PQ codes are cell-independent in
    * this layout — only cent_id moves). Approximating the split from
    * reconstructions is the standard compressed-index trade (Faiss
    * reconstructs for exactly this): the split exists to BOUND PROBE
    * WORK, not to change results — a full probe before and after ranks
    * identically, which is what oracle s26 pins. Reassigned rows + new
    * `#ivfcent` lines + carried codebook publish as ONE OCC version.
    * Returns the number of cells split. */
  def rebalance(spark: SparkSession, root: String,
      hotFactor: Double = 2.0): Int =
    rebalanceCarry(spark, root, hotFactor, None)._1

  /** [[rebalance]] with the [[rebalanceUntil]] counts carry — the
    * [[VersionedIvf]] shape: carried populations apply only when the
    * observed version is the one this loop just published, so an
    * interleaved writer or conflict retry falls back to the ordinary
    * counts scan. */
  private def rebalanceCarry(spark: SparkSession, root: String,
      hotFactor: Double, carry: Option[(Long, Array[(Long, Long)])])
      : (Int, Option[(Long, Array[(Long, Long)])]) = {
    require(hotFactor >= 1.0, s"hotFactor must be >= 1, got $hotFactor")
    SnapshotStore.withConflictRetry(spark, root) { observed =>
      requirePublished(observed, root, "rebalance")
      val (dim, m, k) = storedGeometry(spark, root, observed)
      val coarse = storedCoarse(spark, root, observed)
      val book = storedBook(spark, root, observed)
      val index = PqIndex.withDecoded(
        SnapshotStore.read(spark, root, observed)
          .select(col("doc_id").as("vec_id"), col("cent_id"),
            col("codes")),
        "vec_id", book, dim, m)
      val pre = carry.collect { case (v, c) if v == observed => c }
      IvfIndex.splitPlan(spark, index, () => coarse, hotFactor,
          pre) match {
        case None => (0, carry.filter(_._1 == observed))
        case Some(p) =>
          val rows = p.merged
            .select(col("vec_id").as("doc_id"), col("cent_id"),
              col("codes"))
            .repartitionByRange(math.max(4, p.newCents.length / 2),
              col("cent_id"))
          val published = SnapshotStore.upsert(spark, rows,
            rows.select("doc_id"), root,
            bucketsAt(spark, root, observed),
            meta = metaLines(p.newCents, book, dim, m, k),
            expectedVersion = Some(observed))
          (p.splitCount, Some((published, p.postCounts)))
      }
    }
  }

  /** Bounded convergence loop over [[rebalance]] — each round one atomic
    * version, the [[VersionedIvf.rebalanceUntil]] discipline. */
  def rebalanceUntil(spark: SparkSession, root: String,
      hotFactor: Double = 2.0, maxRounds: Int = 8): Int = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    var total = 0
    var rounds = 0
    var last = -1
    var carry: Option[(Long, Array[(Long, Long)])] = None
    while (rounds < maxRounds && last != 0) {
      val (n, next) = rebalanceCarry(spark, root, hotFactor, carry)
      last = n
      carry = next
      total += last
      rounds += 1
    }
    total
  }

  /** Re-fit the PQ codebook against the CURRENT corpus and re-encode
    * every stored vector — the maintenance verb for codebook staleness
    * under upsert drift (quality decays twice under churn: cells skew,
    * which [[rebalance]] fixes, and the book goes stale against drifted
    * data, which only a refit fixes). Takes the SOURCE embeddings
    * because codes are lossy — a refit from decodes can only re-learn
    * the old book. The refit is [[IvfIndex.trainCentroids]]' bounded-
    * sample integer Lloyd (the Faiss discipline); the trained book is
    * renumbered 0..k-1 (positional-decode contract). Every stored id
    * must be present in `emb` — re-encoding must not silently drop
    * vectors. Coarse geometry is carried unchanged; rows + new
    * `#pqcent` lines publish as ONE OCC version. Returns it. */
  def retrain(spark: SparkSession, root: String, emb: DataFrame,
      iters: Int = 1, trainSample: Long = 0L): Long =
    SnapshotStore.withConflictRetry(spark, root) { observed =>
      requirePublished(observed, root, "retrain")
      val (dim, m, k) = storedGeometry(spark, root, observed)
      val coarse = storedCoarse(spark, root, observed)
      IvfIndex.requireDim(emb, coarse, "VersionedIvfAdc.retrain")
      val ids = SnapshotStore.read(spark, root, observed)
        .select(col("doc_id"))
      val src = emb
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
        .join(ids.select(col("doc_id").as("vec_id")), Seq("vec_id"),
          "left_semi")
      val missing = ids
        .join(src.select(col("vec_id").as("doc_id")), Seq("doc_id"),
          "left_anti").limit(1).count()
      require(missing == 0,
        s"VersionedIvfAdc.retrain: source corpus is missing stored ids " +
          s"at $root — re-encode would silently drop vectors")
      // RE-SEED from the CURRENT corpus: lowest-id seeding would draw
      // every seed from the oldest data, and Lloyd cannot grow the
      // codeword count inside a drifted region its seeds never reached
      // (measured: a region holding one migrated codeword keeps one
      // codeword forever — recall never recovers). A deterministic
      // cross-engine hash order ([[graft.functions.CrossHash.hash60]])
      // spreads seeds ∝ the corpus mix, so new regions get codewords
      // proportional to their mass — the point of retraining. Ids are
      // remapped to the hash BEFORE training (seed choice = lowest-k
      // remapped ids) and the book is renumbered 0..k-1 in hash order.
      val seedSrc = src.select(
        graft.functions.CrossHash.hash60(col("vec_id").cast("string"))
          .as("vec_id"), col("embedding"))
      val trained = IvfIndex.trainCentroids(seedSrc, k, iters, trainSample)
      val book = trained.sortBy(_._1).zipWithIndex
        .map { case ((_, q), i) => (i.toLong, q) }
      val rows = encodedRows(src, coarse, book, dim, m)
      SnapshotStore.upsert(spark, rows, rows.select("doc_id"), root,
        bucketsAt(spark, root, observed),
        meta = metaLines(coarse, book, dim, m, k),
        expectedVersion = Some(observed))
    }

  /** `(q_id, j, code, dist)` — exact integer subspace distances of the
    * query vectors to a codebook (stored or historical): the asymmetric-
    * distance lookup table [[search]] broadcasts, exposed so audits
    * (s29's recall-drift monitor) can score stored codes against ANY
    * version's book without going through a full probe. Tiny:
    * queries × m × k rows. */
  def queryLut(spark: SparkSession, queries: DataFrame,
      book: Array[(Long, Array[Long])], dim: Int, m: Int): DataFrame = {
    val subDim = dim / m
    val sp = spark
    import sp.implicits._
    val bookRows = book.toSeq.flatMap { case (cid, q) =>
      q.zipWithIndex.map { case (v, pos) =>
        (cid, pos / subDim, pos % subDim, v)
      }
    }.toDF("cent_id", "j", "i", "cv")
    PqIndex
      .distsAgainst(PqIndex.components(queries, subDim), bookRows)
      .select(col("vec_id").as("q_id"), col("j"),
        col("cent_id").as("code"), col("dist"))
  }

  /** Operator-facing RECALL-DRIFT MONITOR — the s29 instrument pointed
    * at a LIVE store: recall@k of the stored codes (scored against each
    * version's own book) vs exact integer-L2 truth over the same
    * content, one row per requested version (every retained version by
    * default), integer permille. This is the number that tells an
    * operator WHEN to run [[retrain]]: under upsert drift the newest
    * versions' recall decays while a post-retrain version recovers (the
    * shape oracle s29 pins on a planted fixture).
    *
    * `sourceEmb` supplies raw vectors for the truth side — the store
    * deliberately holds codes only — and must cover every stored id in
    * the eval slice (`doc_id < evalMaxId`); a gap would silently shrink
    * the truth set, so it is a named error. `queries` = (q_id, q_emb),
    * a bounded probe set. Cost per version: slice × queries exact
    * distances (the d21 bounded-eval discipline — per-vector
    * quantization error is independent of what else is stored, so slice
    * recall estimates corpus recall unbiasedly at ANY corpus size) plus
    * one ADC ranking from the stored codes; the corpus is never crossed
    * with itself. */
  def driftReport(spark: SparkSession, root: String, sourceEmb: DataFrame,
      queries: DataFrame, k: Int = 10, evalMaxId: Long = 512L,
      versions: Seq[Long] = Nil): DataFrame = {
    import org.apache.spark.sql.DataFrame
    val vs: Seq[Long] =
      if (versions.nonEmpty) versions
      else SnapshotStore.history(spark, root).select("version")
        .collect().map(_.getLong(0)).sorted.toIndexedSeq
    require(vs.nonEmpty, s"driftReport: no published versions at $root")
    // LAZY checkpoints throughout: each frame's first consumer is a
    // single-reference driver action (q: the count right below; src and
    // each version's stored slice: the missing-ids probe count), whose
    // job materializes the checkpoint — eager would pay a separate
    // materialization job per frame before the same action
    val q = broadcast(queries.select(col("q_id"), col("q_emb"))
      .localCheckpoint(false))
    val nQ = q.count()
    require(nQ > 0, "driftReport: empty query set")
    val src = sourceEmb
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id") < evalMaxId)
      .localCheckpoint(false) // consumed once per version below
    def row(v: Long): DataFrame = {
      val (dim, m, _) = storedGeometry(spark, root, v)
      val stored = SnapshotStore.read(spark, root, v)
        .filter(col("doc_id") < evalMaxId)
        .select(col("doc_id").as("vec_id"), col("codes"))
        .localCheckpoint(false) // ids probe + ADC ranking below
      val missing = stored.select("vec_id")
        .join(src.select("vec_id"), Seq("vec_id"), "left_anti")
        .limit(1).count()
      require(missing == 0,
        s"driftReport: sourceEmb is missing stored ids under $evalMaxId " +
          s"at $root version $v — the truth set would silently shrink")
      val corpusV = src.join(stored.select("vec_id"), Seq("vec_id"),
        "left_semi")
      val we = Window.partitionBy("q_id")
        .orderBy(col("dist"), col("vec_id"))
      val exactK = corpusV.crossJoin(q)
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          aggregate(zip_with(
            graft.functions.VectorFunctions.quantize1e6(col("embedding")),
            graft.functions.VectorFunctions.quantize1e6(col("q_emb")),
            (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
            .as("dist"))
        .withColumn("rk", row_number().over(we))
        .filter(col("rk") <= k).select("q_id", "vec_id")
      val book = storedBook(spark, root, v)
      val lut = queryLut(spark,
        q.select(col("q_id").as("vec_id"), col("q_emb").as("embedding")),
        book, dim, m)
      val wa = Window.partitionBy("q_id")
        .orderBy(col("adist"), col("vec_id"))
      val adcK = stored
        .select(col("vec_id"), posexplode(col("codes"))
          .as(Seq("j", "code")))
        .join(broadcast(lut), Seq("j", "code"))
        .filter(col("vec_id") =!= col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(sum(col("dist")).as("adist"))
        .withColumn("rk", row_number().over(wa))
        .filter(col("rk") <= k).select("q_id", "vec_id")
      adcK.join(exactK, Seq("q_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(v).as("version"), col("hits"),
          expr(s"cast(hits * 1000 div ${k * nQ} as bigint)")
            .as("recall_permille"))
    }
    vs.map(row).reduce(_ unionByName _).orderBy("version")
  }

  /** The IVFADC cascade against a published version (head by default,
    * resolved ONCE — geometry, both quantizers and the cells all come
    * from the same version, so a rebalance publishing mid-search cannot
    * pair old centroids with new rows): coarse probe, collected once
    * ([[IvfIndex.collectProbes]] — dim check, probed cells and join side
    * from one job) → candidate cells admitted by ONE
    * [[SnapshotStore.readWhereIn]] metadata pass (driver-side for an
    * inline-metadata store, on the executors for a sidecar store) → PQ
    * asymmetric distance from the broadcast query LUT over the stored
    * codes. The corpus embeddings are never touched — the manifest IS
    * the index. Query ids share the corpus namespace and self-exclude,
    * the [[PqIndex.searchIvfIndexed]] contract.
    *
    * Jobs per call, with the result's collect, on an inline-metadata
    * store: 8 — the probe collect, 3 for the query LUT (codebook
    * broadcast, its aggregation stage, its broadcast build), the probe
    * broadcast, and the cascade's aggregation, ranking and result
    * stages. An empty query frame returns an empty result with the
    * normal schema; `nProbe` or `topK` below 1 is a named
    * IllegalArgumentException. */
  def search(spark: SparkSession, root: String, queries: DataFrame,
      nProbe: Int, topK: Int, version: Long = -1L): DataFrame = {
    IvfIndex.requireSearchBounds(nProbe, topK, "VersionedIvfAdc.search")
    val v = SnapshotStore.resolveVersion(spark, root, version)
    val (dim, m, _) = storedGeometry(spark, root, v)
    val book = storedBook(spark, root, v)
    val (probes, probeCells) = IvfIndex.collectProbes(spark, queries,
      storedCoarse(spark, root, v), nProbe, "VersionedIvfAdc.search")
    val cells = VersionedIvf.readCells(spark, root, probeCells, v)
    // query LUT: subspace distances of the query vectors to the STORED
    // codebook — tiny (queries × m × k), broadcast
    val lut = queryLut(spark, queries, book, dim, m)
    // asymmetric distance: explode each candidate's code array to
    // (j, code), sum the m LUT lookups, rank per query
    val w = Window.partitionBy("q_id")
      .orderBy(col("approx_dist"), col("vec_id"))
    cells.select(col("doc_id").as("vec_id"), col("cent_id"), col("codes"))
      .join(broadcast(probes.select("q_id", "cent_id")), Seq("cent_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        posexplode(col("codes")).as(Seq("j", "code")))
      .join(broadcast(lut), Seq("q_id", "j", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("dist")).as("approx_dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("approx_dist"))
  }
}
