package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** The stored IVF index: rows and geometry publish as ONE
  * [[SnapshotStore]] version, so no crash can tear centroids from cells:
  *
  *  - vector rows are store rows (`doc_id` = vec_id, a payload,
  *    `cent_id`), written in cent_id bands ([[clustered]]) so the
  *    per-file cent_id stats envelopes are tight. The payload is the flat
  *    `embedding` ([[write]]) or the SQ8 tier's symmetric-int8 `q8`
  *    codes ([[writeSq]]);
  *  - the centroid table rides the SAME manifest as `#ivfcent` metadata
  *    lines (k × dim longs, base64 — a few KB; the commit root is the
  *    right home for geometry this small), via the CREATE-EXCLUSIVE
  *    publish — so no interleaving of a maintenance verb and a crash
  *    can ever tear centroids from cells;
  *  - every maintenance verb (upsert, delete, rebalance) is ONE
  *    merge-on-read [[SnapshotStore.upsert]] — it writes only the rows
  *    it adds and publishes the replaced or deleted ids as a delete
  *    entry; atomic, optimistic-concurrency-safe, and TIME-TRAVELABLE:
  *    `search(version = n)` serves the index exactly as version n
  *    published it.
  *    Concurrency safety is end-to-end, not just per-publish: each
  *    verb reads geometry AT the observed version and publishes with
  *    `expectedVersion = observed` inside
  *    [[SnapshotStore.withConflictRetry]], so two racing verbs
  *    serialize — the loser re-reads the winner's geometry and
  *    re-derives its rows, and a manifest can never carry stale
  *    `#ivfcent` lines against newer rows' cent_ids;
  *  - maintenance keeps the layout: every verb has the store write the
  *    rows it adds in the same cent_id bands ([[upsertRows]]) and
  *    rewrites no stored file, so after an upsert, delete or rebalance
  *    each file still covers a narrow cent_id band.
  *
  * Search pruning: the store declares doc_id + cent_id statistics, so a
  * probe reads the probed cells through [[SnapshotStore.readWhereIn]]'s
  * file skipping and opens only their files. A probe set covering most
  * cells (full-probe verification) reads the snapshot once and filters,
  * since per-cell skipping would open the same files repeatedly.
  *
  * Reference anchor: the reference's Pinecone index is mutated by
  * independent per-vector `index.upsert` service calls with no
  * transactional story at all
  * (`airflow/dags/parser_pinecone_storage.py:154,172,183`); this is
  * the lakehouse-grade version of that maintenance surface.
  */
object VersionedIvf {

  private val CentPrefix = "#ivfcent\t"

  /** One `<prefix><id>\t<base64 longs>` manifest line per vector —
    * the shared codec for quantized-vector tables small enough to ride
    * the commit root (IVF coarse centroids here, the PQ codebook in
    * [[VersionedIvfAdc]]). */
  private[operators] def vecLine(prefix: String, id: Long,
      qc: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(8 * qc.length)
    qc.foreach(bb.putLong)
    prefix + id + "\t" +
      java.util.Base64.getEncoder.encodeToString(bb.array)
  }

  private[operators] def parseVecLine(l: String): (Long, Array[Long]) = {
    val a = l.split("\t", 3)
    val bytes = java.util.Base64.getDecoder.decode(a(2))
    val bb = java.nio.ByteBuffer.wrap(bytes)
    (a(1).toLong, Array.fill(bytes.length / 8)(bb.getLong()))
  }

  private[operators] def storedVecLines(spark: SparkSession, root: String,
      prefix: String, version: Long, what: String)
      : Array[(Long, Array[Long])] = {
    val lines =
      SnapshotStore.storedMetaLines(spark, root, prefix, version)
    require(lines.nonEmpty,
      s"no ${prefix.trim} geometry at $root — not a $what store " +
        s"(or a foreign verb dropped the lines)")
    lines.map(parseVecLine).sortBy(_._1).toArray
  }

  private[operators] def vecLines(prefix: String,
      cents: Array[(Long, Array[Long])]): Seq[String] =
    cents.sortBy(_._1).map { case (i, q) => vecLine(prefix, i, q) }.toSeq

  /** The centroid table of a published version (head by default) —
    * parsed from the version's own manifest, so geometry always matches
    * the rows the same manifest lists. */
  def storedCentroids(spark: SparkSession, root: String,
      version: Long = -1L): Array[(Long, Array[Long])] =
    storedVecLines(spark, root, CentPrefix, version, "VersionedIvf")

  private def centLines(cents: Array[(Long, Array[Long])]): Seq[String] =
    vecLines(CentPrefix, cents)

  private def bucketsAt(spark: SparkSession, root: String,
      version: Long): Int =
    SnapshotStore.storedBuckets(spark, root, version).getOrElse(
      throw new IllegalArgumentException(
        s"store at $root records no bucket modulus"))

  private def requirePublished(observed: Long, root: String,
      verb: String): Unit =
    require(observed > 0,
      s"VersionedIvf.$verb: no published version at $root — write() " +
        "an initial index first")

  /** The SQ8 tier's payload column. */
  private val SqCodes = "q8"

  /** The SQ8 tier stores codes, not geometry: the verbs that assign or
    * split from embeddings refuse it by name (re-clustering codes would
    * compound quantization error silently). */
  private def requireFlat(spark: SparkSession, root: String, v: Long,
      verb: String): Unit =
    if (SnapshotStore.declaredCols(spark, root, v)
        .exists(_.exists(_._1 == SqCodes)))
      throw new IllegalArgumentException(
        s"VersionedIvf.$verb needs the flat (write) layout — the index " +
          s"at $root is the SQ8 tier, which stores int8 codes, not " +
          "geometry; re-write it with writeSq instead")

  /** Build and publish version 1: assign every vector to its nearest
    * centroid cell (the [[IvfIndex.centroids]] deterministic seeds) and
    * commit rows + geometry in one manifest. Rows are partitioned into
    * cent_id bands ([[clustered]]) before the commit so each written
    * file covers a narrow cent_id band — that is what makes the
    * stats-skipping probe path open ~1/k of the files per probed cell. */
  def write(emb: DataFrame, k: Int, root: String,
      buckets: Int = 4): Long =
    writeWith(emb, k, root, buckets, col("embedding"))

  /** The SQ8 tier (the Faiss IVF-SQ index type): [[write]] with rows
    * storing the SYMMETRIC-int8 quantized vector
    * ([[VectorFunctions.quantizeInt8]] — small integers, the
    * 4×-at-rest compression tier between IVF-flat and PQ) as `q8`
    * instead of the raw floats. Cells are assigned on the full-precision
    * input (compression is for the stored payload, not the geometry), and
    * because the quantization is integer-exact, [[searchSq]] results are
    * oracle-checkable, not just spot-checked. Same `#ivfcent` lines and
    * stats declaration as [[write]]; [[delete]] keeps the `q8` payload,
    * while [[upsert]], [[upsertBatch]] and [[rebalance]] refuse the tier
    * with a named IllegalArgumentException. */
  def writeSq(emb: DataFrame, k: Int, root: String,
      buckets: Int = 4): Long =
    writeWith(emb, k, root, buckets,
      VectorFunctions.quantizeInt8(col("embedding")).as(SqCodes))

  private def writeWith(emb: DataFrame, k: Int, root: String,
      buckets: Int, payload: Column): Long = {
    val cents = IvfIndex.centroids(emb, k)
    SnapshotStore.commit(clustered(assignRows(emb, cents, payload),
      cents.map(_._1)), root, buckets,
      meta = centLines(cents) :+
        SnapshotStore.statsDeclaration(Seq("doc_id", "cent_id")))
  }

  /** Upsert vectors — the reference's most common write (Pinecone's
    * per-vector `index.upsert` is an insert-or-replace append,
    * `parser_pinecone_storage.py:154`) on the versioned layout: new
    * vectors assign against the STORED `#ivfcent` geometry (appending
    * never moves centroids; a later [[rebalance]] restores balance if
    * cells run hot), existing ids are replaced, and rows + carried
    * geometry publish as ONE atomic, time-travelable version.
    *
    * Concurrent-writer safety: the geometry is read at the OBSERVED
    * version and the publish carries `expectedVersion = observed`
    * inside [[SnapshotStore.withConflictRetry]], so a racing verb
    * can never make this manifest carry stale centroid lines against
    * the winner's rows — the retry re-reads geometry and re-assigns.
    * Wrong-dim (or null) vectors are a named IllegalArgumentException
    * before anything is written; the check rides the ids the store's id
    * collect reads ([[IvfIndex.dimChecked]]). Jobs per call: 4 (the id
    * collect's two, the cent_id bands' map stage, the write). Returns
    * the new version. */
  def upsert(spark: SparkSession, root: String, emb: DataFrame): Long =
    IvfIndex.namedDimError(SnapshotStore.withConflictRetry(spark, root) {
      observed =>
      requirePublished(observed, root, "upsert")
      requireFlat(spark, root, observed, "upsert")
      val cents = storedCentroids(spark, root, observed)
      upsertRows(spark, root, observed, assignRows(
        IvfIndex.dimChecked(emb, cents, "VersionedIvf.upsert"), cents),
        cents.map(_._1), centLines(cents))
    })

  private def assignRows(emb: DataFrame,
      cents: Array[(Long, Array[Long])],
      payload: Column = col("embedding")): DataFrame =
    IvfIndex.cellAssign(emb, cents)
      .select(col("vec_id").cast("long").as("doc_id"), payload,
        col("cent_id"))

  /** The index's file layout for a geometry with cells `cellIds`: rows
    * partitioned into `max(4, cells / 2)` cent_id bands, each a run of
    * consecutive cells in cent_id order, so every written file covers at
    * most ⌈cells / bands⌉ cells (two or three) and every cell lies in
    * one band. A row's band comes
    * from its cent_id alone, so laying rows out costs one shuffle and no
    * sampling pass. */
  private[operators] def clustered(rows: DataFrame,
      cellIds: Seq[Long]): DataFrame = {
    val ids = cellIds.sorted
    val bands = math.max(4, ids.length / 2)
    val bandOf = typedLit(ids.zipWithIndex.map { case (c, i) =>
      c -> (i.toLong * bands / ids.length).toInt }.toMap)
    rows.repartitionById(bands,
      coalesce(try_element_at(bandOf, col("cent_id")), lit(0)))
  }

  /** A maintenance verb's publish against the `observed` version:
    * `rows` replace the stored rows of their own ids (the store's upsert
    * keys on newRows' ids itself) and the ids in `deleted` lose theirs;
    * `meta` carries the geometry lines. The rows are written in the
    * cent_id bands of the geometry with cells `cellIds`; the replaced
    * and deleted ids become the version's delete entry, so no stored
    * file is read or rewritten. */
  private[operators] def upsertRows(spark: SparkSession, root: String,
      observed: Long, rows: DataFrame, cellIds: Seq[Long],
      meta: Seq[String], deleted: Option[DataFrame] = None): Long =
    SnapshotStore.upsert(spark, rows,
      deleted.getOrElse(rows.select("doc_id").limit(0)), root,
      bucketsAt(spark, root, observed), meta, Some(observed),
      clusterBy = Some(clustered(_, cellIds)))

  /** EXACTLY-ONCE micro-batch upsert — [[upsert]] carrying a
    * [[SnapshotStore.txnMarker]], the verb a Structured Streaming
    * `foreachBatch` sink needs to make a stream of per-document vector
    * upserts (the reference's ingest DAG is exactly that,
    * `parser_pinecone_storage.py:146-154`) end-to-end exactly-once into
    * the versioned index: a batch REPLAYED after a crash (foreachBatch
    * delivery is at-least-once) finds its marker already published and
    * no-ops; a fresh batch assigns against the observed geometry and
    * publishes rows + carried `#ivfcent` lines + its marker as ONE
    * atomic version under the OCC retry — so the sink composes with
    * concurrent maintenance verbs (delete/rebalance) the way [[upsert]]
    * does, and the marker can never exist without its rows (the Delta
    * txn-action discipline: the marker lives in the atomically renamed
    * manifest).
    *
    * Cold start: with `bootstrapCells = Some(k)` an EMPTY root trains
    * deterministic seeds from the first batch and publishes version 1
    * (marker included — the reference's create-index-if-missing,
    * transactionally); with None an empty root is an error, because
    * silently training geometry from whatever batch happens to arrive
    * first is rarely what an operator wants. */
  def upsertBatch(spark: SparkSession, root: String, emb: DataFrame,
      streamId: String, batchId: Long,
      bootstrapCells: Option[Int] = None, buckets: Int = 4): Long =
    IvfIndex.namedDimError(SnapshotStore.withConflictRetry(spark, root) {
      observed =>
      if (SnapshotStore.lastCommittedBatch(spark, root, streamId)
          .exists(_ >= batchId)) {
        observed // replayed batch: marker already published — no-op
      } else if (observed == 0) {
        val k = bootstrapCells.getOrElse(throw new IllegalArgumentException(
          s"VersionedIvf.upsertBatch: no published version at $root — " +
            "write() an index first, or pass bootstrapCells to train " +
            "from the first batch"))
        val cents = IvfIndex.centroids(emb, k)
        SnapshotStore.commit(clustered(assignRows(emb, cents),
          cents.map(_._1)), root, buckets,
          meta = centLines(cents) ++ Seq(
            SnapshotStore.statsDeclaration(Seq("doc_id", "cent_id")),
            SnapshotStore.txnMarker(streamId, batchId)),
          expectedVersion = Some(0L))
      } else {
        requireFlat(spark, root, observed, "upsertBatch")
        val cents = storedCentroids(spark, root, observed)
        upsertRows(spark, root, observed, assignRows(IvfIndex.dimChecked(
          emb, cents, "VersionedIvf.upsertBatch"), cents),
          cents.map(_._1),
          centLines(cents) :+ SnapshotStore.txnMarker(streamId, batchId))
      }
    })

  /** Delete vectors by id — ONE atomic publish (an empty-re-ingest
    * upsert keyed on doc_id) that writes no data file: the ids become
    * the version's delete entry. Geometry is unchanged and re-rides the
    * new manifest, read at the observed version and published with
    * `expectedVersion` under [[SnapshotStore.withConflictRetry]] so a
    * concurrent rebalance cannot be overwritten with its pre-split
    * centroids. Jobs per call: at most 2 (the id collect). Returns the
    * new version. */
  def delete(spark: SparkSession, root: String, ids: DataFrame): Long =
    SnapshotStore.withConflictRetry(spark, root) { observed =>
      requirePublished(observed, root, "delete")
      val cents = storedCentroids(spark, root, observed)
      val empty = SnapshotStore.read(spark, root, observed)
        .drop("bucket").limit(0)
      upsertRows(spark, root, observed, empty, cents.map(_._1),
        centLines(cents),
        deleted = Some(ids.select(col("vec_id").cast("long").as("doc_id"))))
    }

  /** OPTIMIZE for the stored ANN index: split every over-populated cell
    * in two. Many upserts skew cell populations and a hot cell makes
    * every probe that touches it scan-heavy; re-training the whole index
    * fixes that at full-rebuild cost — this fixes it at cost ∝ the hot
    * cells. The split is [[IvfIndex.splitPlan]]'s deterministic one (a
    * hot cell's two sub-centroids seed from its two lowest vec_ids, one
    * integer-Lloyd refinement on the cell's own rows, ties to the lower
    * cent_id; the surviving sub-cell keeps the old cent_id, the other
    * gets `max(cent_id) + i`), so the post-rebalance layout is
    * engine-reproducible. The reassigned rows AND the new centroid table
    * publish as ONE atomic version: any reader sees either the old
    * version (old geometry, old rows) or the new one, never a mix.
    * Returns the number of cells ACTUALLY split (0 = no cell exceeded
    * `hotFactor` × mean population, nothing published). The SQ8 tier is
    * refused by name. */
  def rebalance(spark: SparkSession, root: String,
      hotFactor: Double = 2.0): Int =
    rebalanceCarry(spark, root, hotFactor, None)._1

  /** [[rebalance]] with the [[rebalanceUntil]] counts carry. The carry
    * is (version it describes, per-cell populations): round N's split
    * plan knows round N+1's populations exactly by row conservation, but
    * ONLY if nothing else published in between — so the counts are used
    * strictly when the observed version is the one this loop just
    * published, and dropped on any interleaved writer or conflict
    * retry (the next round then pays the ordinary counts scan). */
  private def rebalanceCarry(spark: SparkSession, root: String,
      hotFactor: Double, carry: Option[(Long, Array[(Long, Long)])])
      : (Int, Option[(Long, Array[(Long, Long)])]) = {
    require(hotFactor >= 1.0, s"hotFactor must be >= 1, got $hotFactor")
    SnapshotStore.withConflictRetry(spark, root) { observed =>
      requirePublished(observed, root, "rebalance")
      requireFlat(spark, root, observed, "rebalance")
      val cents = storedCentroids(spark, root, observed)
      val index = SnapshotStore.read(spark, root, observed)
        .select(col("doc_id").as("vec_id"), col("embedding"),
          col("cent_id"))
      val pre = carry.collect { case (v, c) if v == observed => c }
      IvfIndex.splitPlan(spark, index, cents, hotFactor, pre) match {
        case None => (0, carry.filter(_._1 == observed))
        case Some(p) =>
          val published = upsertRows(spark, root, observed,
            p.merged.select(col("vec_id").as("doc_id"), col("embedding"),
              col("cent_id")),
            p.newCents.map(_._1), centLines(p.newCents))
          (p.splitCount, Some((published, p.postCounts)))
      }
    }
  }

  /** Bounded convergence loop over [[rebalance]] — one call splits each
    * hot cell exactly once (binary), so a severely skewed cell (≫2× mean
    * after one split) levels only under repeated calls. Same discipline
    * as PageRank's `ranksConverged` probe: iterate until `rebalance`
    * returns 0 splits, with `maxRounds` bounding the worst case. Each
    * round is one atomic version; a crash between rounds leaves a fully
    * consistent, merely less-balanced index. Returns the total number
    * of splits across rounds. */
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

  /** The rows of the probed `cells` at version `v`. No query rows means
    * no probed cell: the schema-only snapshot keeps the search result's
    * normal schema. */
  private[operators] def readCells(spark: SparkSession, root: String,
      cells: Array[Long], v: Long): DataFrame =
    if (cells.isEmpty) SnapshotStore.read(spark, root, v).limit(0)
    else SnapshotStore.readWhereIn(spark, root, "cent_id",
      cells.toIndexedSeq, v)

  /** Probe search over the versioned layout, optionally AT a historical
    * version — geometry and rows both come from that version's
    * manifest, and a head search (`version` < 0) resolves the head ONCE,
    * so a rebalance publishing mid-search cannot pair old centroids with
    * new rows. The probe set is ranked on the driver
    * ([[IvfIndex.driverProbes]]): the dim check and the probed cells come
    * from the collected queries, and each scanned row finds its probing
    * queries through one by-reference lookup, with no join and no
    * broadcast. The probed cells are read through
    * [[SnapshotStore.readWhereIn]]'s stats skipping — ONE metadata pass
    * admits exactly the probed cells' files, evaluated on the driver for
    * an inline-metadata store and on the executors for a sidecar store (a
    * full probe degrades gracefully to the whole snapshot plus a residual
    * filter). Query ids share the corpus namespace: a query whose vec_id
    * equals a stored id is that vector itself and is excluded from its
    * own results.
    *
    * Jobs per call, with the result's collect, on an inline-metadata
    * store: 2 (the ranking's shuffle map stage and result stage), narrow
    * or full probe, for a local query frame; a frame that is not local
    * adds its collect's one. The generated code does not depend on the
    * query vectors or the probed cells, so a search with new queries
    * compiles no class. An empty query frame returns an empty result with
    * the normal schema; `nProbe` or `topK` below 1 is a named
    * IllegalArgumentException. */
  def search(spark: SparkSession, root: String, queries: DataFrame,
      nProbe: Int, topK: Int, version: Long = -1L): DataFrame =
    probeSearch(spark, root, queries, nProbe, topK, version,
      "VersionedIvf.search", col("embedding"), col("embedding"))

  /** [[search]] over a [[writeSq]] index: probe cells resolve against
    * the stored centroids from the FULL-precision queries (dim-guarded),
    * and scoring is symmetric int8 — queries quantize through the same
    * expression as the stored rows, so similarities match the in-memory
    * s05 semantics exactly. Same jobs per call as [[search]]. */
  def searchSq(spark: SparkSession, root: String, queries: DataFrame,
      nProbe: Int, topK: Int, version: Long = -1L): DataFrame =
    probeSearch(spark, root, queries, nProbe, topK, version,
      "VersionedIvf.searchSq",
      col(SqCodes).cast("array<double>"),
      VectorFunctions.quantizeInt8(col("embedding")).cast("array<double>"))

  /** The probe search both tiers share: `stored` is the stored rows'
    * scored vector, `query` the query frame's (evaluated with the probe
    * collect), both ranked by cosine. */
  private def probeSearch(spark: SparkSession, root: String,
      queries: DataFrame, nProbe: Int, topK: Int, version: Long,
      what: String, stored: Column, query: Column): DataFrame = {
    IvfIndex.requireSearchBounds(nProbe, topK, what)
    val v = SnapshotStore.resolveVersion(spark, root, version)
    val probes = IvfIndex.driverProbes(queries,
      storedCentroids(spark, root, v), nProbe, what, query)
    IvfIndex.rankCandidates(probes.probing(
      readCells(spark, root, probes.cells, v)
        .select(col("doc_id").as("vec_id"), stored.as("embedding"),
          col("cent_id"))), topK)
  }
}
