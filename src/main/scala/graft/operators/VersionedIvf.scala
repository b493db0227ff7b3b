package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF index routed THROUGH [[SnapshotStore]] — closing the crash
  * window [[IvfIndex.deleteFromIndex]]/[[IvfIndex.rebalance]] document:
  * the bare-parquet layout writes its centroid sidecar and its cell
  * partitions as two separate filesystem operations, so a crash between
  * them leaves geometry and rows disagreeing (complete-but-degraded at
  * best). Here the WHOLE index state publishes as one store version:
  *
  *  - vector rows are store rows (`doc_id` = vec_id, `embedding`,
  *    `cent_id`), written range-clustered by cent_id so the per-file
  *    cent_id stats envelopes are tight;
  *  - the centroid table rides the SAME manifest as `#ivfcent` metadata
  *    lines (k × dim longs, base64 — a few KB; the commit root is the
  *    right home for geometry this small), via the CREATE-EXCLUSIVE
  *    publish — so no interleaving of a maintenance verb and a crash
  *    can ever tear centroids from cells;
  *  - every maintenance verb (upsert, delete, rebalance) is ONE
  *    [[SnapshotStore.upsert]] — atomic, optimistic-concurrency-safe,
  *    and TIME-TRAVELABLE: `search(version = n)` serves the index
  *    exactly as version n published it, which the bare layout cannot.
  *    Concurrency safety is end-to-end, not just per-publish: each
  *    verb reads geometry AT the observed version and publishes with
  *    `expectedVersion = observed` inside
  *    [[SnapshotStore.withConflictRetry]], so two racing verbs
  *    serialize — the loser re-reads the winner's geometry and
  *    re-derives its rows, and a manifest can never carry stale
  *    `#ivfcent` lines against newer rows' cent_ids.
  *
  * Search pruning: the store declares doc_id + cent_id statistics, so a
  * probe reads each probed cell through [[SnapshotStore.readWhere]]'s
  * file skipping — the versioned layout's equivalent of the bare
  * layout's `cent_id=` partition pruning. A probe set covering most
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

  /** Build and publish version 1: assign every vector to its nearest
    * centroid cell (the [[IvfIndex.centroids]] deterministic seeds) and
    * commit rows + geometry in one manifest. Rows repartition by
    * cent_id RANGE before the commit so each written file covers a
    * narrow cent_id band — that is what makes the stats-skipping probe
    * path open ~1/k of the files per probed cell. */
  def write(emb: DataFrame, k: Int, root: String,
      buckets: Int = 4): Long = {
    val cents = IvfIndex.centroids(emb, k)
    val rows = IvfIndex.cellAssign(emb, cents)
      .select(col("vec_id").cast("long").as("doc_id"), col("embedding"),
        col("cent_id"))
      .repartitionByRange(math.max(4, k / 2), col("cent_id"))
    SnapshotStore.commit(rows, root, buckets,
      meta = centLines(cents) :+
        SnapshotStore.statsDeclaration(Seq("doc_id", "cent_id")))
  }

  /** Upsert vectors — the reference's most common write (Pinecone's
    * per-vector `index.upsert` is an insert-or-replace append,
    * `parser_pinecone_storage.py:154`) on the versioned layout: new
    * vectors assign against the STORED `#ivfcent` geometry (the
    * [[IvfIndex.appendToIndex]] discipline — appending never moves
    * centroids; a later [[rebalance]] restores balance if cells run
    * hot), existing ids are replaced, and rows + carried geometry
    * publish as ONE atomic, time-travelable version.
    *
    * Concurrent-writer safety: the geometry is read at the OBSERVED
    * version and the publish carries `expectedVersion = observed`
    * inside [[SnapshotStore.withConflictRetry]], so a racing verb
    * can never make this manifest carry stale centroid lines against
    * the winner's rows — the retry re-reads geometry and re-assigns.
    * Returns the new version. */
  def upsert(spark: SparkSession, root: String, emb: DataFrame): Long =
    SnapshotStore.withConflictRetry(spark, root) { observed =>
      requirePublished(observed, root, "upsert")
      val cents = storedCentroids(spark, root, observed)
      IvfIndex.requireDim(emb, cents, "VersionedIvf.upsert")
      val rows = assignRows(emb, cents)
      SnapshotStore.upsert(spark, rows, rows.select("doc_id"), root,
        bucketsAt(spark, root, observed), meta = centLines(cents),
        expectedVersion = Some(observed))
    }

  private def assignRows(emb: DataFrame,
      cents: Array[(Long, Array[Long])]): DataFrame =
    IvfIndex.cellAssign(emb, cents)
      .select(col("vec_id").cast("long").as("doc_id"),
        col("embedding"), col("cent_id"))
      .repartitionByRange(math.max(4, cents.length / 2), col("cent_id"))

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
    SnapshotStore.withConflictRetry(spark, root) { observed =>
      if (SnapshotStore.lastCommittedBatch(spark, root, streamId)
          .exists(_ >= batchId)) {
        observed // replayed batch: marker already published — no-op
      } else if (observed == 0) {
        val k = bootstrapCells.getOrElse(throw new IllegalArgumentException(
          s"VersionedIvf.upsertBatch: no published version at $root — " +
            "write() an index first, or pass bootstrapCells to train " +
            "from the first batch"))
        val cents = IvfIndex.centroids(emb, k)
        SnapshotStore.commit(assignRows(emb, cents), root, buckets,
          meta = centLines(cents) ++ Seq(
            SnapshotStore.statsDeclaration(Seq("doc_id", "cent_id")),
            SnapshotStore.txnMarker(streamId, batchId)),
          expectedVersion = Some(0L))
      } else {
        val cents = storedCentroids(spark, root, observed)
        IvfIndex.requireDim(emb, cents, "VersionedIvf.upsertBatch")
        val rows = assignRows(emb, cents)
        SnapshotStore.upsert(spark, rows, rows.select("doc_id"), root,
          bucketsAt(spark, root, observed),
          meta = centLines(cents) :+
            SnapshotStore.txnMarker(streamId, batchId),
          expectedVersion = Some(observed))
      }
    }

  /** Delete vectors by id — ONE atomic publish (an empty-re-ingest
    * upsert keyed on doc_id: the store's own doc_id stats prune the
    * read to admitting files). Geometry is unchanged and re-rides the
    * new manifest, read at the observed version and published with
    * `expectedVersion` under [[SnapshotStore.withConflictRetry]] so a
    * concurrent rebalance cannot be overwritten with its pre-split
    * centroids. Returns the new version. */
  def delete(spark: SparkSession, root: String, ids: DataFrame): Long =
    SnapshotStore.withConflictRetry(spark, root) { observed =>
      requirePublished(observed, root, "delete")
      val cents = storedCentroids(spark, root, observed)
      val empty = SnapshotStore.read(spark, root, observed)
        .drop("bucket").limit(0)
      SnapshotStore.upsert(spark, empty,
        ids.select(col("vec_id").cast("long").as("doc_id")),
        root, bucketsAt(spark, root, observed), meta = centLines(cents),
        expectedVersion = Some(observed))
    }

  /** Hot-cell split ([[IvfIndex.rebalance]]'s deterministic
    * [[IvfIndex.splitPlan]]) applied as ONE atomic publish: the
    * reassigned rows AND the new centroid table land in the same
    * manifest, so the crash window between "centroids updated" and
    * "cells rewritten" that the bare layout documents cannot exist —
    * any reader either sees the old version (old geometry, old rows) or
    * the new one, never a mix. Returns the number of cells split. */
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
      val cents = storedCentroids(spark, root, observed)
      val index = SnapshotStore.read(spark, root, observed)
        .select(col("doc_id").as("vec_id"), col("embedding"),
          col("cent_id"))
      val pre = carry.collect { case (v, c) if v == observed => c }
      IvfIndex.splitPlan(spark, index, () => cents, hotFactor,
          pre) match {
        case None => (0, carry.filter(_._1 == observed))
        case Some(p) =>
          val rows = p.merged
            .select(col("vec_id").as("doc_id"), col("embedding"),
              col("cent_id"))
          val published = SnapshotStore.upsert(spark, rows,
            rows.select("doc_id"), root,
            bucketsAt(spark, root, observed),
            meta = centLines(p.newCents),
            expectedVersion = Some(observed))
          (p.splitCount, Some((published, p.postCounts)))
      }
    }
  }

  /** Bounded convergence loop over [[rebalance]] — the
    * [[IvfIndex.rebalanceUntil]] discipline on the versioned layout.
    * Each round is one atomic version; a crash between rounds leaves a
    * fully consistent, merely less-balanced index. */
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
    * new rows. The probe set is ranked and collected once
    * ([[IvfIndex.collectProbes]]): the dim check, the probed cells and
    * the broadcast join side all come from that one collect. The probed
    * cells are then read through [[SnapshotStore.readWhereIn]]'s stats
    * skipping — ONE metadata pass admits exactly the probed cells'
    * files, evaluated on the driver for an inline-metadata store and on
    * the executors for a sidecar store (a full probe degrades gracefully
    * to the whole snapshot plus a residual filter).
    *
    * Jobs per call, with the result's collect, on an inline-metadata
    * store: 4 (probe collect, broadcast build, the ranking's shuffle
    * map stage and result stage), narrow or full probe. An empty query
    * frame returns an empty result with the normal schema; `nProbe` or
    * `topK` below 1 is a named IllegalArgumentException. */
  def search(spark: SparkSession, root: String, queries: DataFrame,
      nProbe: Int, topK: Int, version: Long = -1L): DataFrame = {
    IvfIndex.requireSearchBounds(nProbe, topK, "VersionedIvf.search")
    val v = SnapshotStore.resolveVersion(spark, root, version)
    val (probes, cells) = IvfIndex.collectProbes(spark, queries,
      storedCentroids(spark, root, v), nProbe, "VersionedIvf.search")
    IvfIndex.rankCandidates(
      readCells(spark, root, cells, v)
        .select(col("doc_id").as("vec_id"), col("embedding"), col("cent_id"))
        .join(broadcast(probes), Seq("cent_id")), topK)
  }
}
