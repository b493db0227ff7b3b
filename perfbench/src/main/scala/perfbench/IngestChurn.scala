package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.{IngestionPipeline, SnapshotStore, VersionedIvf}

/** Writes beside reads, closed loop: seeded upsert batches (new ids,
  * re-ingested changed ids, a range delete) through the
  * chunk store and the versioned IVF index, each followed by a
  * read-after-write check, and store maintenance every [[CycleBatches]]
  * batches. Every read follows a fresh publish, so the store's
  * per-version caches miss by construction. */
final class IngestChurn(spark: SparkSession, seed: Long) extends Workload {
  val name = "ingest_churn"
  val unitKind = "write"

  val InitialDocs = 1500
  val BatchDocs = 200
  val Buckets = 8
  val Cells = 16
  /** Read-after-write searches probe every cell: their recall then
    * measures whether fresh vectors are all visible, not how well the
    * cells (which rebalance keeps reshaping) fit the new clusters. */
  val NProbe = Int.MaxValue
  /** New vectors searched for after each batch. */
  val Probes = 60
  val K = 10
  val CycleBatches = 2
  val HotFactor = 2.0
  /** `rebalanceUntil`'s own default bound. */
  val RebalanceRounds = 8

  private var churn: Gen.Churn = _
  private var chunkRoot, vecRoot: String = _
  private var roots: Seq[java.io.File] = Nil
  /** The model: live documents (id -> text) and live vectors. */
  private val liveDocs = mutable.LongMap.empty[String]
  private val liveVecs = mutable.LongMap.empty[Array[Float]]
  private var batches = 0

  def sizes: Map[String, Any] = Map("initial_docs" -> InitialDocs,
    "batch_docs" -> BatchDocs, "buckets" -> Buckets, "ivf_cells" -> Cells,
    "n_probe" -> "all", "dim" -> Gen.Dim,
    "batches_per_maintenance" -> CycleBatches,
    "live_docs_at_end" -> liveDocs.size)

  def setup(base: java.io.File): Unit = {
    churn = phase("generate")(
      new Gen.Churn(seed, InitialDocs, BatchDocs, CycleBatches))
    liveDocs.clear(); liveVecs.clear(); batches = 0
    churn.initial.foreach(d => liveDocs(d.id) = d.text)
    churn.initial.indices.foreach(i =>
      liveVecs(churn.initial(i).id) = churn.initialVecs(i))
    val chunks = new java.io.File(base, "chunks")
    val vectors = new java.io.File(base, "vectors")
    roots = Seq(chunks, vectors)
    chunkRoot = chunks.getPath
    vecRoot = vectors.getPath
    phase("build_chunk_store")(SnapshotStore.commit(
      IngestionPipeline.buildIndexFrom(Frames.docs(spark, churn.initial.toSeq)),
      chunkRoot, Buckets,
      meta = Seq(SnapshotStore.statsDeclaration(Seq("doc_id")))))
    phase("build_ivf")(VersionedIvf.write(Frames.vecs(spark,
      churn.initial.map(_.id).toSeq, churn.initialVecs.toSeq), Cells, vecRoot))
  }

  /** The batches of one cycle (the first carries a range delete). The
    * measured cycle's maintenance then splits both cycles' hot cells. */
  def warmUp(): Unit = {
    val warm = new Run(spark, new Tracer(spark, enabled = false),
      checked = false)
    (0 until CycleBatches).foreach(_ => batch(warm))
  }

  /** Maintenance is timed, checked and traced, but left out of
    * `docs_per_s`: how many rounds rebalance needs depends on where the
    * seed's vectors fall, and moved maintenance time between 1 and 17 s
    * over ten seeds, more than `docs_per_s` could carry within its
    * bound. */
  override def paced(kind: String): Boolean = kind != "maintenance"

  def step(run: Run): Unit = {
    (0 until CycleBatches).foreach(_ => batch(run))
    maintain(run)
  }

  private def batch(run: Run): Unit = {
    val tr = run.tr
    val b = churn.next()
    batches += 1
    val ids = b.docs.map(_.id)
    val docsDf = Frames.docs(spark, b.docs.toSeq)
    val dropped = b.deleteRange.toSeq.flatMap { case (lo, hi) => lo to hi }
    run.op("write", batches) {
      val idx = tr.span("IngestionPipeline.buildIndexFrom") {
        val d = IngestionPipeline.buildIndexFrom(docsDf)
        tr.tracedOnly(tr.note("rows_out", d.count().toDouble))
        d
      }
      var before = Set.empty[String]
      tr.tracedOnly { before = Frames.dataFiles(roots.head) }
      tr.span("SnapshotStore.upsert") {
        SnapshotStore.upsert(spark, idx, docsDf.select("doc_id"), chunkRoot,
          Buckets)
      }
      tr.tracedOnly(tr.noteLast("files_added",
        (Frames.dataFiles(roots.head) -- before).size.toDouble))
      tr.span("VersionedIvf.upsert") {
        VersionedIvf.upsert(spark, vecRoot,
          Frames.vecs(spark, ids.toSeq, b.vecs.toSeq))
      }
      b.deleteRange.foreach { case (lo, hi) =>
        tr.span("SnapshotStore.deleteWhere") {
          SnapshotStore.deleteWhere(spark, chunkRoot, "doc_id", lo, hi)
        }
        tr.span("VersionedIvf.delete") {
          VersionedIvf.delete(spark, vecRoot,
            spark.range(lo, hi + 1).select(col("id").as("vec_id")))
        }
      }
    } { _ => true } // the read-after-write below checks what was written
    run.docs += ids.length
    b.docs.indices.foreach { i =>
      liveDocs(ids(i)) = b.docs(i).text
      liveVecs(ids(i)) = b.vecs(i)
    }
    dropped.foreach { id => liveDocs.remove(id); liveVecs.remove(id) }

    // read-after-write: the batch's ids and the deleted range must read
    // exactly as the model says, and new vectors must each find themselves
    // first (queried under negative ids, which the index never holds)
    val want = (ids.toSeq ++ dropped).distinct
    val probes = ids.filter(liveVecs.contains).takeRight(Probes).toSeq
      .zipWithIndex.map { case (id, j) => (-1L - j, id) }
    run.op("read_after_write", batches) {
      val rows = tr.span("SnapshotStore.readDocs") {
        val out = SnapshotStore.readDocs(spark, chunkRoot, want)
          .select("doc_id", "chunk_idx", "vec_uid").collect()
        tr.note("rows", out.length)
        out.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      }
      val hits = tr.span("VersionedIvf.search") {
        val out = VersionedIvf.search(spark, vecRoot,
          Frames.vecs(spark, probes.map(_._1), probes.map(p => liveVecs(p._2))),
          NProbe, K).collect()
        tr.note("rows", out.length)
        out.map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("vec_id"))).toSeq
      }
      (rows, hits)
    } { case (rows, hits) =>
      val liveIds = liveVecs.keys.toArray
      val liveArr = liveIds.map(liveVecs)
      run.recall ++= Checks.recallAtK(hits, probes.map { case (q, id) =>
        q -> Reference.topK(liveIds, liveArr, liveVecs(id).map(_.toDouble), K)
          .map(_._1) }.toMap)
      Checks.readDocs(rows, want, liveDocs.get) &&
        Checks.selfFirst(hits, probes)
    }
  }

  private def maintain(run: Run): Unit = {
    val tr = run.tr
    run.op("maintenance", batches) {
      tr.span("SnapshotStore.optimize") {
        SnapshotStore.optimize(spark, chunkRoot)
      }
      Seq(chunkRoot, vecRoot).foreach { root =>
        tr.span("SnapshotStore.vacuum") {
          tr.note("files_deleted",
            SnapshotStore.vacuum(spark, root).size.toDouble)
        }
      }
      var v0 = 0L
      tr.tracedOnly { v0 = version(vecRoot) }
      tr.span("VersionedIvf.rebalanceUntil") {
        VersionedIvf.rebalanceUntil(spark, vecRoot, HotFactor,
          RebalanceRounds)
      }
      // each splitting round publishes one version; the loop ends on the
      // first round that splits nothing, unless the bound cuts it first
      tr.tracedOnly(tr.noteLast("rounds", math.min(version(vecRoot) - v0 + 1,
        RebalanceRounds.toLong).toDouble))
    } { _ => true }
  }

  private def version(root: String): Long =
    SnapshotStore.currentVersion(spark, root).getOrElse(0L)

  /** The whole store must read back as the model, and the space both
    * roots hold after the last vacuum is set against the live user bytes
    * (text plus 4-byte vector components). */
  override def finish(run: Run): Unit = {
    run.op("final_read", batches) {
      (SnapshotStore.read(spark, chunkRoot)
        .select("doc_id", "chunk_idx", "vec_uid").collect(),
        SnapshotStore.read(spark, vecRoot).select("doc_id").collect())
    } { case (chunks, vecs) =>
      Checks.readDocs(
        chunks.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet,
        liveDocs.keys.toSeq, liveDocs.get) &&
        vecs.map(_.getLong(0)).toSet == liveVecs.keySet
    }
    val userBytes = liveDocs.values.map(_.length.toLong).sum +
      liveVecs.size.toLong * Gen.Dim * 4
    run.details("stored_bytes_per_user_byte") =
      roots.map(Frames.du).sum.toDouble / userBytes
  }
}
