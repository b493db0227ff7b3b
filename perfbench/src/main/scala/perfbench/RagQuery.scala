package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.{Api, Tables}
import graft.operators.{IngestionPipeline, SnapshotStore, VersionedIvf}

/** Read-only closed loop over one published store version: small
  * requests, so planning, job dispatch and manifest and footer reads
  * dominate, and the store's manifest-text and file-status caches always
  * hit. */
final class RagQuery(spark: SparkSession, seed: Long) extends Workload {
  val name = "rag_query"
  val unitKind = "request"

  val NDocs = 8000
  val NBlocks = 30
  val Cells = 16
  val NProbe = 4
  val K = 10
  val TopicN = 5
  val ReportN = 3

  private var in: Gen.RagInputs = _
  private var dir, chunkRoot, vecRoot: String = _
  private var next = 0

  def sizes: Map[String, Any] = Map("docs" -> NDocs, "dim" -> Gen.Dim,
    "ivf_cells" -> Cells, "n_probe" -> NProbe,
    "requests_in_stream" -> NBlocks * Gen.BlockSize,
    "text_mb" -> in.docs.map(_.text.length.toLong).sum / 1e6)

  def setup(base: java.io.File): Unit = {
    in = phase("generate")(Gen.ragInputs(seed, NDocs, NBlocks))
    dir = new java.io.File(base, "corpus").getPath
    phase("write_corpus") {
      Frames.docs(spark, in.docs.toSeq).repartition(4)
        .write.parquet(s"$dir/documents.parquet")
      Frames.vecs(spark, in.docs.map(_.id).toSeq, in.vecs.toSeq)
        .withColumn("label", (col("vec_id") % 7).cast("int")).repartition(4)
        .write.parquet(s"$dir/embeddings.parquet")
    }
    chunkRoot = new java.io.File(base, "chunks").getPath
    phase("build_chunk_store")(SnapshotStore.commit(
      IngestionPipeline.buildIndexFrom(Tables.documents(spark, dir)),
      chunkRoot, 8, meta = Seq(SnapshotStore.statsDeclaration(Seq("doc_id")))))
    vecRoot = new java.io.File(base, "vectors").getPath
    phase("build_ivf")(VersionedIvf.write(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), Cells,
      vecRoot))
    next = Gen.BlockSize
  }

  /** The first request of each kind in the stream; the measured loop
    * starts at the second block. */
  def warmUp(): Unit = {
    val warm = new Run(spark, new Tracer(spark, enabled = false),
      checked = false)
    (0 until Gen.BlockSize).groupBy(in.requests(_).kind).values.map(_.head)
      .toSeq.sorted.foreach(i => request(warm, i))
  }

  /** One block of requests, so every run serves whole blocks and the
    * request mix is exact. */
  def step(run: Run): Unit =
    for (_ <- 0 until Gen.BlockSize) {
      // past the end of the stream, replay it from the second block
      val i = if (next < in.requests.length) next
        else Gen.BlockSize + (next - Gen.BlockSize) %
          (in.requests.length - Gen.BlockSize)
      request(run, i)
      next += 1
    }

  private lazy val ids = in.docs.map(_.id)
  private lazy val byId = in.docs.map(d => d.id -> d.text).toMap
  private lazy val vecById = ids.zip(in.vecs).toMap

  /** Recall@10 of the index over 100 seeded queries in one search, after
    * the loop: a handful of requests per run is too few to estimate it. */
  override def finish(run: Run): Unit =
    run.op("recall_pass", 0) {
      VersionedIvf.search(spark, vecRoot, Frames.vecs(spark,
          in.probes.indices.map(j => -1L - j), in.probes.toSeq), NProbe, K)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    } { out =>
      val truth = in.probes.indices.map { j =>
        (-1L - j) -> Reference.topK(ids, in.vecs,
          in.probes(j).map(_.toDouble), K).map(_._1) }.toMap
      run.recall ++= Checks.recallAtK(out.map(x => (x._1, x._2, x._3)), truth)
      in.probes.indices.forall { j =>
        Checks.ivfSearch(out.filter(_._1 == -1L - j).sortBy(_._2)
          .map(x => (x._2, x._3, x._4)), vecById,
          in.probes(j).map(_.toDouble), K)
      }
    }

  private def request(run: Run, i: Int): Unit = {
    val tr = run.tr
    in.requests(i) match {
      case Gen.IvfSearch(q) =>
        run.op("request", i) {
          tr.span("VersionedIvf.search") {
            val out = VersionedIvf.search(spark, vecRoot,
              Frames.vecs(spark, Seq(-1L), Seq(q)), NProbe, K).collect()
            tr.note("rows", out.length)
            out.map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"),
              r.getAs[Double]("sim"))).toSeq
          }
        } { out =>
          run.docs += out.length
          Checks.ivfSearch(out, vecById, q.map(_.toDouble), K)
        }
      case Gen.RagSearch(query) =>
        run.op("request", i) {
          tr.span("Api.ragSearch") {
            Api.ragSearch(spark, dir, query, K).collect()
              .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim")))
              .toSeq
          }
        } { out =>
          run.docs += out.length
          Checks.ragSearch(out, ids, in.vecs, query, K)
        }
      case Gen.ReadDocs(want) =>
        run.op("request", i) {
          tr.span("SnapshotStore.readDocs") {
            val out = SnapshotStore.readDocs(spark, chunkRoot, want)
              .select("doc_id", "chunk_idx", "vec_uid").collect()
            tr.note("rows", out.length)
            out.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
          }
        } { out =>
          run.docs += out.map(_._1).size
          Checks.readDocs(out, want, byId.get)
        }
      case Gen.Topic(terms) =>
        run.op("request", i) {
          tr.span("Api.searchByTopic") {
            Api.searchByTopic(spark, dir, terms, TopicN).collect()
              .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("score")))
              .toSeq
          }
        } { out =>
          run.docs += out.length
          Checks.topic(out, in.docs, terms, TopicN)
        }
      case Gen.Report(query) =>
        run.op("request", i) {
          tr.span("Api.assembleReport") {
            Api.assembleReport(spark, dir, query, ReportN).collect()
              .map(r => (r.getString(0), r.getString(1))).toSeq
          }
        } { out =>
          run.docs += out.length
          Checks.report(out, in.docs, ids, in.vecs, query, ReportN)
        }
    }
  }
}
