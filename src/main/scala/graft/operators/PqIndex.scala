package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Product-quantization (PQ) ANN: the compression tier past int8.
  *
  * The embedding is split into `m` subvectors; each subspace gets its own
  * `k`-centroid codebook and every corpus vector is stored as `m` small
  * codes (64 dims × 4 bytes → 8 bytes per vector at m=8/k=16 — 32×). A
  * query never touches corpus embeddings: it precomputes a lookup table of
  * exact integer distances to every (subspace, centroid), and the
  * approximate distance of a coded vector is the sum of `m` table lookups
  * — the asymmetric-distance PQ search of Jégou et al. (2011), expressed
  * relationally.
  *
  * Everything is integer-exact (quantize1e6 components, squared-distance
  * sums), so codes, lookup tables, and rankings are bit-identical across
  * engines and the whole path is oracle-checkable — the same property the
  * IVF and int8 tiers in this repo maintain. Codebooks are the subvectors
  * of the first `k` corpus vectors (the deterministic stand-in for k-means
  * that IvfIndex also uses).
  *
  * Scale shape: the corpus is never self-joined and never shuffled whole —
  * encode is ONE map-only scan (per-subspace distances and argmin fused
  * into an [[graft.plans.IvfCellDistsExpr]] codegen projection against
  * the collected k-row codebook — O(n·d·k) arithmetic, zero shuffle);
  * search joins the tiny broadcast lookup table against codes and
  * partial-aggregates m rows per (query, vector). The relational
  * [[subspaceDists]] form remains for the query-side LUT, where the
  * input is queries-only and distances (not just the argmin) are needed.
  * At rest, codes and both quantizers live in one store version:
  * [[VersionedIvfAdc]].
  */
object PqIndex {

  /** (vec_id, j=subspace, i=offset, v=quantized component) rows of an
    * embeddings frame. */
  private[operators] def components(emb: DataFrame, subDim: Int): DataFrame =
    emb.select(col("vec_id"),
        posexplode(VectorFunctions.quantize1e6(col("embedding")))
          .as(Seq("pos", "v")))
      .select(col("vec_id"),
        (col("pos") / subDim).cast("int").as("j"),
        pmod(col("pos"), lit(subDim)).as("i"), col("v"))

  /** The codebook in exploded relational form — (cent_id, j, i, cv): the
    * subvector components of `codebook`'s first `k` vectors. */
  def codebookRows(codebook: DataFrame, subDim: Int, k: Int): DataFrame =
    components(codebook.filter(col("vec_id") < k), subDim)
      .select(col("vec_id").as("cent_id"), col("j"), col("i"),
        col("v").as("cv"))

  private[operators] def distsAgainst(sub: DataFrame, cent: DataFrame): DataFrame =
    sub.join(broadcast(cent), Seq("j", "i"))
      .groupBy(col("vec_id"), col("j"), col("cent_id"))
      .agg(sum((col("v") - col("cv")) * (col("v") - col("cv"))).as("dist"))

  /** Exact integer squared distance of each of `emb`'s subvectors `j` to
    * every codebook centroid of subspace `j` (partial-agg'd map-side):
    * (vec_id, j, cent_id, dist). The codebook is the first `k` vectors of
    * `codebook` (pass the corpus; `emb` may be just the query rows — the
    * query LUT then never touches corpus-scale distances). */
  def subspaceDists(emb: DataFrame, codebook: DataFrame, dim: Int, m: Int,
      k: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subvectors")
    val subDim = dim / m
    distsAgainst(components(emb, subDim), codebookRows(codebook, subDim, k))
  }

  /** The codebook collected to the driver: the first `k` corpus vectors,
    * quantized — k rows, the moral equivalent of broadcasting the
    * codebook (the IvfIndex.centroids pattern), which is what lets encode
    * run as a fused map-only expression. */
  def collectCodebook(emb: DataFrame, k: Int): Array[(Long, Array[Long])] = {
    val cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").cast("long"),
        VectorFunctions.quantize1e6(col("embedding")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    // The vec_id < k codebook definition assumes 0-based contiguous ids
    // (the fixture contract, and what the DuckDB oracles replay). A
    // corpus whose ids start elsewhere would silently produce an
    // empty/short codebook and zero search results — fail loudly
    // instead.
    require(cents.length == k,
      s"PQ codebook selected ${cents.length} of $k vectors with " +
        s"vec_id < $k — corpus ids are not 0-based/contiguous; remap ids " +
        "or derive the codebook explicitly")
    cents
  }

  /** Encode: per (vector, subspace) the nearest centroid id —
    * (vec_id, j, code) — as ONE fused map-only projection: each
    * subspace's k distances come from an
    * [[graft.plans.IvfCellDistsExpr]] codegen loop over the embedding
    * slice, the argmin is array_position of the min (first occurrence =
    * lowest cent_id, the deterministic tie-break), and the m codes
    * posexplode to rows. No join, no shuffle, no corpus-scale
    * aggregation — the encode cost is exactly one scan. */
  def encodeFused(emb: DataFrame, cents: Array[(Long, Array[Long])],
      dim: Int, m: Int): DataFrame =
    emb.select(col("vec_id"),
        posexplode(codesColumn(cents, dim, m)).as(Seq("j", "code")))
      .select(col("vec_id"), col("j").cast("int").as("j"), col("code"))

  /** The m codes of the `embedding` column as ONE array-typed fused
    * projection (index = subspace j) — [[encodeFused]] without the
    * posexplode, for layouts that store a vector's codes as a single
    * array cell ([[VersionedIvfAdc]]). Same codegen loop, same
    * deterministic lowest-cent_id tie-break, zero shuffle. */
  private[operators] def codesColumn(cents: Array[(Long, Array[Long])],
      dim: Int, m: Int): Column = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subvectors")
    val subDim = dim / m
    val centIds = array(cents.map(c => lit(c._1)): _*)
    val codeCols = (0 until m).map { j =>
      val subCents = cents.map(_._2.slice(j * subDim, (j + 1) * subDim)
        .toSeq).toSeq
      val dists = graft.plans.IvfCellDistsExpr.ivf_cell_dists(
        slice(col("embedding"), j * subDim + 1, subDim), subCents)
      element_at(centIds, array_position(dists, array_min(dists))
        .cast("int"))
    }
    array(codeCols: _*)
  }

  /** Reconstruct each vector's quantized-space APPROXIMATION from its
    * `codes` array column: subspace j's slice is codebook[code_j]'s j-th
    * slice, emitted in embedding units (stored long / 1e6) so
    * `quantize1e6(decoded)` round-trips to the codebook's integer grid
    * exactly. This is what lets [[VersionedIvfAdc.rebalance]] split
    * coarse cells WITHOUT the raw embeddings the layout deliberately
    * does not store — codes here encode the full vector (not the
    * residual), so a cell move never re-encodes; only the split
    * geometry needs vectors, and the reconstruction is the faithful
    * stand-in (the Faiss `reconstruct` discipline). Codebook ids must
    * be 0-based contiguous (the [[collectCodebook]] / renumbered-retrain
    * contract) because the lookup is positional. */
  private[operators] def decodedColumn(cents: Array[(Long, Array[Long])],
      dim: Int, m: Int): Column = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subvectors")
    val subDim = dim / m
    val sorted = cents.sortBy(_._1)
    require(sorted.iterator.zipWithIndex.forall {
        case ((id, _), i) => id == i.toLong },
      "PQ decode needs 0-based contiguous codebook ids; got " +
        sorted.map(_._1).mkString(","))
    val slices = (0 until m).map { j =>
      val tbl = array(sorted.map { case (_, q) =>
        array(q.slice(j * subDim, (j + 1) * subDim)
          .map(v => lit(v.toDouble / 1e6)): _*)
      }: _*)
      element_at(tbl,
        element_at(col("codes"), j + 1).cast("int") + 1)
    }
    flatten(array(slices: _*))
  }

  /** [[decodedColumn]] inlines the whole codebook as k×dim literal
    * nodes evaluated per row — ideal while the tree stays small (no
    * shuffle, whole-stage codegen), but at production geometry (k=256,
    * dim in the hundreds) that is a ~10⁵-literal expression — the same
    * codegen-blowup class [[IvfIndex.splitPlan]]'s per-cell CASE note
    * documents. Past this budget, decode goes through the broadcast
    * codebook join below instead. */
  private[graft] val DecodeLiteralBudget: Long = 1L << 16

  /** `df` (with a `codes` array column and a unique `keyCol`) plus a
    * reconstructed `embedding` column — routing by codebook size:
    * literal-table decode under [[DecodeLiteralBudget]] (k·dim literal
    * nodes, map-only), broadcast-join decode past it: codes explode to
    * (key, j, code), join the k·m-row codebook slice frame, and the
    * slices re-assemble ordered by j (struct array_sort — collect_list
    * order is not deterministic). The join path costs one partial-agg
    * shuffle of (key, dim doubles) — the price of NOT compiling a
    * 10⁵-literal expression; both paths reconstruct identically
    * (PqSpec pins agreement). */
  private[graft] def withDecoded(df: DataFrame, keyCol: String,
      cents: Array[(Long, Array[Long])], dim: Int, m: Int,
      literalBudget: Long = DecodeLiteralBudget): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subvectors")
    if (cents.length.toLong * dim <= literalBudget)
      df.withColumn("embedding", decodedColumn(cents, dim, m))
    else {
      val subDim = dim / m
      val spark = df.sparkSession
      import spark.implicits._
      val sorted = cents.sortBy(_._1)
      require(sorted.iterator.zipWithIndex.forall {
          case ((id, _), i) => id == i.toLong },
        "PQ decode needs 0-based contiguous codebook ids; got " +
          sorted.map(_._1).mkString(","))
      val slicesDf = sorted.toSeq.flatMap { case (cid, q) =>
        (0 until m).map { j =>
          (j, cid, q.slice(j * subDim, (j + 1) * subDim)
            .toSeq.map(_.toDouble / 1e6))
        }
      }.toDF("j", "code", "slice")
      val assembled = df
        .select(col(keyCol),
          posexplode(col("codes")).as(Seq("j", "code")))
        .join(broadcast(slicesDf), Seq("j", "code"))
        .groupBy(keyCol)
        .agg(flatten(transform(
          array_sort(collect_list(struct(col("j"), col("slice")))),
          x => x("slice"))).as("embedding"))
      df.join(assembled, Seq(keyCol))
    }
  }

  /** Query lookup table: subspace distances computed for the query
    * vectors ONLY — (q_id, j, cent_id, dist); tiny (queries × m × k
    * rows), never a corpus-scale pass. */
  def queryLut(emb: DataFrame, queryFilter: Column, dim: Int, m: Int,
      k: Int): DataFrame =
    subspaceDists(emb.filter(queryFilter), emb, dim, m, k)
      .select(col("vec_id").as("q_id"), col("j"), col("cent_id"),
        col("dist"))

  /** Asymmetric distance (sum of m LUT lookups) + top-k per query over a
    * coded candidate set. `cands` = (q_id, vec_id) pairs to score (pass
    * the full codes × queries cross for exhaustive PQ, or an IVF-pruned
    * pair set for the cascade). */
  def rankCoded(cands: DataFrame, codes: DataFrame, lut: DataFrame,
      topK: Int): DataFrame = {
    val wRank = Window.partitionBy("q_id")
      .orderBy(col("approx_dist"), col("vec_id"))
    val lutByCode = lut.select(col("q_id"), col("j"),
      col("cent_id").as("code"), col("dist"))
    cands.join(codes, "vec_id")
      .join(broadcast(lutByCode), Seq("q_id", "j", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("dist")).as("approx_dist"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("approx_dist"))
  }

  /** Top-`topK` neighbours per query vector under PQ asymmetric distance,
    * exhaustively over the coded corpus. `queryFilter` selects the query
    * vectors (over embeddings columns); output: (q_id, rank, vec_id,
    * approx_dist) with exact integer distances. */
  def search(emb: DataFrame, queryFilter: Column, dim: Int = 64,
      m: Int = 8, k: Int = 16, topK: Int = 3): DataFrame = {
    val codes = encodeFused(emb, collectCodebook(emb, k), dim, m)
    val lut = queryLut(emb, queryFilter, dim, m, k)
    // candidate ids come from emb directly — a distinct() over codes
    // would shuffle n·m code rows (and re-run the encode projection)
    // just to recover ids emb already holds uniquely
    val cands = emb.select(col("vec_id"))
      .crossJoin(broadcast(lut.select(col("q_id")).distinct()))
      .filter(col("vec_id") =!= col("q_id"))
    rankCoded(cands, codes, lut, topK)
  }

  /** IVF×PQ cascade: IVF cell probing prunes the candidate set (only
    * vectors in the query's `nProbe` nearest cells are considered), then
    * PQ asymmetric distance ranks the survivors — coarse quantizer for
    * pruning, fine quantizer for scoring, the composition a production
    * ANN index runs (IVFADC). Candidate generation is the IVF broadcast
    * probe join; scoring adds m broadcast-LUT lookups per candidate;
    * the corpus is never exhaustively scored. */
  def searchIvf(emb: DataFrame, queryFilter: Column, dim: Int = 64,
      m: Int = 8, k: Int = 16, nCells: Int = 16, nProbe: Int = 2,
      topK: Int = 3): DataFrame = {
    val assigned = IvfIndex.assignments(emb, nCells)
      .select(col("vec_id"), col("cent_id"))
    val probes = IvfIndex.cellRanks(emb, nCells)
      .filter(queryFilter && col("rk") <= nProbe)
      .select(col("vec_id").as("q_id"), col("cent_id"))
    val cands = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id")
    rankCoded(cands, encodeFused(emb, collectCodebook(emb, k), dim, m),
      queryLut(emb, queryFilter, dim, m, k), topK)
  }
}
