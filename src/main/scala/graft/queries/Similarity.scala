package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbour search over the embedding column.
  *
  * Two tiers (SURVEY.md north star):
  *  - brute-force cosine top-k (r01/s02) — the correctness baseline;
  *    scan → codegen'd cosine → TakeOrderedAndProject;
  *  - SRP-LSH bucketed ANN (s01) — the scale path: vectors hash to a
  *    signed-random-projection bucket; candidate generation is an
  *    equi-join on the bucket id, so the quadratic part is confined to
  *    one bucket. At 100 TB the bucket id is also the natural partition /
  *    bucketing key for the stored index, making candidate lookup a
  *    partition-pruned scan rather than a shuffle.
  *
  * Hyperplanes derive from md5 (VectorFunctions.srpWeights), so DuckDB
  * regenerates them exactly — the bucketing itself is oracle-checked.
  */
object Similarity extends QueryPack {

  private val Dim = 64
  private val Planes = 4

  /** Query-vector count (vec_id < this) of the ANN eval queries
    * (s01/s04). The EXACT-truth side of the recall audit brute-forces
    * corpus × this many cosine evaluations by design — keep it a bounded
    * audit set; production lookups go through the indexed paths, which
    * need no such bound. */
  val AnnEvalQueries: Int = 5

  /** s15 MMR candidate-pool size (top-N by query similarity). The greedy
    * stage is driver-side O(pool² · picks) integer work — keep the pool
    * bounded; candidate GENERATION is the distributed part and needs no
    * such bound. */
  val MmrCandidates: Int = 15

  /** Hard ceiling on the MMR pool: the pool² pair-sim map collects to
    * the driver, so raising [[MmrCandidates]] into the thousands would
    * quietly serialize ~pool² rows there. 1024 keeps that ≤ ~1M pairs
    * (tens of MB); anything larger is a named error, not a slow death. */
  val MmrMaxPool: Int = 1024

  /** s15 MMR picks (output rows). */
  val MmrK: Int = 5

  /** The IVFADC oracle: deterministic first-16 centroids for both
    * quantizers, integer-exact distances — shared by s07 (in-memory
    * cascade) and s14 (the same cascade served from a stored index),
    * which compute the identical quantity by construction. */
  private lazy val PqIvfOracleSql: String =
    s"""WITH q AS (SELECT vec_id,
      |  list_transform(embedding, x -> cast(round(cast(x as double) * 1000000.0) as bigint)) AS qe
      |  FROM embeddings),
      |icents AS (SELECT vec_id AS cent_id, qe AS qc FROM q ORDER BY vec_id LIMIT 16),
      |idists AS (SELECT a.vec_id, c.cent_id,
      |    list_sum(list_transform(range(1, ${Dim + 1}), i -> (a.qe[i] - c.qc[i]) * (a.qe[i] - c.qc[i]))) AS dist
      |  FROM q a, icents c),
      |iranks AS (SELECT vec_id, cent_id,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rk
      |  FROM idists),
      |iassign AS (SELECT vec_id, cent_id FROM iranks WHERE rk = 1),
      |iprobes AS (SELECT vec_id AS q_id, cent_id FROM iranks WHERE vec_id < $AnnEvalQueries AND rk <= 2),
      |sub AS (SELECT vec_id, cast(j.range as int) AS j, i.range AS i,
      |    qe[cast(j.range * 8 + i.range + 1 as int)] AS v
      |  FROM q, range(0, 8) j, range(0, 8) i),
      |pcent AS (SELECT vec_id AS cent_id, j, i, v AS cv FROM sub WHERE vec_id < 16),
      |pdists AS (SELECT s.vec_id, s.j, c.cent_id,
      |    cast(sum((s.v - c.cv) * (s.v - c.cv)) as bigint) AS dist
      |  FROM sub s JOIN pcent c ON c.j = s.j AND c.i = s.i
      |  GROUP BY 1, 2, 3),
      |codes AS (SELECT vec_id, j, cent_id AS code FROM (
      |  SELECT vec_id, j, cent_id,
      |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cent_id) AS rk
      |  FROM pdists) WHERE rk = 1),
      |lut AS (SELECT vec_id AS q_id, j, cent_id, dist FROM pdists WHERE vec_id < $AnnEvalQueries),
      |cand AS (SELECT p.q_id, a.vec_id FROM iprobes p
      |  JOIN iassign a ON a.cent_id = p.cent_id AND a.vec_id <> p.q_id),
      |approx AS (SELECT c.q_id, c.vec_id, cast(sum(l.dist) as bigint) AS approx_dist
      |  FROM cand c JOIN codes cd ON cd.vec_id = c.vec_id
      |  JOIN lut l ON l.q_id = c.q_id AND l.j = cd.j AND l.cent_id = cd.code
      |  GROUP BY 1, 2),
      |ranked AS (SELECT q_id, vec_id, approx_dist,
      |    cast(row_number() OVER (PARTITION BY q_id ORDER BY approx_dist, vec_id) as int) AS rank
      |  FROM approx)
      |SELECT q_id, rank, vec_id, approx_dist FROM ranked WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  /** SRP-LSH ANN: top-`topK` in-bucket neighbours of the
    * [[AnnEvalQueries]] eval query vectors. */
  private def srpTopK(s: SparkSession, d: String, topK: Int): DataFrame = {
    val sigs = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        VectorFunctions.srpSignature(col("embedding"), Dim, Planes)
          .as("sig"))
    val q = sigs.filter(col("vec_id") < AnnEvalQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("sig"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id"))
    q.join(sigs, Seq("sig"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(VectorFunctions.cosine(col("embedding"), col("q_emb")), 6)
          .as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("q_id", "rank", "vec_id", "sim")
  }

  /** Exact top-`topK` neighbours of the [[AnnEvalQueries]] eval query
    * vectors (brute force — the audit's truth side; cost is corpus ×
    * queries, so the query set stays bounded — broadcast query side). */
  private def exactTopK(s: SparkSession, d: String, topK: Int): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < AnnEvalQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(VectorFunctions.cosine(col("embedding"), col("q_emb")), 6)
          .as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("q_id", "vec_id")
  }

  override val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SRP-LSH ANN: top-3 in-bucket neighbours for query vectors 0..4.
    "s01_ann_srp" -> ((s, d) =>
      srpTopK(s, d, 3).orderBy("q_id", "rank")),

    // ANN quality evaluation: recall@3 of BOTH approximate tiers against
    // the exact top-3, per query vector — the diagnostic a pipeline runs
    // before trusting an approximate index at scale. Recall joins are on
    // (q_id, vec_id) id pairs only; the exact side reuses the broadcast
    // brute-force composition, each ANN side its production pipeline.
    "s04_ann_recall" -> ((s, d) => {
      val exact = exactTopK(s, d, 3)
      def recall(ann: DataFrame, method: String): DataFrame =
        exact
          .join(ann.select(col("q_id"), col("vec_id"), lit(1).as("hit")),
            Seq("q_id", "vec_id"), "left")
          .groupBy("q_id")
          .agg(round(sum(coalesce(col("hit"), lit(0))).cast("double") / 3.0, 6)
            .as("recall"))
          .select(lit(method).as("method"), col("q_id"), col("recall"))
      recall(srpTopK(s, d, 3), "srp")
        .unionByName(recall(
          graft.operators.IvfIndex.search(Tables.embeddings(s, d),
            col("vec_id") < AnnEvalQueries, k = 16, nProbe = 2, topK = 3),
          "ivf"))
        .orderBy("method", "q_id")
    }),

    // IVF-bucketed ANN: 16 deterministic centroid cells, 2-cell probe,
    // top-3 by cosine inside the probed cells (graft.operators.IvfIndex;
    // integer-exact cell assignment so the layout is oracle-checkable).
    "s03_ann_ivf" -> ((s, d) => {
      graft.operators.IvfIndex
        .search(Tables.embeddings(s, d), col("vec_id") < 5,
          k = 16, nProbe = 2, topK = 3)
        .orderBy("q_id", "rank")
    }),

    // IVF with Lloyd-TRAINED centroids (2 iterations from the
    // deterministic seeds): training balances cell populations, which is
    // what bounds per-probe work at corpus scale. Every training step is
    // deterministic (exact integer assignment, exact long-sum averages,
    // floor(x+0.5) rounding), so the oracle replays the full training in
    // SQL and checks the trained index's search results end to end.
    "s08_ann_ivf_trained" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = graft.operators.IvfIndex
        .trainCentroids(emb, k = 16, iters = 2)
      graft.operators.IvfIndex
        .searchWith(emb, col("vec_id") < 5, cents, nProbe = 2, topK = 3)
        .orderBy("q_id", "rank")
    }),

    // INT8-quantized similarity: top-3 by cosine over symmetric int8
    // quantized embeddings (VectorFunctions.quantizeInt8 — the 4× index
    // compression path). Integer-exact construction end to end: the
    // quantized values are identical across engines and the cosine sums
    // integer products exactly, so the compressed index's search results
    // are oracle-checked, not just spot-checked.
    "s05_int8_topk" -> ((s, d) => {
      val e8 = Tables.embeddings(s, d)
        .select(col("vec_id"),
          VectorFunctions.quantizeInt8(col("embedding"))
            .cast("array<double>").as("q8"))
      val q = e8.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("q8").as("q_q8"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("vec_id"))
      e8.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(VectorFunctions.cosine(col("q8"), col("q_q8")), 6).as("sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("q_id", "rank", "vec_id", "sim")
        .orderBy("q_id", "rank")
    }),

    // Product-quantization ANN (graft.operators.PqIndex): corpus stored as
    // 8 codes per vector (one 16-centroid codebook per 8-dim subspace);
    // search sums 8 broadcast-LUT lookups per candidate — the asymmetric-
    // distance PQ of Jégou et al., integer-exact end to end so codes and
    // rankings are oracle-checked, not just spot-checked.
    "s06_pq_topk" -> ((s, d) => {
      graft.operators.PqIndex
        .search(Tables.embeddings(s, d), col("vec_id") < 5,
          dim = Dim, m = 8, k = 16, topK = 3)
        .orderBy("q_id", "rank")
    }),

    // IVF×PQ cascade (IVFADC): IVF cell probing prunes candidates to the
    // query's 2 nearest cells, PQ asymmetric distance ranks the survivors
    // — coarse quantizer to prune, fine quantizer to score, the
    // composition a production vector index runs. Integer-exact in both
    // stages, so the full cascade is oracle-checked.
    "s07_pq_ivf" -> ((s, d) => {
      graft.operators.PqIndex
        .searchIvf(Tables.embeddings(s, d), col("vec_id") < AnnEvalQueries,
          dim = Dim, m = 8, k = 16, nCells = 16, nProbe = 2, topK = 3)
        .orderBy("q_id", "rank")
    }),

    // IVFADC at rest — s07's cascade with BOTH quantizers stored in one
    // VersionedIvfAdc version: candidate cells from the stored coarse
    // centroids (probe = stats-skipping read of the probed cells' files,
    // codes only), scores from the stored PQ codebook + codes. The
    // corpus embeddings are read only to BUILD the index and to select
    // the query rows; the search itself never touches them (PqIndexSpec
    // plan-pins it). Result ≡ s07 by construction, so it shares s07's
    // oracle SQL.
    "s14_pq_ivf_stored" -> ((s, d) => {
      val root = Tables.freshRoot("s14-ivfadc")
      val emb = Tables.embeddings(s, d)
      graft.operators.VersionedIvfAdc.write(emb, root, dim = Dim,
        m = 8, k = 16, nCells = 16)
      graft.operators.VersionedIvfAdc.search(s, root,
        emb.filter(col("vec_id") < AnnEvalQueries)
          .select("vec_id", "embedding"),
        nProbe = 2, topK = 3)
        .orderBy("q_id", "rank")
    }),

    // Metadata-FILTERED ANN (the vector-store filtered-search feature):
    // top-3 IVF neighbours among only label∈{1,2,3} corpus vectors —
    // PRE-filtered, so a selective predicate cannot starve the top-k, and
    // centroids stay those of the full corpus so one index layout serves
    // every filter. Assignment is per-vector, so the oracle replays the
    // unfiltered assignment and filters candidates by label.
    "s09_filtered_ann" -> ((s, d) => {
      graft.operators.IvfIndex
        .searchFiltered(Tables.embeddings(s, d),
          queryFilter = col("vec_id") < 5,
          corpusFilter = col("label").isin(1, 2, 3),
          k = 16, nProbe = 2, topK = 3)
        .orderBy("q_id", "rank")
    }),

    // Hard-negative mining for contrastive embedding training — per
    // query: the top SAME-label neighbour (the positive) and the top-3
    // DIFFERENT-label neighbours (hard negatives — the highest-similarity
    // wrong answers are exactly the pairs a contrastive loss learns
    // most from). One corpus scan against the broadcast query set, one
    // window over (q_id, kind); the corpus never shuffles. At corpus
    // scale the candidate generation swaps to the IVF tier (s09's
    // filtered probe) — the mining logic downstream is unchanged.
    "s13_hard_negatives" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("q_label"))
      val w = Window.partitionBy("q_id", "kind")
        .orderBy(col("sim").desc, col("vec_id"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          when(col("label") === col("q_label"), "pos").otherwise("neg")
            .as("kind"),
          round(VectorFunctions.cosine(col("embedding"), col("q_emb")), 6)
            .as("sim"))
        .withColumn("rank", row_number().over(w))
        // the uniform rank <= 3 conjunct is what RowNumberLimitRule
        // rewrites into TopKPerKey (bounded heaps, no full partition
        // sort); the kind-specific cut rides above as a residual filter
        .filter(col("rank") <= 3)
        .filter(col("kind") === "neg" ||
          (col("kind") === "pos" && col("rank") <= 1))
        .select("q_id", "kind", "rank", "vec_id", "sim")
        .orderBy("q_id", "kind", "rank")
    }),

    // Brute-force similarity self-join: exact top-3 neighbours for query
    // vectors 0..9 (cross-join against a broadcast query set + windowed
    // rank — the SURVEY §2.3 similarity-join composition).
    "s02_sim_join_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("vec_id"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(VectorFunctions.cosine(col("embedding"), col("q_emb")), 6)
            .as("sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("q_id", "rank", "vec_id", "sim")
        .orderBy("q_id", "rank")
    }),

    // Maximal-marginal-relevance diversity re-rank — retrieval that
    // trades raw similarity for coverage (λ = 0.5): pick the candidate
    // maximizing λ·sim(q,c) − (1−λ)·max sim(c, picked), k times. The
    // candidate pool is a DISTRIBUTED top-[[MmrCandidates]] cosine scan
    // (TakeOrderedAndProject — the corpus never collects); the greedy
    // selection itself is inherently sequential in k, so it runs on the
    // driver over the BOUNDED pool — all-integer micro-similarity
    // arithmetic (round(sim,6)·1e6 as BIGINT), so scores, and therefore
    // picks and tie-breaks, are exact in both engines; the ×2-scaled
    // λ=0.5 score divides back to a double only at output.
    "s15_mmr_rerank" -> ((s, d) => {
      require(MmrCandidates <= MmrMaxPool,
        s"s15: MMR candidate pool $MmrCandidates exceeds the driver-side " +
          s"ceiling $MmrMaxPool — the greedy stage collects pool² pair " +
          "similarities; shrink the pool or distribute the selection")
      def micro(a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) =
        round(round(VectorFunctions.cosine(a, b), 6) * 1e6).cast("long")
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val cand = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("embedding"),
          micro(col("embedding"), col("q_emb")).as("qsim_u"))
        .orderBy(col("qsim_u").desc, col("vec_id"))
        .limit(MmrCandidates)
        .localCheckpoint(eager = true) // bounded pool, reused 3×
      val a = cand.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      val b = cand.select(col("vec_id").as("ib"), col("embedding").as("eb"))
      val pairSim = a.join(broadcast(b), col("ia") =!= col("ib"))
        .select(col("ia"), col("ib"), micro(col("ea"), col("eb")).as("sim_u"))
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      val qsims = cand.select("vec_id", "qsim_u").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val chosen = scala.collection.mutable.ArrayBuffer.empty[Long]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
      for (rank <- 1 to math.min(MmrK, qsims.length)) {
        val (id, qs, m2) = qsims
          .filter { case (id, _) => !chosen.contains(id) }
          .map { case (id, qs) =>
            val maxPair =
              if (chosen.isEmpty) 0L
              else chosen.map(c => pairSim((id, c))).max
            (id, qs, qs - maxPair)
          }
          .minBy { case (id, _, m2) => (-m2, id) }
        out += ((rank, id, qs, m2))
        chosen += id
      }
      import s.implicits._
      out.toSeq.toDF("rank", "vec_id", "qsim_u", "m2")
        .select(col("rank"), col("vec_id"),
          (col("qsim_u").cast("double") / 1e6).as("qsim"),
          (col("m2").cast("double") / 2e6).as("mmr_score"))
        .orderBy("rank")
    }),

    // Retrieve-then-rerank over the compressed index — the production ANN
    // recall-recovery shape: PQ asymmetric distance generates top-20
    // candidates from the 32×-compressed codes (corpus embeddings never
    // scanned for scoring), then ONLY those ≤ 5×20 candidate rows join
    // back to true embeddings for an exact cosine rescore. Quantization
    // error is repaired at the cost of k exact distances per query, not a
    // corpus scan — both stages oracle-checked.
    "s11_pq_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cands = graft.operators.PqIndex
        .search(emb, col("vec_id") < 5, dim = Dim, m = 8, k = 16, topK = 20)
        .select("q_id", "vec_id")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("vec_id"))
      emb.join(broadcast(cands), "vec_id")
        .join(broadcast(q), "q_id")
        .select(col("q_id"), col("vec_id"),
          round(VectorFunctions.cosine(col("embedding"), col("q_emb")), 6)
            .as("sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("q_id", "rank", "vec_id", "sim")
        .orderBy("q_id", "rank")
    }),

    // Per-label embedding centroids — the aggregate an IVF retrain, a
    // drift monitor, or a class-prototype classifier reads. Means go
    // through the parity-proven 1e6 integer quantization: sums of BIGINTs
    // are exact and order-independent (no float partial-agg drift), and
    // the one division to a double happens at output. ONE map-side-
    // combining shuffle of (label, 4 longs) — never an array-valued
    // aggregation buffer. First 4 components emitted.
    "s10_label_centroids" -> ((s, d) => {
      val sums = (0 until 4).map(i =>
        sum(round(element_at(col("embedding"), i + 1).cast("double")
          * 1e6).cast("long")).as(s"s$i"))
      val means = (0 until 4).map(i =>
        round(col(s"s$i").cast("double")
          / (col("n").cast("double") * 1e6), 6).as(s"c$i"))
      Tables.embeddings(s, d)
        .groupBy("label")
        .agg(count(lit(1)).as("n"), sums: _*)
        .select(col("label") +: col("n") +: means: _*)
        .orderBy("label")
    }),

    // Clustering-quality audit for the ANN tier — the QA a production
    // vector index runs after (re)training: per cell, member count, mean
    // distance to the OWN centroid (cohesion) and to the NEAREST OTHER
    // centroid (separation), plus their integer-permille ratio (a
    // silhouette-style score with no per-vector float division). One
    // pass: cellRanks is map-only vs centroid literals, rk ≤ 2 rows
    // collapse per vector in a single map-side-combinable shuffle, and
    // the per-cell rollup aggregates exact BIGINT distance sums (the
    // single IEEE division at output is correctly rounded — engine-safe).
    "s12_cluster_quality" -> ((s, d) => {
      val ranked = graft.operators.IvfIndex
        .cellRanks(Tables.embeddings(s, d), k = 16)
      ranked.filter(col("rk") <= 2)
        .groupBy("vec_id")
        .agg(
          min(when(col("rk") === 1, col("cent_id"))).as("cell"),
          min(when(col("rk") === 1, col("dist"))).as("a"),
          min(when(col("rk") === 2, col("dist"))).as("b"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_members"),
          sum(col("a")).as("sa"), sum(col("b")).as("sb"))
        .select(col("cell").as("cent_id"), col("n_members"),
          // RAW single division, no round(): the means are ~1.5e12, and
          // round(x, 6) disagrees across engines past |x| ≈ 9e9 (DuckDB
          // scales by 1e6 — overflowing double precision — where Spark
          // rounds the decimal rendering). The division itself is exact
          // parity: bigint sum / int count, one correctly-rounded IEEE op
          (col("sa").cast("double") / col("n_members"))
            .as("mean_intra"),
          (col("sb").cast("double") / col("n_members"))
            .as("mean_second"),
          // a cell holding only its own centroid has sa = 0 — emit null,
          // not a division error (the d11 empty-edge rule). sb·1000
          // widens through decimal(38,0): at sf0.1 max sb is already
          // 2.5e14 (only ~36× headroom in 64 bits), and DuckDB's sum is
          // int128 — Spark must not silently wrap where the oracle errors
          when(col("sa") === 0L, lit(null).cast("long"))
            .otherwise(
              expr("cast((cast(sb as decimal(38,0)) * 1000) div sa as bigint)"))
            .as("separation_permille"))
        .orderBy("cent_id")
    }),

    // Retrieval-quality metrics beyond recall (s04): MRR and
    // precision@10 of label-relevance retrieval, per eval query — the
    // ranking-aware diagnostics an embedding pipeline reports (recall
    // says WHETHER the neighbours were found; MRR says how HIGH the
    // first relevant one ranks). Relevance = same stored label; ranking
    // is the broadcast brute-force cosine (the truth tier — the metric
    // itself must not depend on an index under test), cut at rank 20
    // via one bounded per-query window. Both metrics are exact
    // integers: reciprocal rank in micro units (1e6 div rank, 0 = no
    // relevant hit in the cut), precision@10 in permille — no float
    // division crosses the oracle boundary.
    "s16_mrr_eval" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < AnnEvalQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("q_label"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("vec_id"))
      val rel = col("label") === col("q_label")
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
          round(VectorFunctions.cosine(col("embedding"), col("q_emb")), 6)
            .as("sim"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 20)
        .groupBy("q_id", "q_label")
        .agg(
          min(when(rel, col("rnk"))).as("fr"),
          sum(when(rel && col("rnk") <= 10, 1L).otherwise(0L)).as("rel10"))
        .select(col("q_id"), col("q_label").as("label"),
          coalesce(col("fr"), lit(0)).cast("bigint").as("first_rel_rank"),
          coalesce(expr("1000000 div fr"), lit(0L)).cast("bigint")
            .as("rr_micro"),
          (col("rel10") * 100).cast("bigint").as("p_at10_permille"))
        .orderBy("q_id")
    }),

    // Mislabel audit: vectors whose NEAREST label centroid is not their
    // own label — the embedding-space data-quality check that flags
    // annotation noise before a training run (SemDeDup's cousin for
    // labels; cross-validates t33's text-side finding from the embedding
    // side). Label centroids use trainCentroids' exact discipline
    // (quantized long sums, floor(avg+0.5) means — only |labels| rows
    // reach the driver), ranking is the same map-only fused-distance
    // expression the IVF tier uses (centroid literals, no shuffle), and
    // the margin is integer permille. Output capped at the 25 worst.
    "s17_mislabel_audit" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qe = emb.select(col("label").cast("long").as("cid"),
        VectorFunctions.quantize1e6(col("embedding")).as("qe"))
      val meanCols = (0 until Dim).map(i =>
        avg(element_at(col("qe"), i + 1)).as(s"c$i"))
      val cents = qe.groupBy("cid").agg(meanCols.head, meanCols.tail: _*)
        .collect()
        .map(r => (r.getLong(0),
          Array.tabulate(Dim)(i => math.round(r.getDouble(i + 1)))))
        .sortBy(_._1)
      graft.operators.IvfIndex.cellRanksWith(emb, cents)
        .groupBy("vec_id", "label")
        .agg(
          min(when(col("rk") === 1, col("cent_id"))).as("nl"),
          min(when(col("rk") === 1, col("dist"))).as("d_nearest"),
          min(when(col("cent_id") === col("label").cast("long"),
            col("dist"))).as("d_own"))
        .filter(col("nl") =!= col("label").cast("long"))
        .select(col("vec_id"), col("label"),
          col("nl").cast("int").as("nearest_label"),
          col("d_own").cast("bigint").as("d_own"),
          col("d_nearest").cast("bigint").as("d_nearest"),
          when(col("d_own") === 0, lit(0L))
            .otherwise(expr("(d_own - d_nearest) * 1000 div d_own"))
            .cast("bigint").as("margin_permille"))
        .orderBy(col("margin_permille").desc, col("vec_id"))
        .limit(25)
    }),

    // IVF probe-count tuning curve — d13's S-curve, for the IVF tier:
    // recall@3 as a function of nProbe ∈ {1, 2, 4}, the measurement that
    // decides the latency/recall trade-off before a probe count ships.
    // The exact side computes once (bounded eval slice); each probe
    // level reruns only the production probe path (cells are ranked
    // once per level, map-only vs centroid literals). Recall is summed
    // hits in integer permille over the whole eval set — one row per
    // probe level.
    "s18_ivf_probe_curve" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val exact = exactTopK(s, d, 3)
      val denom = 3 * AnnEvalQueries
      Seq(1, 2, 4).map { np =>
        // k = 64 (finer than the production 16) so the eval corpus's
        // home cells genuinely miss neighbours and the curve bends —
        // at 16 cells recall@3 is already 1.0 at nProbe = 1 and the
        // measurement says nothing
        val ann = graft.operators.IvfIndex
          .search(emb, col("vec_id") < AnnEvalQueries, k = 64,
            nProbe = np, topK = 3)
        exact
          .join(ann.select(col("q_id"), col("vec_id"), lit(1L).as("hit")),
            Seq("q_id", "vec_id"), "left")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
          .select(lit(np).as("n_probe"),
            col("hits").cast("bigint").as("hits"),
            expr(s"hits * 1000 div $denom").cast("bigint")
              .as("recall_permille"))
      }.reduce(_.unionByName(_)).orderBy("n_probe")
    }),

    // IVF-SQ8 at rest — the scalar-quantized sibling of s14's stored
    // IVFADC (the Faiss IVF-SQ index type, VersionedIvf.writeSq):
    // candidate cells from the stored centroids (probe = stats-skipping
    // read of the probed cells' files), scores from the STORED int8
    // codes (s05's symmetric quantization — integer-exact, so the
    // 4×-compressed tier is oracle-checked end to end, not
    // spot-checked). Cell assignment on full precision, scoring on the
    // compressed codes; corpus embeddings are read only to build the
    // store and select queries.
    "s19_sq_ivf_stored" -> ((s, d) => {
      val root = Tables.freshRoot("s19-sqivf")
      val emb = Tables.embeddings(s, d)
      graft.operators.VersionedIvf.writeSq(emb, k = 16, root)
      graft.operators.VersionedIvf.searchSq(s, root,
        emb.filter(col("vec_id") < 5).select("vec_id", "embedding"),
        nProbe = 2, topK = 3)
        .orderBy("q_id", "rank")
    }),

    // Stored-index DELETION (VersionedIvf.delete): the
    // right-to-be-forgotten / poisoned-sample-removal loop — build the
    // stored IVF index, delete every vec_id ≡ 3 (mod 10), then search at
    // FULL probe width so the stored result is exactly brute-force
    // cosine top-3 over the SURVIVORS: the oracle replays the brute
    // force minus the deleted set, so one stale row surviving the keyed
    // delete is a hash mismatch, not a silent leak. Deletion is one
    // publish whose read the store's doc_id stats prune, never an index
    // rebuild.
    "s20_index_delete" -> ((s, d) => {
      val root = Tables.freshRoot("s20-ivfdel")
      val emb = Tables.embeddings(s, d)
      graft.operators.VersionedIvf.write(emb, k = 16, root)
      graft.operators.VersionedIvf.delete(s, root,
        emb.filter(col("vec_id") % 10 === 3).select("vec_id"))
      graft.operators.VersionedIvf.search(s, root,
        emb.filter(col("vec_id") < AnnEvalQueries)
          .select("vec_id", "embedding"),
        nProbe = 16, topK = 3)
        .orderBy("q_id", "rank")
    }),

    // Stored-index REBALANCE (VersionedIvf.rebalance — OPTIMIZE for the
    // ANN store): seeded cells skew by construction, the hottest split in
    // two (sub-centroids seeded from each cell's two lowest ids + one
    // integer-Lloyd refinement), ONLY the split cells' rows republish.
    // Full-probe search afterwards must STILL be exactly brute-force
    // cosine top-3 — a row lost to a mis-assigned sub-cell, left stale
    // by the keyed replace, or double-stored would hash-mismatch. The
    // require pins that at least one cell actually split.
    "s21_ivf_rebalance" -> ((s, d) => {
      val root = Tables.freshRoot("s21-rebal")
      val emb = Tables.embeddings(s, d)
      graft.operators.VersionedIvf.write(emb, k = 16, root)
      val split = graft.operators.VersionedIvf.rebalance(s, root,
        hotFactor = 1.0)
      require(split >= 1,
        "s21: no cell exceeded mean population — rebalance untested")
      graft.operators.VersionedIvf.search(s, root,
        emb.filter(col("vec_id") < AnnEvalQueries)
          .select("vec_id", "embedding"),
        nProbe = 64, topK = 3)
        .orderBy("q_id", "rank")
    }),

    // Iterative rebalance CONVERGENCE (VersionedIvf.rebalanceUntil):
    // one rebalance call splits each hot cell once (binary) — a
    // severely skewed cell levels only under repeated calls, so the
    // maintenance loop iterates until no cell exceeds hotFactor × mean
    // (bounded by maxRounds, the ranksConverged discipline). The loop
    // must preserve the index EXACTLY however many rounds it takes:
    // full-probe search afterwards is still brute-force cosine top-3.
    "s22_ivf_rebalance_until" -> ((s, d) => {
      val root = Tables.freshRoot("s22-rebal")
      val emb = Tables.embeddings(s, d)
      graft.operators.VersionedIvf.write(emb, k = 16, root)
      // hotFactor 1.0 = "split anything above the mean" — the same
      // threshold s21 proves skewed on this corpus, so the loop always
      // has work; 3 bounded rounds cascade the splits the single-call
      // form cannot
      val splits = graft.operators.VersionedIvf.rebalanceUntil(s, root,
        hotFactor = 1.0, maxRounds = 3)
      require(splits >= 1,
        "s22: no cell exceeded mean population — convergence loop untested")
      graft.operators.VersionedIvf.search(s, root,
        emb.filter(col("vec_id") < AnnEvalQueries)
          .select("vec_id", "embedding"),
        nProbe = 64, topK = 3)
        .orderBy("q_id", "rank")
    }),

    // TRANSACTIONAL stored-index maintenance (VersionedIvf): delete and
    // rebalance are each ONE atomic manifest publish carrying the vector
    // rows AND the `#ivfcent` centroid geometry, so no crash can tear
    // centroids from cells and the index time-travels with the store's
    // history. Full-probe search after delete + rebalance must be
    // EXACTLY survivors-only brute-force cosine top-3 — a row lost in
    // the upsert merge, a stale row surviving the keyed delete, or
    // geometry torn from rows would hash-mismatch.
    "s23_ivf_versioned" -> ((s, d) => {
      val root = Tables.freshRoot("s23-vivf")
      val emb = Tables.embeddings(s, d)
      graft.operators.VersionedIvf.write(emb, k = 16, root)
      graft.operators.VersionedIvf.delete(s, root,
        emb.filter(col("vec_id") % 10 === 3).select("vec_id"))
      val split = graft.operators.VersionedIvf.rebalance(s, root,
        hotFactor = 1.0)
      require(split >= 1,
        "s23: no cell exceeded mean population — rebalance untested")
      val nCells = graft.operators.VersionedIvf
        .storedCentroids(s, root).length
      graft.operators.VersionedIvf.search(s, root,
        emb.filter(col("vec_id") < AnnEvalQueries)
          .select("vec_id", "embedding"),
        nProbe = nCells, topK = 3)
        .orderBy("q_id", "rank")
    }),

    // Versioned-index UPSERT (VersionedIvf.upsert, round 11) — the
    // reference's most common write (Pinecone index.upsert is an
    // insert-or-replace append, parser_pinecone_storage.py:154) on the
    // transactional layout: build the index on 2/3 of the corpus, then
    // upsert a batch that mixes NEW ids (vec_id % 3 == 0) with ids
    // ALREADY PRESENT (vec_id % 7 == 0, % 3 != 0) — the new rows must
    // assign against the STORED geometry (appending never moves
    // centroids), the present ones must be REPLACED not duplicated, and
    // rows + carried `#ivfcent` lines publish as ONE atomic version.
    // Full-probe search afterwards must be EXACTLY full-corpus brute
    // force: a duplicated id shifts ranks, a dropped or mis-assigned
    // row loses a neighbour, moved geometry breaks the carried-lines
    // contract the requires pin.
    "s24_ivf_upsert" -> ((s, d) => {
      val root = Tables.freshRoot("s24-vup")
      val emb = Tables.embeddings(s, d)
      graft.operators.VersionedIvf.write(
        emb.filter(col("vec_id") % 3 =!= 0), k = 16, root)
      val before = graft.operators.VersionedIvf.storedCentroids(s, root)
      graft.operators.VersionedIvf.upsert(s, root,
        emb.filter(col("vec_id") % 3 === 0 || col("vec_id") % 7 === 0)
          .select("vec_id", "embedding"))
      val after = graft.operators.VersionedIvf.storedCentroids(s, root)
      require(before.length == after.length &&
        before.zip(after).forall { case ((i1, q1), (i2, q2)) =>
          i1 == i2 && q1.sameElements(q2) },
        "s24: upsert moved the stored geometry — append must carry " +
          "centroids unchanged")
      require(graft.operators.SnapshotStore.read(s, root)
        .groupBy("doc_id").count().filter(col("count") > 1).count() == 0,
        "s24: upsert duplicated already-present ids — replace semantics " +
          "broken")
      graft.operators.VersionedIvf.search(s, root,
        emb.filter(col("vec_id") < AnnEvalQueries)
          .select("vec_id", "embedding"),
        nProbe = after.length, topK = 3)
        .orderBy("q_id", "rank")
    }),

    // TRANSACTIONAL IVFADC (VersionedIvfAdc, round 11) — s14's
    // compressed cascade (coarse IVF probe → PQ asymmetric distance)
    // with the WHOLE index state in ONE SnapshotStore manifest: rows =
    // (doc_id, cent_id, codes[m]), coarse centroids + PQ codebook +
    // (dim,m,k) geometry as manifest lines. The round trip
    // write → delete 10% → upsert the SAME vectors back (re-encoded
    // against the STORED quantizers) must land EXACTLY on the fresh
    // cascade's result: a row not restored, a code drifting from the
    // carried codebook, or a duplicate surviving the keyed replace
    // would shift the integer distances the oracle replays.
    "s25_ivfadc_versioned" -> ((s, d) => {
      val root = Tables.freshRoot("s25-vadc")
      val emb = Tables.embeddings(s, d)
      graft.operators.VersionedIvfAdc.write(emb, root, dim = Dim,
        m = 8, k = 16, nCells = 16)
      val g1 = (graft.operators.VersionedIvfAdc.storedCoarse(s, root),
        graft.operators.VersionedIvfAdc.storedBook(s, root))
      val churn = emb.filter(col("vec_id") % 10 === 3)
      graft.operators.VersionedIvfAdc.delete(s, root,
        churn.select("vec_id"))
      graft.operators.VersionedIvfAdc.upsert(s, root,
        churn.select("vec_id", "embedding"))
      val g2 = (graft.operators.VersionedIvfAdc.storedCoarse(s, root),
        graft.operators.VersionedIvfAdc.storedBook(s, root))
      require(g1._1.length == g2._1.length && g1._2.length == g2._2.length
        && g1._1.zip(g2._1).forall { case ((i1, q1), (i2, q2)) =>
          i1 == i2 && q1.sameElements(q2) }
        && g1._2.zip(g2._2).forall { case ((i1, q1), (i2, q2)) =>
          i1 == i2 && q1.sameElements(q2) },
        "s25: delete/upsert moved the stored quantizers — maintenance " +
          "must carry geometry verbatim")
      require(graft.operators.SnapshotStore.currentVersion(s, root)
        .contains(3L),
        "s25: expected exactly 3 versions (write, delete, upsert)")
      graft.operators.VersionedIvfAdc.search(s, root,
        emb.filter(col("vec_id") < AnnEvalQueries)
          .select("vec_id", "embedding"),
        nProbe = 2, topK = 3)
        .orderBy("q_id", "rank")
    }),

    // IVFADC REBALANCE (VersionedIvfAdc.rebalance, round 12) — the
    // compressed flagship's missing maintenance verb: hot coarse cells
    // split from PQ-DECODED reconstructions (codes are cell-independent
    // here, so rows keep their codes verbatim; only cent_id and the
    // `#ivfcent` lines move), then a delete proves the split geometry
    // carries through later verbs. The split exists to bound probe
    // work, NOT to change results: a FULL probe after rebalance+delete
    // must land exactly on the s07 cascade's integer PQ distances over
    // the survivors — a row re-encoded (it must not be), lost to a
    // mis-assigned sub-cell, or scored against a moved codebook would
    // shift the approx distances the oracle replays.
    "s26_ivfadc_rebalance" -> ((s, d) => {
      val root = Tables.freshRoot("s26-vadcreb")
      val emb = Tables.embeddings(s, d)
      graft.operators.VersionedIvfAdc.write(emb, root, dim = Dim,
        m = 8, k = 16, nCells = 16)
      val book1 = graft.operators.VersionedIvfAdc.storedBook(s, root)
      val split = graft.operators.VersionedIvfAdc.rebalance(s, root,
        hotFactor = 1.0)
      require(split >= 1,
        "s26: no cell exceeded mean population — rebalance untested")
      graft.operators.VersionedIvfAdc.delete(s, root,
        emb.filter(col("vec_id") % 10 === 3).select("vec_id"))
      val book2 = graft.operators.VersionedIvfAdc.storedBook(s, root)
      require(book1.length == book2.length &&
        book1.zip(book2).forall { case ((i1, q1), (i2, q2)) =>
          i1 == i2 && q1.sameElements(q2) },
        "s26: rebalance/delete moved the codebook — coarse maintenance " +
          "must never re-encode")
      val coarse = graft.operators.VersionedIvfAdc.storedCoarse(s, root)
      require(coarse.length > 16,
        "s26: split published no new coarse cells")
      graft.operators.VersionedIvfAdc.search(s, root,
        emb.filter(col("vec_id") < AnnEvalQueries)
          .select("vec_id", "embedding"),
        nProbe = coarse.length, topK = 3)
        .orderBy("q_id", "rank")
    }),

    // IVFADC RETRAIN (VersionedIvfAdc.retrain, round 12) — the codebook
    // staleness verb: one bounded-sample integer-Lloyd round re-fits
    // the PQ codebook against the source corpus and re-encodes every
    // stored vector, coarse geometry carried, ONE OCC version. The
    // oracle replays the Lloyd round exactly (seed assignment → integer
    // means, empty cells keep seeds) and the full-probe search must
    // land on the retrained book's integer distances — a stale code, a
    // drifted mean, or a renumbering slip all shift them.
    "s27_ivfadc_retrain" -> ((s, d) => {
      val root = Tables.freshRoot("s27-vadcret")
      val emb = Tables.embeddings(s, d)
      graft.operators.VersionedIvfAdc.write(emb, root, dim = Dim,
        m = 8, k = 16, nCells = 16)
      val seedBook = graft.operators.VersionedIvfAdc.storedBook(s, root)
      val coarse1 = graft.operators.VersionedIvfAdc.storedCoarse(s, root)
      val v = graft.operators.VersionedIvfAdc.retrain(s, root, emb,
        iters = 1, trainSample = 0L)
      require(v == 2L, s"s27: expected retrain to publish version 2, got $v")
      val newBook = graft.operators.VersionedIvfAdc.storedBook(s, root)
      require(newBook.exists { case (id, q) =>
        !seedBook.toMap.get(id).exists(_.sameElements(q)) },
        "s27: retrain left the codebook identical — Lloyd round untested")
      val coarse2 = graft.operators.VersionedIvfAdc.storedCoarse(s, root)
      require(coarse1.length == coarse2.length &&
        coarse1.zip(coarse2).forall { case ((i1, q1), (i2, q2)) =>
          i1 == i2 && q1.sameElements(q2) },
        "s27: retrain moved the coarse geometry — it must carry verbatim")
      graft.operators.VersionedIvfAdc.search(s, root,
        emb.filter(col("vec_id") < AnnEvalQueries)
          .select("vec_id", "embedding"),
        nProbe = coarse2.length, topK = 3)
        .orderBy("q_id", "rank")
    }),

    // EXACTLY-ONCE streamed index build (VersionedIvf.upsertBatch,
    // round 12) — s24's batch upsert as the foreachBatch sink verb the
    // streaming ingest uses (IngestStream.vectorUpsertAvailable): batch
    // 0 BOOTSTRAPS geometry + rows + txn marker as version 1, batch 1
    // appends against the stored geometry, and a REPLAY of batch 1
    // (at-least-once delivery) must no-op — no new version, no
    // double-applied rows. Full-probe search then lands exactly on
    // full-corpus brute force: a replayed row would duplicate ids, a
    // marker without rows or rows without geometry cannot exist (one
    // manifest), and moved centroids would break the carried-lines
    // require.
    "s28_ivf_stream_upsert" -> ((s, d) => {
      val root = Tables.freshRoot("s28-vstream")
      val emb = Tables.embeddings(s, d)
      val b0 = emb.filter(col("vec_id") % 3 =!= 0)
        .select("vec_id", "embedding")
      val b1 = emb.filter(col("vec_id") % 3 === 0)
        .select("vec_id", "embedding")
      graft.operators.VersionedIvf.upsertBatch(s, root, b0, "s28", 0L,
        bootstrapCells = Some(16))
      val g1 = graft.operators.VersionedIvf.storedCentroids(s, root)
      graft.operators.VersionedIvf.upsertBatch(s, root, b1, "s28", 1L)
      val v = graft.operators.SnapshotStore.currentVersion(s, root)
      require(v.contains(2L), s"s28: expected 2 versions, got $v")
      // replay: the marker is already published — must no-op
      graft.operators.VersionedIvf.upsertBatch(s, root, b1, "s28", 1L)
      require(graft.operators.SnapshotStore.currentVersion(s, root)
        .contains(2L),
        "s28: replayed batch re-published — exactly-once broken")
      require(graft.operators.SnapshotStore
        .lastCommittedBatch(s, root, "s28").contains(1L))
      val g2 = graft.operators.VersionedIvf.storedCentroids(s, root)
      require(g1.length == g2.length &&
        g1.zip(g2).forall { case ((i1, q1), (i2, q2)) =>
          i1 == i2 && q1.sameElements(q2) },
        "s28: streamed appends moved the stored geometry")
      graft.operators.VersionedIvf.search(s, root,
        emb.filter(col("vec_id") < AnnEvalQueries)
          .select("vec_id", "embedding"),
        nProbe = g2.length, topK = 3)
        .orderBy("q_id", "rank")
    }),

    // RECALL-DRIFT MONITOR (round 12) — the number that tells an
    // operator WHEN to run s27's retrain: recall@10 of the compressed
    // cascade vs EXACT integer-L2 truth over the SAME content (the
    // quantity PQ approximates — recall vs another metric would measure
    // metric mismatch, not codebook staleness), replayed per REGION
    // across the store's time-travel versions. v1 = index on the base
    // region (the k=64 book fits it), v2 = upsert a PLANTED drifted
    // region — dimensions REVERSED (a permutation: intra-cluster
    // distances exactly preserved) then translated +2.0, both bit-exact
    // in either engine — whose vectors the stale book codes
    // degenerately → drifted-region recall arrives FAR below the base
    // region's, v3 = retrain (whose hash-spread re-seeding allocates
    // codewords to the new region ∝ its mass) → it RECOVERS. One row
    // per (version, region), integer permille; the requires pin the
    // decay-then-recovery shape itself (measured: drift 0‰ → 380‰ at
    // sf0.01, 160‰ → 400‰ at sf0.1, base stable ~260–380‰).
    "s29_ivfadc_drift" -> ((s, d) => {
      val root = Tables.freshRoot("s29-drift")
      val emb = Tables.embeddings(s, d)
      val toD = transform(col("embedding"), x => x.cast("double"))
      val base = emb
        .filter(col("vec_id") % 3 =!= 0 || col("vec_id") < 64)
        .select(col("vec_id"), toD.as("embedding"))
      val drifted = emb
        .filter(col("vec_id") % 3 === 0 && col("vec_id") >= 64)
        .select(col("vec_id"),
          transform(reverse(toD), x => x + lit(2.0d)).as("embedding"))
      // five recall blocks below each semi-join the full corpus — pin it
      // once instead of re-deriving the union+transform per block
      val full = base.unionByName(drifted).localCheckpoint(eager = false)
      def qs(src: DataFrame): DataFrame =
        src.filter(col("vec_id") >= 64).orderBy("vec_id")
          .limit(AnnEvalQueries)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      graft.operators.VersionedIvfAdc.write(base, root, dim = Dim,
        m = 8, k = 64, nCells = 16)
      graft.operators.VersionedIvfAdc.upsert(s, root, drifted)
      graft.operators.VersionedIvfAdc.retrain(s, root, full, iters = 1)
      val K = 10
      // recall evaluates on a BOUNDED content slice (vec_id < 512), the
      // d21 discipline: per-vector quantization error is independent of
      // what else is stored, so slice recall estimates corpus recall
      // unbiasedly — and the instrument keeps the SAME resolution at
      // every corpus size (top-K-of-the-whole-corpus truth gets harder
      // with n at fixed codebook size, which would saturate the monitor
      // at 0 long before the codebook is the problem)
      val EvalSlice = 512
      // versions 2 and 3 are each evaluated for BOTH regions — read and
      // pin each version's bounded eval slice once, not once per region
      val storedAt = Seq(1L, 2L, 3L).map { v =>
        v -> graft.operators.SnapshotStore.read(s, root, v)
          .filter(col("doc_id") < EvalSlice)
          .select(col("doc_id").as("vec_id"), col("codes"))
          .localCheckpoint(eager = false)
      }.toMap
      def recallRow(v: Long, region: String,
          queries: DataFrame): DataFrame = {
        val stored = storedAt(v)
        val corpusV = full.join(stored.select("vec_id"), Seq("vec_id"),
          "left_semi")
        val w = Window.partitionBy("q_id")
          .orderBy(col("dist"), col("vec_id"))
        val exactK = corpusV.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            aggregate(zip_with(
              VectorFunctions.quantize1e6(col("embedding")),
              VectorFunctions.quantize1e6(col("q_emb")),
              (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
              .as("dist"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= K).select("q_id", "vec_id")
        // ADC ranking over the same slice from STORE STATE at v: the
        // stored codes (encoded by whichever book was live when their
        // row last published) scored against the version's book
        val book = graft.operators.VersionedIvfAdc.storedBook(s, root, v)
        val lut = graft.operators.VersionedIvfAdc.queryLut(s,
          queries.select(col("q_id").as("vec_id"),
            col("q_emb").as("embedding")), book, Dim, 8)
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
          .filter(col("rk") <= K).select("q_id", "vec_id")
        adcK.join(exactK, Seq("q_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .select(lit(v).as("version"), lit(region).as("region"),
            col("hits"),
            expr(s"cast(hits * 1000 div ${K * AnnEvalQueries} as bigint)")
              .as("recall_permille"))
      }
      // each region's 8-row query set is consumed by 2-3 blocks, and
      // every block's broadcast build re-evaluated the top-8 selection —
      // a full corpus pass per block at scale. Pin each ONCE: 5 query-
      // extraction passes become 2 (same rows, same broadcasts).
      val qBase = qs(base).localCheckpoint(eager = false)
      val qDrift = qs(drifted).localCheckpoint(eager = false)
      // the requires' collect below and the caller's action would each
      // evaluate the whole 5-block analysis — pin it so the monitor runs
      // once (the collect materializes the checkpoint, the caller reads it)
      val out = recallRow(1L, "base", qBase)
        .unionByName(recallRow(2L, "base", qBase))
        .unionByName(recallRow(2L, "drift", qDrift))
        .unionByName(recallRow(3L, "base", qBase))
        .unionByName(recallRow(3L, "drift", qDrift))
        .orderBy("version", "region")
        .localCheckpoint(eager = false)
      val r = out.collect()
        .map(x => (x.getLong(0), x.getString(1)) -> x.getLong(3)).toMap
      require(r((2L, "drift")) < r((2L, "base")),
        s"s29: planted drift did not decay recall (base=${r((2L, "base"))}" +
          s" drift=${r((2L, "drift"))} at v2)")
      require(r((3L, "drift")) > r((2L, "drift")),
        s"s29: retrain did not recover recall (v2=${r((2L, "drift"))} " +
          s"v3=${r((3L, "drift"))})")
      out
    }),

    // EXACTLY-ONCE streamed build of the COMPRESSED production index
    // (VersionedIvfAdc.upsertBatch, round 13) — s28's streamed-sink
    // contract on the IVFADC layout, closing the round-12 gap where the
    // stream could only land in the FLAT versioned index: batch 0
    // BOOTSTRAPS both quantizers + encoded rows + txn marker as version
    // 1, batch 1 PQ-encodes against the STORED book and appends, a
    // REPLAY of batch 1 must no-op (no version, no double-applied
    // rows), and geometry must ride every version verbatim. The final
    // search replays s25's cascade oracle: a row encoded against
    // the wrong book, double-applied by the replay, or torn from the
    // carried quantizers shifts the integer PQ distances it pins.
    "s30_ivfadc_stream_upsert" -> ((s, d) => {
      val root = Tables.freshRoot("s30-vadcstream")
      val emb = Tables.embeddings(s, d)
      // batch 0 carries ids 0..15, so the streamed bootstrap's
      // lowest-16 quantizer seeds coincide with the batch write()'s —
      // the oracle's deterministic first-16 definition covers both
      val b0 = emb.filter(col("vec_id") < 300)
        .select("vec_id", "embedding")
      val b1 = emb.filter(col("vec_id") >= 300)
        .select("vec_id", "embedding")
      graft.operators.VersionedIvfAdc.upsertBatch(s, root, b0, "s30", 0L,
        bootstrapCells = Some(16), dim = Dim, m = 8, k = 16)
      val g1 = (graft.operators.VersionedIvfAdc.storedCoarse(s, root),
        graft.operators.VersionedIvfAdc.storedBook(s, root))
      graft.operators.VersionedIvfAdc.upsertBatch(s, root, b1, "s30", 1L)
      val v = graft.operators.SnapshotStore.currentVersion(s, root)
      require(v.contains(2L), s"s30: expected 2 versions, got $v")
      // replay: the marker is already published — must no-op
      graft.operators.VersionedIvfAdc.upsertBatch(s, root, b1, "s30", 1L)
      require(graft.operators.SnapshotStore.currentVersion(s, root)
        .contains(2L),
        "s30: replayed batch re-published — exactly-once broken")
      require(graft.operators.SnapshotStore
        .lastCommittedBatch(s, root, "s30").contains(1L))
      val g2 = (graft.operators.VersionedIvfAdc.storedCoarse(s, root),
        graft.operators.VersionedIvfAdc.storedBook(s, root))
      require(g1._1.length == g2._1.length && g1._2.length == g2._2.length
        && g1._1.zip(g2._1).forall { case ((i1, q1), (i2, q2)) =>
          i1 == i2 && q1.sameElements(q2) }
        && g1._2.zip(g2._2).forall { case ((i1, q1), (i2, q2)) =>
          i1 == i2 && q1.sameElements(q2) },
        "s30: streamed appends moved the stored quantizers")
      graft.operators.VersionedIvfAdc.search(s, root,
        emb.filter(col("vec_id") < AnnEvalQueries)
          .select("vec_id", "embedding"),
        nProbe = 2, topK = 3)
        .orderBy("q_id", "rank")
    })
  )

  /** s29's oracle: drifted corpus values, both codebooks (stale
    * first-64 seeds; Lloyd-1 retrained), codes + LUTs per book, and one
    * recall@10-vs-exact-integer-L2 block per (version, region). */
  private lazy val s29DriftOracle: String = {
    val K = 10
    // per-(version, region) evaluation: exact@K over that version's
    // content, ADC@K from that version's book, hit count → permille
    def block(v: Int, region: String, book: String,
        content: String): String =
      s"""e_${v}_$region AS (SELECT q_id, vec_id FROM (
        |  SELECT qq.q_id, c.vec_id,
        |    row_number() OVER (PARTITION BY qq.q_id ORDER BY
        |      list_sum(list_transform(range(1, ${Dim + 1}), i -> (c.qe[i] - qq.qe[i]) * (c.qe[i] - qq.qe[i]))), c.vec_id) AS rk
        |  FROM qset_$region qq JOIN $content c ON c.vec_id <> qq.q_id)
        |  WHERE rk <= $K),
        |ap_${v}_$region AS (SELECT l.q_id, cd.vec_id, cast(sum(l.dist) as bigint) AS adist
        |  FROM codes_$book cd JOIN $content ct ON ct.vec_id = cd.vec_id
        |  JOIN lut_${book}_$region l ON l.j = cd.j AND l.cent_id = cd.code
        |  WHERE cd.vec_id <> l.q_id GROUP BY 1, 2),
        |a_${v}_$region AS (SELECT q_id, vec_id FROM (
        |  SELECT q_id, vec_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rk
        |  FROM ap_${v}_$region) WHERE rk <= $K),
        |row_${v}_$region AS (SELECT cast($v as bigint) AS version,
        |  '$region' AS region, cast(count(*) as bigint) AS hits,
        |  cast(count(*) * 1000 // ${K * AnnEvalQueries} as bigint) AS recall_permille
        |  FROM a_${v}_$region JOIN e_${v}_$region USING (q_id, vec_id))"""
        .stripMargin
    def bookCtes(book: String): String =
      s"""bsub_$book AS (SELECT cent_id, cast(j.range as int) AS j, i.range AS i,
        |    qc[cast(j.range * 8 + i.range + 1 as int)] AS cv
        |  FROM book_$book, range(0, 8) j, range(0, 8) i),
        |pdists_$book AS (SELECT s.vec_id, s.j, c.cent_id,
        |    cast(sum((s.v - c.cv) * (s.v - c.cv)) as bigint) AS dist
        |  FROM vsub s JOIN bsub_$book c ON c.j = s.j AND c.i = s.i
        |  GROUP BY 1, 2, 3),
        |codes_$book AS (SELECT vec_id, j, cent_id AS code FROM (
        |  SELECT vec_id, j, cent_id,
        |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cent_id) AS rk
        |  FROM pdists_$book) WHERE rk = 1),
        |lut_${book}_base AS (SELECT q.q_id, p.j, p.cent_id, p.dist
        |  FROM pdists_$book p JOIN qset_base q ON q.q_id = p.vec_id),
        |lut_${book}_drift AS (SELECT q.q_id, p.j, p.cent_id, p.dist
        |  FROM pdists_$book p JOIN qset_drift q ON q.q_id = p.vec_id)"""
        .stripMargin
    s"""WITH fullv AS (SELECT vec_id,
      |    CASE WHEN vec_id % 3 = 0 AND vec_id >= 64
      |      THEN list_transform(list_reverse(cast(embedding as double[])), x -> x + 2.0)
      |      ELSE cast(embedding as double[]) END AS emb
      |  FROM embeddings),
      |q AS (SELECT vec_id, list_transform(emb, x -> cast(round(x * 1000000.0) as bigint)) AS qe FROM fullv),
      |content_1 AS (SELECT vec_id, qe FROM q
      |  WHERE NOT (vec_id % 3 = 0 AND vec_id >= 64) AND vec_id < 512),
      |content_a AS (SELECT vec_id, qe FROM q WHERE vec_id < 512),
      |qset_base AS (SELECT vec_id AS q_id, qe FROM q
      |  WHERE vec_id >= 64 AND vec_id % 3 <> 0 ORDER BY vec_id LIMIT $AnnEvalQueries),
      |qset_drift AS (SELECT vec_id AS q_id, qe FROM q
      |  WHERE vec_id >= 64 AND vec_id % 3 = 0 ORDER BY vec_id LIMIT $AnnEvalQueries),
      |book_stale AS (SELECT vec_id AS cent_id, qe AS qc FROM q ORDER BY vec_id LIMIT 64),
      |seeds AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cent_id, qc FROM (
      |  SELECT vec_id, qe AS qc, ${graft.functions.CrossHash.duckHash60("cast(vec_id as varchar)")} AS h
      |  FROM q ORDER BY h, vec_id LIMIT 64)),
      |sd AS (SELECT a.vec_id, c.cent_id,
      |    list_sum(list_transform(range(1, ${Dim + 1}), i -> (a.qe[i] - c.qc[i]) * (a.qe[i] - c.qc[i]))) AS dist
      |  FROM q a, seeds c),
      |sassign AS (SELECT vec_id, cent_id FROM (
      |  SELECT vec_id, cent_id,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rk
      |  FROM sd) WHERE rk = 1),
      |bm AS (SELECT sa.cent_id, i.range AS ord,
      |    cast(floor(avg(qq.qe[cast(i.range as int)]) + 0.5) as bigint) AS v
      |  FROM sassign sa JOIN q qq ON qq.vec_id = sa.vec_id, range(1, ${Dim + 1}) i
      |  GROUP BY sa.cent_id, i.range),
      |bookv AS (SELECT cent_id, list(v ORDER BY ord) AS qc FROM bm GROUP BY cent_id),
      |book_lloyd AS (SELECT s.cent_id, coalesce(b.qc, s.qc) AS qc
      |  FROM seeds s LEFT JOIN bookv b USING (cent_id)),
      |qslice AS (SELECT vec_id, qe FROM q WHERE vec_id < 512),
      |vsub AS (SELECT vec_id, cast(j.range as int) AS j, i.range AS i,
      |    qe[cast(j.range * 8 + i.range + 1 as int)] AS v
      |  FROM qslice, range(0, 8) j, range(0, 8) i),
      |${bookCtes("stale")},
      |${bookCtes("lloyd")},
      |${block(1, "base", "stale", "content_1")},
      |${block(2, "base", "stale", "content_a")},
      |${block(2, "drift", "stale", "content_a")},
      |${block(3, "base", "lloyd", "content_a")},
      |${block(3, "drift", "lloyd", "content_a")}
      |SELECT * FROM row_1_base
      |UNION ALL SELECT * FROM row_2_base
      |UNION ALL SELECT * FROM row_2_drift
      |UNION ALL SELECT * FROM row_3_base
      |UNION ALL SELECT * FROM row_3_drift
      |ORDER BY version, region""".stripMargin
  }

  // Brute-force cosine top-3 over the full corpus — the layout-
  // independent truth every stored-index maintenance verb (rebalance,
  // rebalanceUntil) must preserve under a full probe.
  private val fullProbeTop3Oracle: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
      |  FROM embeddings WHERE vec_id < $AnnEvalQueries),
      |sims AS (SELECT q.q_id, c.vec_id,
      |    round(list_cosine_similarity(cast(c.embedding as double[]), cast(q.q_emb as double[])), 6) AS sim
      |  FROM embeddings c JOIN q ON c.vec_id <> q.q_id),
      |ranked AS (SELECT q_id, vec_id, sim,
      |    cast(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) as int) AS rank
      |  FROM sims)
      |SELECT q_id, rank, vec_id, sim FROM ranked WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  // Integer-exact SRP: weights are hash-derived BIGINTs, embeddings are
  // quantized to round(x*1e6) BIGINTs, so each projection is an exact
  // integer sum — identical across engines regardless of summation order.
  private val srpCtes =
    "WITH " + VectorFunctions.duckSrpSigCtes(Dim, Planes) + """,
      |esig AS (SELECT s.vec_id, s.sig, e.embedding FROM sigs s JOIN embeddings e USING (vec_id))""".stripMargin

  override val oracles: Map[String, String] = Map(
    "s18_ivf_probe_curve" -> {
      def level(np: Int): String =
        s"""c$np AS (SELECT p.q_id, a.vec_id,
          |    round(list_cosine_similarity(cast(ev.embedding as double[]), cast(eq.embedding as double[])), 6) AS sim
          |  FROM (SELECT vec_id AS q_id, cent_id FROM iranks
          |        WHERE vec_id < $AnnEvalQueries AND rk <= $np) p
          |  JOIN iassign a ON a.cent_id = p.cent_id AND a.vec_id <> p.q_id
          |  JOIN embeddings eq ON eq.vec_id = p.q_id
          |  JOIN embeddings ev ON ev.vec_id = a.vec_id),
          |t$np AS (SELECT q_id, vec_id FROM (
          |  SELECT q_id, vec_id,
          |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
          |  FROM c$np) WHERE rnk <= 3),
          |h$np AS (SELECT $np AS n_probe,
          |    cast(count(t$np.vec_id) as bigint) AS hits
          |  FROM ex LEFT JOIN t$np ON t$np.q_id = ex.q_id AND t$np.vec_id = ex.vec_id)"""
          .stripMargin
      s"""WITH iq AS (SELECT vec_id, embedding,
        |  list_transform(embedding, x -> cast(round(cast(x as double) * 1000000.0) as bigint)) AS qe
        |  FROM embeddings),
        |icents AS (SELECT vec_id AS cent_id, qe AS qc FROM iq ORDER BY vec_id LIMIT 64),
        |idists AS (SELECT a.vec_id, c.cent_id,
        |    list_sum(list_transform(range(1, ${Dim + 1}), i -> (a.qe[i] - c.qc[i]) * (a.qe[i] - c.qc[i]))) AS dist
        |  FROM iq a, icents c),
        |iranks AS (SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rk
        |  FROM idists),
        |iassign AS (SELECT vec_id, cent_id FROM iranks WHERE rk = 1),
        |ex AS (SELECT q_id, vec_id FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(cast(c.embedding as double[]), cast(q.embedding as double[])), 6) DESC, c.vec_id) AS rnk
        |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < $AnnEvalQueries) WHERE rnk <= 3),
        |${level(1)},
        |${level(2)},
        |${level(4)}
        |SELECT n_probe, hits,
        |  cast(hits * 1000 // ${3 * AnnEvalQueries} as bigint) AS recall_permille
        |FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2
        |      UNION ALL SELECT * FROM h4)
        |ORDER BY n_probe""".stripMargin
    },

    // s03's assignment/probing CTEs + s05's symmetric-int8 scoring: the
    // stored layout computes the identical quantity by construction
    "s19_sq_ivf_stored" ->
      s"""WITH q AS (SELECT vec_id, embedding,
        |  list_transform(embedding, x -> cast(round(cast(x as double) * 1000000.0) as bigint)) AS qe
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, qe AS qc FROM q ORDER BY vec_id LIMIT 16),
        |dists AS (SELECT a.vec_id, c.cent_id,
        |    list_sum(list_transform(range(1, ${Dim + 1}), i -> (a.qe[i] - c.qc[i]) * (a.qe[i] - c.qc[i]))) AS dist
        |  FROM q a, cents c),
        |ranks AS (SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rk
        |  FROM dists),
        |assign AS (SELECT vec_id, cent_id FROM ranks WHERE rk = 1),
        |probes AS (SELECT vec_id AS q_id, cent_id FROM ranks WHERE vec_id < 5 AND rk <= 2),
        |e8 AS (SELECT vec_id,
        |  cast(${VectorFunctions.duckQuantizeInt8("embedding")} as double[]) AS q8
        |  FROM embeddings),
        |cand AS (SELECT p.q_id, a.vec_id,
        |    round(list_cosine_similarity(cv.q8, cq.q8), 6) AS sim
        |  FROM probes p
        |  JOIN assign a ON a.cent_id = p.cent_id AND a.vec_id <> p.q_id
        |  JOIN e8 cq ON cq.vec_id = p.q_id
        |  JOIN e8 cv ON cv.vec_id = a.vec_id),
        |ranked AS (SELECT q_id, vec_id, sim,
        |    cast(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) as int) AS rank
        |  FROM cand)
        |SELECT q_id, rank, vec_id, sim FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin,

    "s17_mislabel_audit" ->
      s"""WITH q AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> cast(round(cast(x as double) * 1000000.0) as bigint)) AS qe
        |  FROM embeddings),
        |m AS (SELECT label AS cid, i.range AS ord,
        |    cast(floor(avg(qq.qe[cast(i.range as int)]) + 0.5) as bigint) AS v
        |  FROM q qq, range(1, ${Dim + 1}) i GROUP BY qq.label, i.range),
        |c AS (SELECT cid, list(v ORDER BY ord) AS qc FROM m GROUP BY cid),
        |d AS (SELECT a.vec_id, a.label, c.cid,
        |    list_sum(list_transform(range(1, ${Dim + 1}), i -> (a.qe[i] - c.qc[i]) * (a.qe[i] - c.qc[i]))) AS dist
        |  FROM q a, c),
        |r AS (SELECT vec_id, label, cid, dist,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM d),
        |f AS (SELECT vec_id, label,
        |    min(CASE WHEN rk = 1 THEN cid END) AS nearest_label,
        |    min(CASE WHEN rk = 1 THEN dist END) AS d_nearest,
        |    min(CASE WHEN cid = label THEN dist END) AS d_own
        |  FROM r GROUP BY vec_id, label)
        |SELECT vec_id, label, cast(nearest_label as int) AS nearest_label,
        |  cast(d_own as bigint) AS d_own, cast(d_nearest as bigint) AS d_nearest,
        |  cast(CASE WHEN d_own = 0 THEN 0 ELSE (d_own - d_nearest) * 1000 // d_own END as bigint) AS margin_permille
        |FROM f WHERE nearest_label <> label
        |ORDER BY margin_permille DESC, vec_id LIMIT 25""".stripMargin,

    "s16_mrr_eval" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe, label AS q_label
        |           FROM embeddings WHERE vec_id < $AnnEvalQueries),
        |scored AS (
        |  SELECT q.q_id, q.q_label, e.vec_id, e.label,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY round(list_cosine_similarity(cast(e.embedding as double[]), cast(q.qe as double[])), 6) DESC, e.vec_id) AS rnk
        |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
        |cut AS (SELECT * FROM scored WHERE rnk <= 20)
        |SELECT q_id, q_label AS label,
        |  cast(coalesce(min(CASE WHEN label = q_label THEN rnk END), 0) as bigint) AS first_rel_rank,
        |  cast(coalesce(1000000 // min(CASE WHEN label = q_label THEN rnk END), 0) as bigint) AS rr_micro,
        |  cast(100 * sum(CASE WHEN label = q_label AND rnk <= 10 THEN 1 ELSE 0 END) as bigint) AS p_at10_permille
        |FROM cut GROUP BY q_id, q_label ORDER BY q_id""".stripMargin,

    "s12_cluster_quality" ->
      s"""WITH q AS (SELECT vec_id, embedding,
        |  list_transform(embedding, x -> cast(round(cast(x as double) * 1000000.0) as bigint)) AS qe
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, qe AS qc FROM q ORDER BY vec_id LIMIT 16),
        |dists AS (SELECT a.vec_id, c.cent_id,
        |    list_sum(list_transform(range(1, ${Dim + 1}), i -> (a.qe[i] - c.qc[i]) * (a.qe[i] - c.qc[i]))) AS dist
        |  FROM q a, cents c),
        |ranks AS (SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rk,
        |    dist
        |  FROM dists),
        |ab AS (SELECT vec_id,
        |    min(CASE WHEN rk = 1 THEN cent_id END) AS cell,
        |    min(CASE WHEN rk = 1 THEN dist END) AS a,
        |    min(CASE WHEN rk = 2 THEN dist END) AS b
        |  FROM ranks WHERE rk <= 2 GROUP BY vec_id),
        |agg AS (SELECT cell, count(*) AS n_members,
        |    cast(sum(a) as bigint) AS sa, cast(sum(b) as bigint) AS sb
        |  FROM ab GROUP BY cell)
        |SELECT cell AS cent_id, n_members,
        |  cast(sa as double) / n_members AS mean_intra,
        |  cast(sb as double) / n_members AS mean_second,
        |  CASE WHEN sa = 0 THEN NULL
        |       ELSE cast((sb * 1000) // sa as bigint) END AS separation_permille
        |FROM agg ORDER BY cent_id""".stripMargin,

    "s11_pq_rerank" ->
      """WITH q AS (SELECT vec_id,
        |  list_transform(embedding, x -> cast(round(cast(x as double) * 1000000.0) as bigint)) AS qe
        |  FROM embeddings),
        |sub AS (SELECT vec_id, cast(j.range as int) AS j, i.range AS i,
        |    qe[cast(j.range * 8 + i.range + 1 as int)] AS v
        |  FROM q, range(0, 8) j, range(0, 8) i),
        |cent AS (SELECT vec_id AS cent_id, j, i, v AS cv FROM sub WHERE vec_id < 16),
        |dists AS (SELECT s.vec_id, s.j, c.cent_id,
        |    cast(sum((s.v - c.cv) * (s.v - c.cv)) as bigint) AS dist
        |  FROM sub s JOIN cent c ON c.j = s.j AND c.i = s.i
        |  GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, j, cent_id AS code FROM (
        |  SELECT vec_id, j, cent_id,
        |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cent_id) AS rk
        |  FROM dists) WHERE rk = 1),
        |lut AS (SELECT vec_id AS q_id, j, cent_id, dist FROM dists WHERE vec_id < 5),
        |approx AS (SELECT l.q_id, c.vec_id, cast(sum(l.dist) as bigint) AS approx_dist
        |  FROM codes c JOIN lut l ON l.j = c.j AND l.cent_id = c.code
        |  WHERE c.vec_id <> l.q_id GROUP BY 1, 2),
        |cand AS (SELECT q_id, vec_id FROM (
        |  SELECT q_id, vec_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY approx_dist, vec_id) AS rank
        |  FROM approx) WHERE rank <= 20),
        |rer AS (SELECT c.q_id, c.vec_id,
        |    round(list_cosine_similarity(cast(e.embedding as double[]), cast(qq.embedding as double[])), 6) AS sim
        |  FROM cand c
        |  JOIN embeddings e ON e.vec_id = c.vec_id
        |  JOIN embeddings qq ON qq.vec_id = c.q_id)
        |SELECT q_id, rank, vec_id, sim FROM (
        |  SELECT q_id, vec_id, sim,
        |    cast(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) as int) AS rank
        |  FROM rer) WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin,

    "s10_label_centroids" ->
      s"""SELECT label, count(*) AS n,
         |${(0 until 4).map(i =>
             s"  round(cast(sum(cast(round(embedding[${i + 1}] * 1e6) as bigint)) as double) / (cast(count(*) as double) * 1e6), 6) AS c$i")
             .mkString(",\n")}
         |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,

    // the greedy re-ranks one state row per step: the recursive term
    // joins the single current state against remaining candidates
    // (neighbour sims carried as per-candidate struct lists so no
    // correlated subquery is needed) and keeps row_number() = 1 — the
    // same integer argmax + (m2 desc, vec_id) tie-break as the engine
    "s15_mmr_rerank" ->
      s"""WITH RECURSIVE
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |scored AS (SELECT b.vec_id, b.embedding,
        |    cast(round(round(list_cosine_similarity(cast(b.embedding as double[]), cast(q.qe as double[])), 6) * 1000000.0) as bigint) AS qsim_u
        |  FROM embeddings b, q WHERE b.vec_id <> 0),
        |cand AS (SELECT vec_id, embedding, qsim_u FROM scored
        |  ORDER BY qsim_u DESC, vec_id LIMIT $MmrCandidates),
        |pair AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    cast(round(round(list_cosine_similarity(cast(a.embedding as double[]), cast(b.embedding as double[])), 6) * 1000000.0) as bigint) AS sim_u
        |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
        |candn AS (SELECT c.vec_id, c.qsim_u,
        |    list(struct_pack(other := p.ib, sim := p.sim_u)) AS nbrs
        |  FROM cand c JOIN pair p ON p.ia = c.vec_id GROUP BY c.vec_id, c.qsim_u),
        |sel AS (
        |  SELECT 1 AS rnk, vec_id, qsim_u, qsim_u AS m2, [vec_id] AS ids
        |  FROM (SELECT * FROM cand ORDER BY qsim_u DESC, vec_id LIMIT 1)
        |  UNION ALL
        |  SELECT rnk, vec_id, qsim_u, m2, ids FROM (
        |    SELECT rnk, vec_id, qsim_u, m2, ids,
        |      row_number() OVER (ORDER BY m2 DESC, vec_id) AS rn
        |    FROM (
        |      SELECT s.rnk + 1 AS rnk, c.vec_id, c.qsim_u,
        |        c.qsim_u - coalesce(list_max(list_transform(
        |          list_filter(c.nbrs, x -> list_contains(s.ids, x.other)),
        |          x -> x.sim)), 0) AS m2,
        |        list_append(s.ids, c.vec_id) AS ids
        |      FROM sel s JOIN candn c ON NOT list_contains(s.ids, c.vec_id)
        |      WHERE s.rnk < $MmrK))
        |  WHERE rn = 1)
        |SELECT rnk AS rank, vec_id,
        |  cast(qsim_u as double) / 1000000.0 AS qsim,
        |  cast(m2 as double) / 2000000.0 AS mmr_score
        |FROM sel ORDER BY rank""".stripMargin,

    "s01_ann_srp" ->
      (srpCtes + s""",
        |cand AS (SELECT q.vec_id AS q_id, c.vec_id,
        |    round(list_cosine_similarity(cast(c.embedding as double[]), cast(q.embedding as double[])), 6) AS sim
        |  FROM esig q JOIN esig c ON q.sig = c.sig AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < $AnnEvalQueries),
        |ranked AS (SELECT q_id, vec_id, sim,
        |    cast(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) as int) AS rank
        |  FROM cand)
        |SELECT q_id, rank, vec_id, sim FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin),

    "s03_ann_ivf" ->
      s"""WITH q AS (SELECT vec_id, embedding,
        |  list_transform(embedding, x -> cast(round(cast(x as double) * 1000000.0) as bigint)) AS qe
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, qe AS qc FROM q ORDER BY vec_id LIMIT 16),
        |dists AS (SELECT a.vec_id, c.cent_id,
        |    list_sum(list_transform(range(1, ${Dim + 1}), i -> (a.qe[i] - c.qc[i]) * (a.qe[i] - c.qc[i]))) AS dist
        |  FROM q a, cents c),
        |ranks AS (SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rk
        |  FROM dists),
        |assign AS (SELECT vec_id, cent_id FROM ranks WHERE rk = 1),
        |probes AS (SELECT vec_id AS q_id, cent_id FROM ranks WHERE vec_id < 5 AND rk <= 2),
        |cand AS (SELECT p.q_id, a.vec_id,
        |    round(list_cosine_similarity(cast(ev.embedding as double[]), cast(eq.embedding as double[])), 6) AS sim
        |  FROM probes p
        |  JOIN assign a ON a.cent_id = p.cent_id AND a.vec_id <> p.q_id
        |  JOIN embeddings eq ON eq.vec_id = p.q_id
        |  JOIN embeddings ev ON ev.vec_id = a.vec_id),
        |ranked AS (SELECT q_id, vec_id, sim,
        |    cast(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) as int) AS rank
        |  FROM cand)
        |SELECT q_id, rank, vec_id, sim FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin,

    "s09_filtered_ann" ->
      s"""WITH q AS (SELECT vec_id, embedding,
        |  list_transform(embedding, x -> cast(round(cast(x as double) * 1000000.0) as bigint)) AS qe
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, qe AS qc FROM q ORDER BY vec_id LIMIT 16),
        |dists AS (SELECT a.vec_id, c.cent_id,
        |    list_sum(list_transform(range(1, ${Dim + 1}), i -> (a.qe[i] - c.qc[i]) * (a.qe[i] - c.qc[i]))) AS dist
        |  FROM q a, cents c),
        |ranks AS (SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rk
        |  FROM dists),
        |assign AS (SELECT r.vec_id, r.cent_id FROM ranks r
        |  JOIN embeddings el ON el.vec_id = r.vec_id
        |  WHERE r.rk = 1 AND el.label IN (1, 2, 3)),
        |probes AS (SELECT vec_id AS q_id, cent_id FROM ranks WHERE vec_id < 5 AND rk <= 2),
        |cand AS (SELECT p.q_id, a.vec_id,
        |    round(list_cosine_similarity(cast(ev.embedding as double[]), cast(eq.embedding as double[])), 6) AS sim
        |  FROM probes p
        |  JOIN assign a ON a.cent_id = p.cent_id AND a.vec_id <> p.q_id
        |  JOIN embeddings eq ON eq.vec_id = p.q_id
        |  JOIN embeddings ev ON ev.vec_id = a.vec_id),
        |ranked AS (SELECT q_id, vec_id, sim,
        |    cast(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) as int) AS rank
        |  FROM cand)
        |SELECT q_id, rank, vec_id, sim FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin,

    "s04_ann_recall" ->
      (srpCtes + s""",
        |srp AS (SELECT q_id, vec_id FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(cast(c.embedding as double[]), cast(q.embedding as double[])), 6) DESC, c.vec_id) AS rnk
        |  FROM esig q JOIN esig c ON q.sig = c.sig AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < $AnnEvalQueries) WHERE rnk <= 3),
        |iq AS (SELECT vec_id, embedding,
        |  list_transform(embedding, x -> cast(round(cast(x as double) * 1000000.0) as bigint)) AS qe
        |  FROM embeddings),
        |icents AS (SELECT vec_id AS cent_id, qe AS qc FROM iq ORDER BY vec_id LIMIT 16),
        |idists AS (SELECT a.vec_id, c.cent_id,
        |    list_sum(list_transform(range(1, ${Dim + 1}), i -> (a.qe[i] - c.qc[i]) * (a.qe[i] - c.qc[i]))) AS dist
        |  FROM iq a, icents c),
        |iranks AS (SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rk
        |  FROM idists),
        |iassign AS (SELECT vec_id, cent_id FROM iranks WHERE rk = 1),
        |iprobes AS (SELECT vec_id AS q_id, cent_id FROM iranks WHERE vec_id < $AnnEvalQueries AND rk <= 2),
        |icand AS (SELECT p.q_id, a.vec_id,
        |    round(list_cosine_similarity(cast(ev.embedding as double[]), cast(eq.embedding as double[])), 6) AS sim
        |  FROM iprobes p
        |  JOIN iassign a ON a.cent_id = p.cent_id AND a.vec_id <> p.q_id
        |  JOIN embeddings eq ON eq.vec_id = p.q_id
        |  JOIN embeddings ev ON ev.vec_id = a.vec_id),
        |ivf AS (SELECT q_id, vec_id FROM (
        |  SELECT q_id, vec_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
        |  FROM icand) WHERE rnk <= 3),
        |ex AS (SELECT q_id, vec_id FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(cast(c.embedding as double[]), cast(q.embedding as double[])), 6) DESC, c.vec_id) AS rnk
        |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < $AnnEvalQueries) WHERE rnk <= 3),
        |r AS (
        |  SELECT 'srp' AS method, e.q_id, round(cast(count(s.vec_id) as double) / 3.0, 6) AS recall
        |  FROM ex e LEFT JOIN srp s ON s.q_id = e.q_id AND s.vec_id = e.vec_id GROUP BY e.q_id
        |  UNION ALL
        |  SELECT 'ivf' AS method, e.q_id, round(cast(count(v.vec_id) as double) / 3.0, 6) AS recall
        |  FROM ex e LEFT JOIN ivf v ON v.q_id = e.q_id AND v.vec_id = e.vec_id GROUP BY e.q_id)
        |SELECT method, q_id, recall FROM r ORDER BY method, q_id""".stripMargin),

    "s08_ann_ivf_trained" -> {
      // one Lloyd iteration in SQL: assign to nearest cents, recompute
      // per-cell integer means (exact long-sum avg, floor(x+0.5) — the
      // Math.round formula), empty cells keep their previous centroid
      def iter(t: Int): String = {
        val p = t; val n = t + 1
        s"""d$p AS (SELECT a.vec_id, c.cent_id,
          |    list_sum(list_transform(range(1, ${Dim + 1}), i -> (a.qe[i] - c.qc[i]) * (a.qe[i] - c.qc[i]))) AS dist
          |  FROM q a, c$p c),
          |a$p AS (SELECT vec_id, cent_id FROM (
          |  SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rk
          |  FROM d$p) WHERE rk = 1),
          |m$p AS (SELECT a.cent_id, i.range AS ord,
          |    cast(floor(avg(qq.qe[cast(i.range as int)]) + 0.5) as bigint) AS v
          |  FROM a$p a JOIN q qq ON qq.vec_id = a.vec_id, range(1, ${Dim + 1}) i
          |  GROUP BY a.cent_id, i.range),
          |n$p AS (SELECT cent_id, list(v ORDER BY ord) AS qc FROM m$p GROUP BY cent_id),
          |c$n AS (SELECT c.cent_id, coalesce(n.qc, c.qc) AS qc FROM c$p c LEFT JOIN n$p n USING (cent_id))""".stripMargin
      }
      s"""WITH q AS (SELECT vec_id, embedding,
        |  list_transform(embedding, x -> cast(round(cast(x as double) * 1000000.0) as bigint)) AS qe
        |  FROM embeddings),
        |c0 AS (SELECT vec_id AS cent_id, qe AS qc FROM q ORDER BY vec_id LIMIT 16),
        |${iter(0)},
        |${iter(1)},
        |fd AS (SELECT a.vec_id, c.cent_id,
        |    list_sum(list_transform(range(1, ${Dim + 1}), i -> (a.qe[i] - c.qc[i]) * (a.qe[i] - c.qc[i]))) AS dist
        |  FROM q a, c2 c),
        |fr AS (SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rk
        |  FROM fd),
        |fassign AS (SELECT vec_id, cent_id FROM fr WHERE rk = 1),
        |fprobes AS (SELECT vec_id AS q_id, cent_id FROM fr WHERE vec_id < 5 AND rk <= 2),
        |cand AS (SELECT p.q_id, a.vec_id,
        |    round(list_cosine_similarity(cast(ev.embedding as double[]), cast(eq.embedding as double[])), 6) AS sim
        |  FROM fprobes p
        |  JOIN fassign a ON a.cent_id = p.cent_id AND a.vec_id <> p.q_id
        |  JOIN embeddings eq ON eq.vec_id = p.q_id
        |  JOIN embeddings ev ON ev.vec_id = a.vec_id),
        |ranked AS (SELECT q_id, vec_id, sim,
        |    cast(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) as int) AS rank
        |  FROM cand)
        |SELECT q_id, rank, vec_id, sim FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin
    },

    "s05_int8_topk" ->
      s"""WITH e8 AS (SELECT vec_id,
        |  cast(${VectorFunctions.duckQuantizeInt8("embedding")} as double[]) AS q8
        |  FROM embeddings),
        |cand AS (SELECT q.vec_id AS q_id, c.vec_id,
        |    round(list_cosine_similarity(c.q8, q.q8), 6) AS sim
        |  FROM e8 q JOIN e8 c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 5),
        |ranked AS (SELECT q_id, vec_id, sim,
        |    cast(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) as int) AS rank
        |  FROM cand)
        |SELECT q_id, rank, vec_id, sim FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin,

    "s06_pq_topk" ->
      """WITH q AS (SELECT vec_id,
        |  list_transform(embedding, x -> cast(round(cast(x as double) * 1000000.0) as bigint)) AS qe
        |  FROM embeddings),
        |sub AS (SELECT vec_id, cast(j.range as int) AS j, i.range AS i,
        |    qe[cast(j.range * 8 + i.range + 1 as int)] AS v
        |  FROM q, range(0, 8) j, range(0, 8) i),
        |cent AS (SELECT vec_id AS cent_id, j, i, v AS cv FROM sub WHERE vec_id < 16),
        |dists AS (SELECT s.vec_id, s.j, c.cent_id,
        |    cast(sum((s.v - c.cv) * (s.v - c.cv)) as bigint) AS dist
        |  FROM sub s JOIN cent c ON c.j = s.j AND c.i = s.i
        |  GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, j, cent_id AS code FROM (
        |  SELECT vec_id, j, cent_id,
        |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cent_id) AS rk
        |  FROM dists) WHERE rk = 1),
        |lut AS (SELECT vec_id AS q_id, j, cent_id, dist FROM dists WHERE vec_id < 5),
        |approx AS (SELECT l.q_id, c.vec_id, cast(sum(l.dist) as bigint) AS approx_dist
        |  FROM codes c JOIN lut l ON l.j = c.j AND l.cent_id = c.code
        |  WHERE c.vec_id <> l.q_id GROUP BY 1, 2),
        |ranked AS (SELECT q_id, vec_id, approx_dist,
        |    cast(row_number() OVER (PARTITION BY q_id ORDER BY approx_dist, vec_id) as int) AS rank
        |  FROM approx)
        |SELECT q_id, rank, vec_id, approx_dist FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin,

    "s07_pq_ivf" -> PqIvfOracleSql,

    // the stored cascade computes the identical quantity (same corpus,
    // same parameters, quantizers persisted instead of in-memory)
    "s14_pq_ivf_stored" -> PqIvfOracleSql,

    // the versioned compressed layout computes the identical cascade —
    // after a delete + same-vectors upsert round trip, re-encoding
    // against the carried quantizers restores the exact integer
    // distances of a fresh build
    "s25_ivfadc_versioned" -> PqIvfOracleSql,

    // full-probe ADC over the survivors: rebalance moves rows BETWEEN
    // coarse cells without touching codes or codebook, so the ranking
    // is the s07 cascade's integer PQ distances with the deleted set
    // gone — cell structure cancels out of a full probe entirely
    "s26_ivfadc_rebalance" ->
      s"""WITH q AS (SELECT vec_id,
        |  list_transform(embedding, x -> cast(round(cast(x as double) * 1000000.0) as bigint)) AS qe
        |  FROM embeddings),
        |sub AS (SELECT vec_id, cast(j.range as int) AS j, i.range AS i,
        |    qe[cast(j.range * 8 + i.range + 1 as int)] AS v
        |  FROM q, range(0, 8) j, range(0, 8) i),
        |pcent AS (SELECT vec_id AS cent_id, j, i, v AS cv FROM sub WHERE vec_id < 16),
        |pdists AS (SELECT s.vec_id, s.j, c.cent_id,
        |    cast(sum((s.v - c.cv) * (s.v - c.cv)) as bigint) AS dist
        |  FROM sub s JOIN pcent c ON c.j = s.j AND c.i = s.i
        |  GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, j, cent_id AS code FROM (
        |  SELECT vec_id, j, cent_id,
        |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cent_id) AS rk
        |  FROM pdists) WHERE rk = 1),
        |lut AS (SELECT vec_id AS q_id, j, cent_id, dist FROM pdists WHERE vec_id < $AnnEvalQueries),
        |approx AS (SELECT l.q_id, cd.vec_id, cast(sum(l.dist) as bigint) AS approx_dist
        |  FROM codes cd JOIN lut l ON l.j = cd.j AND l.cent_id = cd.code
        |  WHERE cd.vec_id <> l.q_id AND cd.vec_id % 10 <> 3
        |  GROUP BY 1, 2),
        |ranked AS (SELECT q_id, vec_id, approx_dist,
        |    cast(row_number() OVER (PARTITION BY q_id ORDER BY approx_dist, vec_id) as int) AS rank
        |  FROM approx)
        |SELECT q_id, rank, vec_id, approx_dist FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin,

    // the retrained codebook replayed exactly: one integer-Lloyd round
    // (seeds = the 16 lowest corpus vectors by the cross-engine hash —
    // retrain RE-SEEDS from the current corpus, renumbering the book in
    // hash order; integer means per cell — Java math.round(x) =
    // floor(x + 0.5) for doubles, all signs — empty cells keep their
    // seed), then full-probe ADC with the new book
    "s27_ivfadc_retrain" ->
      s"""WITH q AS (SELECT vec_id,
        |  list_transform(embedding, x -> cast(round(cast(x as double) * 1000000.0) as bigint)) AS qe
        |  FROM embeddings),
        |seeds AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cent_id, qc FROM (
        |  SELECT vec_id, qe AS qc, ${graft.functions.CrossHash.duckHash60("cast(vec_id as varchar)")} AS h
        |  FROM q ORDER BY h, vec_id LIMIT 16)),
        |sd AS (SELECT a.vec_id, c.cent_id,
        |    list_sum(list_transform(range(1, ${Dim + 1}), i -> (a.qe[i] - c.qc[i]) * (a.qe[i] - c.qc[i]))) AS dist
        |  FROM q a, seeds c),
        |sassign AS (SELECT vec_id, cent_id FROM (
        |  SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rk
        |  FROM sd) WHERE rk = 1),
        |bm AS (SELECT sa.cent_id, i.range AS ord,
        |    cast(floor(avg(qq.qe[cast(i.range as int)]) + 0.5) as bigint) AS v
        |  FROM sassign sa JOIN q qq ON qq.vec_id = sa.vec_id, range(1, ${Dim + 1}) i
        |  GROUP BY sa.cent_id, i.range),
        |bookv AS (SELECT cent_id, list(v ORDER BY ord) AS qc FROM bm GROUP BY cent_id),
        |book AS (SELECT s.cent_id, coalesce(b.qc, s.qc) AS qc
        |  FROM seeds s LEFT JOIN bookv b USING (cent_id)),
        |bsub AS (SELECT cent_id, cast(j.range as int) AS j, i.range AS i,
        |    qc[cast(j.range * 8 + i.range + 1 as int)] AS cv
        |  FROM book, range(0, 8) j, range(0, 8) i),
        |vsub AS (SELECT vec_id, cast(j.range as int) AS j, i.range AS i,
        |    qe[cast(j.range * 8 + i.range + 1 as int)] AS v
        |  FROM q, range(0, 8) j, range(0, 8) i),
        |pdists AS (SELECT s.vec_id, s.j, c.cent_id,
        |    cast(sum((s.v - c.cv) * (s.v - c.cv)) as bigint) AS dist
        |  FROM vsub s JOIN bsub c ON c.j = s.j AND c.i = s.i
        |  GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, j, cent_id AS code FROM (
        |  SELECT vec_id, j, cent_id,
        |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cent_id) AS rk
        |  FROM pdists) WHERE rk = 1),
        |lut AS (SELECT vec_id AS q_id, j, cent_id, dist FROM pdists WHERE vec_id < $AnnEvalQueries),
        |approx AS (SELECT l.q_id, cd.vec_id, cast(sum(l.dist) as bigint) AS approx_dist
        |  FROM codes cd JOIN lut l ON l.j = cd.j AND l.cent_id = cd.code
        |  WHERE cd.vec_id <> l.q_id
        |  GROUP BY 1, 2),
        |ranked AS (SELECT q_id, vec_id, approx_dist,
        |    cast(row_number() OVER (PARTITION BY q_id ORDER BY approx_dist, vec_id) as int) AS rank
        |  FROM approx)
        |SELECT q_id, rank, vec_id, approx_dist FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin,

    // survivors-only brute force: full-probe stored search after the
    // delete must equal exact cosine top-3 with the deleted set gone
    "s20_index_delete" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < $AnnEvalQueries),
        |cand AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id % 10 <> 3),
        |sims AS (SELECT q.q_id, c.vec_id,
        |    round(list_cosine_similarity(cast(c.embedding as double[]), cast(q.q_emb as double[])), 6) AS sim
        |  FROM cand c JOIN q ON c.vec_id <> q.q_id),
        |ranked AS (SELECT q_id, vec_id, sim,
        |    cast(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) as int) AS rank
        |  FROM sims)
        |SELECT q_id, rank, vec_id, sim FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin,

    // rebalance moves rows BETWEEN cells, never in or out of the index:
    // full-probe search after it is plain brute-force cosine top-3
    "s21_ivf_rebalance" -> fullProbeTop3Oracle,

    // delete + rebalance preserve content exactly (s20 and s21 in one
    // pipeline): full-probe afterwards = survivors-only brute force
    "s23_ivf_versioned" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < $AnnEvalQueries),
        |cand AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id % 10 <> 3),
        |sims AS (SELECT q.q_id, c.vec_id,
        |    round(list_cosine_similarity(cast(c.embedding as double[]), cast(q.q_emb as double[])), 6) AS sim
        |  FROM cand c JOIN q ON c.vec_id <> q.q_id),
        |ranked AS (SELECT q_id, vec_id, sim,
        |    cast(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) as int) AS rank
        |  FROM sims)
        |SELECT q_id, rank, vec_id, sim FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin,

    // same invariant after the bounded convergence LOOP — however many
    // rounds it took, the index content is untouched
    "s22_ivf_rebalance_until" -> fullProbeTop3Oracle,

    // after upserting the missing third (plus replacements of present
    // ids), the index holds the FULL corpus exactly once — full-probe
    // search is plain full-corpus brute force; centroid choice (trained
    // on the 2/3 subset) cannot matter under a full probe
    "s24_ivf_upsert" -> fullProbeTop3Oracle,

    // the streamed build covers the full corpus exactly once (bootstrap
    // + append + no-op replay), so full-probe search is plain
    // brute-force cosine top-3 — the same truth as s24's batch path
    "s28_ivf_stream_upsert" -> fullProbeTop3Oracle,

    // the drift monitor replayed end-to-end: the planted transform
    // (list_reverse + 0.5 in double — bit-exact both engines), the
    // stale first-64 codebook, the Lloyd-1 retrained book, per-version
    // content, and recall@10 against exact integer-L2 truth
    "s29_ivfadc_drift" -> s29DriftOracle,
    // the streamed drain lands exactly where one batch write of the
    // full corpus would — s25's cascade integer-PQ oracle verbatim
    "s30_ivfadc_stream_upsert" -> PqIvfOracleSql,

    "s13_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
        |  FROM embeddings WHERE vec_id < 5),
        |cand AS (SELECT q.q_id, c.vec_id,
        |    CASE WHEN c.label = q.q_label THEN 'pos' ELSE 'neg' END AS kind,
        |    round(list_cosine_similarity(cast(c.embedding as double[]), cast(q.q_emb as double[])), 6) AS sim
        |  FROM embeddings c JOIN q ON c.vec_id <> q.q_id),
        |ranked AS (SELECT q_id, kind, vec_id, sim,
        |    cast(row_number() OVER (PARTITION BY q_id, kind ORDER BY sim DESC, vec_id) as int) AS rank
        |  FROM cand)
        |SELECT q_id, kind, rank, vec_id, sim FROM ranked
        |WHERE (kind = 'pos' AND rank <= 1) OR (kind = 'neg' AND rank <= 3)
        |ORDER BY q_id, kind, rank""".stripMargin,

    "s02_sim_join_topk" ->
      """WITH cand AS (SELECT q.vec_id AS q_id, c.vec_id,
        |    round(list_cosine_similarity(cast(c.embedding as double[]), cast(q.embedding as double[])), 6) AS sim
        |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |ranked AS (SELECT q_id, vec_id, sim,
        |    cast(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) as int) AS rank
        |  FROM cand)
        |SELECT q_id, rank, vec_id, sim FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin
  )
}
