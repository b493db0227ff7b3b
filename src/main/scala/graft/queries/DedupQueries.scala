package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{CrossHash, VectorFunctions}
import graft.operators.{DupClusters, MinHashLSH, NgramJaccard, SimHash}

/** Deduplication operator family over the document corpus — the
  * LLM-training-data-pipeline extension (BASELINE.json north star; the
  * reference's only dedup is first-id-per-title at ra/server.py:36-43,
  * covered by r03).
  *
  * Scale design: nothing here is O(n²) on the corpus. Exact dedup is a
  * hash-partitioned window; MinHash near-dup turns the pairwise similarity
  * join into an equi-join on LSH band keys (see
  * [[graft.operators.MinHashLSH]] for the codegen-flat formulation);
  * SimHash near-dup equi-joins on 8-bit bands (pigeonhole: any pair within
  * Hamming distance 3 of a 32-bit signature shares one of 4 bands, so
  * recall at the threshold is exact); embedding near-dup blocks on banded
  * signed-random-projection signatures, which bound block sizes by
  * construction (a hot data value cannot create an O(m²) block).
  * Everything is shuffle → per-bucket local work: no broadcast of the
  * corpus, no driver collect.
  */
object DedupQueries extends QueryPack {

  /** Upper doc_id bound of d11's sketch-recall eval slice. The TRUTH
    * side of the audit is an exact all-pairs Jaccard — QUADRATIC in the
    * slice size — so it must stay a bounded audit slice: lifting it to
    * the corpus turns the recall check into a corpus crossJoin. Only the
    * truth side needs the bound; the candidate side is the production
    * banding path and scales. */
  val SketchRecallEvalMaxDocId: Int = 300

  /** Duplicate CLUSTERS (shared by d08 and d15): transitive closure of
    * exact-dup + SimHash near-dup pairs via min-label propagation —
    * every doc labelled with its cluster's minimum id, singletons
    * labelling themselves. Columns: (doc_id, cluster_id).
    *
    * SimHash runs over canonical REPRESENTATIVES only (the
    * DedupPipeline.summary collapse): connectivity is unchanged — copies
    * reach their canonical through the exact star edges, and identical
    * text means identical signatures, so rep-vs-rep pairs span exactly
    * the components the full-corpus pairs would. The oracle computes the
    * full-corpus closure and must keep matching. */
  /** DuckDB replay of [[clusterAssignments]] — transitive closure
    * (recursive reachability + min label) over the documents admitted
    * by `where`, CTE names namespaced by `p`, ending in
    * `${p}asg(doc_id, cluster_id)`. The default full-corpus instance is
    * [[DuckClusterCtes]]; d25 composes a prior-slice instance WITH the
    * full one to replay a churn audit. */
  private def duckClusterBody(p: String, where: String): String =
    SimHash.duckSignatureCtes(p, where) + s""",
      |${p}bands AS (SELECT doc_id, simhash, b.range AS band, (simhash >> (8 * b.range)) & 255 AS key
      |  FROM ${p}sigs, range(0, 4) b),
      |${p}near AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM ${p}bands a JOIN ${p}bands b ON a.band = b.band AND a.key = b.key
      |    AND a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3),
      |${p}exact AS (SELECT canonical_id AS a_id, doc_id AS b_id FROM (
      |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id FROM documents $where)
      |  WHERE doc_id <> canonical_id),
      |${p}pairs AS (SELECT a_id, b_id FROM ${p}exact UNION SELECT a_id, b_id FROM ${p}near),
      |${p}e AS (SELECT a_id AS s, b_id AS d FROM ${p}pairs UNION SELECT b_id AS s, a_id AS d FROM ${p}pairs),
      |${p}reach AS (SELECT s AS id, d AS r FROM ${p}e
      |  UNION SELECT ${p}reach.id, ${p}e.d FROM ${p}reach JOIN ${p}e ON ${p}reach.r = ${p}e.s),
      |${p}lab AS (SELECT id, min(r) AS m FROM ${p}reach GROUP BY id),
      |${p}asg AS (SELECT d.doc_id,
      |  least(d.doc_id, coalesce(${p}lab.m, d.doc_id)) AS cluster_id
      |  FROM documents d LEFT JOIN ${p}lab ON ${p}lab.id = d.doc_id $where)""".stripMargin

  /** The full-corpus closure instance, ending in `asg` — shared by the
    * d08/d15/d16/d17/d19/d22/d24 oracles. */
  private lazy val DuckClusterCtes: String =
    "WITH RECURSIVE " + duckClusterBody("", "")

  /** d15/d17's split assignment: whole cluster → one of train/val/test
    * by hash of the cluster label (80/10/10). */
  private def splitAssignments(s: SparkSession, d: String): DataFrame = {
    val b = pmod(CrossHash.hash60(
      concat(lit("split#"), col("cluster_id"))), lit(10))
    clusterAssignments(s, d)
      .select(col("doc_id"), col("cluster_id"),
        when(b < 8, "train").when(b === 8, "val").otherwise("test")
          .as("split"))
  }

  private def clusterAssignments(s: SparkSession, d: String): DataFrame =
    clusterAssignmentsOf(Tables.documents(s, d))

  // the kernel lives in the operator ([[DupClusters.clusterDocs]]) so
  // the streaming label-maintenance sink shares it with these oracles
  private def clusterAssignmentsOf(docs: DataFrame): DataFrame =
    DupClusters.clusterDocs(docs)

  /** doc_id boundary of d14's incremental-dedup replay: documents below
    * it stand in for the already-admitted history (their band
    * fingerprints are the store), documents at/above it are the new
    * batch. Purely a fixture split — BOTH sides stay banded equi-joins,
    * so unlike [[SketchRecallEvalMaxDocId]] nothing here is quadratic
    * and the boundary is not a scale guard. */
  val IncrementalDedupPriorMaxDocId: Int = 300

  // d05 banded-SRP blocking: 8 hyperplanes → 2 bands × 4 bits. At corpus
  // scale raise planes/bandBits (smaller blocks) and bands (recall) —
  // d20 below IS that production form, measured.
  private val SrpDim      = 64
  private val D05Planes   = 8
  private val D05Bands    = 2
  private val D05BandBits = 4

  // d20 density-scaled banding: band key width grows with corpus size so
  // per-bucket density stays ~TargetBucket (bits = min b with 2^b·target
  // ≥ n — integer-exact, no floating log2 whose rounding could diverge
  // between engines). Eight fixed bands each own a disjoint
  // SlotBits-wide plane slice of a 120-plane signature carried as TWO
  // Longs (the widen-past-63-planes path [[graft.plans.SrpSignExpr]]'s
  // planeOffset exists for); Hamming-1 multi-probe (Lv et al. 2007,
  // "Multi-Probe LSH") recovers the recall the narrower buckets cost —
  // d21 MEASURES it ≥ the fixed configuration's at every scale.
  // Candidate space ≈ n·bands·(bits+1)·TargetBucket — linear in n with
  // a log factor — where d05's fixed 4-bit keys grow ∝ n²/2⁴ (the
  // measured 22.8× cliff at 10× data). Past n ≈ 32·2¹⁵ ≈ 10⁶ the
  // MaxBits cap binds; append more signature Longs — the shape is
  // unchanged.
  private[queries] val D20SlotBits = 15
  private[queries] val D20Bands = 8
  private[queries] val D20BandsPerSig = 4
  private[queries] val D20SigPlanes = D20BandsPerSig * D20SlotBits
  private[queries] val D20TargetBucket = 32
  private[queries] val D20MinBits = 4
  private[queries] val D20MaxBits = D20SlotBits

  private[queries] def d20Bits(n: Long): Int =
    (D20MinBits to D20MaxBits)
      .find(b => (1L << b) * D20TargetBucket >= n)
      .getOrElse(D20MaxBits)

  /** Deduped candidate pairs (a_id < b_id) of the density-scaled
    * multi-probe banding over `e` at `bits`-wide band keys. ID-only rows
    * throughout — embeddings never ride the band shuffle. */
  private def d20Candidates(e: DataFrame, bits: Int): DataFrame = {
    val mask = (1L << bits) - 1
    // parallelism guard: the corpus often arrives as ONE small parquet
    // split (a 6 MB file is one partition), and the candidate join fans
    // each input row out ~bands·(bits+1)·bucket — serializing 20M+
    // joined rows on one core (measured 10.5 s single-core at sf1).
    // The shuffle moved here is n rows of (id, two longs) — trivial —
    // and everything downstream inherits the width. At corpus scale the
    // scan has thousands of splits and this is a no-op-sized exchange.
    val sigs = e.repartition(col("vec_id")).select(col("vec_id"),
      VectorFunctions.srpSignatureAt(col("embedding"), SrpDim,
        D20SigPlanes, 0).as("sig0"),
      VectorFunctions.srpSignatureAt(col("embedding"), SrpDim,
        D20SigPlanes, D20SigPlanes).as("sig1"))
    def key(b: Int) = {
      val sig = if (b < D20BandsPerSig) col("sig0") else col("sig1")
      shiftright(sig, (b % D20BandsPerSig) * D20SlotBits)
        .bitwiseAND(lit(mask))
    }
    val exact = sigs.select(col("vec_id"),
      explode(array((0 until D20Bands).map { b =>
        struct(lit(b).as("band"), key(b).as("key"))
      }: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"),
        col("bk.key").as("key"))
    // multi-probe: each vector probes its own bucket (i = -1) plus the
    // `bits` buckets one key-bit away — pair (u,v) with hamming(ku,kv)
    // ≤ 1 is caught because u's probe set contains kv (or vice versa)
    val probes = sigs.select(col("vec_id"),
      explode(array((0 until D20Bands).flatMap { b =>
        (-1 until bits).map { i =>
          val flip = if (i < 0) 0L else 1L << i
          struct(lit(b).as("band"),
            key(b).bitwiseXOR(lit(flip)).as("pkey"))
        }
      }: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"),
        col("bk.pkey").as("pkey"))
    probes.as("a")
      .join(exact.as("b"),
        col("a.band") === col("b.band") && col("a.pkey") === col("b.key")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
  }

  /** d20's banding at an EXPLICIT (bits, probe radius) — the knob-curve
    * generator d23 measures: radius 1 is d20's production Hamming-1
    * multi-probe exactly; radius 2 adds the 2-bit-flip probes
    * (bits·(bits−1)/2 per band — the recall buy-back lever when the
    * [[D20MaxBits]] cap binds and bucket density grows past target).
    * Probe masks come from a broadcast flip table instead of d20's
    * inline literal array: at radius 2 × 15 bits that is 121 masks ×
    * 8 bands — a literal explode would be a ~1000-element expression
    * tree, while the crossJoin against ≤121 broadcast rows is the same
    * map-side fan-out with O(bits²) plan size. Pair semantics are
    * identical to [[d20Candidates]] at radius 1 (a pair is caught iff
    * some band key is within `radius` bit flips). */
  /** The banded-key table of one `bits` configuration — shared via one
    * lazy checkpoint by BOTH probe radii of that configuration (exchange
    * reuse across d23Curve's config grid: the signature pipeline +
    * band explode evaluates once per distinct bits value, not once per
    * (bits, radius) pair — it depends only on bits). */
  private def d23Exact(e: DataFrame, bits: Int): DataFrame = {
    val mask = (1L << bits) - 1
    val sigs = e.repartition(col("vec_id")).select(col("vec_id"),
      VectorFunctions.srpSignatureAt(col("embedding"), SrpDim,
        D20SigPlanes, 0).as("sig0"),
      VectorFunctions.srpSignatureAt(col("embedding"), SrpDim,
        D20SigPlanes, D20SigPlanes).as("sig1"))
    def key(b: Int) = {
      val sig = if (b < D20BandsPerSig) col("sig0") else col("sig1")
      shiftright(sig, (b % D20BandsPerSig) * D20SlotBits)
        .bitwiseAND(lit(mask))
    }
    sigs.select(col("vec_id"),
      explode(array((0 until D20Bands).map { b =>
        struct(lit(b).as("band"), key(b).as("key"))
      }: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"),
        col("bk.key").as("key"))
      .localCheckpoint(eager = false) // probe side AND exact side below
  }

  private def d23Candidates(exact: DataFrame, bits: Int,
      radius: Int): DataFrame = {
    val sp = exact.sparkSession
    import sp.implicits._
    val flips = (Seq(0L) ++ (0 until bits).map(i => 1L << i) ++
      (if (radius >= 2)
        (for { i <- 0 until bits; j <- (i + 1) until bits }
          yield (1L << i) | (1L << j)).toSeq
      else Seq.empty[Long])).toDF("mask")
    val probes = exact.crossJoin(broadcast(flips))
      .select(col("vec_id"), col("band"),
        col("key").bitwiseXOR(col("mask")).as("pkey"))
    probes.as("a").join(exact.as("b"),
      col("a.band") === col("b.band") && col("a.pkey") === col("b.key")
        && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
  }

  /** The d23 knob curve, unordered: recall AND candidate cost per
    * (bits delta, probe radius) ∈ {−1,0,+1} × {1,2} on the bounded d21
    * eval slice, one brute-force truth pass (bounded — the d21 guard)
    * feeding all six configs. Factored so d26 can turn the measured
    * curve into a config choice without re-deriving it. */
  private def d23Curve(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val base = d20Bits(e.count())
    val slice = e.filter(col("vec_id") < D21EvalMaxVecId)
    val truth = slice.as("a").crossJoin(slice.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        round(VectorFunctions.cosine(col("a.embedding"),
          col("b.embedding")), 6).as("sim"))
      .filter(col("sim") >= 0.35)
      .localCheckpoint(eager = false) // consumed by all six configs
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    // one banded-key table per DISTINCT bits value, shared by both probe
    // radii (and by colliding clamped deltas) — 3 signature pipelines
    // instead of 6 for the same six curve rows
    val exactByBits = Seq(-1, 0, 1)
      .map(delta => math.max(1, math.min(base + delta, D20MaxBits)))
      .distinct.map(b => b -> d23Exact(slice, b)).toMap
    val rows = for {
      delta <- Seq(-1, 0, 1); radius <- Seq(1, 2)
    } yield {
      val bits = math.max(1, math.min(base + delta, D20MaxBits))
      val cand = d23Candidates(exactByBits(bits), bits, radius)
        .dropDuplicates("a_id", "b_id")
        .localCheckpoint(eager = false) // cost count + semi-join below
      val caught = truth.join(cand, Seq("a_id", "b_id"), "left_semi")
      nTruth
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(caught.agg(count(lit(1)).as("n_caught")))
        .select(lit(delta).as("bits_delta"), lit(radius).as("radius"),
          lit(bits).as("bits"), col("n_truth"), col("n_cand"),
          col("n_caught"),
          expr("cast(case when n_truth = 0 then 0 else " +
            "n_caught * 1000 div n_truth end as bigint)")
            .as("recall_permille"))
    }
    rows.reduce(_ unionByName _)
  }

  /** d05's fixed-width banded candidates over `e` — factored so d21 can
    * audit the fixed configuration against the scaled one on the same
    * slice. Expression-identical to d05's own candidate stage. */
  private def d05Candidates(e: DataFrame): DataFrame = {
    // same single-split parallelism guard as d20Candidates
    val banded = e.repartition(col("vec_id"))
      .select(col("vec_id"),
        VectorFunctions.srpSignature(col("embedding"), SrpDim, D05Planes)
          .as("sig"))
      .select(col("vec_id"),
        explode(array((0 until D05Bands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * D05BandBits)
              .bitwiseAND(lit((1 << D05BandBits) - 1)).as("key"))
        }: _*)).as("bk"))
      .select(col("vec_id"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    banded.as("a").join(banded.as("b"), Seq("band", "key"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
  }

  /** d21 recall-audit slice bound (vec_id < this): the truth side
    * brute-forces slice² cosine pairs, so the slice stays a bounded
    * audit set — the d11/[[SketchRecallEvalMaxDocId]] discipline.
    * Candidate generation uses the production banding paths unchanged
    * (recall depends on bits/bands/probe radius, not on bucket density,
    * so a slice measurement estimates the corpus recall unbiasedly). */
  val D21EvalMaxVecId: Int = 512

  /** Shared cosine-verify stage of d05/d20. Candidates arrive
    * NON-distinct (a pair can match several bands/probes) and the
    * verify runs BEFORE the pair dedup, deliberately: the embedding
    * table is tiny next to the candidate stream, so the optimizer makes
    * the lookups broadcast-hash joins (no hint — past the broadcast
    * threshold a shuffle join costs what the dedup shuffle would have,
    * the right trade either way) and the multi-million-row candidate
    * stream flows MAP-SIDE through the cosine filter; only the
    * ~100×-smaller verified survivors pay a shuffle for
    * dropDuplicates. Deduping first instead shuffles the whole
    * candidate space to save ~6% duplicate cosine evaluations —
    * measured 31.7 s vs 9 s at sf1: the wrong trade. Results are
    * identical: sim is a pure function of the pair. */
  private def verifiedPairs(e: DataFrame, cand: DataFrame): DataFrame =
    cand
      .join(e.select(col("vec_id").as("a_id"),
        col("embedding").as("ea")), "a_id")
      .join(e.select(col("vec_id").as("b_id"),
        col("embedding").as("eb")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(VectorFunctions.cosine(col("ea"), col("eb")), 6).as("sim"))
      .filter(col("sim") >= 0.35)
      .dropDuplicates("a_id", "b_id")
      .orderBy("a_id", "b_id")

  override val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: canonical = min doc_id per content hash. Hash-partitioned
    // window, no join; at scale this is one shuffle on md5(text).
    "d01_exact_dedup" -> ((s, d) => {
      val w = Window.partitionBy("h")
      Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .select(col("doc_id"), col("canonical_id"),
          (col("doc_id") =!= col("canonical_id")).as("is_dup"))
        .orderBy("doc_id")
    }),

    // MinHash + LSH near-dup: 12-hash signature, 4 bands × 3 rows;
    // candidates from the band equi-join, exact 3-gram Jaccard ≥ 0.2.
    "d02_minhash_lsh" -> ((s, d) => {
      MinHashLSH.nearDuplicates(Tables.documents(s, d))
        .orderBy("a_id", "b_id")
    }),

    // SimHash signatures (32-bit majority-vote over token hashes).
    "d03_simhash" -> ((s, d) => {
      SimHash.signatures(Tables.documents(s, d)).orderBy("doc_id")
    }),

    // SimHash near-dup pairs: band equi-join + exact Hamming ≤ 3.
    "d04_simhash_pairs" -> ((s, d) => {
      SimHash.nearPairs(Tables.documents(s, d)).orderBy("a_id", "b_id")
    }),

    // EXACT n-gram Jaccard near-dup: inverted shingle index (df-capped)
    // for candidates, exact Jaccard verify — the sketch-free reference
    // point for d02's MinHash approximation of the same measure.
    "d07_ngram_jaccard" -> ((s, d) => {
      NgramJaccard.nearDuplicates(Tables.documents(s, d))
        .orderBy("a_id", "b_id")
    }),

    // Duplicate CLUSTERS: transitive closure of exact-dup + SimHash
    // near-dup pairs via min-label propagation — every doc labelled with
    // its cluster's minimum id, singletons labelling themselves; the
    // keep-one-per-cluster artifact pairwise queries can't express.
    "d08_dup_clusters" -> ((s, d) =>
      clusterAssignments(s, d)
        .select(col("doc_id"), col("cluster_id"),
          (col("doc_id") === col("cluster_id")).as("is_canonical"))
        .orderBy("doc_id")),

    // Leakage-free train/val/test split: the WHOLE duplicate cluster
    // lands in one split, so no near-duplicate of a test document can
    // sit in train — the contamination guarantee a per-doc hash split
    // (t28) cannot give once the corpus has near-dups. The split is a
    // pure function of d08's cluster label (hash of the canonical id →
    // 80/10/10), so it adds zero shuffles beyond the clustering itself.
    "d15_cluster_split" -> ((s, d) =>
      splitAssignments(s, d).orderBy("doc_id")),

    // Cross-split contamination AUDIT — the check d15's guarantee does
    // NOT cover: d15 keeps d08's clusters (exact + SimHash edges)
    // split-pure by construction, but an INDEPENDENT detector can still
    // find near-dup pairs that straddle splits (here d07's n-gram
    // Jaccard, whose shingle evidence sees pairs SimHash banding
    // misses). The audit counts straddling pairs — the residual
    // train↔test leakage a benchmark-decontamination report quotes.
    // Cost: the two existing pipelines + two equi-joins on pair
    // endpoints; one summary row out.
    "d17_split_leakage" -> ((s, d) => {
      val pairs = NgramJaccard.nearDuplicates(Tables.documents(s, d))
        .select("a_id", "b_id")
      val splits = splitAssignments(s, d).select("doc_id", "split")
      pairs
        .join(splits.select(col("doc_id").as("a_id"),
          col("split").as("split_a")), "a_id")
        .join(splits.select(col("doc_id").as("b_id"),
          col("split").as("split_b")), "b_id")
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
            .as("n_leaks"))
        .withColumn("leak_permille", expr(
          "cast(case when n_pairs = 0 then 0 " +
            "else n_leaks * 1000 div n_pairs end as bigint)"))
        .orderBy("n_pairs")
    }),

    // d17's PRODUCTION form (the d22 derivation applied to the one
    // label consumer d22 left out): the split side comes from the
    // STORED label table — cluster once, publish, hash the stored
    // cluster_id into the 80/10/10 split — so the audit pays only the
    // independent n-gram detector (its actual job) plus two equi-joins,
    // never a second full clustering. At sf1 that is the difference
    // between ~d07's cost and d17's clustering-dominated 48 s. The
    // oracle replays closure + split hash + jaccard from raw parquet
    // (d17's verbatim), so a stale or torn stored label is a hash
    // mismatch.
    "d29_stored_leakage" -> ((s, d) => {
      val root = Tables.freshRoot("d29-labels")
      graft.operators.DupClusters
        .writeLabels(clusterAssignments(s, d), root)
      val b = pmod(CrossHash.hash60(
        concat(lit("split#"), col("cluster_id"))), lit(10))
      val splits = graft.operators.DupClusters.readLabels(s, root)
        .withColumn("split",
          when(b < 8, "train").when(b === 8, "val").otherwise("test"))
        .select("doc_id", "split")
      val pairs = NgramJaccard.nearDuplicates(Tables.documents(s, d))
        .select("a_id", "b_id")
      pairs
        .join(splits.select(col("doc_id").as("a_id"),
          col("split").as("split_a")), "a_id")
        .join(splits.select(col("doc_id").as("b_id"),
          col("split").as("split_b")), "b_id")
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
            .as("n_leaks"))
        .withColumn("leak_permille", expr(
          "cast(case when n_pairs = 0 then 0 " +
            "else n_leaks * 1000 div n_pairs end as bigint)"))
        .orderBy("n_pairs")
    }),

    // Threshold-selection curve: documents dropped at candidate Jaccard
    // cut-offs, all from ONE run of the d07 pair pipeline (the pairs are
    // computed once at a low floor; each threshold is a conditional
    // count over the same pair list — never a re-shingle per setting).
    // The operational read on this corpus: below 50‰ real non-duplicates
    // start dropping (206 at 20‰), while the true duplicate set (24) is
    // flat from 100‰ up — so any cut in [100, 900] is safe, which is
    // the number a dedup config review wants. "Dropped" = the
    // smaller-loses rule (b_id of an a<b pair), d01/d02's convention.
    "d18_threshold_curve" -> ((s, d) => {
      import s.implicits._
      val pairs = graft.operators.NgramJaccard
        .nearDuplicates(Tables.documents(s, d), threshold = 0.02)
        .select(col("b_id"), (col("jacc") * 1000).as("jp"))
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val th = Seq(20, 50, 100, 500, 900).toDF("t_permille")
      pairs.crossJoin(broadcast(th))
        .groupBy("t_permille")
        .agg(countDistinct(when(col("jp") >= col("t_permille"),
          col("b_id"))).as("n_dropped"))
        .crossJoin(broadcast(nDocs))
        .select(col("t_permille"),
          col("n_dropped").cast("bigint").as("n_dropped"),
          (col("n_docs") - col("n_dropped")).cast("bigint").as("n_kept"))
        .orderBy("t_permille")
    }),

    // Dedup impact accounting per source — the governance rollup a data
    // release quotes next to d18's threshold curve: for every source,
    // how many documents AND how much token mass would the d08
    // cluster-canonical cut delete. Cost = the existing clustering + one
    // token-count scan joined on doc_id + a |sources|-row rollup; the
    // permille share is exact integer division.
    "d19_dedup_loss_by_source" -> ((s, d) => {
      val toks = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("tokens"))
      toks.join(clusterAssignments(s, d), "doc_id")
        .withColumn("dropped", col("doc_id") =!= col("cluster_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
          sum(col("tokens")).as("tokens_total"),
          sum(when(col("dropped"), col("tokens")).otherwise(0L))
            .as("tokens_dropped"))
        .select(col("source"), col("n_docs"), col("n_dropped"),
          col("tokens_total"), col("tokens_dropped"),
          expr("(tokens_dropped * 1000) div tokens_total")
            .cast("bigint").as("drop_permille"))
        .orderBy("source")
    }),

    // The capstone pretraining-data cut: DEDUP then SELECT — cluster
    // representatives only (d08's canonical per duplicate cluster, so a
    // 100k-copy boilerplate page spends its tokens once), quality-ranked,
    // kept until the token budget is spent (t31's distributed prefix
    // sum). Composing the stages costs one semi-join between them; the
    // clustering and the scoring each scan the corpus once.
    "d16_dedup_budget" -> ((s, d) => {
      val canon = clusterAssignments(s, d)
        .filter(col("doc_id") === col("cluster_id"))
        .select("doc_id")
      val scored = TextAnalysis.scoredDocs(s, d)
        .join(canon, Seq("doc_id"), "left_semi")
      graft.operators.PrefixSum
        .withRunningTotal(scored, col("tokens"),
          Seq(col("quality").desc, col("doc_id")), "cum_tokens")
        .filter(col("cum_tokens") <= TextAnalysis.TokenBudget)
        .orderBy(col("quality").desc, col("doc_id"))
    }),

    // Composed cleaning verdict: all sketch signals per document.
    "d06_dedup_summary" -> ((s, d) => {
      graft.operators.DedupPipeline.summary(Tables.documents(s, d))
        .orderBy("doc_id")
    }),

    // Embedding-cosine near-dup: banded-SRP-blocked self-join, cosine
    // ≥ 0.35 verify. Blocking on signed-random-projection bands (not a
    // data column like `label`) bounds block sizes by construction:
    // each band key is `bandBits` projection signs, so blocks shrink
    // geometrically as bandBits grows — no hot data value can produce an
    // O(m²) block the way a hot label can. Candidates stay an equi-join
    // on (band, key) over ID-ONLY rows: a pair sharing several bands is
    // deduped on (a_id, b_id) BEFORE the 64-float embeddings join back
    // for the cosine verify (mirroring the oracle's `cand` CTE) — the
    // band shuffle and the dedup shuffle never carry arrays. At 100 TB:
    // raise planes/bandBits (more, smaller blocks) and bands (recall);
    // the shape is unchanged.
    "d05_embedding_near_dup" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      verifiedPairs(e, d05Candidates(e))
    }),

    // PRODUCTION form of d05 — the density-scaled banding that replaces
    // d05's measured n²/2⁴ cliff (22.8× wall at 10× data) with a
    // ~linear candidate space: band-key width grows with log₂(corpus),
    // Hamming-1 multi-probe holds recall (d21 measures it ≥ the fixed
    // configuration's at every scale). The ONE driver-side action is a
    // count() to pick the key width — a metadata-cheap scan, not a
    // collect loop.
    "d20_scaled_near_dup" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      verifiedPairs(e, d20Candidates(e, d20Bits(e.count())))
    }),

    // Recall-parity audit for d20 (the s04/d13 discipline): on a bounded
    // eval slice, TRUE pairs (exact brute-force cosine ≥ 0.35, d05's own
    // verify threshold) vs what each banding admits as candidates — the
    // scaled config must catch at least the fixed config's fraction, or
    // the scale win is a recall loss in disguise. One summary row;
    // integer permille so the comparison hashes exactly.
    "d21_scaled_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val bits = d20Bits(e.count())
      val slice = e.filter(col("vec_id") < D21EvalMaxVecId)
      val truth = slice.as("a").crossJoin(slice.as("b"))
        .filter(col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
          round(VectorFunctions.cosine(col("a.embedding"),
            col("b.embedding")), 6).as("sim"))
        .filter(col("sim") >= 0.35)
        // evaluated three times below (count + two semi-joins) — pin it
        .localCheckpoint(eager = false)
      val caughtScaled =
        truth.join(d20Candidates(slice, bits), Seq("a_id", "b_id"),
          "left_semi")
      val caughtFixed =
        truth.join(d05Candidates(slice), Seq("a_id", "b_id"), "left_semi")
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(caughtScaled.agg(count(lit(1)).as("n_caught_scaled")))
        .crossJoin(caughtFixed.agg(count(lit(1)).as("n_caught_fixed")))
        .select(lit(bits).as("bits"), col("n_truth"),
          col("n_caught_scaled"), col("n_caught_fixed"),
          expr("cast(case when n_truth = 0 then 0 else " +
            "n_caught_scaled * 1000 div n_truth end as bigint)")
            .as("recall_scaled_permille"),
          expr("cast(case when n_truth = 0 then 0 else " +
            "n_caught_fixed * 1000 div n_truth end as bigint)")
            .as("recall_fixed_permille"))
    }),

    // d20 KNOB CURVE (the s18 discipline applied to the scaled banding):
    // recall AND candidate cost per (bits delta, probe radius) ∈
    // {−1,0,+1} × {1,2} on the bounded d21 eval slice — the measured
    // buy-back path for the scaled config's recall at scale (sf1's
    // operating point is 416‰ at radius 1; the curve shows what a bit
    // of key width or a probe radius buys and what it costs in
    // candidates). (0, 1) is d20's production operating point; at the
    // [[D20MaxBits]] cap the +1 row collapses onto it — visible in the
    // curve rather than hidden. One brute-force truth pass (bounded
    // slice, the d21 guard) feeds all six configs.
    "d23_knob_curve" -> ((s, d) =>
      d23Curve(s, d).orderBy("bits_delta", "radius")),

    // KNOB AUTO-TUNER — the d23 curve turned into the operator decision
    // it exists for: given a recall floor, which (bits delta, probe
    // radius) config meets it at the fewest candidates (candidates ARE
    // the cost — every one is a verify-join row)? One row per target:
    // the cheapest qualifying config, or — when nothing on the curve
    // reaches the floor — the max-recall config, flagged `met = 0`
    // instead of silently under-delivering. Deterministic by integer
    // sort keys alone (met DESC, then cost ASC among qualifiers /
    // recall DESC among non-qualifiers, then n_cand, bits_delta,
    // radius), so the pick hashes exactly at every scale. Cost: the
    // one d23 curve (six configs, one truth pass) + an 18-row
    // broadcast crossJoin + a row_number — the tuner itself is free.
    "d26_knob_choice" -> ((s, d) => {
      import s.implicits._
      val curve = d23Curve(s, d)
      val targets = Seq(500L, 700L, 900L).toDF("target_permille")
      val met = col("recall_permille") >= col("target_permille")
      val w = Window.partitionBy("target_permille")
        .orderBy(met.desc,
          when(met, col("n_cand")).otherwise(-col("recall_permille")).asc,
          col("n_cand").asc, col("bits_delta").asc, col("radius").asc)
      curve.crossJoin(broadcast(targets))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("target_permille"),
          when(met, 1L).otherwise(0L).as("met"),
          col("bits_delta"), col("radius"), col("bits"),
          col("n_cand"), col("recall_permille"))
        .orderBy("target_permille")
    }),

    // PERSISTED cluster labels, consumed once (round-13 verdict item 1):
    // cluster ONCE, publish the labels through SnapshotStore
    // (DupClusters.writeLabels — the IVF-centroid persistence
    // discipline), then derive the three release artifacts the label
    // consumers d15/d16/d19 each recomputed the full clustering for —
    // leakage-free split, token-budget cut, per-source loss — from the
    // STORED table in ONE plan: per (source, split) the doc/token loss
    // of the canonical cut plus how much of the budget-kept set lands
    // there. At 100 TB this is the difference between one
    // connected-components run and four. The oracle replays the closure
    // + scoring + split hash + budget window against raw parquet, so a
    // label lost (or changed) in the store round-trip is a hash
    // mismatch, not a silent skew.
    "d22_stored_labels" -> ((s, d) => {
      val root = Tables.freshRoot("d22-labels")
      graft.operators.DupClusters
        .writeLabels(clusterAssignments(s, d), root)
      val labels = graft.operators.DupClusters.readLabels(s, root)
      val b = pmod(CrossHash.hash60(
        concat(lit("split#"), col("cluster_id"))), lit(10))
      val base = labels
        .withColumn("split",
          when(b < 8, "train").when(b === 8, "val").otherwise("test"))
        .withColumn("dropped", col("doc_id") =!= col("cluster_id"))
        .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
        .join(TextAnalysis.scoredDocs(s, d), "doc_id")
      // d16's budget cut over the stored canonicals: global prefix sum
      // by quality, kept while under budget — two shuffles total
      val kept = graft.operators.PrefixSum
        .withRunningTotal(
          base.filter(!col("dropped"))
            .select("doc_id", "tokens", "quality"),
          col("tokens"), Seq(col("quality").desc, col("doc_id")),
          "cum_tokens")
        .filter(col("cum_tokens") <= TextAnalysis.TokenBudget)
        .select(col("doc_id"), lit(true).as("in_budget"))
      base.join(kept, Seq("doc_id"), "left")
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
          sum(col("tokens")).as("tokens_total"),
          sum(when(col("dropped"), col("tokens")).otherwise(0L))
            .as("tokens_dropped"),
          sum(when(col("in_budget"), 1L).otherwise(0L))
            .as("n_budget_kept"),
          sum(when(col("in_budget"), col("tokens")).otherwise(0L))
            .as("tokens_budget_kept"))
        .orderBy("source", "split")
    }),

    // INCREMENTAL cluster maintenance (the d08→d22 family's missing
    // write path): the prior corpus' labels live in the persisted store
    // (d22's writeLabels) alongside a rep FINGERPRINT table (md5 per
    // distinct hash + SimHash signature per canonical); an arriving
    // batch computes signatures for its NEW-hash canonicals only,
    // probes the fingerprints (band equi-joins — never a corpus
    // self-join), and DupClusters.mergeLabels folds the evidence into
    // the label table over the REDUCED graph {prior cluster labels} ∪
    // {batch ids} — O(batch + clusters), not O(corpus). The updated
    // table publishes as v2 (v1 = the pre-batch labels, time-travelable
    // for release audits). The oracle is the FROM-SCRATCH full-corpus
    // closure: incremental ≡ re-cluster, bit-exactly — including
    // batch documents that BRIDGE two prior clusters.
    "d24_incremental_clusters" -> ((s, d) => {
      val root = Tables.freshRoot("d24-labels")
      val docs = Tables.documents(s, d)
      // 5%-of-corpus batch AT EVERY SCALE (an absolute id boundary
      // would make the "batch" the bulk of a larger corpus): the
      // arriving slice is doc_id % 20 == 7, the prior corpus the rest.
      // Batch ids interleave prior ids — the min-label invariant does
      // not care (assign takes the min over the REDUCED graph's
      // vertices), and identical text gives identical signatures, so
      // probing the stored rep's fingerprint instead of the
      // full-corpus canonical's reaches the same components.
      val arrived = col("doc_id") % 20 === 7
      val prior = docs.filter(!arrived)
      val batch = docs.filter(arrived)
      // persisted state a production pipeline carries between batches:
      // v1 labels + the rep fingerprint table. The prints compute FIRST
      // and the labels derive from them (clusterDocsFromPrints ≡
      // clusterDocs, spec-pinned) — one signature pipeline over the
      // prior corpus instead of two
      val prints = graft.operators.DupClusters.repPrints(prior)
        .localCheckpoint(eager = false) // labels + both batch probes
      graft.operators.DupClusters.writeLabels(
        graft.operators.DupClusters.clusterDocsFromPrints(prior, prints),
        root)
      // --- the batch arrives: probe the fingerprints, fold the
      // evidence into the stored labels (the shared operator kernel —
      // exact hits to stored reps, new-hash canonicals paired among
      // themselves and against the store, signatures for new-hash
      // canonicals ONLY) ---
      val (edges, _) =
        graft.operators.DupClusters.batchEvidence(batch, prints)
      val updated = graft.operators.DupClusters.mergeLabels(
        graft.operators.DupClusters.readLabels(s, root),
        batch.select(col("doc_id").as("id")), edges)
      graft.operators.DupClusters.writeLabels(updated, root)
      graft.operators.DupClusters.readLabels(s, root)
        .select(col("doc_id"), col("cluster_id"),
          (col("doc_id") % 20 === 7).as("arrived"),
          (col("doc_id") === col("cluster_id")).as("is_canonical"))
        .orderBy("doc_id")
    }),

    // Cluster CHURN audit from TIME TRAVEL (the governance readout of
    // d24's increment): what did this batch's dedup evidence DO —
    // relabeled prior docs, absorbed prior clusters, new docs, cluster
    // counts before/after — computed entirely from TWO VERSIONS of the
    // persisted label store (v1 = pre-batch, v2 = post-merge), the
    // report a data-release review quotes next to d19's loss rollup.
    // The oracle replays both closures from raw parquet (prior-slice +
    // full corpus), so a store version serving stale or torn labels is
    // a hash mismatch. One summary row; label-table scans + 1-row
    // aggregate crossJoins only.
    "d25_cluster_churn" -> ((s, d) => {
      val root = Tables.freshRoot("d25-labels")
      val docs = Tables.documents(s, d)
      val arrived = col("doc_id") % 20 === 7
      val prior = docs.filter(!arrived)
      val batch = docs.filter(arrived)
      // prints first, labels derived from them (one signature pipeline
      // over the prior corpus — the d24 discipline)
      val prints = graft.operators.DupClusters.repPrints(prior)
        .localCheckpoint(eager = false)
      graft.operators.DupClusters.writeLabels(
        graft.operators.DupClusters.clusterDocsFromPrints(prior, prints),
        root)
      val (edges, _) =
        graft.operators.DupClusters.batchEvidence(batch, prints)
      graft.operators.DupClusters.writeLabels(
        graft.operators.DupClusters.mergeLabels(
          graft.operators.DupClusters.readLabels(s, root),
          batch.select(col("doc_id").as("id")), edges), root)
      val before = graft.operators.DupClusters.readLabels(s, root,
        version = 1L).localCheckpoint(eager = false) // 3 consumers
      val after = graft.operators.DupClusters.readLabels(s, root)
        .localCheckpoint(eager = false) // 3 consumers
      val relabeled = before
        .select(col("doc_id"), col("cluster_id").as("old"))
        .join(after, "doc_id")
        .filter(col("old") =!= col("cluster_id"))
      val absorbed = before.select("cluster_id").distinct()
        .join(after.select("cluster_id").distinct(), Seq("cluster_id"),
          "left_anti")
      before
        .agg(count(lit(1)).as("n_docs_prior"),
          countDistinct(col("cluster_id")).as("n_clusters_prior"))
        .crossJoin(after.agg(count(lit(1)).as("n_docs_after"),
          countDistinct(col("cluster_id")).as("n_clusters_after")))
        .crossJoin(relabeled.agg(count(lit(1)).as("n_relabeled")))
        .crossJoin(absorbed.agg(count(lit(1)).as("n_clusters_absorbed")))
    }),

    // Exact-substring (span-level) dedup at 10-token block granularity:
    // per-document duplicated-content profile. The block-hash df shuffle
    // and the join back are the only wide stages — no self-join.
    "d09_substring_dedup" -> ((s, d) => {
      graft.operators.SubstringDedup.profile(Tables.documents(s, d))
        .orderBy("doc_id")
    }),

    // Sketch-recall evaluation — the dedup analog of s04's ANN recall:
    // what fraction of TRUE near-dup pairs (exact 3-gram Jaccard ≥ 0.2,
    // d02's own verify definition) does the 4×3 MinHash banding catch as
    // candidates? Truth is exact brute-force all-pairs over the bounded
    // [[DedupQueries.SketchRecallEvalMaxDocId]] eval slice (production
    // recall audits run on exactly such a slice), the candidate set is
    // the production banding path unchanged.
    "d11_sketch_recall" -> ((s, d) => {
      val sample = Tables.documents(s, d)
        .filter(col("doc_id") < SketchRecallEvalMaxDocId)
      val sh = sample.select(col("doc_id"),
        graft.functions.TextFunctions.shingles(col("text"), 3).as("sh"))
      val truth = sh.as("a").crossJoin(sh.as("b"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          round(graft.functions.TextFunctions
            .jaccard(col("a.sh"), col("b.sh")), 6).as("jacc"))
        .filter(col("jacc") >= 0.2)
      val cand = MinHashLSH.candidatePairs(sample, 4, 3)
      // checkpoint: the brute-force truth plan would otherwise evaluate
      // twice (once under n_truth, once under the semi-join count)
      val truthCk = truth.localCheckpoint(eager = false)
      val caught = truthCk.join(cand, Seq("a_id", "b_id"), "left_semi")
      truthCk.agg(count(lit(1)).as("n_truth"))
        .crossJoin(caught.agg(count(lit(1)).as("n_caught")))
        .select(col("n_truth"), col("n_caught"),
          // null (not NaN) on an empty truth set — DuckDB's x/0 is NULL,
          // and an empty eval slice must not fail the gate
          when(col("n_truth") === 0L, lit(null).cast("double"))
            .otherwise(
              round(col("n_caught").cast("double") / col("n_truth"), 6))
            .as("recall"))
    }),

    // LSH S-curve — d11's recall audit resolved per Jaccard decile: the
    // diagnostic actually read when CHOOSING bands × rows (catch
    // probability 1−(1−j^r)^b rises as an S-curve in j; this measures
    // the empirical curve of the production 4×3 banding). Same bounded
    // eval slice and truth definition as d11, truth floor lowered to
    // jacc > 0 so the curve's low tail is visible; output is ≤ 10
    // decile rows from any corpus size.
    "d13_lsh_curve" -> ((s, d) => {
      val sample = Tables.documents(s, d)
        .filter(col("doc_id") < SketchRecallEvalMaxDocId)
      val sh = sample.select(col("doc_id"),
        graft.functions.TextFunctions.shingles(col("text"), 3).as("sh"))
      val truth = sh.as("a").crossJoin(sh.as("b"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          round(graft.functions.TextFunctions
            .jaccard(col("a.sh"), col("b.sh")), 6).as("jacc"))
        .filter(col("jacc") > 0)
        .localCheckpoint(eager = false) // two consumers below
      val decile = floor(col("jacc") * 10).cast("int").as("jacc_decile")
      val cand = MinHashLSH.candidatePairs(sample, 4, 3)
      val caught = truth.join(cand, Seq("a_id", "b_id"), "left_semi")
        .groupBy(decile).agg(count(lit(1)).as("n_caught"))
      truth.groupBy(decile).agg(count(lit(1)).as("n_truth"))
        .join(caught, Seq("jacc_decile"), "left")
        .select(col("jacc_decile"), col("n_truth"),
          coalesce(col("n_caught"), lit(0L)).as("n_caught"),
          round(coalesce(col("n_caught"), lit(0L)).cast("double")
            / col("n_truth"), 6).as("recall"))
        .orderBy("jacc_decile")
    }),

    // Winnowing (MOSS) shared-fingerprint pairs — the span-level sketch
    // between t04's one global min-hash and d09's exact block dedup:
    // docs sharing a substring of length ≥ w+k−1 = 15 chars are
    // GUARANTEED to share a winnowing fingerprint; pairs stream from
    // capped fingerprint buckets (df ≤ 50 — boilerplate fingerprints
    // generate no pairs), so fan-out is never corpus-shaped.
    "d12_winnow_pairs" -> ((s, d) => {
      graft.operators.Winnowing
        .sharedFingerprints(Tables.documents(s, d),
          k = 8, w = 8, minShared = 2, dfCap = 50)
        .orderBy(col("n_shared").desc, col("a_id"), col("b_id"))
        .limit(100)
    }),

    // PERSISTED winnowing fingerprints (the d22 stored-label discipline
    // applied to d12's recompute debt): hash the corpus' k-grams ONCE,
    // publish (doc_id, fp) through SnapshotStore with stats on both
    // columns, derive the pair report from the STORED table — text is
    // never rescanned. The oracle replays the from-text pipeline, so a
    // print lost (or corrupted) in the store round-trip is a hash
    // mismatch. d28 is the matching write path.
    "d27_stored_prints" -> ((s, d) => {
      val root = Tables.freshRoot("d27-prints")
      graft.operators.Winnowing.writePrints(
        graft.operators.Winnowing
          .fingerprints(Tables.documents(s, d), k = 8, w = 8), root)
      graft.operators.Winnowing
        .pairsFromPrints(graft.operators.Winnowing.readPrints(s, root),
          minShared = 2, dfCap = 50)
        .orderBy(col("n_shared").desc, col("a_id"), col("b_id"))
        .limit(100)
    }),

    // INCREMENTAL print maintenance (the d24 shape for the winnowing
    // family, simpler because prints are PER-DOCUMENT — no closure to
    // quotient): the prior corpus' prints live in the store (v1); a
    // 5%-of-corpus batch (modulo split — scale-proportional, d24's
    // residue class argument) hashes ITS OWN k-grams only and upserts
    // through the key-pruned path (v2, prior files untouched); the pair
    // report derived from the updated table must equal the from-scratch
    // full-corpus d12 bit-exactly — which is what the oracle replays.
    // At 100 TB: O(batch) text hashing per increment vs a daily
    // whole-corpus k-gram scan; v1 stays time-travelable for audits.
    "d28_incremental_winnow" -> ((s, d) => {
      val root = Tables.freshRoot("d28-prints")
      val docs = Tables.documents(s, d)
      val arrived = col("doc_id") % 20 === 11
      graft.operators.Winnowing.writePrints(
        graft.operators.Winnowing
          .fingerprints(docs.filter(!arrived), k = 8, w = 8), root)
      val batch = docs.filter(arrived)
      graft.operators.Winnowing.upsertPrints(
        graft.operators.Winnowing.fingerprints(batch, k = 8, w = 8),
        batch.select("doc_id"), root)
      graft.operators.Winnowing
        .pairsFromPrints(graft.operators.Winnowing.readPrints(s, root),
          minShared = 2, dfCap = 50)
        .orderBy(col("n_shared").desc, col("a_id"), col("b_id"))
        .limit(100)
    }),

    // Incremental corpus dedup — the oracle-checked BATCH TWIN of the
    // streaming dedup-vs-fingerprint-store path (IngestStream
    // .dedupAvailable): documents below the boundary are the admitted
    // history (band fingerprints = the store), documents at/above it are
    // one arriving batch, and the shared decision kernel
    // (MinHashLSH.admissionVerdict) classifies every batch doc as
    // colliding-with-store / colliding-with-smaller-batch-sibling /
    // admitted. ONE signature pipeline over the corpus (checkpointed,
    // then split by the boundary filter) feeds both sides.
    "d14_incremental_dedup" -> ((s, d) => {
      val bands = MinHashLSH
        .bandAssignments(Tables.documents(s, d), 4, 3)
        .localCheckpoint(eager = false) // consumed by both sides below
      MinHashLSH.admissionVerdict(
          bands.filter(col("doc_id") >= IncrementalDedupPriorMaxDocId),
          bands.filter(col("doc_id") < IncrementalDedupPriorMaxDocId))
        .orderBy("doc_id")
    }),

    // SemDeDup: semantic dedup confined to IVF cells — data-adaptive
    // blocking where d05's SRP bands are oblivious; reuses the ANN tier's
    // cell assignment (map-only vs centroid literals).
    "d10_semantic_dedup" -> ((s, d) => {
      graft.operators.SemanticDedup
        .dedup(Tables.embeddings(s, d), k = 16, tau = 0.35)
        .orderBy("vec_id")
    })
  )

  private val minhashBandsCte = {
    val bandRows = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, concat_ws(',', m${b * 3}, m${b * 3 + 1}, m${b * 3 + 2}) AS key FROM sig")
      .mkString("\n  UNION ALL ")
    "WITH " + MinHashLSH.duckSignatureCtes(12) + s""",
      |bands AS (\n  $bandRows)""".stripMargin
  }

  private val dedupSummaryOracle = {
    val mhBandRows = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, concat_ws(',', m${b * 3}, m${b * 3 + 1}, m${b * 3 + 2}) AS key FROM mh_sig")
      .mkString("\n  UNION ALL ")
    "WITH " + MinHashLSH.duckSignatureCtes(12, "mh_") + s""",
      |mh_bands AS (\n  $mhBandRows),
      |mh_cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM mh_bands a JOIN mh_bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      |mh_pairs AS (SELECT a_id, b_id FROM (
      |  SELECT a_id, b_id,
      |    round(cast(len(list_intersect(sa.sh, sb.sh)) as double)
      |        / cast(len(list_distinct(list_concat(sa.sh, sb.sh))) as double), 6) AS jacc
      |  FROM mh_cand JOIN mh_shl sa ON sa.doc_id = a_id JOIN mh_shl sb ON sb.doc_id = b_id)
      |  WHERE jacc >= 0.2),
      |mh_docs AS (SELECT DISTINCT doc_id FROM (
      |  SELECT a_id AS doc_id FROM mh_pairs UNION ALL SELECT b_id FROM mh_pairs)),
      |""".stripMargin + SimHash.duckSignatureCtes("sh_") + """,
      |sh_bands AS (SELECT doc_id, simhash, b.range AS band, (simhash >> (8 * b.range)) & 255 AS key
      |  FROM sh_sigs, range(0, 4) b),
      |sh_cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM sh_bands a JOIN sh_bands b ON a.band = b.band AND a.key = b.key
      |    AND a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3),
      |sh_docs AS (SELECT DISTINCT doc_id FROM (
      |  SELECT a_id AS doc_id FROM sh_cand UNION ALL SELECT b_id FROM sh_cand)),
      |ex AS (SELECT doc_id,
      |  min(doc_id) OVER (PARTITION BY md5(text)) <> doc_id AS is_exact_dup
      |  FROM documents)
      |SELECT ex.doc_id, ex.is_exact_dup,
      |  (mh_docs.doc_id IS NOT NULL) AS near_minhash,
      |  (sh_docs.doc_id IS NOT NULL) AS near_simhash,
      |  NOT ex.is_exact_dup AS keep
      |FROM ex
      |LEFT JOIN mh_docs ON ex.doc_id = mh_docs.doc_id
      |LEFT JOIN sh_docs ON ex.doc_id = sh_docs.doc_id
      |ORDER BY ex.doc_id""".stripMargin
  }

  /** The from-text winnowing pair report — d12's oracle, shared
    * verbatim by d27 (store round-trip) and d28 (incremental upsert):
    * all three queries must produce this exact result. */
  private val D12WinnowPairSql: String =
    ("WITH " + graft.operators.Winnowing.duckFingerprintCtes(8, 8) + """,
      |bkt AS (SELECT fp, list_sort(list(doc_id)) AS ids
      |  FROM fp GROUP BY fp
      |  HAVING count(*) BETWEEN 2 AND 50),
      |ex1 AS (SELECT ids, unnest(range(1, len(ids) + 1)) AS i FROM bkt),
      |ex2 AS (SELECT ids[cast(i as int)] AS a_id,
      |    unnest(ids[cast(i + 1 as int) : len(ids)]) AS b_id FROM ex1),
      |pr AS (SELECT a_id, b_id, count(*) AS n_shared FROM ex2
      |  GROUP BY a_id, b_id)
      |SELECT a_id, b_id, n_shared FROM pr
      |WHERE n_shared >= 2
      |ORDER BY n_shared DESC, a_id, b_id LIMIT 100""".stripMargin)

  /** d17's from-scratch DuckDB replay — closure + split hash + n-gram
    * jaccard from raw parquet — shared VERBATIM with d29: the
    * stored-label split derivation must land on the identical audit. */
  private val D17LeakSql: String =
    (DuckClusterCtes + s""",
      |h AS (SELECT doc_id, cluster_id,
      |  ${CrossHash.duckHash60("'split#' || cast(cluster_id as varchar)")} % 10 AS b
      |  FROM asg),
      |spl AS (SELECT doc_id,
      |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
      |  FROM h),
      |""".stripMargin
      + NgramJaccard.duckJaccardCtes(3, 100, "j") + """,
      |jp AS (SELECT a_id, b_id FROM (
      |  SELECT a_id, b_id,
      |    round(cast(c as double) / cast(sa.n + sb.n - c as double), 6) AS jacc
      |  FROM jco JOIN jsz sa ON sa.doc_id = a_id JOIN jsz sb ON sb.doc_id = b_id)
      |  WHERE jacc >= 0.2),
      |lk AS (SELECT cast(count(*) as bigint) AS n_pairs,
      |    cast(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) as bigint) AS n_leaks
      |  FROM jp JOIN spl a ON a.doc_id = jp.a_id JOIN spl b ON b.doc_id = jp.b_id)
      |SELECT n_pairs, n_leaks,
      |  cast(CASE WHEN n_pairs = 0 THEN 0 ELSE n_leaks * 1000 // n_pairs END as bigint) AS leak_permille
      |FROM lk ORDER BY n_pairs""".stripMargin)

  /** Shared DuckDB replay of the d23 knob curve: every CTE up through
    * `curve` — one row per (bits_delta, radius) carrying truth /
    * candidate / caught counts and integer-permille recall —
    * `finalSelect` then consumes `curve` (d23 dumps it ordered, d26
    * ranks it per recall target). */
  private def d23CurveSql(finalSelect: String): String =
    ("WITH " + VectorFunctions.duckSrpSigCtes(SrpDim, D20SigPlanes) +
      ",\n" + VectorFunctions.duckSrpSigCtes(SrpDim, D20SigPlanes,
        prefix = "h", offset = D20SigPlanes) + s""",
      |params AS (SELECT coalesce((SELECT min(b.range) FROM range($D20MinBits, ${D20MaxBits + 1}) b
      |    WHERE (1::BIGINT << b.range) * $D20TargetBucket >= (SELECT count(*) FROM embeddings)), $D20MaxBits) AS bits),
      |cfg AS (SELECT cast(dl.range as int) AS bits_delta, cast(r.range as int) AS radius,
      |    cast(greatest(1, least(p.bits + dl.range, $D20MaxBits)) as int) AS bits
      |  FROM range(-1, 2) dl, range(1, 3) r, params p),
      |ss AS (SELECT s.vec_id, s.sig AS sig0, h.sig AS sig1
      |  FROM sigs s JOIN hsigs h USING (vec_id)
      |  WHERE s.vec_id < $D21EvalMaxVecId),
      |truth AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE a.vec_id < $D21EvalMaxVecId AND b.vec_id < $D21EvalMaxVecId
      |    AND round(list_cosine_similarity(cast(a.embedding as double[]), cast(b.embedding as double[])), 6) >= 0.35),
      |keys AS (SELECT c.bits_delta, c.radius, s.vec_id, b.range AS band,
      |    ((CASE WHEN b.range < $D20BandsPerSig THEN s.sig0 ELSE s.sig1 END)
      |      >> ($D20SlotBits * (b.range % $D20BandsPerSig))) & ((1::BIGINT << c.bits) - 1) AS key
      |  FROM ss s, range(0, $D20Bands) b, cfg c),
      |flips AS (SELECT bits_delta, radius, 0::BIGINT AS mask FROM cfg
      |  UNION ALL SELECT c.bits_delta, c.radius, 1::BIGINT << i.range
      |    FROM cfg c, range(0, $D20MaxBits) i WHERE i.range < c.bits
      |  UNION ALL SELECT c.bits_delta, c.radius, xor(1::BIGINT << i.range, 1::BIGINT << j.range)
      |    FROM cfg c, range(0, $D20MaxBits) i, range(0, $D20MaxBits) j
      |    WHERE c.radius >= 2 AND i.range < j.range AND j.range < c.bits),
      |probes AS (SELECT k.bits_delta, k.radius, k.vec_id, k.band, xor(k.key, f.mask) AS pkey
      |  FROM keys k JOIN flips f ON f.bits_delta = k.bits_delta AND f.radius = k.radius),
      |cand AS (SELECT DISTINCT a.bits_delta, a.radius, a.vec_id AS a_id, b.vec_id AS b_id
      |  FROM probes a JOIN keys b ON b.bits_delta = a.bits_delta AND b.radius = a.radius
      |    AND b.band = a.band AND b.key = a.pkey AND a.vec_id < b.vec_id),
      |nt AS (SELECT count(*) AS n_truth FROM truth),
      |cc AS (SELECT bits_delta, radius, count(*) AS n_cand FROM cand GROUP BY 1, 2),
      |cg AS (SELECT c.bits_delta, c.radius, count(*) AS n_caught
      |  FROM cand c JOIN truth t ON t.a_id = c.a_id AND t.b_id = c.b_id GROUP BY 1, 2),
      |curve AS (SELECT cfg.bits_delta, cfg.radius, cfg.bits,
      |  cast(nt.n_truth as bigint) AS n_truth,
      |  cast(coalesce(cc.n_cand, 0) as bigint) AS n_cand,
      |  cast(coalesce(cg.n_caught, 0) as bigint) AS n_caught,
      |  cast(CASE WHEN nt.n_truth = 0 THEN 0 ELSE coalesce(cg.n_caught, 0) * 1000 // nt.n_truth END as bigint) AS recall_permille
      |FROM cfg CROSS JOIN nt
      |LEFT JOIN cc ON cc.bits_delta = cfg.bits_delta AND cc.radius = cfg.radius
      |LEFT JOIN cg ON cg.bits_delta = cfg.bits_delta AND cg.radius = cfg.radius)
      |$finalSelect""".stripMargin)

  override val oracles: Map[String, String] = Map(
    // d07's pair CTEs at the 0.02 floor, then one conditional count per
    // candidate threshold over the same pair list
    "d18_threshold_curve" ->
      ("WITH " + graft.operators.NgramJaccard.duckJaccardCtes(3, 100, "c") +
        """,
        |cpr AS (SELECT b_id, jacc * 1000 AS jp FROM (
        |  SELECT a_id, b_id,
        |    round(cast(c as double) / cast(sa.n + sb.n - c as double), 6) AS jacc
        |  FROM cco JOIN csz sa ON sa.doc_id = a_id JOIN csz sb ON sb.doc_id = b_id)
        |  WHERE jacc >= 0.02),
        |nn AS (SELECT cast(count(*) as bigint) AS n_docs FROM documents),
        |th AS (SELECT unnest([20, 50, 100, 500, 900]) AS t_permille)
        |SELECT t_permille,
        |  cast(count(DISTINCT CASE WHEN jp >= t_permille THEN b_id END) as bigint) AS n_dropped,
        |  cast((SELECT n_docs FROM nn)
        |    - count(DISTINCT CASE WHEN jp >= t_permille THEN b_id END) as bigint) AS n_kept
        |FROM th LEFT JOIN cpr ON true
        |GROUP BY t_permille ORDER BY t_permille""".stripMargin),
    // cluster closure + a token-count scan → per-source loss accounting
    "d19_dedup_loss_by_source" ->
      (DuckClusterCtes + """,
        |tk AS (SELECT doc_id, source,
        |    cast(len(string_split(text, ' ')) as bigint) AS tokens
        |  FROM documents),
        |j AS (SELECT tk.source, tk.tokens,
        |    (tk.doc_id <> asg.cluster_id) AS dropped
        |  FROM tk JOIN asg ON asg.doc_id = tk.doc_id)
        |SELECT source, cast(count(*) as bigint) AS n_docs,
        |  cast(sum(CASE WHEN dropped THEN 1 ELSE 0 END) as bigint) AS n_dropped,
        |  cast(sum(tokens) as bigint) AS tokens_total,
        |  cast(sum(CASE WHEN dropped THEN tokens ELSE 0 END) as bigint) AS tokens_dropped,
        |  cast((sum(CASE WHEN dropped THEN tokens ELSE 0 END) * 1000)
        |    // sum(tokens) as bigint) AS drop_permille
        |FROM j GROUP BY source ORDER BY source""".stripMargin),

    "d06_dedup_summary" -> dedupSummaryOracle,

    "d09_substring_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |n AS (SELECT doc_id, toks,
        |    cast(floor(cast(len(toks) - 1 as double) / 10) as bigint) AS maxb FROM t),
        |blk AS (SELECT doc_id, md5(array_to_string(toks[i*10+1 : i*10+10], ' ')) AS h
        |  FROM (SELECT doc_id, toks, unnest(range(0, maxb + 1)) AS i FROM n)),
        |f AS (SELECT h, count(DISTINCT doc_id) AS df FROM blk GROUP BY h),
        |p AS (SELECT b.doc_id, count(*) AS n_blocks,
        |    cast(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) as bigint) AS dup_blocks
        |  FROM blk b JOIN f USING (h) GROUP BY b.doc_id)
        |SELECT doc_id, n_blocks, dup_blocks,
        |  round(cast(dup_blocks as double) / n_blocks, 6) AS dup_frac,
        |  dup_blocks * 2 >= n_blocks AS mostly_dup
        |FROM p ORDER BY doc_id""".stripMargin,

    "d11_sketch_recall" ->
      ("WITH " + MinHashLSH.duckSignatureCtes(12) + s""",
        |bands AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS band, concat_ws(',', m${b * 3}, m${b * 3 + 1}, m${b * 3 + 2}) AS key FROM sig WHERE doc_id < $SketchRecallEvalMaxDocId")
          .mkString("\n  UNION ALL ")}),
        |truth AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM shl a JOIN shl b ON a.doc_id < b.doc_id
        |  WHERE a.doc_id < $SketchRecallEvalMaxDocId AND b.doc_id < $SketchRecallEvalMaxDocId
        |    AND round(cast(len(list_intersect(a.sh, b.sh)) as double)
        |      / cast(len(list_distinct(list_concat(a.sh, b.sh))) as double), 6) >= 0.2),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |nt AS (SELECT count(*) AS n_truth FROM truth),
        |nc AS (SELECT count(*) AS n_caught FROM truth t
        |  JOIN cand c ON t.a_id = c.a_id AND t.b_id = c.b_id)
        |SELECT n_truth, n_caught,
        |  round(cast(n_caught as double) / n_truth, 6) AS recall
        |FROM nt, nc""".stripMargin),

    "d13_lsh_curve" ->
      ("WITH " + MinHashLSH.duckSignatureCtes(12) + s""",
        |bands AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS band, concat_ws(',', m${b * 3}, m${b * 3 + 1}, m${b * 3 + 2}) AS key FROM sig WHERE doc_id < $SketchRecallEvalMaxDocId")
          .mkString("\n  UNION ALL ")}),
        |truth AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    round(cast(len(list_intersect(a.sh, b.sh)) as double)
        |      / cast(len(list_distinct(list_concat(a.sh, b.sh))) as double), 6) AS jacc
        |  FROM shl a JOIN shl b ON a.doc_id < b.doc_id
        |  WHERE a.doc_id < $SketchRecallEvalMaxDocId AND b.doc_id < $SketchRecallEvalMaxDocId
        |    AND round(cast(len(list_intersect(a.sh, b.sh)) as double)
        |      / cast(len(list_distinct(list_concat(a.sh, b.sh))) as double), 6) > 0),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |caught AS (SELECT cast(floor(t.jacc * 10) as int) AS jacc_decile,
        |    count(*) AS n_caught
        |  FROM truth t JOIN cand c ON t.a_id = c.a_id AND t.b_id = c.b_id
        |  GROUP BY 1),
        |per AS (SELECT cast(floor(jacc * 10) as int) AS jacc_decile,
        |    count(*) AS n_truth FROM truth GROUP BY 1)
        |SELECT per.jacc_decile, per.n_truth,
        |  cast(coalesce(caught.n_caught, 0) as bigint) AS n_caught,
        |  round(cast(coalesce(caught.n_caught, 0) as double) / per.n_truth, 6) AS recall
        |FROM per LEFT JOIN caught USING (jacc_decile)
        |ORDER BY jacc_decile""".stripMargin),

    "d12_winnow_pairs" -> D12WinnowPairSql,

    // d27/d28 must land on the from-text pair report bit-exactly: the
    // stored table (d27) and the prior+upserted-batch table (d28) are
    // both REPRESENTATIONS of the same per-document print function, so
    // the one from-scratch oracle checks store round-trip and
    // incremental maintenance alike
    "d27_stored_prints" -> D12WinnowPairSql,
    "d28_incremental_winnow" -> D12WinnowPairSql,

    "d10_semantic_dedup" ->
      s"""WITH q AS (SELECT vec_id, embedding,
        |  list_transform(embedding, x -> cast(round(cast(x as double) * 1000000.0) as bigint)) AS qe
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, qe AS qc FROM q ORDER BY vec_id LIMIT 16),
        |dists AS (SELECT a.vec_id, c.cent_id,
        |    list_sum(list_transform(range(1, ${SrpDim + 1}), i -> (a.qe[i] - c.qc[i]) * (a.qe[i] - c.qc[i]))) AS dist
        |  FROM q a, cents c),
        |ranks AS (SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rk
        |  FROM dists),
        |assign AS (SELECT vec_id, cent_id FROM ranks WHERE rk = 1),
        |pairs AS (SELECT b.vec_id AS b_id
        |  FROM assign a JOIN assign b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
        |  JOIN embeddings ea ON ea.vec_id = a.vec_id
        |  JOIN embeddings eb ON eb.vec_id = b.vec_id
        |  WHERE round(list_cosine_similarity(cast(ea.embedding as double[]), cast(eb.embedding as double[])), 6) >= 0.35),
        |dup AS (SELECT DISTINCT b_id AS vec_id FROM pairs)
        |SELECT a.vec_id, a.cent_id, (d.vec_id IS NOT NULL) AS is_semantic_dup,
        |  (d.vec_id IS NULL) AS keep
        |FROM assign a LEFT JOIN dup d ON d.vec_id = a.vec_id
        |ORDER BY a.vec_id""".stripMargin,

    "d14_incremental_dedup" ->
      (minhashBandsCte + s""",
        |nb AS (SELECT * FROM bands WHERE doc_id >= $IncrementalDedupPriorMaxDocId),
        |pr AS (SELECT band, key FROM bands WHERE doc_id < $IncrementalDedupPriorMaxDocId),
        |hp AS (SELECT DISTINCT nb.doc_id FROM nb
        |  JOIN pr ON nb.band = pr.band AND nb.key = pr.key),
        |hb AS (SELECT DISTINCT a.doc_id FROM nb a
        |  JOIN nb b ON a.band = b.band AND a.key = b.key AND a.doc_id > b.doc_id),
        |ids AS (SELECT DISTINCT doc_id FROM nb)
        |SELECT ids.doc_id,
        |  (hp.doc_id IS NOT NULL) AS hit_prior,
        |  (hb.doc_id IS NOT NULL) AS hit_batch,
        |  (hp.doc_id IS NULL AND hb.doc_id IS NULL) AS admitted
        |FROM ids
        |LEFT JOIN hp ON hp.doc_id = ids.doc_id
        |LEFT JOIN hb ON hb.doc_id = ids.doc_id
        |ORDER BY ids.doc_id""".stripMargin),

    "d01_exact_dedup" ->
      """SELECT doc_id, canonical_id, doc_id <> canonical_id AS is_dup FROM (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "d02_minhash_lsh" ->
      (minhashBandsCte + """,
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |j AS (SELECT a_id, b_id,
        |  round(cast(len(list_intersect(sa.sh, sb.sh)) as double)
        |      / cast(len(list_distinct(list_concat(sa.sh, sb.sh))) as double), 6) AS jacc
        |  FROM cand JOIN shl sa ON sa.doc_id = a_id JOIN shl sb ON sb.doc_id = b_id)
        |SELECT a_id, b_id, jacc FROM j WHERE jacc >= 0.2 ORDER BY a_id, b_id""".stripMargin),

    "d07_ngram_jaccard" ->
      ("WITH " + NgramJaccard.duckJaccardCtes(3, 100) + """
        |SELECT a_id, b_id, jacc FROM (
        |  SELECT a_id, b_id,
        |    round(cast(c as double) / cast(sa.n + sb.n - c as double), 6) AS jacc
        |  FROM co JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id)
        |WHERE jacc >= 0.2 ORDER BY a_id, b_id""".stripMargin),

    "d08_dup_clusters" ->
      (DuckClusterCtes + """
        |SELECT doc_id, cluster_id, cluster_id = doc_id AS is_canonical
        |FROM asg ORDER BY doc_id""".stripMargin),

    // two closures — the prior slice's and the full corpus' — replayed
    // from raw parquet; the store versions must report exactly this.
    // BOTH chains carry a prefix deliberately: compare.py rewrites the
    // UNPREFIXED reach/lab idiom into an iterative closure and would
    // otherwise split this two-closure query at the second chain
    "d25_cluster_churn" ->
      ("WITH RECURSIVE " +
        duckClusterBody("p", "WHERE doc_id % 20 <> 7") + ",\n" +
        duckClusterBody("f", "") + """
        |SELECT
        |  (SELECT cast(count(*) as bigint) FROM pasg) AS n_docs_prior,
        |  (SELECT cast(count(DISTINCT cluster_id) as bigint) FROM pasg) AS n_clusters_prior,
        |  (SELECT cast(count(*) as bigint) FROM fasg) AS n_docs_after,
        |  (SELECT cast(count(DISTINCT cluster_id) as bigint) FROM fasg) AS n_clusters_after,
        |  (SELECT cast(count(*) as bigint) FROM pasg p JOIN fasg a
        |    ON a.doc_id = p.doc_id AND a.cluster_id <> p.cluster_id) AS n_relabeled,
        |  (SELECT cast(count(*) as bigint) FROM (
        |    SELECT DISTINCT cluster_id FROM pasg
        |    EXCEPT SELECT DISTINCT cluster_id FROM fasg)) AS n_clusters_absorbed""".stripMargin),

    // the from-scratch full-corpus closure IS the oracle: the
    // incremental path must land on it bit-exactly
    "d24_incremental_clusters" ->
      (DuckClusterCtes + """
        |SELECT doc_id, cluster_id,
        |  (doc_id % 20 = 7) AS arrived,
        |  (doc_id = cluster_id) AS is_canonical
        |FROM asg ORDER BY doc_id""".stripMargin),

    "d15_cluster_split" ->
      (DuckClusterCtes + s""",
        |h AS (SELECT doc_id, cluster_id,
        |  ${CrossHash.duckHash60("'split#' || cast(cluster_id as varchar)")} % 10 AS b
        |  FROM asg)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin),

    // cluster closure + split CASE + prefixed jaccard CTEs ("j" avoids
    // name collisions); straddling-pair count over the pair endpoints.
    // d29 derives the split side from the STORED labels and must land
    // on the identical audit — the same from-scratch replay checks both
    "d29_stored_leakage" -> D17LeakSql,
    "d17_split_leakage" -> D17LeakSql,

    // cluster closure + scoring + split hash + budget window, replayed
    // against raw parquet: what d22 derives from the STORED labels must
    // equal the from-scratch computation bit-exactly
    "d22_stored_labels" ->
      (DuckClusterCtes + ",\n" + TextAnalysis.DuckScoredCtes + s""",
        |spl AS (SELECT doc_id, cluster_id,
        |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id, cluster_id,
        |    ${CrossHash.duckHash60("'split#' || cast(cluster_id as varchar)")} % 10 AS b
        |    FROM asg)),
        |base AS (SELECT s.doc_id, s.split,
        |    (s.doc_id <> s.cluster_id) AS dropped,
        |    d.source, q.tokens, q.quality
        |  FROM spl s JOIN documents d ON d.doc_id = s.doc_id
        |  JOIN sq q ON q.doc_id = s.doc_id),
        |kept AS (SELECT doc_id FROM (
        |  SELECT doc_id, sum(tokens) OVER (ORDER BY quality DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM base WHERE NOT dropped)
        |  WHERE cum <= ${TextAnalysis.TokenBudget})
        |SELECT source, split, cast(count(*) as bigint) AS n_docs,
        |  cast(sum(CASE WHEN dropped THEN 1 ELSE 0 END) as bigint) AS n_dropped,
        |  cast(sum(tokens) as bigint) AS tokens_total,
        |  cast(sum(CASE WHEN dropped THEN tokens ELSE 0 END) as bigint) AS tokens_dropped,
        |  cast(sum(CASE WHEN kept.doc_id IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_budget_kept,
        |  cast(sum(CASE WHEN kept.doc_id IS NOT NULL THEN tokens ELSE 0 END) as bigint) AS tokens_budget_kept
        |FROM base LEFT JOIN kept ON kept.doc_id = base.doc_id
        |GROUP BY source, split ORDER BY source, split""".stripMargin),

    // cluster closure + shared scoring CTEs, restricted to canonical
    // docs before the running total — t31's cut over d08's survivors
    "d16_dedup_budget" ->
      (DuckClusterCtes + ",\n" + TextAnalysis.DuckScoredCtes + s""",
        |cs AS (SELECT sq.* FROM sq
        |  JOIN asg ON asg.doc_id = sq.doc_id AND asg.doc_id = asg.cluster_id),
        |c AS (SELECT doc_id, tokens, quality,
        |  cast(sum(tokens) OVER (ORDER BY quality DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS cum_tokens
        |  FROM cs)
        |SELECT doc_id, tokens, quality, cum_tokens FROM c
        |WHERE cum_tokens <= ${TextAnalysis.TokenBudget}
        |ORDER BY quality DESC, doc_id""".stripMargin),

    "d03_simhash" ->
      ("WITH " + SimHash.duckSignatureCtes() +
        "\nSELECT doc_id, simhash FROM sigs ORDER BY doc_id"),

    "d04_simhash_pairs" ->
      ("WITH " + SimHash.duckSignatureCtes() + """,
        |bands AS (SELECT doc_id, simhash, b.range AS band, (simhash >> (8 * b.range)) & 255 AS key
        |  FROM sigs, range(0, 4) b),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |    cast(bit_count(xor(a.simhash, b.simhash)) as int) AS hamming
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
        |SELECT a_id, b_id, hamming FROM cand WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin),

    "d05_embedding_near_dup" ->
      ("WITH " + VectorFunctions.duckSrpSigCtes(SrpDim, D05Planes) + s""",
        |bands AS (SELECT s.vec_id, b.range AS band,
        |    (s.sig >> ($D05BandBits * b.range)) & ${(1 << D05BandBits) - 1} AS key
        |  FROM sigs s, range(0, $D05Bands) b),
        |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
        |j AS (SELECT a_id, b_id,
        |    round(list_cosine_similarity(cast(ea.embedding as double[]), cast(eb.embedding as double[])), 6) AS sim
        |  FROM cand JOIN embeddings ea ON ea.vec_id = a_id JOIN embeddings eb ON eb.vec_id = b_id)
        |SELECT a_id, b_id, sim FROM j WHERE sim >= 0.35 ORDER BY a_id, b_id""".stripMargin),

    // The density-scaled key width replayed integer-exactly: bits = the
    // smallest b in [MinBits, MaxBits] with 2^b·TargetBucket ≥ count(*)
    // (no floating log2 — its rounding could diverge between engines).
    "d20_scaled_near_dup" ->
      ("WITH " + VectorFunctions.duckSrpSigCtes(SrpDim, D20SigPlanes) +
        ",\n" + VectorFunctions.duckSrpSigCtes(SrpDim, D20SigPlanes,
          prefix = "h", offset = D20SigPlanes) + s""",
        |params AS (SELECT coalesce((SELECT min(b.range) FROM range($D20MinBits, ${D20MaxBits + 1}) b
        |    WHERE (1::BIGINT << b.range) * $D20TargetBucket >= (SELECT count(*) FROM embeddings)), $D20MaxBits) AS bits),
        |sig2 AS (SELECT s.vec_id, s.sig AS sig0, h.sig AS sig1
        |  FROM sigs s JOIN hsigs h USING (vec_id)),
        |keys AS (SELECT s.vec_id, b.range AS band,
        |    ((CASE WHEN b.range < $D20BandsPerSig THEN s.sig0 ELSE s.sig1 END)
        |      >> ($D20SlotBits * (b.range % $D20BandsPerSig))) & ((1::BIGINT << p.bits) - 1) AS key
        |  FROM sig2 s, range(0, $D20Bands) b, params p),
        |probes AS (SELECT k.vec_id, k.band,
        |    CASE WHEN r.range < 0 THEN k.key ELSE xor(k.key, 1::BIGINT << r.range) END AS pkey
        |  FROM keys k, range(-1, $D20MaxBits) r, params p WHERE r.range < p.bits),
        |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM probes a JOIN keys b ON a.band = b.band AND a.pkey = b.key AND a.vec_id < b.vec_id),
        |j AS (SELECT a_id, b_id,
        |    round(list_cosine_similarity(cast(ea.embedding as double[]), cast(eb.embedding as double[])), 6) AS sim
        |  FROM cand JOIN embeddings ea ON ea.vec_id = a_id JOIN embeddings eb ON eb.vec_id = b_id)
        |SELECT a_id, b_id, sim FROM j WHERE sim >= 0.35 ORDER BY a_id, b_id""".stripMargin),

    // six (bits delta, probe radius) configs replayed integer-exactly:
    // per-config key width from the same density formula, probe masks =
    // all 0/1/2-bit flips under the config's width, distinct candidate
    // pairs counted as the cost axis
    "d23_knob_curve" ->
      d23CurveSql("SELECT * FROM curve ORDER BY bits_delta, radius"),

    // the tuner replayed over the same curve CTE: per target, the
    // row_number pick under the identical integer sort keys
    "d26_knob_choice" ->
      d23CurveSql("""SELECT cast(t.target_permille as bigint) AS target_permille,
        |  cast(CASE WHEN c.recall_permille >= t.target_permille THEN 1 ELSE 0 END as bigint) AS met,
        |  c.bits_delta, c.radius, c.bits, c.n_cand, c.recall_permille
        |FROM (VALUES (500), (700), (900)) t(target_permille) CROSS JOIN curve c
        |QUALIFY row_number() OVER (PARTITION BY t.target_permille ORDER BY
        |    (c.recall_permille >= t.target_permille) DESC,
        |    CASE WHEN c.recall_permille >= t.target_permille THEN c.n_cand ELSE -c.recall_permille END ASC,
        |    c.n_cand ASC, c.bits_delta ASC, c.radius ASC) = 1
        |ORDER BY target_permille""".stripMargin),

    // SRP plane weights are keyed by GLOBAL plane index, so the 8-plane
    // signature d05 keys on is exactly the low 8 bits of the 60-plane
    // signature — one sig CTE serves both configurations.
    "d21_scaled_recall" ->
      ("WITH " + VectorFunctions.duckSrpSigCtes(SrpDim, D20SigPlanes) +
        ",\n" + VectorFunctions.duckSrpSigCtes(SrpDim, D20SigPlanes,
          prefix = "h", offset = D20SigPlanes) + s""",
        |params AS (SELECT coalesce((SELECT min(b.range) FROM range($D20MinBits, ${D20MaxBits + 1}) b
        |    WHERE (1::BIGINT << b.range) * $D20TargetBucket >= (SELECT count(*) FROM embeddings)), $D20MaxBits) AS bits),
        |ss AS (SELECT s.vec_id, s.sig AS sig0, h.sig AS sig1
        |  FROM sigs s JOIN hsigs h USING (vec_id)
        |  WHERE s.vec_id < $D21EvalMaxVecId),
        |truth AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE a.vec_id < $D21EvalMaxVecId AND b.vec_id < $D21EvalMaxVecId
        |    AND round(list_cosine_similarity(cast(a.embedding as double[]), cast(b.embedding as double[])), 6) >= 0.35),
        |skeys AS (SELECT s.vec_id, b.range AS band,
        |    ((CASE WHEN b.range < $D20BandsPerSig THEN s.sig0 ELSE s.sig1 END)
        |      >> ($D20SlotBits * (b.range % $D20BandsPerSig))) & ((1::BIGINT << p.bits) - 1) AS key
        |  FROM ss s, range(0, $D20Bands) b, params p),
        |sprobes AS (SELECT k.vec_id, k.band,
        |    CASE WHEN r.range < 0 THEN k.key ELSE xor(k.key, 1::BIGINT << r.range) END AS pkey
        |  FROM skeys k, range(-1, $D20MaxBits) r, params p WHERE r.range < p.bits),
        |scand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM sprobes a JOIN skeys b ON a.band = b.band AND a.pkey = b.key AND a.vec_id < b.vec_id),
        |fkeys AS (SELECT s.vec_id, b.range AS band,
        |    (s.sig0 >> ($D05BandBits * b.range)) & ${(1 << D05BandBits) - 1} AS key
        |  FROM ss s, range(0, $D05Bands) b),
        |fcand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM fkeys a JOIN fkeys b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
        |m AS (SELECT
        |  (SELECT count(*) FROM truth) AS n_truth,
        |  (SELECT count(*) FROM truth t JOIN scand c ON c.a_id = t.a_id AND c.b_id = t.b_id) AS n_caught_scaled,
        |  (SELECT count(*) FROM truth t JOIN fcand c ON c.a_id = t.a_id AND c.b_id = t.b_id) AS n_caught_fixed)
        |SELECT cast(p.bits as int) AS bits, n_truth, n_caught_scaled, n_caught_fixed,
        |  cast(CASE WHEN n_truth = 0 THEN 0 ELSE n_caught_scaled * 1000 // n_truth END as bigint) AS recall_scaled_permille,
        |  cast(CASE WHEN n_truth = 0 THEN 0 ELSE n_caught_fixed * 1000 // n_truth END as bigint) AS recall_fixed_permille
        |FROM m, params p""".stripMargin)
  )
}
