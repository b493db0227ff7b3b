package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** IVF-style (inverted-file) approximate nearest-neighbour index: vectors
  * partition into cells around centroids; a query probes only its nearest
  * `nProbe` cells, confining the exact scoring to a fraction of the index.
  * Complements the SRP-LSH path ([[graft.functions.VectorFunctions]]):
  * IVF adapts to the data distribution where SRP's planes are oblivious.
  *
  * Determinism: centroids are the `k` lowest-vec_id vectors, selected via
  * orderBy(vec_id).limit(k) so a sparse or offset id space still yields
  * exactly k centroids (a seeded simplification of k-means — production
  * would run Lloyd iterations and persist the centroid table); assignment
  * distance is an exact integer — embeddings quantize to round(x·1e6)
  * BIGINTs and cells are argmin of the integer squared L2 distance with
  * centroid-id tie-break — so cell membership is identical across engines
  * and partitionings, and the whole index layout is DuckDB-reproducible.
  *
  * Scale shape: the k centroids are collected to the driver (k rows — the
  * moral equivalent of broadcasting the centroid table) and inlined as
  * literals, so cell ranking is a map-only scan with a per-row
  * array_sort over k (dist, cent_id) structs: NO shuffle, NO window, no
  * crossJoin row expansion. At rest [[writeIndex]] partitions the stored
  * index BY cent_id and [[searchIndexed]] reads it back with a
  * `cent_id IN (probe cells)` predicate, which Spark turns into partition
  * pruning (`PartitionFilters` on the scan) — a probe touches only the
  * probed cells' files, never the whole index.
  */
object IvfIndex {

  /** The k lowest-vec_id vectors, quantized in-engine (the same
    * quantize1e6 expression the scan uses, so rounding is identical) and
    * collected — centroids are small by construction. */
  def centroids(emb: DataFrame, k: Int): Array[(Long, Array[Long])] =
    emb.orderBy("vec_id").limit(k)
      .select(col("vec_id").cast("long"),
        VectorFunctions.quantize1e6(col("embedding")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))

  /** Lloyd-trained centroids: start from [[centroids]]' deterministic
    * seeds, then `iters` rounds of assign (map-only scan vs centroid
    * literals — the same fused-distance expression queries use) →
    * recompute means (one groupBy over ≤ k cells) → re-quantize. Each
    * iteration is one job whose shuffle carries k×dim longs; only the k
    * centroid rows ever reach the driver. Trained centroids balance cell
    * populations (the k-lowest-id seeds can be arbitrarily skewed), which
    * is what bounds per-probe work at corpus scale; everything stays
    * deterministic — quantized integer means of deterministic
    * assignments — so a trained index is as reproducible as a seeded one.
    * Use with [[cellRanksWith]] / [[writeIndex]]'s explicit-centroid form.
    *
    * `trainSample` > 0 bounds the TRAINING corpus (the Faiss discipline:
    * quantizers train on a bounded sample — Faiss itself defaults to
    * ≤ 256 points per centroid — then EVERYTHING assigns against the
    * trained geometry): training reads only vectors with
    * `pmod(xxhash64(vec_id), ceil(n / trainSample)) = 0` — a
    * deterministic, order-independent hash band of ~trainSample vectors,
    * reproducible across engines and partitionings like everything else
    * here. At corpus scale this turns each Lloyd round from an O(n·k·dim)
    * pass into O(sample·k·dim); assignment quality degrades only as far
    * as the sample misrepresents the distribution, which is the standard
    * ANN-index trade, not an approximation of SEARCH results (search
    * correctness never depends on which centroids were chosen). */
  def trainCentroids(emb: DataFrame, k: Int,
      iters: Int, trainSample: Long = 0L): Array[(Long, Array[Long])] = {
    val train =
      if (trainSample <= 0) emb
      else {
        val n = emb.count()
        if (n <= trainSample) emb
        else {
          val mod = (n + trainSample - 1) / trainSample
          val band = emb.filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
          // a skewed hash band (or a tiny trainSample) can undershoot k,
          // which would silently train FEWER than k cells; the band is
          // ~trainSample rows so this guard count is bounded
          if (band.limit(k).count() >= k) band else emb
        }
      }
    var cents = centroids(train, k)
    for (_ <- 0 until iters) {
      val dim = cents.head._2.length
      val assigned = cellAssign(train, cents)
        .select(col("cent_id"),
          VectorFunctions.quantize1e6(col("embedding")).as("qe"))
      val meanCols = (0 until dim).map(i =>
        avg(element_at(col("qe"), i + 1)).as(s"c$i"))
      val means = assigned.groupBy("cent_id")
        .agg(meanCols.head, meanCols.tail: _*)
        .collect()
        .map { r =>
          (r.getLong(0),
            Array.tabulate(dim)(i => math.round(r.getDouble(i + 1))))
        }
      // empty cells keep their previous centroid (standard Lloyd repair)
      val byId = means.toMap
      cents = cents.map { case (id, old) => (id, byId.getOrElse(id, old)) }
    }
    cents
  }

  /** Mean integer squared-L2 distance of each vector to its assigned
    * centroid — the distortion objective Lloyd descends; exposed for
    * training diagnostics and the convergence spec. */
  def distortion(emb: DataFrame, cents: Array[(Long, Array[Long])]): Double =
    cellAssign(emb, cents)
      .agg(avg(col("dist")))
      .collect()(0).getDouble(0)

  /** (vec_id, embedding, cent_id): each vector assigned to its nearest
    * centroid cell. Map-only (centroid literals, per-row argmin). */
  def assignments(emb: DataFrame, k: Int): DataFrame =
    cellAssign(emb, centroids(emb, k))
      .select("vec_id", "embedding", "cent_id")

  /** All (vector, centroid) distances ranked per vector — rank 1 is the
    * home cell; ranks ≤ nProbe are the probe set. Ranking is a per-row
    * array_sort over the k centroid literals + posexplode: no shuffle. */
  def cellRanks(emb: DataFrame, k: Int): DataFrame =
    cellRanksWith(emb, centroids(emb, k))

  /** [[cellRanks]] against an explicit centroid set — the form used when
    * the centroids were trained/persisted earlier (so query-time ranking
    * never re-derives them from the corpus). All k distances come from
    * ONE fused-loop codegen expression ([[graft.plans.IvfCellDistsExpr]]
    * — the per-centroid HOF folds were k·dim interpreted steps per row);
    * ranking is then array_sort over k (dist, cent_id) structs +
    * posexplode. Still map-only: no shuffle, no window. */
  def cellRanksWith(emb: DataFrame,
      cents: Array[(Long, Array[Long])]): DataFrame = {
    require(cents.nonEmpty, s"IVF index needs >= 1 centroid, got 0")
    // ALL of emb's columns ride through the ranking, so metadata
    // predicates (label filters etc.) can be applied to the ranked frame
    // — the searchWith/searchFiltered queryFilter contract
    val clash = Seq("cent_id", "dist", "rk", "dists", "cells", "col", "pos")
      .filter(emb.columns.contains)
    require(clash.isEmpty,
      s"cellRanks: embeddings frame must not contain ${clash.mkString(", ")}")
    val embCols = emb.columns.toSeq.map(col)
    val dists = graft.plans.IvfCellDistsExpr
      .ivf_cell_dists(col("embedding"), cents.map(_._2.toSeq).toSeq)
    val q = emb.withColumn("dists", dists)
    val cellStructs = array(cents.zipWithIndex.map { case ((id, _), j) =>
      struct(element_at(col("dists"), j + 1).as("dist"),
        lit(id).as("cent_id"))
    }: _*)
    q.withColumn("cells", array_sort(cellStructs))
      .select(embCols :+ posexplode(col("cells")): _*)
      .select(embCols ++ Seq(
        col("col.cent_id").as("cent_id"), col("col.dist").as("dist"),
        (col("pos") + 1).cast("int").as("rk")): _*)
  }

  /** Exactly [[cellRanksWith]]'s rank-1 row per vector — same fused
    * distance expression, same (dist, cent_id) struct ordering for the
    * tie-break — WITHOUT the k-way posexplode: the argmin cell comes
    * from one `array_min` over the k cell structs, so assignment stays
    * one map-only pass carrying each row ONCE. The explode form pushes
    * n·k embedding-carrying rows through the plan to keep 1/k of them —
    * measured at 10⁶ vectors × 64 cells, the versioned-index write went
    * 537 s → O(n) with this path. Every build/append/assign caller
    * (rank-1 semantics) uses this; probe callers (rk ≤ nProbe) still
    * rank via [[cellRanksWith]]. Output: emb's columns + cent_id +
    * dist. */
  def cellAssign(emb: DataFrame,
      cents: Array[(Long, Array[Long])]): DataFrame = {
    require(cents.nonEmpty, s"IVF index needs >= 1 centroid, got 0")
    val clash = Seq("cent_id", "dist", "rk", "dists", "cells", "best")
      .filter(emb.columns.contains)
    require(clash.isEmpty,
      s"cellAssign: embeddings frame must not contain ${clash.mkString(", ")}")
    val embCols = emb.columns.toSeq.map(col)
    val best = graft.plans.IvfCellArgminExpr.ivf_cell_argmin(
      col("embedding"), cents.map(_._2.toSeq).toSeq, cents.map(_._1).toSeq)
    emb.withColumn("best", best)
      .select(embCols ++ Seq(col("best.cent_id").as("cent_id"),
        col("best.dist").as("dist")): _*)
  }

  /** Top-`topK` in-probe neighbours (by cosine) for each query vector.
    *
    * The probe set (queries × nProbe cells) is broadcast when small, so
    * candidate generation is one map-side scan of the assigned index.
    * Because a broad `queryFilter` would blow past Spark's broadcast
    * limit, the probe-set size is estimated first from a count of the
    * query rows alone — queryFilter pushes down to the parquet scan, so
    * the guard never evaluates the cell ranking (the round-3 version
    * counted the ranked probe pipeline itself, re-running the whole
    * quantize + k-distance scan just to size the broadcast). Past
    * `maxBroadcastProbes` estimated rows the join degrades to a plain
    * shuffle equi-join on cent_id — slower, never a failed job.
    *
    * CONTRACT: `queryFilter` selects which EMBEDDING rows are queries, so
    * it may reference only `emb`'s columns (vec_id, embedding, ...) —
    * never rank-side columns (rk/cent_id/dist); those don't exist on the
    * scan the broadcast guard counts. Violations fail fast here with a
    * named-column error instead of a deep AnalysisException. */
  def search(emb: DataFrame, queryFilter: Column, k: Int, nProbe: Int,
      topK: Int, maxBroadcastProbes: Long = 1000000L): DataFrame =
    searchWith(emb, queryFilter, centroids(emb, k), nProbe, topK,
      maxBroadcastProbes)

  /** [[search]] against an explicit centroid set (e.g.
    * [[trainCentroids]]-trained, or read back from a persisted sidecar) —
    * query-time never re-derives centroids from the corpus. */
  def searchWith(emb: DataFrame, queryFilter: Column,
      cents: Array[(Long, Array[Long])], nProbe: Int, topK: Int,
      maxBroadcastProbes: Long = 1000000L): DataFrame = {
    try emb.where(queryFilter).queryExecution.analyzed
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"IvfIndex.search queryFilter may only reference embeddings " +
            s"columns ${emb.columns.mkString("(", ", ", ")")} — filter the " +
            "query SET, not the cell ranking (rk/cent_id/dist are produced " +
            s"internally). Analysis said: ${e.getMessage}", e)
    }
    // assignment (full corpus) takes the explode-free argmin path; only
    // the (filtered) query side pays the k-way ranking explode —
    // queryFilter references emb columns only, so Catalyst pushes it
    // below the Generate and just the query rows explode
    val assigned = cellAssign(emb, cents)
      .select("vec_id", "embedding", "cent_id")
    val probes = cellRanksWith(emb, cents)
      .filter(queryFilter && col("rk") <= nProbe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("cent_id"))
    val probeEstimate = emb.filter(queryFilter).count() * nProbe
    val probeSide =
      if (probeEstimate <= maxBroadcastProbes) broadcast(probes) else probes
    rankCandidates(assigned.join(probeSide, Seq("cent_id")), topK)
  }

  /** Metadata-FILTERED ANN: top-`topK` neighbours among only the corpus
    * rows matching `corpusFilter` — the vector-store "filtered search"
    * feature (Pinecone metadata filters, reference's per-index routing
    * generalised to arbitrary predicates).
    *
    * This is PRE-filtering, not post-filtering: the predicate lands on the
    * corpus before candidate generation, so a selective filter cannot
    * starve the top-k (post-filtering an unfiltered top-k can return fewer
    * than topK survivors, silently). Cell assignment per vector is
    * independent of the rest of the corpus, so filter-then-assign equals
    * assign-then-filter — and at rest the same predicate pushes down into
    * the stored index scan, where it composes with cent_id partition
    * pruning (probe prunes partitions, metadata prunes row groups).
    *
    * Centroids are still derived from the FULL corpus: the cell layout
    * stays stable across filters, so one stored index serves every
    * predicate. Queries are drawn from the unfiltered corpus (a query
    * need not satisfy the filter it searches under). */
  def searchFiltered(emb: DataFrame, queryFilter: Column,
      corpusFilter: Column, k: Int, nProbe: Int, topK: Int,
      maxBroadcastProbes: Long = 1000000L): DataFrame = {
    for ((f, what) <- Seq(queryFilter -> "queryFilter",
        corpusFilter -> "corpusFilter")) {
      try emb.where(f).queryExecution.analyzed
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"IvfIndex.searchFiltered $what may only reference embeddings " +
              s"columns ${emb.columns.mkString("(", ", ", ")")}. " +
              s"Analysis said: ${e.getMessage}", e)
      }
    }
    val cents = centroids(emb, k)
    val assigned = cellAssign(emb.where(corpusFilter), cents)
      .select("vec_id", "embedding", "cent_id")
    val probes = cellRanksWith(emb, cents)
      .filter(queryFilter && col("rk") <= nProbe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("cent_id"))
    val probeEstimate = emb.filter(queryFilter).count() * nProbe
    val probeSide =
      if (probeEstimate <= maxBroadcastProbes) broadcast(probes) else probes
    rankCandidates(assigned.join(probeSide, Seq("cent_id")), topK)
  }

  /** Materialize the index at rest: rows partitioned BY cent_id (the probe
    * key becomes the storage partition key), plus a self-contained
    * centroid sidecar so query-time never re-derives centroids from the
    * corpus. Layout: `<path>/index` (partitioned parquet) and
    * `<path>/centroids` (k rows). */
  def writeIndex(emb: DataFrame, k: Int, path: String): Unit =
    writeIndexWith(emb, centroids(emb, k), path)

  /** [[writeIndex]] with an explicit (e.g. [[trainCentroids]]-trained)
    * centroid set. */
  def writeIndexWith(emb: DataFrame, cents: Array[(Long, Array[Long])],
      path: String): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    cents.toSeq.toDF("cent_id", "qc")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    cellAssign(emb, cents)
      .select("vec_id", "embedding", "cent_id")
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$path/index")
  }

  /** Dim guard for the persisted-index paths: vectors entering a stored
    * layout (or querying it) must match the centroid dimensionality —
    * a mismatch would silently score garbage distances (the fused
    * distance loop runs over the shorter length), the same
    * trusted-parameter corruption class as a wrong bucket modulus. A
    * null embedding has no dimension and fails the guard too. One tiny
    * min/max-size aggregate over the delta/query frame (never the
    * corpus). */
  private[operators] def requireDim(emb: DataFrame,
      cents: Array[(Long, Array[Long])], what: String): Unit = {
    val r = emb.agg(min(dimOf(col("embedding"))).as("lo"),
      max(dimOf(col("embedding"))).as("hi")).collect()(0)
    if (!r.isNullAt(0)) checkDim(r.getInt(0), r.getInt(1), cents, what)
  }

  /** A vector's dimension; -1 for a null vector (never a centroid dim). */
  private def dimOf(c: Column): Column = coalesce(size(c), lit(-1))

  private def checkDim(lo: Int, hi: Int,
      cents: Array[(Long, Array[Long])], what: String): Unit = {
    val dim = cents.head._2.length
    if (lo != dim || hi != dim)
      throw new IllegalArgumentException(
        s"$what: embedding dim $lo..$hi does not match the stored " +
          s"index's centroid dim $dim — wrong-dim vectors would silently " +
          "score garbage distances")
  }

  /** Named errors for a search's bounds: no probe or no neighbour is
    * never a meaningful request. */
  private[operators] def requireSearchBounds(nProbe: Int, topK: Int,
      what: String): Unit = {
    if (nProbe < 1)
      throw new IllegalArgumentException(
        s"$what: nProbe must be >= 1, got $nProbe")
    if (topK < 1)
      throw new IllegalArgumentException(
        s"$what: topK must be >= 1, got $topK")
  }

  /** The probe set of `queries` (vec_id, embedding) against stored
    * centroids: each query's `nProbe` nearest cells as (q_id, q_emb,
    * cent_id) rows, ranked by [[cellRanksWith]] and collected ONCE. A
    * probe set is queries × nProbe rows — what a broadcast join side
    * pulls onto the driver anyway — and the one collect yields all three
    * facts a stored search needs before it scans:
    *  - the [[requireDim]] check (same named error);
    *  - the probed cells, sorted (empty for an empty query frame);
    *  - the join side, as a LOCAL relation of the collected rows, so the
    *    ranking never runs a second time.
    * One Spark job, where a dim aggregate, a distinct collect and the
    * broadcast build each evaluated the ranking. */
  private[operators] def collectProbes(spark: SparkSession,
      queries: DataFrame, cents: Array[(Long, Array[Long])], nProbe: Int,
      what: String): (DataFrame, Array[Long]) = {
    val ranked = cellRanksWith(queries.select("vec_id", "embedding"), cents)
      .filter(col("rk") <= nProbe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("cent_id"))
    val rows = ranked.withColumn("dim", dimOf(col("q_emb"))).collect()
    if (rows.nonEmpty) {
      val dims = rows.map(_.getInt(3))
      checkDim(dims.min, dims.max, cents, what)
    }
    val local = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r.get(0), r.get(1),
        r.get(2))): _*), ranked.schema)
    (local, rows.map(_.getLong(2)).distinct.sorted)
  }

  private[operators] def readCentroids(spark: SparkSession,
      path: String): Array[(Long, Array[Long])] =
    spark.read.parquet(s"$path/centroids")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)

  /** Append NEW vectors to a stored index WITHOUT re-clustering: assign
    * against the persisted centroids (map-only — the centroid table is
    * the index's sidecar, never re-derived from the corpus) and append
    * files into only the touched cent_id partitions. Commit cost ∝
    * delta; existing files are never rewritten; queries see the same
    * cells, so [[searchIndexed]] needs no change. The standard
    * vector-index maintenance move — re-clustering is a separate,
    * explicit [[trainCentroids]] + [[writeIndexWith]] rebuild. Caller
    * contract: vec_ids in `newEmb` are NEW (use [[upsertIndexed]] when
    * ids may already exist). */
  def appendToIndex(spark: SparkSession, path: String,
      newEmb: DataFrame): Unit = {
    val cents = readCentroids(spark, path)
    requireDim(newEmb, cents, "appendToIndex")
    cellAssign(newEmb, cents)
      .select("vec_id", "embedding", "cent_id")
      .write.mode("append").partitionBy("cent_id").parquet(s"$path/index")
  }

  /** Keyed upsert into a stored index: re-embedded vectors REPLACE their
    * old rows by vec_id. New assignments come from the persisted
    * centroids; only the touched cells' partitions are read (partition
    * pruning), anti-joined on vec_id, unioned with the fresh rows, and
    * dynamic-partition-overwritten — commit cost ∝ touched cells, the
    * rest of the index is untouched. NOTE: a re-embedded vector's home
    * cell can CHANGE; the old cell is touched via the id lookup below, so
    * no stale row survives. Merged rows localCheckpoint-materialize
    * before the overwrite commits (Spark must never lazily re-read
    * partitions the same job deletes). */
  def upsertIndexed(spark: SparkSession, path: String,
      newEmb: DataFrame): Unit = {
    val cents = readCentroids(spark, path)
    requireDim(newEmb, cents, "upsertIndexed")
    val fresh = cellAssign(newEmb, cents)
      .select("vec_id", "embedding", "cent_id")
      .localCheckpoint(eager = true)
    val freshIds = fresh.select("vec_id")
    // cells touched by the NEW assignment plus cells currently holding
    // any upserted id (a vector can migrate cells when re-embedded)
    val index = spark.read.parquet(s"$path/index")
    val oldCells = index.join(freshIds, Seq("vec_id"), "left_semi")
      .select("cent_id").distinct()
    val touched = fresh.select("cent_id").distinct()
      .union(oldCells).distinct()
      .collect().map(_.getLong(0))
    val merged = index
      .filter(col("cent_id").isin(touched: _*))
      .join(freshIds, Seq("vec_id"), "left_anti")
      .select("vec_id", "embedding", "cent_id")
      .unionByName(fresh)
      .localCheckpoint(eager = true)
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cent_id").parquet(s"$path/index")
  }

  /** Delete vectors from a stored index by id — the right-to-be-
    * forgotten / poisoned-sample-removal primitive a production vector
    * store cannot ship without. Only the cells holding deleted ids are
    * read (partition pruning on `cent_id`) and rewritten without them —
    * cost ∝ touched cells, the rest of the index is untouched. A cell
    * whose rows are ALL deleted needs explicit removal: dynamic
    * partition overwrite only rewrites partitions PRESENT in the output,
    * so an emptied cell would otherwise silently keep its stale rows —
    * the exact failure mode [[IngestionPipeline]]'s all-deleted-bucket
    * cleanup guards against. Ids absent from the index are a no-op.
    * Merged survivors localCheckpoint-materialize before the overwrite
    * commits (Spark must never lazily re-read partitions the same job
    * deletes). */
  def deleteFromIndex(spark: SparkSession, path: String,
      ids: DataFrame): Unit = {
    val del = ids.select(col("vec_id").cast("long").as("vec_id"))
      .distinct()
    val index = spark.read.parquet(s"$path/index")
    val touched = index
      .join(del, index("vec_id").cast("long") === del("vec_id"),
        "left_semi")
      // read-back partition column may infer as int — normalize
      .select(col("cent_id").cast("long")).distinct()
      .collect().map(_.getLong(0))
    if (touched.isEmpty) return
    // keep the index's OWN payload columns (flat stores embedding, the
    // SQ8 tier stores int8 codes — deletion must not know or care)
    val merged = index.filter(col("cent_id").isin(touched: _*))
      .join(del, index("vec_id").cast("long") === del("vec_id"),
        "left_anti")
      .select(index.columns.map(col).toIndexedSeq: _*)
      // LAZY: the survivors distinct below references merged exactly
      // once and materializes the checkpoint before the overwrite runs —
      // the fence the scaladoc requires, one job cheaper than eager
      .localCheckpoint(eager = false)
    val survivors = merged.select(col("cent_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cent_id").parquet(s"$path/index")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    touched.filterNot(survivors.contains).foreach { c =>
      fs.delete(
        new org.apache.hadoop.fs.Path(s"$path/index/cent_id=$c"), true)
    }
  }

  /** OPTIMIZE for the stored ANN index: split every over-populated cell
    * in two, rewriting ONLY the split cells' partitions (the
    * [[deleteFromIndex]] pruning pattern). Many [[upsertIndexed]] /
    * [[appendToIndex]] rounds skew cell populations (s12 measures it) and
    * a hot cell makes every probe that touches it scan-heavy; re-training
    * the whole index ([[trainCentroids]] + [[writeIndexWith]]) fixes
    * that at full-rebuild cost — this fixes it at cost ∝ the hot cells.
    *
    * Determinism: a hot cell's two sub-centroids seed from its two
    * lowest vec_ids (the [[centroids]] rule applied cell-locally), one
    * Lloyd refinement runs on the cell's own rows (integer means of
    * integer-quantized vectors, ties to the lower cent_id), so the
    * post-rebalance layout is engine-reproducible like everything else
    * here. The surviving sub-cell keeps the old cent_id; the other gets
    * `max(cent_id) + i`. Flat ([[writeIndex]]) layouts only — the SQ8
    * tier stores codes, not geometry, and re-clustering codes would
    * compound quantization error silently.
    *
    * NOT crash-atomic (same caveat as [[deleteFromIndex]], documented
    * honestly): the centroid sidecar and the index partitions are two
    * separate writes over a bare parquet layout. Centroids write FIRST —
    * a crash between the two leaves new centroid ids whose cells are
    * still merged in the old partition, which probes still find through
    * the kept id (complete results, degraded pruning); the reverse order
    * would leave rows assigned to cells no probe can rank, silently
    * dropping them from every search. A store needing a transactional
    * window should route the layout through a manifest-published root
    * ([[SnapshotStore]]-style).
    *
    * Returns the number of cells ACTUALLY split — hot cells whose new
    * sub-centroid received rows (0 = no cell exceeded `hotFactor` × mean
    * population, nothing rewritten; a hot cell whose refinement moved
    * nothing counts 0 and keeps its old centroid). */
  def rebalance(spark: SparkSession, path: String,
      hotFactor: Double = 2.0): Int =
    rebalanceCarry(spark, path, hotFactor, None)._1

  /** [[rebalance]] with the [[rebalanceUntil]] counts carry: round N's
    * `postCounts` are round N+1's populations by row conservation, so
    * only the FIRST round of a convergence loop pays the counts scan.
    * Single-writer discipline (the bare layout's documented contract —
    * nothing validates cross-writer freshness here anyway). */
  private def rebalanceCarry(spark: SparkSession, path: String,
      hotFactor: Double, preCounts: Option[Array[(Long, Long)]])
      : (Int, Option[Array[(Long, Long)]]) = {
    require(hotFactor >= 1.0, s"hotFactor must be >= 1, got $hotFactor")
    val index = spark.read.parquet(s"$path/index")
    require(index.columns.contains("embedding"),
      "IvfIndex.rebalance needs the flat (writeIndex) layout — an SQ8 " +
        "index stores codes, not geometry; re-train and rewrite instead")
    splitPlan(spark, index, () => readCentroids(spark, path),
        hotFactor, preCounts) match {
      case None => (0, preCounts)
      case Some(p) =>
        applySplitBare(spark, path, p)
        (p.splitCount, Some(p.postCounts))
    }
  }

  /** The outcome of one deterministic hot-cell split pass, layout-
    * agnostic: [[rebalance]] applies it to the bare parquet layout
    * (centroid sidecar + dynamic partition overwrite, two writes with
    * the documented crash window); [[VersionedIvf.rebalance]] applies it
    * as ONE atomic SnapshotStore publish. `merged` holds the hot cells'
    * rows with their NEW cent_id (all original columns, eagerly
    * checkpointed); `newCents` is the complete new centroid table. */
  private[operators] final case class SplitPlan(
      hot: Array[Long], newIdOf: Map[Long, Long], merged: DataFrame,
      survivors: Set[Long], newCents: Array[(Long, Array[Long])],
      splitCount: Int, postCounts: Array[(Long, Long)])

  /** Compute the split: hot cells (population > hotFactor × mean, ≥ 2
    * rows), two sub-centroids seeded from each cell's two lowest
    * vec_ids, one integer-Lloyd refinement, rows reassigned. `centsOf`
    * is deferred so the (cheap) no-hot-cell exit never reads the
    * centroid table. None = nothing to split.
    *
    * `preCounts`: per-cell populations of `index`, when the caller
    * already knows them — a convergence loop ([[rebalanceUntil]]) knows
    * the post-split populations of round N exactly (`postCounts`), so
    * round N+1 must not pay a full index scan to re-derive them. The
    * numbers are identical to a fresh scan by row conservation (the
    * split moves rows between cells, never in/out), which
    * IvfIndexSpec's rebalanceUntil arm re-checks end-to-end. */
  private[operators] def splitPlan(spark: SparkSession, index: DataFrame,
      centsOf: () => Array[(Long, Array[Long])],
      hotFactor: Double,
      preCounts: Option[Array[(Long, Long)]] = None): Option[SplitPlan] = {
    val counts: Array[(Long, Long)] = preCounts.getOrElse(index
      .groupBy(col("cent_id").cast("long").as("cent_id"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))))
    if (counts.isEmpty) return None
    val mean = counts.map(_._2).sum.toDouble / counts.length
    val hot = counts.filter { case (_, n) =>
      n > hotFactor * mean && n >= 2 }
      .map(_._1).sorted
    if (hot.isEmpty) return None
    val cents = centsOf()
    val maxId = cents.map(_._1).max
    val newIdOf = hot.zipWithIndex
      .map { case (c, i) => c -> (maxId + 1 + i) }.toMap
    // extra index columns (e.g. VersionedIvfAdc's `codes`) ride through
    // the reassignment untouched — merged keeps index's full schema
    val extras = index.columns
      .filterNot(Set("vec_id", "embedding", "cent_id")).toSeq
    val hotRows = index
      .filter(col("cent_id").cast("long").isin(hot.toIndexedSeq: _*))
      .select(Seq(col("vec_id").cast("long").as("vec_id"),
        col("embedding"), col("cent_id").cast("long").as("cent_id")) ++
        extras.map(col) :+
        VectorFunctions.quantize1e6(col("embedding")).as("graft_qe"): _*)
      // LAZY: the seeds collect below references hotRows exactly once,
      // so its window job materializes the checkpoint (split cells still
      // read once, used thrice — one job cheaper than eager + collect)
      .localCheckpoint(eager = false)
    val dim = cents.head._2.length
    // integer squared-L2 against this row's OWN cell's two seeds — a
    // broadcast of 2×|hot| quantized vectors via the literal seed table
    // each row joins its OWN cell's two sub-centroid candidates from a
    // broadcast seed table — the plan stays one fixed-size zip_with
    // distance pair per row regardless of |hot| (a per-cell CASE chain
    // would grow the expression tree O(|hot|·dim) and eventually break
    // codegen on a production-sized hot set)
    val sp = spark
    import sp.implicits._
    def sqDist(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v)
    def assignWith(seed: Map[(Long, Int), Array[Long]]) = {
      // a 1-row hot cell cannot reach here (n >= 2 filter), so both
      // sub-centroid candidates exist for every hot cell
      val seedsDf = hot.toIndexedSeq.map { c =>
        (c, seed((c, 1)).toSeq, seed((c, 2)).toSeq, newIdOf(c))
      }.toDF("cent_id", "graft_qa", "graft_qb", "graft_new_id")
      hotRows.join(broadcast(seedsDf), Seq("cent_id"))
        .withColumn("graft_da", sqDist(col("graft_qe"), col("graft_qa")))
        .withColumn("graft_db", sqDist(col("graft_qe"), col("graft_qb")))
        .withColumn("graft_new_cent",
          // tie → the KEPT (lower) id, matching cellRanks' tie-break
          when(col("graft_db") < col("graft_da"), col("graft_new_id"))
            .otherwise(col("cent_id")))
    }
    // deterministic seeds: each hot cell's two lowest vec_ids, quantized
    // by the SAME expression queries use (2×|hot| rows to the driver).
    // Kept as a DRIVER collect deliberately: a measured attempt to fuse
    // seeds + means + fallback into one frame round-trip EVALUATED the
    // seed window twice and added an aggregation level plus two
    // broadcasts — more Spark jobs per pass, not fewer (profiled on
    // s22/s26; the counts carry below is where the real jobs went).
    val w = Window.partitionBy("cent_id").orderBy("vec_id")
    val seeds = hotRows.withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") <= 2)
      .select("cent_id", "graft_rn", "graft_qe")
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1)),
        r.getSeq[Long](2).toArray)).toMap
    // one Lloyd refinement: means of the seed assignment become the
    // final sub-centroids (integer re-quantized, empty side keeps seed)
    val meanCols = (0 until dim).map(i =>
      avg(element_at(col("graft_qe"), i + 1)).as(s"c$i"))
    val means = assignWith(seeds)
      .groupBy(col("cent_id"), col("graft_new_cent"))
      .agg(meanCols.head, meanCols.tail: _*)
      .collect()
      .map { r =>
        val origin = r.getLong(0)
        val sub = if (r.getLong(1) == origin) 1 else 2
        ((origin, sub),
          Array.tabulate(dim)(i => math.round(r.getDouble(i + 2))))
      }.toMap
    val refined = hot.flatMap { c =>
      Seq(((c, 1), means.getOrElse((c, 1), seeds((c, 1)))),
        ((c, 2), means.getOrElse((c, 2), seeds((c, 2)))))
    }.toMap
    val merged = assignWith(refined)
      .select((index.columns.filterNot(_ == "cent_id").map(col) :+
        col("graft_new_cent").as("cent_id")).toIndexedSeq: _*)
      // LAZY: materialized by the single-reference counts collect below,
      // BEFORE the apply/upsert write consumes it
      .localCheckpoint(eager = false)
    // survivors AND per-cell populations in one bounded pass BEFORE the
    // centroid write (merged is already materialized by the eager
    // checkpoint): a refinement that assigns every row of a hot cell
    // back to one side must not publish a centroid id with no backing
    // partition — probes would waste one nProbe ranking slot on a
    // provably empty cell forever, because the cleanup below only
    // deletes emptied KEPT partitions and nothing ever retracts a
    // published centroid. The populations feed `postCounts` so a
    // convergence loop's next round skips its full counts scan.
    val mergedCounts = merged.groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val survivors = mergedCounts.map(_._1).toSet
    // centroid sidecar FIRST (see the crash-order note above). Per hot
    // cell: both sides survived → kept id re-points to sub-centroid 1,
    // new id appends as sub-centroid 2; nothing moved to the new side →
    // the cell is UN-SPLIT and keeps its old centroid (no new id);
    // everything moved → the kept id's centroid drops with its partition.
    val byId = cents.toMap
    val newCents = cents.flatMap { case (id, q) =>
      if (!newIdOf.contains(id)) Some((id, q))
      else if (!survivors.contains(newIdOf(id))) Some((id, q))
      else if (survivors.contains(id)) Some((id, refined((id, 1))))
      else None
    } ++ hot.filter(c => survivors.contains(newIdOf(c)))
      .map(c => (newIdOf(c), refined((c, 2))))
    // paranoia, driver-cheap: every published hot/new id has backing
    // rows and every survivor keeps a centroid
    val published = newCents.map(_._1).toSet
    require(hot.forall(c => Seq(c, newIdOf(c)).filter(survivors.contains)
        .forall(published.contains)) &&
        published.subsetOf(byId.keySet ++ newIdOf.valuesIterator),
      "rebalance centroid bookkeeping drifted")
    val hotSet = hot.toSet
    val postCounts = (counts.filterNot(c => hotSet.contains(c._1)) ++
      mergedCounts).sortBy(_._1)
    Some(SplitPlan(hot, newIdOf, merged, survivors, newCents,
      hot.count(c => survivors.contains(newIdOf(c))), postCounts))
  }

  /** Apply a [[SplitPlan]] to the bare parquet layout. Centroid sidecar
    * FIRST (see the crash-order note above); then dynamic overwrite
    * rewrites exactly the split cells' partitions and creates the new
    * sub-cells'; a kept id emptied by the refinement (every row moved
    * to the new side) needs the explicit removal [[deleteFromIndex]]
    * documents. */
  private def applySplitBare(spark: SparkSession, path: String,
      p: SplitPlan): Unit = {
    val sp = spark
    import sp.implicits._
    p.newCents.toSeq.map { case (id, q) => (id, q.toSeq) }
      .toDF("cent_id", "qc")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    p.merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cent_id").parquet(s"$path/index")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    p.hot.filterNot(p.survivors.contains).foreach { c =>
      fs.delete(
        new org.apache.hadoop.fs.Path(s"$path/index/cent_id=$c"), true)
    }
  }

  /** Bounded convergence loop over [[rebalance]] — one call splits each
    * hot cell exactly once (binary), so a severely skewed cell (≫2× mean
    * after one split) levels only under repeated calls. Same discipline
    * as PageRank's `ranksConverged` probe: iterate until the signal
    * (here: `rebalance` returning 0 splits) says fixpoint, with
    * `maxRounds` bounding the worst case. Returns the total number of
    * splits performed across rounds. */
  def rebalanceUntil(spark: SparkSession, path: String,
      hotFactor: Double = 2.0, maxRounds: Int = 8): Int = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    var total = 0
    var rounds = 0
    var last = -1
    // counts carry: each round's split plan already knows the exact
    // post-split populations, so rounds 2..N (and the terminal no-hot
    // check) skip the full per-cell counts scan
    var carry: Option[Array[(Long, Long)]] = None
    while (rounds < maxRounds && last != 0) {
      val (n, next) = rebalanceCarry(spark, path, hotFactor, carry)
      last = n
      carry = next
      total += last
      rounds += 1
    }
    total
  }

  /** Stored IVF-SQ8 index (the Faiss IVF-SQ idea): same cell-partitioned
    * layout as [[writeIndex]], but rows store the SYMMETRIC-int8
    * quantized vector ([[VectorFunctions.quantizeInt8]] — small integers,
    * the 4×-at-rest compression tier between IVF-flat and PQ) instead of
    * the raw floats. Cell assignment runs on the full-precision input
    * (standard SQ: compression is for the stored payload, not the
    * geometry), and because the quantization is integer-exact, search
    * results over the compressed tier are oracle-checkable like the PQ
    * path, not just spot-checked. */
  def writeIndexSq(emb: DataFrame, k: Int, path: String): Unit = {
    val cents = centroids(emb, k)
    val spark = emb.sparkSession
    import spark.implicits._
    cents.toSeq.toDF("cent_id", "qc")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    cellAssign(emb, cents)
      .select(col("vec_id"),
        VectorFunctions.quantizeInt8(col("embedding")).as("q8"),
        col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$path/index")
  }

  /** Search a [[writeIndexSq]] layout: probe cells resolve against the
    * centroid sidecar from the FULL-precision queries (dim-guarded),
    * only the probed cells' partitions are scanned, and scoring is
    * symmetric int8 — queries quantize through the same expression, so
    * similarities match the in-memory s05 semantics exactly. */
  def searchIndexedSq(spark: SparkSession, path: String,
      queries: DataFrame, nProbe: Int, topK: Int): DataFrame = {
    val cents = readCentroids(spark, path)
    requireDim(queries, cents, "searchIndexedSq")
    val probes = cellRanksWith(queries, cents)
      .filter(col("rk") <= nProbe)
      .select(col("vec_id").as("q_id"),
        VectorFunctions.quantizeInt8(col("embedding"))
          .cast("array<double>").as("q_q8"),
        col("cent_id"))
    // full probe: the probed set is the whole geometry by construction —
    // skip the distinct+collect job
    val probeCells =
      if (nProbe >= cents.length) cents.map(_._1)
      else probes.select("cent_id").distinct()
        .collect().map(_.getLong(0))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id"))
    spark.read.parquet(s"$path/index")
      .filter(col("cent_id").isin(probeCells: _*))
      .join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(VectorFunctions.cosine(
          col("q8").cast("array<double>"), col("q_q8")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("q_id", "rank", "vec_id", "sim")
  }

  /** Search a [[writeIndex]]-materialized index. Probe cell ids resolve
    * driver-side (≤ queries × nProbe ids — `queries` is assumed to be a
    * query set, not the corpus), then the stored index is read with
    * `cent_id IN (...)`: partition pruning means only the probed cells'
    * files are ever opened. `queries` needs (vec_id, embedding). */
  def searchIndexed(spark: SparkSession, path: String, queries: DataFrame,
      nProbe: Int, topK: Int): DataFrame = {
    val cents = readCentroids(spark, path)
    requireDim(queries, cents, "searchIndexed")
    val probes = cellRanksWith(queries, cents)
      .filter(col("rk") <= nProbe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("cent_id"))
    // full probe: the probed set is the whole geometry by construction —
    // skip the distinct+collect job
    val probeCells =
      if (nProbe >= cents.length) cents.map(_._1)
      else probes.select("cent_id").distinct()
        .collect().map(_.getLong(0))
    val assigned = spark.read.parquet(s"$path/index")
      .filter(col("cent_id").isin(probeCells: _*))
    // USING-join on cent_id: one output column, no ambiguous duplicate
    // that a downstream rename could trip over.
    rankCandidates(assigned.join(broadcast(probes), Seq("cent_id")), topK)
  }

  private[operators] def rankCandidates(cand: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    cand
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(VectorFunctions.cosine(col("embedding"), col("q_emb")), 6)
          .as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("q_id", "rank", "vec_id", "sim")
  }
}
