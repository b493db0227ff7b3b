package graft

import org.apache.spark.sql.functions._

import graft.operators.{PqIndex, VersionedIvfAdc}

class PqIndexSpec extends SparkTestBase {
  import spark.implicits._

  test("PQ codes, lookup distances, and ranking on a hand-computed fixture") {
    // dim=4, m=2 subspaces of 2 dims, k=2 codebooks = subvectors of v0/v1
    val emb = Seq(
      (0L, Seq(0.0, 0.0, 10.0, 10.0)),   // centroid 0
      (1L, Seq(5.0, 5.0, 0.0, 0.0)),     // centroid 1
      (2L, Seq(0.0, 0.0, 0.0, 0.0)),     // codes (0, 1)
      (3L, Seq(1.0, 1.0, 9.0, 9.0)))     // the query
      .toDF("vec_id", "embedding")

    val out = PqIndex.search(emb, col("vec_id") === 3, dim = 4, m = 2,
        k = 2, topK = 3)
      .orderBy("rank")
      .as[(Long, Int, Long, Long)].collect().toSeq

    // quantized scale 1e6: lut(j0)=[2e12, 3.2e13], lut(j1)=[2e12, 1.62e14]
    val e12 = 1000000000000L
    assert(out === Seq(
      (3L, 1, 0L, 4L * e12),            // codes (0,0): 2e12 + 2e12
      (3L, 2, 2L, 2L * e12 + 162L * e12), // codes (0,1)
      (3L, 3, 1L, 32L * e12 + 162L * e12))) // codes (1,1)
  }

  test("an exact duplicate of a query ranks first at distance 0") {
    val base = (0L to 15L).map(i =>
      (i, (0 until 64).map(c => (i * 64 + c).toDouble / 100.0)))
    val dup = Seq((100L, base(2)._2)) // same embedding as vec 2
    val emb = (base ++ dup).toDF("vec_id", "embedding")
    val top = PqIndex.search(emb, col("vec_id") === 2, topK = 1)
      .as[(Long, Int, Long, Long)].head()
    assert(top === ((2L, 1, 100L, 0L)))
  }

  test("IVF×PQ cascade scores only vectors from the query's probed cells") {
    val emb = Tables.embeddings(spark, sf0001)
    val out = PqIndex.searchIvf(emb, col("vec_id") < 3, topK = 3)
    val probes = graft.operators.IvfIndex.cellRanks(emb, 16)
      .filter(col("vec_id") < 3 && col("rk") <= 2)
      .select(col("vec_id").as("q_id"), col("cent_id"))
    val assign = graft.operators.IvfIndex.assignments(emb, 16)
      .select(col("vec_id"), col("cent_id"))
    // every returned (q, vec) pair must be probe-reachable
    val escaped = out.join(assign, "vec_id")
      .join(probes, Seq("q_id", "cent_id"), "left_anti")
    assert(escaped.count() === 0, "cascade scored an unprobed vector")
    assert(out.count() > 0)
  }

  /** A VersionedIvfAdc index of the sf0.001 corpus (dim 64, m 8, k 16,
    * 16 coarse cells) and its first 5 vectors as LITERAL query rows:
    * the search plan can then touch only the stored index. */
  private def storedIndex(tag: String) = {
    val emb = Tables.embeddings(spark, sf0001)
    val root = java.nio.file.Files.createTempDirectory(tag).toString +
      "/index"
    VersionedIvfAdc.write(emb, root)
    val qRows = emb.filter(col("vec_id") < 5)
      .select("vec_id", "embedding").collect().toSeq
    val queries = spark.createDataFrame(
      spark.sparkContext.parallelize(qRows),
      emb.select("vec_id", "embedding").schema)
    (emb, root, queries)
  }

  private def sorted(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.toString).toSeq

  test("stored index search equals in-memory search and never reads the corpus") {
    val (emb, root, queries) = storedIndex("graft_pq")
    // a full coarse probe scores every stored code: exhaustive PQ
    val stored = VersionedIvfAdc.search(spark, root, queries,
      nProbe = 16, topK = 3)
    val live = PqIndex.search(emb, col("vec_id") < 5)
    assert(sorted(stored) === sorted(live))
    val plan = stored.queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"),
      s"stored-index search scanned the corpus:\n$plan")
  }

  test("stored IVFADC equals the in-memory cascade, partition-pruned, corpus unread") {
    val (emb, root, queries) = storedIndex("graft_ivfadc")
    val stored = VersionedIvfAdc.search(spark, root, queries,
      nProbe = 2, topK = 3)
    val live = PqIndex.searchIvf(emb, col("vec_id") < 5)
    assert(sorted(stored) === sorted(live))
    // AQE-finalized by the collect above before reading the plan
    val plan = stored.queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"),
      s"stored IVFADC scanned the corpus:\n$plan")
    // the narrow probe opens only the probed cells' files; one query on
    // one cell opens a strict subset of the index
    val coarse = VersionedIvfAdc.storedCoarse(spark, root)
    for ((q, nProbe) <- Seq((queries, 2),
        (queries.filter(col("vec_id") === 0), 1))) {
      val cells = graft.operators.IvfIndex.cellRanksWith(q, coarse)
        .filter(col("rk") <= nProbe).select("cent_id").collect()
        .map(_.getLong(0)).toSet
      val probe = VersionedIvfAdc.search(spark, root, q, nProbe, 3)
      val (opened, total) = ProbeFiles.check(spark, root, probe, cells)
      info(s"${cells.size} probed cells opened $opened of $total files")
      if (nProbe == 1)
        assert(opened < total, "a one-cell probe opened every file")
    }
  }

  test("withDecoded: broadcast-join decode reconstructs exactly what the " +
      "literal-table decode does (the large-codebook path)") {
    val emb = Tables.embeddings(spark, sf0001)
    val book = PqIndex.collectCodebook(emb, 16)
    // codes via the public encode path
    val codes = PqIndex.encodeFused(emb, book, dim = 64, m = 8)
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(j, code)))," +
        " x -> x.code)").as("codes"))
    val literal = PqIndex.withDecoded(codes, "vec_id", book, 64, 8)
      .select(col("vec_id"), col("embedding"))
    // force the join path with a budget below k*dim = 1024
    val joined = PqIndex.withDecoded(codes, "vec_id", book, 64, 8,
      literalBudget = 8)
      .select(col("vec_id"), col("embedding"))
    val l = literal.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val j = joined.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(l.keySet === j.keySet)
    assert(l.forall { case (id, v) => j(id) === v },
      "join-path decode diverged from literal-path decode")
    assert(l.values.head.size === 64)
  }

  test("search never plans a cartesian product and broadcasts the LUT") {
    val emb = Tables.embeddings(spark, sf0001)
    val plan = PqIndex.search(emb, col("vec_id") < 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }
}
