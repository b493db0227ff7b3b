package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Zero-row robustness: every operator family must behave on empty input
  * (an empty partition, a filter that matched nothing, a first run over an
  * empty directory) — returning empty/identity results, never nulls or
  * exceptions. At 100 TB some task always sees an empty slice. */
class EdgeCasesSpec extends SparkTestBase {

  private def emptyDocs: DataFrame =
    Tables.documents(spark, sf0001).filter(col("doc_id") < 0)

  test("dedup family returns empty on an empty corpus") {
    assert(graft.operators.MinHashLSH.nearDuplicates(emptyDocs).count() === 0)
    assert(graft.operators.NgramJaccard
      .nearDuplicates(emptyDocs, 3, 100, 0.2).count() === 0)
    assert(graft.operators.SimHash.nearPairs(emptyDocs).count() === 0)
  }

  test("data checks gate an empty frame as pass, not null") {
    val out = graft.operators.DataChecks.run(emptyDocs,
        rowChecks = Seq(("text_nonempty", length(col("text")) > 0)),
        uniqueChecks = Seq(("id_unique", col("doc_id"))))
      .collect()
    assert(out.length === 2)
    out.foreach { r =>
      assert(r.getLong(1) === 0L, "violations must be 0 on empty input")
      assert(r.getBoolean(3), "empty input must pass")
    }
  }

  test("SCD2 evolve: empty update batch is the identity") {
    import spark.implicits._
    val dim = Seq((1L, "a", "2024-01-01", null: String, true))
      .toDF("k", "attr", "f", "t", "is_current")
      .select(col("k"), col("attr"), to_timestamp(col("f")).as("valid_from"),
        to_timestamp(col("t")).as("valid_to"), col("is_current"))
    val noUpdates = dim.select("k", "attr").filter(col("k") < 0)
    val out = graft.operators.Scd2.evolve(dim, noUpdates, "k", Seq("attr"),
      to_timestamp(lit("2024-02-01")))
    assert(out.collect().map(_.toSeq).toSeq === dim.collect().map(_.toSeq).toSeq)
  }

  test("SCD2 evolve: empty dimension inserts every update as new") {
    import spark.implicits._
    val dim = Seq.empty[(Long, String, java.sql.Timestamp,
      java.sql.Timestamp, Boolean)]
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val upd = Seq((7L, "x")).toDF("k", "attr")
    val out = graft.operators.Scd2.evolve(dim, upd, "k", Seq("attr"),
      to_timestamp(lit("2024-02-01"))).collect()
    assert(out.length === 1)
    assert(out(0).getLong(0) === 7L && out(0).getBoolean(4))
  }

  test("stored IVFADC with an empty query set returns empty, not an error") {
    val emb = Tables.embeddings(spark, sf0001)
    val root = java.nio.file.Files.createTempDirectory("graft_edge_adc")
      .toString + "/index"
    graft.operators.VersionedIvfAdc.write(emb, root)
    val out = graft.operators.VersionedIvfAdc.search(spark, root,
      emb.filter(col("vec_id") < 0).select("vec_id", "embedding"),
      nProbe = 2, topK = 3)
    assert(out.count() === 0)
  }

  test("salted join on an empty fact returns empty") {
    import spark.implicits._
    val dim = Seq((1L, 2L)).toDF("k", "w")
    val fact = Seq.empty[(Long, Long)].toDF("k", "id")
    assert(graft.operators.SkewTools
      .saltedJoin(fact, dim, "k", "id", salts = 8).count() === 0)
  }

  test("TopKPerKey on empty input returns empty") {
    val out = graft.plans.TopKPerKey.topKPerKey(
      Tables.orders(spark, sf0001).filter(col("o_orderkey") < 0),
      keys = Seq("o_custkey"),
      order = Seq(graft.plans.TopKPerKey.desc("o_totalprice")), k = 3)
    assert(out.count() === 0)
  }

  test("table diff of two empty tables is empty") {
    assert(graft.operators.TableDiff
      .diff(emptyDocs, emptyDocs, "doc_id").count() === 0)
  }

  test("count-min: sketches merge by cell-wise addition; bound holds everywhere") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
    val terms = docs
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
    val (depth, width) = (4, 64)
    def sk(df: org.apache.spark.sql.DataFrame) =
      graft.operators.CountMin.sketch(df, col("term"), depth, width)
    // sketch(all) == sketch(half1) ⊕ sketch(half2) — the mergeability that
    // makes the sketch partial-agg- and stream-safe
    val whole = sk(terms).orderBy("row", "bucket")
      .collect().map(_.toSeq).toSeq
    val merged = sk(terms.filter(col("doc_id") % 2 === 0))
      .unionByName(sk(terms.filter(col("doc_id") % 2 === 1)))
      .groupBy("row", "bucket").agg(sum("c").as("c"))
      .orderBy("row", "bucket").collect().map(_.toSeq).toSeq
    assert(whole === merged)
    // one-sided error on EVERY term, not just the heavy ones
    val allFreqs = terms.groupBy("term").agg(count(lit(1)).as("freq"))
    val under = graft.operators.CountMin
      .estimate(allFreqs, "term", sk(terms), depth, width)
      .filter(col("est") < col("freq")).count()
    assert(under === 0L, "count-min must never underestimate")
  }

  test("round-5 additions behave on empty input") {
    // sharded export: assignment of nothing is nothing; write of nothing
    // still produces a readable (empty) target? — parquet needs ≥1 row
    // per partition dir, so an empty write just creates no shard dirs;
    // the assignment path itself must not throw
    val sh = graft.operators.ShardedExport.assignShards(emptyDocs, 8)
    assert(sh.count() === 0)

    // winnowing/pagerank-style operators on empty frames
    assert(graft.operators.Winnowing.sharedFingerprints(emptyDocs)
      .count() === 0)
    val emptyEdges = Tables.lineitem(spark, sf0001)
      .filter(col("l_orderkey") < 0)
      .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
    assert(graft.operators.PageRank.ranks(emptyEdges, 2).count() === 0)

    // frame pooling: empty media → no frames → no pooled rows
    val m = graft.operators.Multimodal.frameByteCounts(
      graft.operators.Multimodal.sampleFrames(
        graft.operators.Multimodal.mediaFromDocuments(spark, sf0001)
          .filter(col("media_id") < 0), 6, 2))
    assert(m.count() === 0)
  }

  test("incremental agg: merging an empty delta is the identity") {
    val ev = Tables.events(spark, sf0001)
    val keys = Seq("user_id", "event_type")
    val base = graft.operators.IncrementalAgg.state(ev, keys, "value")
    val emptyDelta = graft.operators.IncrementalAgg.state(
      ev.filter(col("event_id") < 0), keys, "value")
    val merged = graft.operators.IncrementalAgg
      .merge(Seq(base, emptyDelta), keys)
      .orderBy("user_id", "event_type").collect().map(_.toSeq).toSeq
    val plain = base.orderBy("user_id", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(merged === plain)
  }
}
